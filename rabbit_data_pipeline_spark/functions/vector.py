"""Vector math over ``array<float>`` columns — pure higher-order
functions (JVM-side, whole-stage codegen; no Python in the loop).

Everything promotes to double explicitly and accumulates left-to-right
so results are bit-identical to DuckDB's list_dot_product /
list_cosine_similarity on DOUBLE[] (verified empirically) — which is
what lets similarity queries carry exact value-hash oracles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    ad, bd = as_double(a), as_double(b)
    return dot(ad, bd) / (norm(ad) * norm(bd))


def hyperplane_bits(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-of-projection bits against fixed hyperplanes → a bucket id
    string like '0110…'. planes ship as plan literals (they're small:
    n_planes × dim doubles), so executors evaluate with zero setup —
    the random-hyperplane LSH used for embedding near-dup and ANN."""
    bits = []
    for plane in planes:
        proj = dot(as_double(vec), F.array(*[F.lit(float(p)) for p in plane]))
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)
