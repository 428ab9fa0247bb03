"""Seeded-corpus correctness gates for the approximate dedup/ANN
operators (L2, L3, L5, L7, L7b).

These operators are deterministic (fixed hash seeds / fixed
hyperplanes) but their outputs depend on hash families DuckDB cannot
reproduce, so the sf-corpus variants can only get a rows-only check.
This module closes that gap the same way ``multimodal_ann`` does: a
corpus whose ground truth is known is generated ONCE in pure Python
(seeded ``random.Random`` — stable across platforms and versions) and
fed bit-identically to both engines — Spark via ``createDataFrame``,
DuckDB via ``VALUES`` literals rendered from the same constants. The
oracle then computes the answer by brute force (exact jaccard / exact
cosine over all pairs) where SQL can express it, so the comparison
proves the approximate operator achieves exact recall AND precision on
a corpus where misses cannot hide; for SimHash (xxhash64-based, not
SQL-expressible) the oracle is the by-construction truth table.

The corpora are sized so brute force is trivial for DuckDB (≤ 3k
pairs) while every Spark plan is the REAL operator pipeline — same
signature → band → bucket-join → verify shape that runs at 100 TB.
Scale behavior is exercised by the sf-corpus ``*_scale`` twins in
queries/llm.py (bench + recall unit tests)."""

from __future__ import annotations

import math
import random
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, DoubleType, LongType, StringType, StructField, StructType

from rabbit_data_pipeline_spark.operators.text import WS_RUN
from rabbit_data_pipeline_spark.queries import register

# --------------------------------------------------------------- corpora


@lru_cache(maxsize=1)
def text_corpus() -> tuple[list[tuple[int, str]], list[int]]:
    """40 base docs of 60 words from a 500-word vocab + a near-copy
    (tiny appended suffix) for every 4th doc. Returns (rows, copy_ids);
    copy doc_id = base doc_id + 1000. Base texts are already normalized
    (lowercase, single-space) so both engines shingle the same string."""
    rng = random.Random(20260813)
    vocab = [f"w{i:03d}" for i in range(500)]
    base = [(i, " ".join(rng.choice(vocab) for _ in range(60))) for i in range(40)]
    copy_ids = [i for i, _ in base if i % 4 == 0]
    return base, copy_ids


def minhash_corpus() -> list[tuple[int, str]]:
    base, copy_ids = text_corpus()
    texts = dict(base)
    return base + [(i + 1000, texts[i] + " zz yy") for i in copy_ids]


SIMHASH_COPY_IDS = tuple(range(0, 40, 4))


@lru_cache(maxsize=1)
def simhash_corpus() -> list[tuple[int, str]]:
    """SimHash needs longer docs than MinHash: one appended token
    flips each hash bit whose ±1 token-sum sits at 0 or -1, and with
    60-word docs the expected flip count (~3.2) straddles the
    hamming-3 verify bound — half the planted copies were lost. At 240
    words the expected flips drop under 2; seed 12 is pinned because
    every planted pair verifies within hamming 3 AND no random pair
    comes near (random 240-token docs differ by ~32 bits)."""
    rng = random.Random(12)
    vocab = [f"w{i:03d}" for i in range(500)]
    base = [(i, " ".join(rng.choice(vocab) for _ in range(240))) for i in range(40)]
    texts = dict(base)
    return base + [(i + 1000, texts[i] + " zz") for i in SIMHASH_COPY_IDS]


@lru_cache(maxsize=1)
def vec_corpus() -> tuple[list[tuple[int, list[float]]], list[tuple[int, list[float]]]]:
    """Clustered embedding corpus for ANN: 5 query centers (vec_id 0-4),
    12 near members per center (cosine ≈ 0.997 to their center), 40
    random background vectors. Returns (corpus_rows, centroid_rows) —
    centroids for the IVF variant are the 5 centers + 11 background
    vectors (16 total), so every query's own cluster cell is probed by
    construction. dim=16, values rounded to 6 decimals so their repr()
    parses to the identical double in DuckDB."""
    rng = random.Random(4242)
    dim = 16
    centers = [(q, [round(rng.gauss(0, 1), 6) for _ in range(dim)]) for q in range(5)]
    members = [
        (100 + q * 20 + j, [round(x + 0.08 * rng.gauss(0, 1), 6) for x in c])
        for q, c in centers
        for j in range(12)
    ]
    background = [(500 + i, [round(rng.gauss(0, 1), 6) for _ in range(dim)]) for i in range(40)]
    corpus = centers + members + background
    centroids = [(i, vec) for i, (_, vec) in enumerate(centers + background[:11])]
    return corpus, centroids


@lru_cache(maxsize=1)
def neardup_vec_corpus() -> list[tuple[int, list[float]]]:
    """60 random vectors + a scaled copy (×1.5, computed once in Python
    so both engines see the same doubles) of every 6th — scaling
    preserves direction, so copy pairs sit at cosine ≈ 1 while random
    16-dim pairs stay far below the 0.99 threshold."""
    rng = random.Random(777)
    dim = 16
    base = [(i, [round(rng.gauss(0, 1), 6) for _ in range(dim)]) for i in range(60)]
    copies = [(i + 1000, [1.5 * x for x in vec]) for i, vec in base if i % 6 == 0]
    return base + copies


# ------------------------------------------------------------ SQL render


def _text_values(rows: list[tuple[int, str]]) -> str:
    return ", ".join(f"({i}, '{t}')" for i, t in rows)


def _vec_values(rows: list[tuple[int, list[float]]]) -> str:
    return ", ".join(f"({i}, [{', '.join(repr(x) for x in vec)}]::DOUBLE[])" for i, vec in rows)


def _spark_text_df(spark: SparkSession, rows: list[tuple[int, str]]) -> DataFrame:
    schema = StructType([StructField("doc_id", LongType()), StructField("text", StringType())])
    return spark.createDataFrame(rows, schema)


def _spark_vec_df(spark: SparkSession, rows: list[tuple[int, list[float]]]) -> DataFrame:
    schema = StructType(
        [StructField("vec_id", LongType()), StructField("embedding", ArrayType(DoubleType()))]
    )
    return spark.createDataFrame(rows, schema)


def _brute_force_topk_sql(corpus: list[tuple[int, list[float]]], n_queries: int, k: int) -> str:
    """Exact cosine top-k over the literal corpus — the ground truth the
    approximate Spark plan must reproduce (full recall or hash fail)."""
    return f"""
    WITH e(vec_id, emb) AS (VALUES {_vec_values(corpus)}),
         scored AS (
           SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                  list_cosine_similarity(q.emb, c.emb) AS cos_sim
           FROM e q JOIN e c ON q.vec_id != c.vec_id
           WHERE q.vec_id < {n_queries}
         )
    SELECT q_id, n_id, cos_sim, rank FROM (
      SELECT q_id, n_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
      FROM scored)
    WHERE rank <= {k}
    """


# ---------------------------------------------------------- L2: MinHash


def _minhash_oracle() -> str:
    # Brute-force exact jaccard over distinct char-5-grams; survivors =
    # ids that are not the larger end of any >= 0.6 pair (mirrors
    # dedup_by_pairs' keep-lowest rule; copy groups are size 2 by
    # construction, so star-shaped == transitive here).
    return f"""
    WITH corpus(doc_id, text) AS (VALUES {_text_values(minhash_corpus())}),
    g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, GREATEST(length(text) - 4, 1) + 1),
               i -> substr(text, i, 5))) AS grams
      FROM corpus
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM g a JOIN g b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
              / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.6
    )
    SELECT doc_id FROM corpus WHERE doc_id NOT IN (SELECT id_b FROM pairs)
    """


@register("dedup_minhash", oracle=_minhash_oracle())
def dedup_minhash_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 gate: the full MinHash pipeline (Arrow 48-perm signatures,
    5-gram shingles, 12-band LSH, est-jaccard >= 0.6 verify, keep
    lowest id) over the seeded corpus must reproduce DuckDB's exact
    brute-force jaccard dedup — every planted near-copy dropped
    (recall 1) and no distinct doc merged (precision 1). The sf-corpus
    scale twin lives in queries/llm.py (dedup_minhash_scale)."""
    from rabbit_data_pipeline_spark.operators.dedup import (
        dedup_by_pairs,
        lsh_candidate_pairs,
        minhash_signature_arrow,
    )

    inp = _spark_text_df(spark, minhash_corpus())
    sigs = minhash_signature_arrow(inp, num_hashes=48, k=5)
    pairs = lsh_candidate_pairs(sigs, bands=12, sim_threshold=0.6)
    return dedup_by_pairs(inp, pairs).select("doc_id")


# ---------------------------------------------------------- L3: SimHash


def _simhash_oracle() -> str:
    values = ", ".join(f"({i}, {i + 1000})" for i in SIMHASH_COPY_IDS)
    return f"SELECT id_a, id_b FROM (VALUES {values}) AS t(id_a, id_b)"


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 gate: 64-bit SimHash + 16-bit-quarter banding + hamming <= 3
    verify over the seeded corpus. Ground truth is by construction
    (xxhash64 isn't SQL-expressible, so no in-DB brute force): the one
    appended token perturbs only the few bit-sums near zero, so each
    copy stays within hamming 3 of its base, while random 60-token
    docs differ by ~32 bits — the output must be exactly the 10
    planted (base, copy) pairs, nothing more, nothing less."""
    from rabbit_data_pipeline_spark.operators.dedup import simhash64, simhash_near_pairs

    inp = _spark_text_df(spark, simhash_corpus())
    return simhash_near_pairs(simhash64(inp)).select("id_a", "id_b")


# ------------------------------------------------- L5: embedding near-dup


def _embedding_oracle() -> str:
    return f"""
    WITH e(vec_id, emb) AS (VALUES {_vec_values(neardup_vec_corpus())})
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_cosine_similarity(a.emb, b.emb) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.emb, b.emb) >= 0.99
    """


@register("dedup_embedding", oracle=_embedding_oracle())
def dedup_embedding_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 gate: hyperplane-LSH near-dup pairs vs DuckDB's brute-force
    all-pairs cosine >= 0.99. Scaled copies share their base's bucket
    by construction (sign-preserving scaling), so full recall is
    guaranteed structurally and the hash also proves the cosine math
    is bit-identical across engines."""
    from rabbit_data_pipeline_spark.operators.dedup import embedding_near_pairs

    inp = _spark_vec_df(spark, neardup_vec_corpus())
    return embedding_near_pairs(inp, threshold=0.99, dim=16)


# ------------------------------------------------------------ L7: LSH ANN


@register("ann_lsh", oracle=_brute_force_topk_sql(vec_corpus()[0], n_queries=5, k=10))
def ann_lsh_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7 gate: OR-amplified hyperplane LSH top-10 must equal DuckDB's
    exact brute-force top-10 for all 5 queries. Each query's true
    top-10 are its planted cluster members (cosine ≈ 0.997, within ~4°
    of the query): single-table bucket-collision probability ≈ 0.9,
    OR-amplified over 8 tables ≈ 1 - 1e-8, and the run is
    deterministic (fixed seed), verified to hit full recall — so a
    hash mismatch means a real regression in bucketing or scoring."""
    from rabbit_data_pipeline_spark.operators.similarity import ann_lsh

    corpus, _ = vec_corpus()
    df = _spark_vec_df(spark, corpus)
    return ann_lsh(df, df.filter(F.col("vec_id") < 5), k=10, dim=16)


# ------------------------------------------------------------ L7b: IVF ANN


@register("ann_ivf", oracle=_brute_force_topk_sql(vec_corpus()[0], n_queries=5, k=10))
def ann_ivf_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7b gate: IVF with injected centroids (the 5 cluster centers +
    11 background vectors). Every query's nearest centroid is its own
    cluster center and its true top-10 all live in that cell, so
    probing 4 of 16 cells must reproduce the exact brute-force top-10
    — gating cell assignment, probe ordering, and rerank at once."""
    from rabbit_data_pipeline_spark.operators.similarity import ann_ivf

    corpus, centroids = vec_corpus()
    df = _spark_vec_df(spark, corpus)
    return ann_ivf(df, df.filter(F.col("vec_id") < 5), k=10, centroids=centroids)


# ------------------------------------------------------- L27c: IVF-PQ ANN


@lru_cache(maxsize=1)
def ivfpq_corpus() -> tuple[
    list[tuple[int, list[float]]],
    list[tuple[int, list[float]]],
    list[list[list[float]]],
]:
    """Corpus where IVF-PQ is provably EXACT, so a brute-force oracle
    gates the whole pipeline (coarse assign → probe → encode → lut →
    ADC): every corpus vector is a concatenation of PQ-codebook
    centroids, so encoding is lossless (per-subspace distance 0 at its
    own centroid) and ADC(q, x) equals the true subspace-grouped
    L2²(q, x) for ANY query. 4 clusters separated by +8 shifts on a
    cluster-specific coordinate of every subspace (inter-cluster L2²
    ≥ ~500, intra ≤ ~80), each cluster using its own pair of centroids
    per subspace — a query's top-5 all live in its own (nearest) cell,
    so probing 2 of 4 cells must reproduce exact brute force.

    Returns (corpus, coarse_centroids, codebook): dim 16 = 4 subspaces
    × 4; codebook 4×8 (centroid 2g/2g+1 belong to cluster g); coarse
    centroid g = concat of cluster g's even centroids."""
    rng = random.Random(31415)
    m, dsub, n_clusters = 4, 4, 4
    codebook: list[list[list[float]]] = []
    for _ in range(m):
        cents = []
        for g in range(n_clusters):
            for _ in range(2):
                v = [round(rng.gauss(0, 1), 6) for _ in range(dsub)]
                v[g] = round(v[g] + 8.0, 6)
                cents.append(v)
        codebook.append(cents)
    corpus = []
    for g in range(n_clusters):
        for i in range(15):
            codes = [2 * g + rng.randint(0, 1) for _ in range(m)]
            vec = [x for j in range(m) for x in codebook[j][codes[j]]]
            corpus.append((g * 100 + i, vec))
    centroids = [(g, [x for j in range(m) for x in codebook[j][2 * g]]) for g in range(n_clusters)]
    return corpus, centroids, codebook


def _brute_force_adc_sql(corpus: list[tuple[int, list[float]]], query_ids: list[int], k: int) -> str:
    """Exact L2² top-k with the ADC summation grouping: per-subspace
    chained sums, then subspace partials added left-assoc — the
    identical float operation order as _l2sq + _pq_adc, so values hash
    bit-identically when encoding is lossless."""
    m, dsub = 4, 4
    subs = []
    for j in range(m):
        subs.append(
            "("
            + " + ".join(
                f"(q.emb[{j * dsub + i}] - c.emb[{j * dsub + i}]) * (q.emb[{j * dsub + i}] - c.emb[{j * dsub + i}])"
                for i in range(1, dsub + 1)
            )
            + ")"
        )
    adc = " + ".join(subs)
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
    WITH e(vec_id, emb) AS (VALUES {_vec_values(corpus)}),
    scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS n_id, {adc} AS adc
      FROM e q JOIN e c ON q.vec_id != c.vec_id
      WHERE q.vec_id IN ({ids})
    )
    SELECT q_id, n_id, adc, rank FROM (
      SELECT q_id, n_id, adc,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc ASC, n_id) AS rank
      FROM scored)
    WHERE rank <= {k}
    """


_IVFPQ_QUERY_IDS = [0, 107, 203, 301, 314]


@register(
    "ann_ivfpq",
    oracle=_brute_force_adc_sql(ivfpq_corpus()[0], _IVFPQ_QUERY_IDS, k=5),
)
def ann_ivfpq_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L27c gate: IVF-PQ (FAISS IVFADC shape) with injected coarse
    centroids + codebook must equal exact brute-force L2² top-5 — the
    corpus makes PQ lossless and clusters well-separated, so any error
    in cell assignment, probe ordering, code argmin, lut indexing, or
    the ADC sum breaks the hash."""
    from rabbit_data_pipeline_spark.operators.similarity import ann_ivfpq

    corpus, centroids, codebook = ivfpq_corpus()
    df = _spark_vec_df(spark, corpus)
    qs = df.filter(F.col("vec_id").isin(_IVFPQ_QUERY_IDS))
    return ann_ivfpq(df, qs, centroids, codebook, k=5, n_probe=2)


# ------------------------------------------------- L28: line-level dedup


@lru_cache(maxsize=1)
def multiline_corpus() -> list[tuple[int, str]]:
    """30 docs of 4-7 unique content lines (3-6 words from a 300-word
    vocab — collision-free at this size, verified at build), with a
    cookie-banner line planted into every doc ≡ 0 (mod 3) and a
    newsletter line into every doc ≡ 0 (mod 5); doc 29 is boilerplate-
    only (must vanish entirely from the output)."""
    rng = random.Random(271828)
    vocab = [f"w{i:03d}" for i in range(300)]
    banner = "accept all cookies to continue"
    newsletter = "subscribe to our newsletter today"
    rows = []
    for i in range(29):
        lines = [" ".join(rng.choice(vocab) for _ in range(rng.randint(3, 6))) for _ in range(rng.randint(4, 7))]
        if i % 3 == 0:
            lines.insert(rng.randrange(len(lines) + 1), banner)
        if i % 5 == 0:
            lines.insert(rng.randrange(len(lines) + 1), newsletter)
        rows.append((i, "\n".join(lines)))
    rows.append((29, banner + "\n" + newsletter))
    # content lines must be corpus-unique or they'd count as boilerplate
    from collections import Counter

    content = Counter(
        ln for _, t in rows for ln in t.split("\n") if ln not in (banner, newsletter)
    )
    assert all(c == 1 for c in content.values())
    return rows


def _dedup_lines_oracle(rows: list[tuple[int, str]], min_docs: int = 2) -> str:
    vals = ", ".join(f"({i}, '{t}')".replace("\n", "' || chr(10) || '") for i, t in rows)
    return f"""
    WITH d(doc_id, text) AS (VALUES {vals}),
    l AS (
      SELECT doc_id, u.s.pos AS pos, u.s.line AS line
      FROM d, UNNEST(list_transform(range(1, len(string_split(text, chr(10))) + 1),
                     i -> {{'pos': i, 'line': string_split(text, chr(10))[i]}})) AS u(s)
      WHERE trim(u.s.line) <> ''
    ),
    heavy AS (
      SELECT line FROM l GROUP BY line HAVING COUNT(DISTINCT doc_id) >= {min_docs}
    )
    SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
    FROM l ANTI JOIN heavy USING (line)
    GROUP BY doc_id
    """


@register("text_dedup_lines", oracle=_dedup_lines_oracle(multiline_corpus()))
def text_dedup_lines_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L28 gate: corpus-level line dedup removes exactly the two
    planted boilerplate lines from every document (order-preserving
    reassembly value-hashed), and the boilerplate-only doc disappears."""
    from rabbit_data_pipeline_spark.operators.text import dedup_lines

    return dedup_lines(_spark_text_df(spark, multiline_corpus()))


# --------------------------------------------- L29: URL canonical dedup


@lru_cache(maxsize=1)
def url_corpus() -> list[tuple[int, str]]:
    """12 canonical targets × deterministic variants: uppercase host,
    explicit default port, #fragment, utm_* tracking params, shuffled
    query order — every transformation the canonicalizer must undo —
    plus unique singleton urls."""
    rng = random.Random(8080)
    rows: list[tuple[int, str]] = []
    nid = 0
    for b in range(12):
        scheme = "http" if b % 2 == 0 else "https"
        host = f"site{b}.example.com"
        path = "" if b % 4 == 0 else f"/p{b}/page"
        params = [f"a={b}", f"b={b + 1}", f"c={b + 2}"][: b % 4]
        variants = []
        base_q = "?" + "&".join(params) if params else ""
        variants.append(f"{scheme}://{host}{path}{base_q}")
        v = list(params)
        rng.shuffle(v)
        v.insert(rng.randrange(len(v) + 1), "utm_source=feed")
        variants.append(f"{scheme}://{host.upper()}{path}?" + "&".join(v))
        port = ":80" if scheme == "http" else ":443"
        variants.append(f"{scheme}://{host}{port}{path}{base_q}#section-{b}")
        for u in variants:
            rows.append((nid, u))
            nid += 1
    for i in range(8):
        rows.append((nid, f"https://unique{i}.org/only?x={i}"))
        nid += 1
    return rows


def _url_dedup_oracle(rows: list[tuple[int, str]]) -> str:
    from rabbit_data_pipeline_spark.operators.text import sql_canonicalize_url

    vals = ", ".join(f"({i}, '{u}')" for i, u in rows)
    return f"""
    WITH d(doc_id, url) AS (VALUES {vals})
    SELECT {sql_canonicalize_url('url')} AS canon_url,
           COUNT(*) AS n_variants, MIN(doc_id) AS keep_id
    FROM d GROUP BY 1
    """


@register("text_url_dedup", oracle=_url_dedup_oracle(url_corpus()))
def text_url_dedup_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L29 gate: canonicalization collapses every variant family (case,
    default ports, fragments, utm params, query order) to one group of
    3 while singletons stay groups of 1 — canonical strings, counts and
    survivor ids all value-hashed."""
    from rabbit_data_pipeline_spark.operators.text import url_dedup

    rows = url_corpus()
    schema = StructType([StructField("doc_id", LongType()), StructField("url", StringType())])
    return url_dedup(spark.createDataFrame(rows, schema), url_col="url")


# ------------------------------------- L32: web-corpus prep pipeline


@lru_cache(maxsize=1)
def web_corpus() -> list[tuple[int, str, str]]:
    """20 crawl records (doc_id, url, text) engineered so EVERY prep
    stage fires exactly once, verifiably:
    - doc 1's url is a tracking/case variant of doc 0's, doc 8's a
      port/fragment variant of doc 7's → URL dedup drops 1 and 8;
    - a cookie banner is planted into docs ≡ 0 (mod 3) (7 docs ≥
      min_docs 3) → line dedup strips it everywhere;
    - doc 12 = doc 5's content lines + the banner → after line dedup
      the two texts are identical → exact dedup drops 12 (its lines
      live in only 2 docs, under the min_docs=3 bar, so line dedup
      leaves them);
    - doc 15 is keyword-stuffed spam → the Gopher filter drops it;
    - doc 19 is banner-only → line dedup leaves nothing → vanishes.
    Survivors: 0,2,3,4,5,6,7,9,10,11,13,14,16,17,18."""
    rng = random.Random(5150)
    vocab = [f"w{i:03d}" for i in range(300)]
    banner = "accept all cookies to continue"

    def lines_for(n):
        return [" ".join(rng.choice(vocab) for _ in range(rng.randint(3, 6))) for _ in range(n)]

    rows = []
    texts = {}
    for i in range(19):
        if i == 12:
            content = texts[5][:]
        elif i == 15:
            content = ["buy now buy now buy now buy now buy now"]
        else:
            content = lines_for(rng.randint(4, 6))
        texts[i] = content[:]
        lines = content[:]
        if i % 3 == 0:
            lines.insert(rng.randrange(len(lines) + 1), banner)
        if i == 1:
            url = "https://SITE0.ORG/page?utm_source=feed"
        elif i == 8:
            url = "https://site7.org:443/page#frag"
        else:
            url = f"https://site{i}.org/page"
        rows.append((i, url, "\n".join(lines)))
    rows.append((19, "https://site19.org/page", banner))
    from collections import Counter

    content_lines = Counter(
        ln for i, t in texts.items() if i != 12 for ln in t if ln != banner
    )
    assert all(c == 1 for c in content_lines.values())
    return rows


def _web_prep_oracle(rows: list[tuple[int, str, str]]) -> str:
    from rabbit_data_pipeline_spark.operators.text import sql_canonicalize_url

    vals = ", ".join(
        f"({i}, '{u}', '{t}')".replace("\n", "' || chr(10) || '") for i, u, t in rows
    )
    norm = f"trim(regexp_replace(lower(text), '{WS_RUN}', ' ', 'g'))"
    toks = f"regexp_split_to_array({norm}, ' ')"
    return f"""
    WITH d(doc_id, url, text) AS (VALUES {vals}),
    u AS (
      SELECT doc_id, text,
             ROW_NUMBER() OVER (PARTITION BY {sql_canonicalize_url('url')}
                                ORDER BY doc_id) AS rn
      FROM d
    ),
    us AS (SELECT doc_id, text FROM u WHERE rn = 1),
    l AS (
      SELECT doc_id, x.s.pos AS pos, x.s.line AS line
      FROM us, UNNEST(list_transform(range(1, len(string_split(text, chr(10))) + 1),
                      i -> {{'pos': i, 'line': string_split(text, chr(10))[i]}})) AS x(s)
      WHERE trim(x.s.line) <> ''
    ),
    heavy AS (SELECT line FROM l GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 3),
    r AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
      FROM l ANTI JOIN heavy USING (line) GROUP BY doc_id
    ),
    t AS (SELECT doc_id, text, {toks} AS toks FROM r),
    s AS (
      SELECT doc_id, text, len(toks) AS n_words, len(list_distinct(toks)) AS n_distinct
      FROM t
    ),
    b AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, GREATEST(len(toks) - 1, 0) + 1),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM t
    ),
    bc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM b GROUP BY 1, 2),
    tb AS (SELECT doc_id, MAX(c) AS top_n FROM bc GROUP BY 1),
    g AS (
      SELECT s.doc_id, s.text
      FROM s LEFT JOIN tb ON s.doc_id = tb.doc_id
      WHERE CAST(n_words - n_distinct AS DOUBLE) / GREATEST(n_words, 1) <= 0.3
        AND CAST(COALESCE(top_n, 0) AS DOUBLE) / GREATEST(n_words - 1, 1) <= 0.2
    ),
    e AS (
      SELECT doc_id, text,
             ROW_NUMBER() OVER (PARTITION BY md5({norm}) ORDER BY doc_id) AS rn
      FROM g
    )
    SELECT doc_id, text FROM e WHERE rn = 1
    """


@register("pipeline_web_prep", oracle=_web_prep_oracle(web_corpus()))
def pipeline_web_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L32: the full web-corpus prep chain — URL dedup → corpus line
    dedup → Gopher repetition filter → exact dedup — declared as a
    YAML-style pipeline task and executed by the Scheduler as ONE
    composed Catalyst plan, adjudicated end-to-end by a single
    CTE-chain oracle. Every stage demonstrably fires (see web_corpus).
    """
    import os
    import tempfile

    from rabbit_data_pipeline_spark.pipeline import PipelineSpec, Scheduler

    rows = web_corpus()
    path = os.path.join(tempfile.gettempdir(), "rdps_web_corpus_v1")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        schema = StructType(
            [
                StructField("doc_id", LongType()),
                StructField("url", StringType()),
                StructField("text", StringType()),
            ]
        )
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(path)
    spec = PipelineSpec.from_dict(
        "web_prep",
        {
            "src": {"type": "source.parquet", "start": True, "path": path, "output": ["urls"]},
            "urls": {"type": "transform.url_dedup", "output": ["lines"]},
            "lines": {"type": "transform.dedup_lines", "min_docs": 3, "output": ["quality"]},
            "quality": {"type": "transform.gopher_filter", "output": ["exact"]},
            "exact": {"type": "transform.dedup_exact", "output": ["out"]},
            "out": {"type": "transform.select", "columns": ["doc_id", "text"]},
        },
    )
    return Scheduler(spark, {"web_prep": spec}).run("web_prep")["out"]


# ------------------------------------------ L34: C4-style cleaning rules


@lru_cache(maxsize=1)
def c4_corpus() -> list[tuple[int, str]]:
    """36 multi-line pages engineered so every C4 rule fires on a known
    subset: docs ≡ 0 (mod 3) get a no-terminal-punctuation line, ≡ 0
    (mod 4) a short (<5 words) line, ≡ 0 (mod 5) a javascript line
    (mixed case — the rule is case-insensitive) — all three must be
    stripped line-level; doc 30 contains 'Lorem Ipsum', doc 31 a curly
    brace, doc 32 the bad word, doc 33 keeps only 2 lines — all four
    pages must drop whole; 34/35 are all-clean controls."""
    rng = random.Random(20200410)  # C4 paper v1 date
    vocab = [f"w{i:03d}" for i in range(300)]

    def good_line() -> str:
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 9))) + rng.choice(".!?")

    rows = []
    for i in range(30):
        lines = [good_line() for _ in range(rng.randint(3, 6))]
        if i % 3 == 0:
            lines.insert(rng.randrange(len(lines) + 1), "no terminal punctuation on this line here")
        if i % 4 == 0:
            lines.insert(rng.randrange(len(lines) + 1), "too short line.")
        if i % 5 == 0:
            lines.insert(rng.randrange(len(lines) + 1), "please enable JavaScript to view comments.")
        rows.append((i, "\n".join(lines)))
    rows.append((30, "\n".join([good_line() for _ in range(4)] + ["contains Lorem Ipsum filler text."])))
    rows.append((31, "\n".join([good_line() for _ in range(4)] + ["function() { return 1; }"])))
    rows.append((32, "\n".join([good_line() for _ in range(4)] + ["this page mentions badword1 once."])))
    rows.append((33, "\n".join([good_line(), good_line(), "nope", "also nope"])))
    rows.append((34, "\n".join(good_line() for _ in range(5))))
    rows.append((35, "\n".join(good_line() for _ in range(3))))
    return rows


def _c4_oracle(rows: list[tuple[int, str]]) -> str:
    from rabbit_data_pipeline_spark.operators.text import sql_c4_clean

    vals = ", ".join(f"({i}, '{t}')".replace("\n", "' || chr(10) || '") for i, t in rows)
    return sql_c4_clean(f"(VALUES {vals}) AS d(doc_id, text)")


@register("text_c4_clean", oracle=_c4_oracle(c4_corpus()))
def text_c4_clean_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L34 gate: the C4 rule set (Raffel et al. 2020 §2.2) strips
    exactly the planted rule-violating lines and drops exactly the
    four bad pages — cleaned texts, ids and kept-line counts all
    value-hashed against the token-for-token DuckDB twin."""
    from rabbit_data_pipeline_spark.operators.text import c4_clean

    return c4_clean(_spark_text_df(spark, c4_corpus()))


# -------------------------------------------- L35: semantic dedup (SemDeDup)


def _semantic_oracle(threshold: float = 0.95) -> str:
    """Brute-force truth: literal-folded L2² argmin assignment (chained
    left-assoc sums — bit-identical to Spark's fold, same d-then-cid
    tie-break), then exact in-cell all-pairs cosine. The corpus has no
    pair within 0.02 of the threshold (checked at corpus build), so the
    cosine decision can't flip between engines."""
    corpus, centroids = vec_corpus()

    def l2chain(cv: list[float]) -> str:
        return "(" + " + ".join(
            f"(emb[{i + 1}] - ({x!r})) * (emb[{i + 1}] - ({x!r}))" for i, x in enumerate(cv)
        ) + ")"

    cands = ", ".join(
        f"struct_pack(d := {l2chain(cv)}, cid := {cid})" for cid, cv in centroids
    )
    return f"""
    WITH e(vec_id, emb) AS (VALUES {_vec_values(corpus)}),
    c AS (SELECT vec_id, emb, list_value({cands}) AS cands FROM e),
    a AS (
      SELECT vec_id, emb, u.s.cid AS cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY u.s.d, u.s.cid) AS rn
      FROM c, UNNEST(cands) AS u(s)
    ),
    assign AS (SELECT vec_id, emb, cell FROM a WHERE rn = 1),
    dups AS (
      SELECT DISTINCT y.vec_id
      FROM assign x JOIN assign y ON x.cell = y.cell AND x.vec_id < y.vec_id
      WHERE list_cosine_similarity(x.emb, y.emb) >= {threshold}
    )
    SELECT vec_id, cell FROM assign WHERE vec_id NOT IN (SELECT vec_id FROM dups)
    """


@register("dedup_semantic", oracle=_semantic_oracle())
def dedup_semantic_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L35 gate: SemDeDup cluster-local semantic prune over the
    clustered vec corpus vs DuckDB's brute-force in-cell cosine — each
    planted cluster collapses to its lowest-id member (the center, ids
    0-4) while all background vectors survive; survivor ids AND their
    cell assignments value-hash, so the coarse quantizer and the prune
    both prove parity."""
    from rabbit_data_pipeline_spark.operators.dedup import semantic_dedup

    corpus, centroids = vec_corpus()
    return semantic_dedup(_spark_vec_df(spark, corpus), centroids, threshold=0.95)


# ---------------------------------------- L37: domain blocklist filter


DOMAIN_BLOCKLIST = ("tracker.net", "spam.io", "ads.example.com")


@lru_cache(maxsize=1)
def domain_corpus() -> list[tuple[int, str]]:
    """24 crawl URLs over hosts chosen to exercise every match mode:
    exact blocked host (tracker.net), subdomains at depth 1 and 2
    (ads.tracker.net, cdn.ads.tracker.net), a blocked SUBDOMAIN of an
    allowed domain (ads.example.com blocked, www.example.com kept),
    near-miss hosts that merely CONTAIN a blocked name
    (nottracker.net, tracker.net.evil.org — suffix matching must keep
    the first and drop the second only if its true suffix chain hits),
    ports and uppercase."""
    hosts = [
        "news.example.com",        # kept
        "www.example.com",         # kept
        "ads.example.com",         # blocked exact
        "video.ads.example.com",   # blocked: subdomain of ads.example.com
        "tracker.net",             # blocked exact
        "ads.tracker.net",         # blocked: subdomain
        "cdn.ads.tracker.net",     # blocked: depth-2 subdomain
        "nottracker.net",          # kept: contains but not a suffix label
        "tracker.net.evil.org",    # kept: tracker.net is a PREFIX, not suffix
        "Spam.IO",                 # blocked: case-insensitive
        "safe.org",                # kept
        "blog.safe.org",           # kept
    ]
    rows = []
    for i, h in enumerate(hosts):
        rows.append((2 * i, f"https://{h}/page{i}"))
        rows.append((2 * i + 1, f"http://{h}:80/other?x={i}"))
    return rows


def _domain_filter_oracle(rows: list[tuple[int, str]]) -> str:
    from rabbit_data_pipeline_spark.operators.text import sql_host_of_url

    vals = ", ".join(f"({i}, '{u}')" for i, u in rows)
    bl = ", ".join(f"('{d}')" for d in DOMAIN_BLOCKLIST)
    return f"""
    WITH d(doc_id, url) AS (VALUES {vals}),
    b(domain) AS (VALUES {bl}),
    h AS (
      SELECT doc_id, url, string_split({sql_host_of_url('url')}, '.') AS parts
      FROM d
    ),
    s AS (
      SELECT doc_id, url,
             list_transform(range(1, len(parts) + 1),
                            i -> array_to_string(parts[i:], '.')) AS suffixes
      FROM h
    )
    SELECT doc_id, url FROM s
    WHERE NOT EXISTS (SELECT 1 FROM b WHERE list_contains(s.suffixes, b.domain))
    """


@register("text_domain_filter", oracle=_domain_filter_oracle(domain_corpus()))
def text_domain_filter_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L37 gate: suffix-chain blocklist filtering keeps exactly the
    allowed hosts — exact hits, subdomains at any depth and uppercase
    hosts drop; hosts that merely CONTAIN a blocked name (nottracker.
    net) or carry it as a prefix (tracker.net.evil.org) survive."""
    from rabbit_data_pipeline_spark.operators.text import domain_filter

    rows = domain_corpus()
    schema = StructType([StructField("doc_id", LongType()), StructField("url", StringType())])
    df = spark.createDataFrame(rows, schema)
    bl = spark.createDataFrame([(d,) for d in DOMAIN_BLOCKLIST], StructType([StructField("domain", StringType())]))
    return domain_filter(df, bl)


# ------------------------------------------- L40: incremental dedup


@lru_cache(maxsize=1)
def incremental_batch() -> list[tuple[int, str]]:
    """The incoming batch for the incremental-dedup gate: the 10
    near-copies from minhash_corpus (each must pair with its indexed
    base) + 5 fresh docs from the same vocab (must pair with
    nothing)."""
    base, copy_ids = text_corpus()
    texts = dict(base)
    rng = random.Random(31337)
    vocab = [f"w{i:03d}" for i in range(500)]
    fresh = [(2000 + i, " ".join(rng.choice(vocab) for _ in range(60))) for i in range(5)]
    return [(i + 1000, texts[i] + " zz yy") for i in copy_ids] + fresh


def _incremental_oracle() -> str:
    base, _ = text_corpus()
    return f"""
    WITH idx(doc_id, text) AS (VALUES {_text_values(base)}),
    new(doc_id, text) AS (VALUES {_text_values(incremental_batch())}),
    gi AS (
      SELECT doc_id, list_distinct(list_transform(
               range(1, GREATEST(length(text) - 4, 1) + 1),
               i -> substr(text, i, 5))) AS grams FROM idx
    ),
    gn AS (
      SELECT doc_id, list_distinct(list_transform(
               range(1, GREATEST(length(text) - 4, 1) + 1),
               i -> substr(text, i, 5))) AS grams FROM new
    )
    SELECT n.doc_id AS new_id, i.doc_id AS index_id
    FROM gn n JOIN gi i
      ON CAST(len(list_intersect(n.grams, i.grams)) AS DOUBLE)
           / (len(n.grams) + len(i.grams) - len(list_intersect(n.grams, i.grams))) >= 0.6
    """


@register("dedup_incremental", oracle=_incremental_oracle())
def dedup_incremental_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L40 gate: batch-vs-index LSH dedup (index never shuffles, batch
    broadcasts) must find exactly the 10 planted (copy, base) pairs vs
    DuckDB's brute-force new×index jaccard — and none of the 5 fresh
    docs may pair with anything."""
    from rabbit_data_pipeline_spark.operators.dedup import (
        lsh_incremental_pairs,
        minhash_signature_arrow,
    )

    base, _ = text_corpus()
    idx = minhash_signature_arrow(_spark_text_df(spark, base), num_hashes=48, k=5)
    new = minhash_signature_arrow(_spark_text_df(spark, incremental_batch()), num_hashes=48, k=5)
    return lsh_incremental_pairs(new, idx, bands=12, sim_threshold=0.6).select("new_id", "index_id")


# --------------------------------------------- L41: DSIR importance weights


_DSIR_BUCKETS = 64


@lru_cache(maxsize=1)
def dsir_corpora() -> tuple[list[tuple[int, str]], list[tuple[int, str]]]:
    """(source, target) corpora: 40 source docs over a 200-word vocab —
    the last 8 drawn ONLY from the target's 40-word subvocab, so their
    importance weights must come out clearly higher — and 15 target
    docs over that subvocab."""
    rng = random.Random(2302)  # DSIR arXiv number
    vocab = [f"t{i:03d}" for i in range(200)]
    sub = vocab[:40]
    source = [(i, " ".join(rng.choice(vocab) for _ in range(30))) for i in range(32)]
    source += [(32 + i, " ".join(rng.choice(sub) for _ in range(30))) for i in range(8)]
    target = [(500 + i, " ".join(rng.choice(sub) for _ in range(30))) for i in range(15)]
    return source, target


def _py_grams(text: str) -> list[str]:
    words = text.split(" ")
    return words + [f"{a} {b}" for a, b in zip(words, words[1:])]


def _py_bucket(g: str) -> int:
    import hashlib

    return int(hashlib.md5(g.encode()).hexdigest()[:4], 16) % _DSIR_BUCKETS


@lru_cache(maxsize=1)
def dsir_models() -> tuple[list[float], list[float]]:
    """Laplace-smoothed per-bucket log-probs (target, source), built
    offline in pure Python with the SAME md5-prefix bucket both
    engines compute — the model arrays are literals injected into
    both plans."""
    import math

    source, target = dsir_corpora()

    def model(rows):
        counts = [0] * _DSIR_BUCKETS
        for _, t in rows:
            for g in _py_grams(t):
                counts[_py_bucket(g)] += 1
        total = sum(counts)
        return [math.log((c + 1) / (total + _DSIR_BUCKETS)) for c in counts]

    return model(target), model(source)


def _dsir_oracle() -> str:
    source, _ = dsir_corpora()
    t_lp, s_lp = dsir_models()
    t_arr = "[" + ", ".join(repr(x) for x in t_lp) + "]"
    s_arr = "[" + ", ".join(repr(x) for x in s_lp) + "]"
    n = "(strpos('0123456789abcdef', substr(md5(gr), {i}, 1)) - 1)"
    val = f"((({n.format(i=1)} * 16 + {n.format(i=2)}) * 16 + {n.format(i=3)}) * 16 + {n.format(i=4)})"
    return f"""
    WITH d(doc_id, text) AS (VALUES {_text_values(source)}),
    w AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '{WS_RUN}', ' ', 'g')), ' ') AS words
      FROM d
    ),
    g AS (
      SELECT doc_id,
             list_filter(
               list_concat(words,
                 list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i + 1])),
               x -> x <> '') AS grams
      FROM w
    ),
    b AS (
      SELECT doc_id,
             list_transform(grams, gr -> {val} % {_DSIR_BUCKETS}) AS buckets
      FROM g
    )
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(buckets, bk -> {t_arr}[bk + 1] - {s_arr}[bk + 1])),
             (acc, x) -> acc + x) AS log_weight
    FROM b
    """


@register("text_dsir", oracle=_dsir_oracle())
def text_dsir_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L41 gate: DSIR hashed-ngram importance log-weights over the
    seeded source corpus — literal model arrays, md5-prefix buckets
    and the left-assoc fold must all agree bit-for-bit with the DuckDB
    twin; the 8 target-vocab source docs must surface with the highest
    weights (asserted in tests/test_llm_ops.py)."""
    from rabbit_data_pipeline_spark.operators.text import dsir_log_weights

    source, _ = dsir_corpora()
    t_lp, s_lp = dsir_models()
    return dsir_log_weights(_spark_text_df(spark, source), t_lp, s_lp).select("doc_id", "log_weight")


# ----------------------------------- L42: semantic decontamination


@register(
    "emb_decontaminate",
    oracle=f"""
    WITH c(vec_id, emb) AS (VALUES {_vec_values([r for r in vec_corpus()[0] if r[0] >= 5])}),
    b(b_id, b_emb) AS (VALUES {_vec_values([r for r in vec_corpus()[0] if r[0] < 5])})
    SELECT vec_id FROM c
    WHERE NOT EXISTS (
      SELECT 1 FROM b WHERE list_cosine_similarity(c.emb, b.b_emb) >= 0.9
    )
    """,
)
def emb_decontaminate_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L42 gate: semantic decontamination against the 5 cluster
    centers as the "benchmark" — all 60 planted paraphrase-level
    members (cosine ≥ 0.99 to a center) drop, all 40 background
    vectors survive; margins are 0.09/0.30 around the 0.9 threshold,
    so the cross-engine cosine decision cannot flip."""
    from rabbit_data_pipeline_spark.operators.similarity import semantic_decontaminate

    corpus, _ = vec_corpus()
    bench = _spark_vec_df(spark, [r for r in corpus if r[0] < 5])
    rest = _spark_vec_df(spark, [r for r in corpus if r[0] >= 5])
    return semantic_decontaminate(rest, bench, threshold=0.9).select("vec_id")


# ----------------------------------- L43: embedding outlier flags


@lru_cache(maxsize=1)
def norm_corpus() -> list[tuple[int, list[float]]]:
    """100 vectors: 96 with L2 norms in a tight band around 4, plus 2
    collapsed (scaled to ~0.3) and 2 exploding (~40) — the planted
    outliers; the norm gap (0.3 ↔ ~3.5 ↔ ~40) dwarfs any
    quantile-interpolation difference between engines."""
    rng = random.Random(9001)
    dim = 16
    rows = []
    for i in range(96):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        rows.append((i, [round(x * 4.0 / n, 6) for x in v]))
    for j, scale in ((96, 0.3), (97, 0.32), (98, 40.0), (99, 38.0)):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        rows.append((j, [round(x * scale / n, 6) for x in v]))
    return rows


@register(
    "emb_outliers",
    oracle=f"""
    WITH e(vec_id, emb) AS (VALUES {_vec_values(norm_corpus())}),
    n AS (
      SELECT vec_id,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(emb, x -> x * x)), (acc, x) -> acc + x)) AS l2_norm
      FROM e
    ),
    q AS (SELECT quantile_cont(l2_norm, 0.02) AS lo, quantile_cont(l2_norm, 0.98) AS hi FROM n)
    SELECT vec_id, l2_norm, (l2_norm < q.lo OR l2_norm > q.hi) AS is_outlier FROM n, q
    """,
)
def emb_outliers_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L43 gate: norm-quantile outlier flagging marks exactly the 4
    planted degenerate/exploding vectors; l2_norm itself value-hashes
    (the left-assoc fold mirrors the oracle's list_reduce), proving
    the norm math bit-identical, and the [2%, 98%] cut points agree
    because every norm sits far from them."""
    from rabbit_data_pipeline_spark.operators.similarity import embedding_outliers

    return embedding_outliers(
        _spark_vec_df(spark, norm_corpus()), low_q=0.02, high_q=0.98
    ).select("vec_id", "l2_norm", "is_outlier")


# ------------------------------------------- T7: text normalization


@lru_cache(maxsize=1)
def unicode_corpus() -> list[tuple[int, str]]:
    """Docs exercising every normalization rule: accents (both cases),
    curly quotes, en/em dashes, NBSP, tabs/newlines/control chars,
    repeated whitespace, mixed case — plus a pure-ASCII control that
    must pass through unchanged except lowering."""
    return [
        (0, "Café München ÉCOLE"),
        (1, "curly ‘quotes’ and “double” ones"),
        (2, "dash – and — types"),
        (3, "non breaking space"),
        (4, "tabs\tand\nnewlines\there"),
        (5, "lots   of    spaces"),
        (6, "Plain ASCII Control 123."),
        (7, "señor à la façade NAÏVE"),
    ]


def _normalize_oracle() -> str:
    from rabbit_data_pipeline_spark.operators.text import sql_normalize_text

    vals = ", ".join(
        "({}, '{}')".format(i, t.replace("'", "''").replace("\n", "' || chr(10) || '").replace("\t", "' || chr(9) || '"))
        for i, t in unicode_corpus()
    )
    return f"""
    WITH d(doc_id, text) AS (VALUES {vals})
    SELECT doc_id, {sql_normalize_text('text')} AS text FROM d
    """


@register("text_normalize", oracle=_normalize_oracle())
def text_normalize_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 gate: the normalization pipeline (accent fold, unicode
    punctuation, control strip, whitespace collapse, lowercase) agrees
    character-for-character with the DuckDB twin on a corpus that
    exercises every rule."""
    from rabbit_data_pipeline_spark.operators.text import normalize_text

    d = _spark_text_df(spark, unicode_corpus())
    return d.select("doc_id", normalize_text(F.col("text")).alias("text"))


def _normalize_lines_oracle() -> str:
    from rabbit_data_pipeline_spark.operators.text import sql_normalize_text

    rows = unicode_corpus() + [(8, "line one  here\n  line TWO\n\nlast – line")]
    vals = ", ".join(
        "({}, '{}')".format(i, t.replace("'", "''").replace("\n", "' || chr(10) || '").replace("\t", "' || chr(9) || '"))
        for i, t in rows
    )
    return f"""
    WITH d(doc_id, text) AS (VALUES {vals})
    SELECT doc_id, {sql_normalize_text('text', keep_newlines=True)} AS text FROM d
    """


@register("text_normalize_lines", oracle=_normalize_lines_oracle())
def text_normalize_lines_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 gate (line-preserving mode): same normalization but newlines
    survive — within-line whitespace collapses, spaces around newlines
    trim, controls other than \\n strip; char-for-char vs the DuckDB
    twin."""
    from rabbit_data_pipeline_spark.operators.text import normalize_text

    rows = unicode_corpus() + [(8, "line one  here\n  line TWO\n\nlast – line")]
    d = _spark_text_df(spark, rows)
    return d.select("doc_id", normalize_text(F.col("text"), keep_newlines=True).alias("text"))


# ------------------------------------- L44: perceptual image near-dup


def _py_ahash(body: bytes, w: int, h: int, grid: int = 8) -> int:
    px = [
        body[min(int(y * h / grid), h - 1) * w + min(int(x * w / grid), w - 1)]
        for y in range(grid)
        for x in range(grid)
    ]
    mean = sum(px) / len(px)
    bits = 0
    for i, p in enumerate(px):
        if p > mean:
            bits |= 1 << i
    return bits


IMAGE_COPY_IDS = tuple(range(0, 30, 5))


@lru_cache(maxsize=1)
def image_corpus() -> list[tuple[str, bytes]]:
    """30 random 32×32 IMG1 images + a visually-near copy (12 pixels
    nudged by +2) of every 5th, id 'img<base>c'. Seed pinned where the
    Python aHash replica puts every planted pair within hamming 2 and
    every distinct pair above 12 — so the Spark operator's output must
    be exactly the planted pairs (margins absorb any impl nuance up to
    the hamming-6 verify bound)."""
    import struct as _struct

    rng = random.Random(88001)
    w = h = 32
    rows: list[tuple[str, bytes]] = []
    bodies: dict[str, bytes] = {}
    for i in range(30):
        body = bytes(rng.randrange(256) for _ in range(w * h))
        rows.append((f"img{i:03d}", b"IMG1" + _struct.pack("<ii", w, h) + body))
        bodies[f"img{i:03d}"] = body
    for i in IMAGE_COPY_IDS:
        body = bytearray(bodies[f"img{i:03d}"])
        for _ in range(12):
            p = rng.randrange(len(body))
            body[p] = min(255, body[p] + 2)
        rows.append((f"img{i:03d}c", b"IMG1" + _struct.pack("<ii", w, h) + bytes(body)))
        bodies[f"img{i:03d}c"] = bytes(body)
    hashes = {k: _py_ahash(b, w, h) for k, b in bodies.items()}
    ids = sorted(hashes)
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            ham = bin(hashes[ids[a]] ^ hashes[ids[b]]).count("1")
            planted = ids[b] == ids[a] + "c"
            assert (ham <= 2) if planted else (ham > 12), (ids[a], ids[b], ham)
    return rows


def _image_neardup_oracle() -> str:
    vals = ", ".join(f"('img{i:03d}', 'img{i:03d}c')" for i in IMAGE_COPY_IDS)
    return f"SELECT id_a, id_b FROM (VALUES {vals}) AS t(id_a, id_b)"


@register("multimodal_image_neardup", oracle=_image_neardup_oracle())
def multimodal_image_neardup_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L44 gate: perceptual aHash + quarter banding finds exactly the 6
    planted visually-near image pairs (bytes differ → exact binary
    dedup finds nothing; hamming margins 2 ↔ >12 are asserted at
    corpus build, so output must match the truth table exactly)."""
    from rabbit_data_pipeline_spark.operators.multimodal import image_near_pairs

    rows = image_corpus()
    schema = StructType(
        [StructField("media_id", StringType()), StructField("payload", BinaryType())]
    )
    df = spark.createDataFrame(rows, schema)
    return image_near_pairs(df, max_hamming=6).select("id_a", "id_b")


# ------------------------------- L45: intra-document line dedup


@lru_cache(maxsize=1)
def introdup_corpus() -> list[tuple[int, str]]:
    """20 docs of unique content lines; every doc ≡ 0 (mod 3) gets one
    of its own lines repeated twice more (the templated-page shape),
    and doc 19 is one line repeated five times (must collapse to a
    single line with 4 removals)."""
    rng = random.Random(424242)
    vocab = [f"w{i:03d}" for i in range(300)]
    rows = []
    for i in range(19):
        lines = [" ".join(rng.choice(vocab) for _ in range(4)) for _ in range(5)]
        if i % 3 == 0:
            dup = lines[1]
            lines.insert(3, dup)
            lines.append(dup)
        rows.append((i, "\n".join(lines)))
    only = " ".join(rng.choice(vocab) for _ in range(4))
    rows.append((19, "\n".join([only] * 5)))
    return rows


def _introdup_oracle(rows: list[tuple[int, str]]) -> str:
    vals = ", ".join(f"({i}, '{t}')".replace("\n", "' || chr(10) || '") for i, t in rows)
    return f"""
    WITH d(doc_id, text) AS (VALUES {vals}),
    l AS (
      SELECT doc_id, u.s.pos AS pos, u.s.line AS line
      FROM d, UNNEST(list_transform(range(1, len(string_split(text, chr(10))) + 1),
                     i -> {{'pos': i, 'line': string_split(text, chr(10))[i]}})) AS u(s)
      WHERE trim(u.s.line) <> ''
    ),
    r AS (
      SELECT doc_id, pos, line,
             ROW_NUMBER() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rn
      FROM l
    )
    SELECT doc_id,
           string_agg(CASE WHEN rn = 1 THEN line END, chr(10) ORDER BY pos) AS text,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_removed
    FROM r GROUP BY doc_id
    """


@register("text_dedup_lines_within", oracle=_introdup_oracle(introdup_corpus()))
def text_dedup_lines_within_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L45 gate: intra-doc line dedup keeps exactly the first
    occurrence of each repeated line (order-preserving reassembly and
    removal counts value-hashed); the all-repeats doc collapses to one
    line."""
    from rabbit_data_pipeline_spark.operators.text import dedup_lines_within

    return dedup_lines_within(_spark_text_df(spark, introdup_corpus()))


# ----------------------------- L47: repeated-passage removal (substring dedup)


@lru_cache(maxsize=1)
def passage_corpus() -> list[tuple[int, str]]:
    """16 docs of 12-25 random words; a 10-word passage P planted into
    docs 0/3/6/9 (at varying offsets), a second passage Q into 1/4;
    doc 15 IS passage P alone (must vanish entirely). Random 8-gram
    collisions are impossible at this vocab size (checked by the gate
    itself — the oracle recomputes the truth)."""
    rng = random.Random(20107)  # Lee et al. arXiv number
    vocab = [f"w{i:03d}" for i in range(300)]
    P = " ".join(rng.choice(vocab) for _ in range(10))
    Q = " ".join(rng.choice(vocab) for _ in range(10))
    rows = []
    for i in range(15):
        words = [rng.choice(vocab) for _ in range(rng.randint(12, 25))]
        if i in (0, 3, 6, 9):
            at = rng.randrange(len(words) + 1)
            words[at:at] = P.split(" ")
        if i in (1, 4):
            at = rng.randrange(len(words) + 1)
            words[at:at] = Q.split(" ")
        rows.append((i, " ".join(words)))
    rows.append((15, P))
    return rows


def _passage_oracle(rows: list[tuple[int, str]], k: int = 8, min_docs: int = 2) -> str:
    vals = ", ".join(f"({i}, '{t}')" for i, t in rows)
    return f"""
    WITH d(doc_id, text) AS (VALUES {vals}),
    w AS (SELECT doc_id, string_split(text, ' ') AS words FROM d),
    g AS (
      SELECT doc_id, CAST(i AS INT) AS start,
             array_to_string(words[i:i + {k} - 1], ' ') AS gram
      FROM w, UNNEST(range(1, GREATEST(len(words) - {k} + 1, 0) + 1)) AS t(i)
    ),
    heavy AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= {min_docs}),
    cov AS (
      SELECT DISTINCT doc_id, start + CAST(o AS INT) AS pos
      FROM (SELECT doc_id, start FROM g JOIN heavy USING (gram)), UNNEST(range(0, {k})) AS u(o)
    ),
    wp AS (
      SELECT doc_id, CAST(i AS INT) AS pos, words[i] AS word, len(words) AS n
      FROM w, UNNEST(range(1, len(words) + 1)) AS t(i)
    ),
    kept AS (SELECT wp.* FROM wp ANTI JOIN cov USING (doc_id, pos))
    SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS text,
           CAST(MAX(n) - COUNT(*) AS BIGINT) AS n_words_removed
    FROM kept GROUP BY doc_id
    """


@register("text_remove_passages", oracle=_passage_oracle(passage_corpus()))
def text_remove_passages_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L47 gate: cross-doc repeated-passage removal cuts the full
    10-word planted passages (3 overlapping heavy 8-grams union to the
    exact span) from every host doc, leaves all unique words, and the
    passage-only doc vanishes — reassembled texts and removal counts
    value-hashed against the DuckDB recomputation."""
    from rabbit_data_pipeline_spark.operators.text import remove_repeated_passages

    return remove_repeated_passages(_spark_text_df(spark, passage_corpus()))


# --------------------------------- L50: perceptual audio near-dup


AUDIO_COPY_IDS = tuple(range(0, 24, 4))


def _py_audio_fp(pcm: list[int], n_windows: int = 64) -> int:
    win = max(1, len(pcm) // n_windows)
    import numpy as _np

    arr = _np.asarray(pcm, dtype=_np.float64)
    feats = [
        float(_np.float32(_np.sqrt(_np.mean(_np.square(arr[i * win : (i + 1) * win])) or 0.0)))
        for i in range(n_windows)
    ]
    bits = 0
    for i in range(63):
        if feats[i + 1] > feats[i]:
            bits |= 1 << i
    return bits


@lru_cache(maxsize=1)
def audio_corpus() -> list[tuple[str, bytes]]:
    """24 AUD1 clips (64 windows × 64 samples, per-window random
    amplitude envelopes so the energy profile is informative) + a
    near-copy (8 samples nudged ±2 — inaudible, energy-preserving) of
    every 4th, id 'aud<base>c'. Seed pinned where the Python replica
    puts planted pairs within hamming 2 and distinct pairs above 12."""
    import struct as _struct

    rng = random.Random(44100)
    n_win, win = 64, 64
    rows: list[tuple[str, bytes]] = []
    pcms: dict[str, list[int]] = {}
    for i in range(24):
        pcm: list[int] = []
        for _ in range(n_win):
            amp = rng.randint(50, 1000)
            pcm.extend(rng.randint(-amp, amp) for _ in range(win))
        rows.append((f"aud{i:03d}", b"AUD1" + _struct.pack("<ii", 16000, len(pcm)) + b"".join(_struct.pack("<h", v) for v in pcm)))
        pcms[f"aud{i:03d}"] = pcm
    for i in AUDIO_COPY_IDS:
        pcm = list(pcms[f"aud{i:03d}"])
        for _ in range(8):
            p = rng.randrange(len(pcm))
            pcm[p] = max(-32768, min(32767, pcm[p] + rng.choice((-2, 2))))
        rows.append((f"aud{i:03d}c", b"AUD1" + _struct.pack("<ii", 16000, len(pcm)) + b"".join(_struct.pack("<h", v) for v in pcm)))
        pcms[f"aud{i:03d}c"] = pcm
    fps = {k: _py_audio_fp(v) for k, v in pcms.items()}
    ids = sorted(fps)
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            ham = bin(fps[ids[a]] ^ fps[ids[b]]).count("1")
            planted = ids[b] == ids[a] + "c"
            assert (ham <= 2) if planted else (ham > 12), (ids[a], ids[b], ham)
    return rows


def _audio_neardup_oracle() -> str:
    vals = ", ".join(f"('aud{i:03d}', 'aud{i:03d}c')" for i in AUDIO_COPY_IDS)
    return f"SELECT id_a, id_b FROM (VALUES {vals}) AS t(id_a, id_b)"


@register("multimodal_audio_neardup", oracle=_audio_neardup_oracle())
def multimodal_audio_neardup_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L50 gate: energy-difference fingerprints + quarter banding find
    exactly the 6 planted inaudibly-perturbed clip pairs (bytes differ
    → binary dedup finds nothing; hamming margins 2 ↔ >12 asserted at
    corpus build)."""
    from rabbit_data_pipeline_spark.operators.multimodal import audio_near_pairs

    rows = audio_corpus()
    schema = StructType(
        [StructField("media_id", StringType()), StructField("payload", BinaryType())]
    )
    return audio_near_pairs(spark.createDataFrame(rows, schema), max_hamming=6).select("id_a", "id_b")


# --------------------------------- L51: perceptual video near-dup


VIDEO_COPY_IDS = tuple(range(0, 24, 4))


def _py_video_fp(body: bytes, n: int = 64, fl: int = 64) -> int:
    import numpy as _np

    arr = _np.frombuffer(body, dtype=_np.uint8).astype(_np.float64)
    means = [float(_np.float32(arr[f * fl : (f + 1) * fl].mean())) for f in range(n)]
    bits = 0
    for i in range(63):
        if means[i + 1] > means[i]:
            bits |= 1 << i
    return bits


@lru_cache(maxsize=1)
def video_corpus() -> list[tuple[str, bytes]]:
    """24 VID1 clips (64 frames × 64 bytes, per-frame random brightness
    levels) + a near-copy (8 pixels nudged ±2) of every 4th, id
    'vid<base>c'. Seed pinned where the Python replica puts planted
    pairs within hamming 2 and distinct pairs above 12."""
    import struct as _struct

    rng = random.Random(2997)  # NTSC fps
    n, fl = 64, 64
    rows: list[tuple[str, bytes]] = []
    bodies: dict[str, bytearray] = {}
    for i in range(24):
        body = bytearray()
        for _ in range(n):
            level = rng.randint(20, 235)
            body.extend(max(0, min(255, level + rng.randint(-10, 10))) for _ in range(fl))
        rows.append((f"vid{i:03d}", b"VID1" + _struct.pack("<ii", n, fl) + bytes(body)))
        bodies[f"vid{i:03d}"] = body
    for i in VIDEO_COPY_IDS:
        body = bytearray(bodies[f"vid{i:03d}"])
        for _ in range(8):
            p = rng.randrange(len(body))
            body[p] = max(0, min(255, body[p] + rng.choice((-2, 2))))
        rows.append((f"vid{i:03d}c", b"VID1" + _struct.pack("<ii", n, fl) + bytes(body)))
        bodies[f"vid{i:03d}c"] = body
    fps = {k: _py_video_fp(bytes(b)) for k, b in bodies.items()}
    ids = sorted(fps)
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            ham = bin(fps[ids[a]] ^ fps[ids[b]]).count("1")
            planted = ids[b] == ids[a] + "c"
            assert (ham <= 2) if planted else (ham > 12), (ids[a], ids[b], ham)
    return rows


def _video_neardup_oracle() -> str:
    vals = ", ".join(f"('vid{i:03d}', 'vid{i:03d}c')" for i in VIDEO_COPY_IDS)
    return f"SELECT id_a, id_b FROM (VALUES {vals}) AS t(id_a, id_b)"


@register("multimodal_video_neardup", oracle=_video_neardup_oracle())
def multimodal_video_neardup_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L51 gate: per-frame luminance-delta fingerprints + quarter
    banding find exactly the 6 planted pixel-perturbed clip pairs —
    the triad's third leg, margins 2 ↔ >12 asserted at corpus build."""
    from rabbit_data_pipeline_spark.operators.multimodal import video_near_pairs

    rows = video_corpus()
    schema = StructType(
        [StructField("media_id", StringType()), StructField("payload", BinaryType())]
    )
    return video_near_pairs(spark.createDataFrame(rows, schema), max_hamming=6).select("id_a", "id_b")


# ------------------------------------------------------------------ BPE

@lru_cache(maxsize=1)
def bpe_corpus() -> list[tuple[int, str]]:
    """The classic subword setting (Sennrich et al. 2016's running
    example family): shared stems + productive suffixes, so merges
    must discover 'lo'/'low'/'er'/'est'-style units in a deterministic
    frequency order."""
    return [
        (0, "low low low low low lower lower newest newest newest"),
        (1, "newest newest newest widest widest lowest lowest lowest"),
        (2, "new new newer newer newer wider wider low newest wide"),
        (3, "lowest widest lower newer low new wide est"),
    ]


_BPE_N_MERGES = 12


@lru_cache(maxsize=1)
def _bpe_expected_merges() -> list[tuple[int, str, str]]:
    from rabbit_data_pipeline_spark.operators.bpe import reference_bpe

    return reference_bpe([t for _, t in bpe_corpus()], n_merges=_BPE_N_MERGES)


def _bpe_train_oracle() -> str:
    vals = ", ".join(f"({r}, '{l}', '{rt}')" for r, l, rt in _bpe_expected_merges())
    return f"SELECT rank, left_sym, right_sym FROM (VALUES {vals}) AS t(rank, left_sym, right_sym)"


def _merges_df(spark: SparkSession, merges: list[tuple[int, str, str]]) -> DataFrame:
    return spark.createDataFrame(
        [(r, l, rt) for r, l, rt in merges], ["rank", "left_sym", "right_sym"]
    ).select(F.col("rank").cast("int"), "left_sym", "right_sym")


@register("text_bpe_train", oracle=_bpe_train_oracle())
def text_bpe_train_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L53 gate: the DISTRIBUTED trainer (histogram shuffle + per-merge
    argmax aggregations, operators/bpe.py train_bpe) must reproduce the
    textbook algorithm's merge table exactly — rank for rank, with the
    (count DESC, pair ASC) tie-break — against an independent
    pure-Python twin on the seeded corpus."""
    from rabbit_data_pipeline_spark.operators.bpe import train_bpe

    df = spark.createDataFrame(bpe_corpus(), ["doc_id", "text"])
    merges = train_bpe(df, n_merges=_BPE_N_MERGES)
    return _merges_df(spark, merges)


@register("text_bpe_train_batched", oracle=_bpe_train_oracle())
def text_bpe_train_batched_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L53 gate, batched-distributed engine (the r6 scale ask): the
    batched merge-round trainer — top-K pair collect, order-equivalent
    batch selection, one Arrow pass per round (operators/bpe.py
    _train_distributed) — must reproduce the SAME merge table as the
    sequential textbook algorithm, rank for rank. batch_top_k=8 forces
    the truncated-candidate-list conservative branch too."""
    from rabbit_data_pipeline_spark.operators.bpe import train_bpe

    df = spark.createDataFrame(bpe_corpus(), ["doc_id", "text"])
    merges = train_bpe(
        df, n_merges=_BPE_N_MERGES, strategy="distributed", batch_top_k=8
    )
    return _merges_df(spark, merges)


def _bpe_encode_oracle() -> str:
    from rabbit_data_pipeline_spark.operators.bpe import reference_encode

    merges = _bpe_expected_merges()
    rows = []
    for doc_id, text in bpe_corpus():
        toks = reference_encode(text, merges)
        joined = " ".join(toks).replace("'", "''")
        rows.append(f"({doc_id}, '{joined}', {sum(t.count('·') + 1 for t in toks)})")
    return (
        "SELECT doc_id, tokens, CAST(n_tokens AS INT) AS n_tokens FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(doc_id, tokens, n_tokens)"
    )


@register("text_bpe_encode", oracle=_bpe_encode_oracle())
def text_bpe_encode_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L53 gate, encode side: greedy rank-order merge application as
    chained literal folds (shuffle-free) reproduces the reference
    tokenization token-for-token, boundaries included."""
    from rabbit_data_pipeline_spark.operators.bpe import bpe_encode, train_bpe

    df = spark.createDataFrame(bpe_corpus(), ["doc_id", "text"])
    merges = train_bpe(df, n_merges=_BPE_N_MERGES)
    return bpe_encode(df, merges).select(
        "doc_id", "tokens", F.col("n_tokens").cast("int").alias("n_tokens")
    )


@lru_cache(maxsize=1)
def bpe_topm_corpus() -> list[tuple[int, str]]:
    """Corpus for the driver_topm gate (VERDICT r7 ask #4). Head: nine
    high-frequency word types (every count ≥ 2). Tail: five rare word
    types, ONE occurrence each, drawn from a DISJOINT character set
    (digits) with every tail bigram globally unique — so (a) no tail
    pair reaches min_pair_count=2, meaning full-histogram training
    never merges one, and (b) no tail character appears in any head
    pair, meaning dropping the tail cannot change a head pair's count
    or tie-break. Truncating to the top-9 word types is therefore
    PROVABLY merge-table-identical to full-histogram training — the
    identity this gate asserts by using the full-corpus pure-Python
    twin as the oracle. The divergence twin (a tail bigram frequent
    enough to merge under full training but dropped by truncation) is
    asserted in tests/test_bpe.py."""
    return [
        (0, "low low low low low lower lower newest newest newest"),
        (1, "newest newest newest widest widest lowest lowest lowest"),
        (2, "new new newer newer newer wider wider low newest wide wide"),
        (3, "01 23 45 67 89"),
    ]


_BPE_TOPM_HEAD_TYPES = 9


def _bpe_topm_oracle() -> str:
    from rabbit_data_pipeline_spark.operators.bpe import reference_bpe

    merges = reference_bpe([t for _, t in bpe_topm_corpus()], n_merges=_BPE_N_MERGES)
    vals = ", ".join(f"({r}, '{l}', '{rt}')" for r, l, rt in merges)
    return f"SELECT rank, left_sym, right_sym FROM (VALUES {vals}) AS t(rank, left_sym, right_sym)"


@register("text_bpe_train_topm", oracle=_bpe_topm_oracle())
def text_bpe_train_topm_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L53 gate, driver_topm engine: frequency-truncated histogram
    training (operators/bpe.py train_bpe strategy="driver_topm" —
    collect only the top driver_max_words word types, train
    driver-side) must reproduce the FULL-histogram pure-Python twin's
    merge table exactly on a corpus constructed so truncation provably
    cannot change a merge decision (see bpe_topm_corpus). This is the
    recommended engine for the histogram-too-big-for-the-driver AND
    natural-language regime where the exact batched engine degenerates
    (operators/bpe.py:374 docstring)."""
    from rabbit_data_pipeline_spark.operators.bpe import train_bpe

    df = spark.createDataFrame(bpe_topm_corpus(), ["doc_id", "text"])
    merges = train_bpe(
        df,
        n_merges=_BPE_N_MERGES,
        strategy="driver_topm",
        driver_max_words=_BPE_TOPM_HEAD_TYPES,
    )
    return _merges_df(spark, merges)


@register("text_bpe_encode_arrow", oracle=_bpe_encode_oracle())
def text_bpe_encode_arrow_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L53 gate, Arrow encode engine (the production-vocab path): one
    mapInPandas pass with the merge table in the closure must tokenize
    identically to the codegen fold chain and the pure-Python twin —
    same tokens, same '·' boundaries, same counts."""
    from rabbit_data_pipeline_spark.operators.bpe import bpe_encode, train_bpe

    df = spark.createDataFrame(bpe_corpus(), ["doc_id", "text"])
    merges = train_bpe(df, n_merges=_BPE_N_MERGES)
    return bpe_encode(df, merges, engine="arrow").select(
        "doc_id", "tokens", F.col("n_tokens").cast("int").alias("n_tokens")
    )
