"""Property tests: the Gopher repetition stats and TF-IDF ranking vs
independent pure-Python references, over random word-soup corpora and
random partitionings — the distributed explode/agg/join pipelines must
reproduce the single-process definition exactly."""

from __future__ import annotations

import re
from collections import Counter

from hypothesis import given, settings, strategies as st

word = st.sampled_from(["aa", "bb", "cc", "dd", "spam", "x1"])
# Mostly single spaces, plus \x0B (whitespace to Java's `\s` but not to
# RE2's) and Unicode spaces (whitespace to neither engine's `\s`).
sep = st.sampled_from([" ", " ", " ", " ", "\t", "\n", "\x0b", "\u00a0", "\u2003", "\u3000"])
doc = st.tuples(word, st.lists(st.tuples(sep, word), max_size=11)).map(
    lambda t: t[0] + "".join(s + w for s, w in t[1])
)
corpus = st.lists(doc, min_size=1, max_size=8)

# The whitespace the package's patterns match (Java's `\s`); Python's
# own `\s` also matches Unicode spaces.
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _norm_toks(text: str) -> list[str]:
    t = _WS.sub(" ", text.lower()).strip(" ")
    return t.split(" ") if t else [""]


def _py_gopher(text: str) -> dict:
    toks = _norm_toks(text)
    n = len(toks)
    bigrams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    top = max(Counter(bigrams).values()) if bigrams else 0
    return {
        "n_words": n,
        "dup_word_frac": (n - len(set(toks))) / max(n, 1),
        "top_bigram_frac": top / max(n - 1, 1),
        "mean_word_len": sum(map(len, toks)) / max(n, 1),
    }


@given(docs=corpus, parts=st.integers(1, 4))
@settings(max_examples=10, deadline=None)
def test_gopher_matches_python_reference(spark, docs, parts):
    from rabbit_data_pipeline_spark.operators.text import gopher_repetition

    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"]).repartition(parts)
    got = {r["doc_id"]: r for r in gopher_repetition(df).collect()}
    assert len(got) == len(docs)
    for i, text in enumerate(docs):
        want = _py_gopher(text)
        for k, v in want.items():
            assert abs(got[i][k] - v) < 1e-12, (i, k, got[i][k], v, text)


def _py_tfidf(docs: list[str], top_k: int) -> set[tuple[int, str, int, int, int]]:
    tf = {(i, t): c for i, d in enumerate(docs) for t, c in Counter(_norm_toks(d)).items() if t}
    dfreq = Counter(t for (_, t) in tf)
    out = set()
    for i in range(len(docs)):
        terms = [(t, c) for (j, t), c in tf.items() if j == i]
        ranked = sorted(terms, key=lambda tc: (-tc[1] / dfreq[tc[0]], tc[0]))
        for rank, (t, c) in enumerate(ranked[:top_k], 1):
            out.add((i, t, c, dfreq[t], rank))
    return out


@given(docs=corpus, parts=st.integers(1, 4), top_k=st.integers(1, 4))
@settings(max_examples=10, deadline=None)
def test_tfidf_matches_python_reference(spark, docs, parts, top_k):
    from rabbit_data_pipeline_spark.operators.text import tfidf_terms

    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"]).repartition(parts)
    got = {
        (r["doc_id"], r["term"], r["tf"], r["df"], r["rank"])
        for r in tfidf_terms(df, top_k=top_k).collect()
    }
    assert got == _py_tfidf(docs, top_k)


def test_split_assign_stable_and_proportional(spark):
    """Hypothesis-free determinism probe: (1) a doc's split NEVER
    changes when the corpus doubles (assignment is id-only); (2) the
    md5-threshold fractions land near the requested 80/10/10 on 4k
    uniform ids; (3) re-running yields identical assignments."""
    from rabbit_data_pipeline_spark.operators.text import split_assign

    small = spark.range(2000).withColumnRenamed("id", "doc_id")
    big = spark.range(4000).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"]: r["split"] for r in split_assign(small).collect()}
    s2 = {r["doc_id"]: r["split"] for r in split_assign(big).collect()}
    assert all(s2[i] == s1[i] for i in s1)
    from collections import Counter

    c = Counter(s2.values())
    assert abs(c["train"] / 4000 - 0.8) < 0.03
    assert abs(c["val"] / 4000 - 0.1) < 0.02
    assert abs(c["test"] / 4000 - 0.1) < 0.02
    s3 = {r["doc_id"]: r["split"] for r in split_assign(big).collect()}
    assert s3 == s2


def _py_bm25(docs: list[str], terms: list[str], k1=1.2, b=0.75) -> dict[int, float]:
    import math

    toks = [d.lower().split(" ") for d in docs]
    toks = [[w for w in t if w] for t in toks]
    dls = [len(_WS.split(d.strip(" "))) if d.strip(" ") else 0 for d in docs]
    n = len(docs)
    avgdl = sum(dls) / n
    out: dict[int, float] = {}
    for t in terms:
        df_t = sum(1 for tk in toks if t in tk)
        if df_t == 0:
            continue
        idf = math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
        for i, tk in enumerate(toks):
            tf = tk.count(t)
            if tf == 0:
                continue
            s = idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dls[i] / avgdl))
            out[i] = out.get(i, 0) + math.floor(s * 1_000_000 + 0.5)
    return {i: v / 1e6 for i, v in out.items()}


@given(docs=corpus, parts=st.integers(1, 4))
@settings(max_examples=10, deadline=None)
def test_bm25_matches_python_reference(spark, docs, parts):
    """The distributed BM25 (map-side dl carry, broadcast stats) must
    equal the single-process definition term-for-term, on any
    partitioning."""
    from rabbit_data_pipeline_spark.operators.text import bm25_scores

    terms = ["aa", "spam"]
    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"]).repartition(parts)
    got = {r["doc_id"]: r["bm25"] for r in bm25_scores(df, terms, top_k=100).collect()}
    want = _py_bm25(docs, terms)
    assert got == want


def _py_inverted(docs: list[str], shard: int) -> set[tuple[str, int, int, str]]:
    postings: dict[str, list[int]] = {}
    for i, d in enumerate(docs):
        for w in set(w for w in d.lower().split(" ") if w):
            postings.setdefault(w, []).append(i)
    out = set()
    for w, ids in postings.items():
        ids.sort()
        for s in range(0, len(ids), shard):
            chunk = ids[s : s + shard]
            out.add((w, s // shard, len(chunk), ",".join(map(str, chunk))))
    return out


@given(docs=corpus, parts=st.integers(1, 4), shard=st.integers(1, 3))
@settings(max_examples=10, deadline=None)
def test_inverted_index_matches_python_reference(spark, docs, parts, shard):
    """Sharded posting lists must equal the single-process build:
    same shard boundaries, same in-shard doc order, any partitioning."""
    from rabbit_data_pipeline_spark.operators.text import inverted_index

    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"]).repartition(parts)
    got = {
        (r["term"], r["shard"], r["n_docs"], r["postings"])
        for r in inverted_index(df, shard_size=shard).collect()
    }
    assert got == _py_inverted(docs, shard)


def _assert_token_counts_arrow_matches_jvm(df):
    from pyspark.sql import functions as F

    from rabbit_data_pipeline_spark.operators.text import (
        bpe_token_count,
        token_counts_arrow,
        ws_token_count,
    )

    jvm = df.select(
        "doc_id",
        ws_token_count(F.col("text")).alias("ws_tokens"),
        bpe_token_count(F.col("text")).alias("bpe_tokens"),
    )
    arrow = token_counts_arrow(df)
    assert sorted(map(tuple, arrow.collect())) == sorted(map(tuple, jvm.collect()))
    assert [f.dataType for f in arrow.schema.fields] == [f.dataType for f in jvm.schema.fields]


def test_token_counts_arrow_matches_jvm(spark, sf_smoke):
    """The Arrow/RE2 token-count path (token_counts_arrow) must give
    the JVM expression pair's results on real data AND on the edge
    cases where sloppy trim/split semantics would diverge:
    leading/trailing tabs and newlines (Spark trim strips SPACES only,
    and split(limit=-1) keeps the resulting empty tokens), empty and
    whitespace-only strings, \\x0B (whitespace to Java's `\\s`, not to
    RE2's), unicode, and NULL text. The edge frame has an int id, the
    real one a long id; both keep their type."""
    from rabbit_data_pipeline_spark.session import load_tables

    edge = [
        (0, None),
        (1, ""),
        (2, "   "),
        (3, "\t\t"),
        (4, "\ta b\t"),
        (5, "a  b\nc"),
        (6, "one"),
        (7, "Ünïcödé 多字节 text!"),
        (8, "x" * 9),
        (9, " left-space only"),
        (10, "trailing newline\n"),
        (11, "a,b;c:d!e?f."),
        (12, "a\x0bb"),
        (13, "\x0b"),
        (14, "x\x0b\x0by!\x0b"),
        (15, "a\u00a0b\u2003c\u3000d"),
    ]
    _assert_token_counts_arrow_matches_jvm(spark.createDataFrame(edge, "doc_id int, text string"))
    real = load_tables(spark, sf_smoke, ("documents",))["documents"].select("doc_id", "text")
    _assert_token_counts_arrow_matches_jvm(real)


@given(docs=corpus)
@settings(max_examples=10, deadline=None)
def test_token_counts_arrow_matches_jvm_on_generated_text(spark, docs):
    _assert_token_counts_arrow_matches_jvm(
        spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    )
