"""LLM-scale data-pipeline queries (SURVEY §2 L1-L12).

Strong DuckDB oracles wherever both engines can compute the identical
function (md5 fingerprints, regexp counts on RE2-compatible patterns,
integer-count Jaccard, double cosine — verified bit-identical).
MinHash/SimHash/LSH use xxhash64, which DuckDB cannot reproduce — the
driver-adjudicated gates for those live in queries/seeded.py (seeded
corpora with brute-force DuckDB twins); the `*_scale` functions here
are their sf-corpus twins for the bench and recall unit tests.

The dedup inputs union the documents table with deterministic
synthetic duplicates (the testdata has none), so the operators have
something real to find and the oracle can mirror the construction.
"""

from __future__ import annotations

from functools import lru_cache as _lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rabbit_data_pipeline_spark.operators.text import BPE_PATTERN as _BPE, WS_RUN as _WS
from rabbit_data_pipeline_spark.queries import register
from rabbit_data_pipeline_spark.session import load_tables

# ---------------------------------------------------------------- text

_STOP_EN = r"\b(the|a|of|and|to|in|is|it)\b"


@register(
    "text_tokens",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '{_WS}')) END AS ws_tokens,
           len(regexp_extract_all(text, '{_BPE}')) AS bpe_tokens
    FROM documents
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rabbit_data_pipeline_spark.operators.text import (
        bpe_token_count,
        token_counts_arrow,
        ws_token_count,
    )
    from rabbit_data_pipeline_spark.session import arrow_text_worthwhile, spread_scan

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    # r16 guide §4.2: past the boundary-cost breakeven the RE2/Arrow
    # pass wins big (10x table: 1.14 → 0.74 s, and the r15-rejected
    # spread now pays — 0.62 s with it — because the per-row work it
    # parallelizes got 40% cheaper). Under the breakeven (sf0.1:
    # +33% measured) the codegen'd JVM expressions stay. Results are
    # identical on both paths (pinned test + same DuckDB oracle).
    if arrow_text_worthwhile(sf_dir, "documents"):
        return token_counts_arrow(
            spread_scan(d.select("doc_id", "text"), spark, sf_dir, "documents")
        )
    # r15: measured A/B — spreading this scan LOSES (~+0.04 s sf0.1,
    # +0.12 s sf1): two cheap JVM regexes per row don't repay shuffling
    # the text bytes. Left on the plain scan deliberately (guide §1.2).
    return d.select(
        "doc_id",
        ws_token_count(F.col("text")).alias("ws_tokens"),
        bpe_token_count(F.col("text")).alias("bpe_tokens"),
    )


@register(
    "text_quality",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             length(text) AS n_chars,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '{_WS}')) END AS n_words,
             len(regexp_extract_all(text, '[.,;:!?]')) AS punct,
             len(regexp_extract_all(lower(text), '{_STOP_EN}')) AS stop
      FROM documents
    )
    SELECT doc_id,
           CAST(punct AS DOUBLE) / GREATEST(n_chars, 1) AS punct_ratio,
           CAST(stop AS DOUBLE) / GREATEST(n_words, 1) AS stopword_ratio,
           CAST(n_chars AS DOUBLE) / GREATEST(n_words, 1) AS avg_word_len,
           CAST(CASE WHEN n_chars BETWEEN 100 AND 20000 THEN 0.25 ELSE 0.0 END
            + CASE WHEN CAST(n_chars AS DOUBLE) / GREATEST(n_words, 1) BETWEEN 3.0 AND 12.0 THEN 0.25 ELSE 0.0 END
            + CASE WHEN CAST(stop AS DOUBLE) / GREATEST(n_words, 1) >= 0.05 THEN 0.25 ELSE 0.0 END
            + CASE WHEN CAST(punct AS DOUBLE) / GREATEST(n_chars, 1) <= 0.1 THEN 0.25 ELSE 0.0 END AS DOUBLE) AS quality
    FROM f
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rabbit_data_pipeline_spark.operators.text import quality_features, quality_score
    from rabbit_data_pipeline_spark.session import spread_scan

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    # r15 guide §2.5: same single-task-scan spread as text_tokens.
    d = spread_scan(d.select("doc_id", "text"), spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    return d.select(
        "doc_id",
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["avg_word_len"].alias("avg_word_len"),
        quality_score(F.col("text")).alias("quality"),
    )


def _lang_scores_sql() -> str:
    from rabbit_data_pipeline_spark.operators.text import CJK_PATTERN, LANG_STOPWORDS

    cols = []
    for lang, words in LANG_STOPWORDS.items():
        pat = r"\b(" + "|".join(words) + r")\b"
        cols.append(f"len(regexp_extract_all(lower(text), '{pat}')) AS s_{lang}")
    cols.append(f"len(regexp_extract_all(text, '{CJK_PATTERN}')) AS s_zh")
    return ", ".join(cols)


@register(
    "text_lang_id",
    oracle=f"""
    WITH s AS (SELECT doc_id, {_lang_scores_sql()} FROM documents)
    SELECT doc_id,
           CASE WHEN GREATEST(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh' END AS lang_guess
    FROM s
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic stopword/charset scorer; argmax ties break to the
    alphabetically-first language (both engines spell that identically)."""
    from rabbit_data_pipeline_spark.operators.text import lang_id

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return d.select("doc_id", lang_id(F.col("text")).alias("lang_guess"))


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '{_WS}', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rabbit_data_pipeline_spark.operators.text import fingerprint

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


# --------------------------------------------------------------- dedup

_DUP_INPUT_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
"""


def _dup_input(spark: SparkSession, sf_dir: str, perturb: str | None = None) -> DataFrame:
    d = load_tables(spark, sf_dir, ("documents",))["documents"].select("doc_id", "text")
    copies = d.filter(F.col("doc_id") % 10 == 0).withColumn("doc_id", F.col("doc_id") + 1000000)
    if perturb:
        copies = copies.withColumn("text", F.concat(F.col("text"), F.lit(perturb)))
    return d.unionAll(copies)


@register(
    "dedup_exact",
    oracle=f"""
    WITH input AS ({_DUP_INPUT_SQL}),
         keep AS (
           SELECT MIN(doc_id) AS doc_id
           FROM input
           GROUP BY md5(trim(regexp_replace(lower(text), '{_WS}', ' ', 'g')))
         )
    SELECT i.doc_id FROM input i JOIN keep k ON i.doc_id = k.doc_id
    """,
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: exact dedup keeps the lowest doc_id per normalized-text hash
    (drops the 50 synthetic exact copies)."""
    from rabbit_data_pipeline_spark.operators.dedup import dedup_exact

    return dedup_exact(_dup_input(spark, sf_dir), text_col="text", id_col="doc_id").select("doc_id")


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH input AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text || ' qq zz' AS text FROM documents WHERE doc_id % 10 = 0
    ),
    g AS (
      SELECT doc_id,
             substr(trim(regexp_replace(lower(text), '{_WS}', ' ', 'g')), 1, 12) AS block,
             list_distinct(list_transform(
               range(1, GREATEST(length(trim(regexp_replace(lower(text), '{_WS}', ' ', 'g'))) - 2, 1) + 1),
               i -> substr(trim(regexp_replace(lower(text), '{_WS}', ' ', 'g')), i, 3))) AS grams
      FROM input
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) AS jaccard
    FROM g a JOIN g b ON a.block = b.block AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.7
    """,
)
def dedup_ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: exact char-3-gram Jaccard within normalized-prefix blocks —
    finds the suffix-perturbed near-copies at jaccard ≈ 0.95+."""
    from rabbit_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    inp = _dup_input(spark, sf_dir, perturb=" qq zz")
    return ngram_jaccard_pairs(inp, k=3, threshold=0.7, block_prefix=12)


def dedup_minhash_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 at sf scale: MinHash(48 perms, 5-gram shingles) + 8-band LSH
    + signature verify ≥ 0.7, then keep-lowest-id. Deterministic (fixed
    hash seeds); invariants asserted in tests/test_llm_ops.py. The
    driver-adjudicated correctness gate is the seeded-corpus twin in
    queries/seeded.py (registered as `dedup_minhash`); this variant is
    the bench's heavy probe over the real documents table.

    Band count matches the threshold by banding theory: b=8, r=48/8=6
    gives a collision S-curve midpoint (1/b)^(1/r) ≈ 0.71 — honest for
    the 0.7 verify bar, where the old 12-band/0.6 pairing (midpoint
    0.54) spent 2× the bucket-join time chasing sub-threshold
    candidates (measured: pairs stage 1.30 s → 0.59 s at sf0.1). The
    planted near-dups sit at jaccard ≈ 0.95: recall stays exactly
    full — copies_left == 0 asserted at both scales in
    tests/test_llm_ops.py."""
    from rabbit_data_pipeline_spark.operators.dedup import (
        dedup_by_pairs,
        lsh_candidate_pairs,
        minhash_signature_arrow,
    )
    from rabbit_data_pipeline_spark.session import spread_scan

    inp = _dup_input(spark, sf_dir, perturb=" qq zz")
    # r15 guide §2.5: the documents input is 1-2 parquet files, so the
    # Arrow signature pass (the operator's dominant stage — one 794 ms
    # task at sf0.1) ran nearly serially. Spread the slim (id, text)
    # rows across the machine first; no-op on wide/large inputs.
    sigs = minhash_signature_arrow(spread_scan(inp, spark, sf_dir, "documents"), num_hashes=48, k=5)
    pairs = lsh_candidate_pairs(sigs, bands=8, sim_threshold=0.7)
    survivors = dedup_by_pairs(inp, pairs)
    return survivors.agg(
        F.count("*").alias("n_survivors"),
        F.sum(F.when(F.col("doc_id") >= 1000000, 1).otherwise(0)).alias("copies_left"),
    )


def bpe_train_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L53 at sf scale — the bench's driver-loop probe (VERDICT r6 ask
    #3): train a 256-merge BPE vocab over the real documents table and
    encode every document with it. Exercises the full production path:
    one histogram shuffle, driver-incremental training (zero Spark
    jobs per merge), then the Arrow broadcast-merge-table encode (256
    merges is far past the codegen fold limit). The driver-adjudicated
    correctness gates are the seeded twins in queries/seeded.py
    (text_bpe_train / text_bpe_train_batched / text_bpe_encode*)."""
    from rabbit_data_pipeline_spark.operators.bpe import bpe_encode, train_bpe
    from rabbit_data_pipeline_spark.session import load_tables

    # r15: measured A/B — spreading the documents scan cost +0.19 s at
    # sf0.1 (the extra shuffle + per-task Python overhead outweigh the
    # serial regex) for −0.27 s at sf1; the sf0.1 headline is the
    # driver's scale point, so the plain scan stays (guide §1.2).
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    merges = train_bpe(docs, n_merges=256, min_pair_count=2)
    enc = bpe_encode(docs, merges, engine="arrow")
    return enc.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.lit(len(merges)).alias("n_merges"),
    )


def bpe_train_topm_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L53 driver_topm at sf scale (VERDICT r7 ask #4's bench probe):
    train 256 merges over the documents table with the histogram
    frequency-truncated to the top 8192 word types — the recommended
    engine for the histogram-too-big-for-the-driver natural-language
    regime. Same plan shape as bpe_train_scale (one histogram shuffle
    + a driver-side train) with a TopK in place of the full collect;
    the correctness gate is the seeded text_bpe_train_topm twin."""
    from rabbit_data_pipeline_spark.operators.bpe import bpe_encode, train_bpe
    from rabbit_data_pipeline_spark.session import load_tables

    # r15: same measured no-spread decision as bpe_train_scale above.
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    merges = train_bpe(
        docs, n_merges=256, min_pair_count=2, strategy="driver_topm", driver_max_words=8192
    )
    enc = bpe_encode(docs, merges, engine="arrow")
    return enc.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.lit(len(merges)).alias("n_merges"),
    )


def dedup_simhash_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 at sf scale: 64-bit SimHash over word tokens, 4×16-bit band
    buckets, hamming ≤ 3 verify. Correctness gate: queries/seeded.py."""
    from rabbit_data_pipeline_spark.operators.dedup import simhash64, simhash_near_pairs

    inp = _dup_input(spark, sf_dir, perturb=" qq")
    pairs = simhash_near_pairs(simhash64(inp))
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.when(F.col("id_b") - F.col("id_a") == 1000000, 1).otherwise(0)).alias("true_pairs_found"),
    )


def dedup_embedding_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 at sf scale: embedding near-dup via hyperplane LSH + exact
    cosine ≥ 0.99. Synthetic dups are scaled copies (cosine exactly 1,
    same LSH bucket by construction — scaling preserves projection
    signs). Correctness gate: queries/seeded.py."""
    from rabbit_data_pipeline_spark.operators.dedup import embedding_near_pairs

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"].select("vec_id", "embedding")
    copies = (
        e.filter(F.col("vec_id") % 10 == 0)
        .withColumn("vec_id", F.col("vec_id") + 1000000)
        .withColumn("embedding", F.transform("embedding", lambda x: x * F.lit(1.5)))
    )
    pairs = embedding_near_pairs(e.unionAll(copies), threshold=0.99)
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.when(F.col("id_b") - F.col("id_a") == 1000000, 1).otherwise(0)).alias("true_pairs_found"),
    )


def _llm_prep_oracle() -> str:
    return f"""
    WITH input AS ({_DUP_INPUT_SQL}),
    deduped AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               ROW_NUMBER() OVER (
                 PARTITION BY md5(trim(regexp_replace(lower(text), '{_WS}', ' ', 'g')))
                 ORDER BY doc_id) AS rn
        FROM input) WHERE rn = 1
    ),
    feats AS (
      SELECT doc_id, text,
             length(text) AS n_chars,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '{_WS}')) END AS n_words,
             len(regexp_extract_all(text, '[.,;:!?]')) AS punct,
             len(regexp_extract_all(lower(text), '{_STOP_EN}')) AS stop,
             {_lang_scores_sql()}
      FROM deduped
    ),
    scored AS (
      SELECT doc_id,
             CASE WHEN GREATEST(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                  WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                  WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                  WHEN s_fr >= s_zh THEN 'fr'
                  ELSE 'zh' END AS lang_guess,
             CAST(CASE WHEN n_chars BETWEEN 100 AND 20000 THEN 0.25 ELSE 0.0 END
              + CASE WHEN CAST(n_chars AS DOUBLE) / GREATEST(n_words, 1) BETWEEN 3.0 AND 12.0 THEN 0.25 ELSE 0.0 END
              + CASE WHEN CAST(stop AS DOUBLE) / GREATEST(n_words, 1) >= 0.05 THEN 0.25 ELSE 0.0 END
              + CASE WHEN CAST(punct AS DOUBLE) / GREATEST(n_chars, 1) <= 0.1 THEN 0.25 ELSE 0.0 END AS DOUBLE) AS quality,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '{_WS}')) END AS ws_tokens,
             len(regexp_extract_all(text, '{_BPE}')) AS bpe_tokens
      FROM feats
    )
    SELECT doc_id, lang_guess, quality, ws_tokens, bpe_tokens
    FROM scored
    WHERE quality >= 0.5 AND lang_guess = 'en'
    """


@register("pipeline_llm_prep", oracle=_llm_prep_oracle())
def pipeline_llm_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-data-prep pipeline AS a YAML task —
    ingest (with redelivered duplicates) → exact dedup → language +
    quality annotation → keep high-quality English → token counts.
    Every stage is SQL-expressible, so the whole DAG is value-hash
    gated end-to-end; the scheduler compiles it to ONE Catalyst plan
    (dedup's hash shuffle is the only exchange)."""
    from rabbit_data_pipeline_spark.pipeline import Scheduler

    yaml_cfg = f"""
llm_prep:
  read_docs:
    type: source.table
    start: true
    name: documents
    sf_dir: {sf_dir}
    output: with_dups
  with_dups:
    type: transform.sql
    sql: >
      SELECT doc_id, text FROM input
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM input WHERE doc_id % 10 = 0
    output: dedup
  dedup:
    type: transform.dedup_exact
    text_col: text
    id_col: doc_id
    output: metrics
  metrics:
    type: transform.text_metrics
    text_col: text
    output: keep
  keep:
    type: transform.filter
    condition: quality >= 0.5 AND lang_guess = 'en'
    output: project
  project:
    type: transform.select
    columns: [doc_id, lang_guess, quality, ws_tokens, bpe_tokens]
"""
    sch = Scheduler.from_yaml(spark, yaml_cfg)
    return sch.build("llm_prep", "project")


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE input AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' qq zz' FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 2000000, text || ' qq zz ww yy' FROM documents WHERE doc_id % 10 = 0
    ),
    g AS (
      SELECT doc_id,
             substr(trim(regexp_replace(lower(text), '{_WS}', ' ', 'g')), 1, 12) AS block,
             list_distinct(list_transform(
               range(1, GREATEST(length(trim(regexp_replace(lower(text), '{_WS}', ' ', 'g'))) - 2, 1) + 1),
               i -> substr(trim(regexp_replace(lower(text), '{_WS}', ' ', 'g')), i, 3))) AS grams
      FROM input
    ),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM g a JOIN g b ON a.block = b.block AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
              / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.7
    ),
    edges AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
    reach(u, v) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
    )
    SELECT u AS id, MIN(v) AS component FROM reach GROUP BY u
    """,
)
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2+/L4: transitive near-dup cluster resolution — two chained
    generations of perturbed copies form {orig, gen1, gen2} families;
    exact n-gram-Jaccard pairs feed distributed min-label-propagation
    connected components. Oracle is a DuckDB recursive-CTE transitive
    closure over the identical pair graph, so cluster assignment is
    value-hash gated end-to-end."""
    from rabbit_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs
    from rabbit_data_pipeline_spark.operators.graph import connected_components

    d = load_tables(spark, sf_dir, ("documents",))["documents"].select("doc_id", "text")
    tenth = d.filter(F.col("doc_id") % 10 == 0)
    gen1 = tenth.withColumn("doc_id", F.col("doc_id") + 1000000).withColumn(
        "text", F.concat("text", F.lit(" qq zz"))
    )
    gen2 = tenth.withColumn("doc_id", F.col("doc_id") + 2000000).withColumn(
        "text", F.concat("text", F.lit(" qq zz ww yy"))
    )
    inp = d.unionAll(gen1).unionAll(gen2)
    pairs = ngram_jaccard_pairs(inp, k=3, threshold=0.7, block_prefix=12)
    return connected_components(pairs)


# ---------------------------------------------------------- similarity


@register(
    "ann_bruteforce",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         scored AS (
           SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                  list_cosine_similarity(q.emb, c.emb) AS cos_sim
           FROM e q JOIN e c ON q.vec_id != c.vec_id
           WHERE q.vec_id < 5
         )
    SELECT q_id, n_id, cos_sim, rank FROM (
      SELECT q_id, n_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
      FROM scored)
    WHERE rank <= 10
    """,
)
def ann_bruteforce_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6: exact cosine top-10 for 5 query vectors. Spark's double
    zip_with/aggregate cosine is bit-identical to DuckDB's
    list_cosine_similarity, so the oracle matches values exactly."""
    from rabbit_data_pipeline_spark.operators.similarity import ann_bruteforce
    from rabbit_data_pipeline_spark.session import spread_scan

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    # r15 guide §2.5: the interpreted zip_with cosine over the corpus
    # side dominates; the 1-2-file embeddings layout ran it on 1-2
    # cores. Spread the corpus side only (queries stay a 5-row filter).
    corpus = spread_scan(e, spark, sf_dir, "embeddings")
    return ann_bruteforce(corpus, e.filter(F.col("vec_id") < 5), k=10)


def ann_lsh_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7 at sf scale: hyperplane-bucketed ANN, exact rerank within
    buckets. Correctness gate: queries/seeded.py."""
    from rabbit_data_pipeline_spark.operators.similarity import ann_lsh

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return ann_lsh(e, e.filter(F.col("vec_id") < 5), k=10)


@register(
    "multimodal_ann",
    oracle="""
    SELECT q_id, n_id, CAST(cos_sim AS DOUBLE) AS cos_sim
    FROM (VALUES (0, 100, 1.0), (1, 101, 1.0), (2, 102, 1.0))
    AS t(q_id, n_id, cos_sim)
    """,
)
def multimodal_ann_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L12→L6 end-to-end: binary media column → mapInPandas feature
    extraction (histogram vectors standing in for a model forward
    pass) → ANN top-1. Images 0-9 have identical twins 100-109 (same
    synthetic payload ⇒ identical feature vector ⇒ cosine 1), so each
    query's nearest neighbor is exactly its twin — a literal VALUES
    oracle gates the whole binary→vector→ANN path."""
    from rabbit_data_pipeline_spark.operators.multimodal import encode_image, extract_features
    from rabbit_data_pipeline_spark.operators.similarity import ann_bruteforce

    # distinct sizes => distinct histograms (a fixed 16x16 payload cycles
    # all 256 byte values uniformly for EVERY seed — identical features)
    rows = [(str(i), "image", encode_image(16, 16 + i, seed=i)) for i in range(10)]
    rows += [(str(i + 100), "image", encode_image(16, 16 + i, seed=i)) for i in range(10)]
    media = spark.createDataFrame(rows, ["media_id", "media_type", "payload"]).repartition(4)
    # full 256-bin histograms: the synthetic stride-31 payload is uniform
    # at coarse bin widths, which would alias different images together
    feats = extract_features(media, n_bins=256).select(
        F.col("media_id").cast("int").alias("vec_id"),
        F.col("features").cast("array<double>").alias("embedding"),
    )
    top1 = ann_bruteforce(feats, feats.filter(F.col("vec_id") < 3), k=1)
    return top1.select("q_id", "n_id", F.round("cos_sim", 9).alias("cos_sim"))


def ann_ivf_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7b at sf scale: IVF-style probe of the 4 nearest of 16 centroid
    cells, centroids via distributed takeSample. Correctness gate:
    queries/seeded.py."""
    from rabbit_data_pipeline_spark.operators.similarity import ann_ivf

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return ann_ivf(e, e.filter(F.col("vec_id") < 5), k=10)


def _pii_oracle() -> str:
    from rabbit_data_pipeline_spark.operators.text import sql_redact_pii

    return f"""
    SELECT doc_id, {sql_redact_pii('text')} AS clean_text
    FROM documents
    """


@register("text_pii_redact", oracle=_pii_oracle())
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: emails/phones/IPv4s/SSN-shapes → [KIND] tokens.
    Chained regexp_replace in the Java∩RE2 subset — one shuffle-free
    scan, identical expressions run in the DuckDB oracle."""
    from rabbit_data_pipeline_spark.operators.text import redact_pii

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return d.select("doc_id", redact_pii(F.col("text")).alias("clean_text"))


@register(
    "text_chunks",
    oracle="""
    SELECT doc_id, chunk_id,
           SUBSTRING(text, CAST(chunk_id * 448 + 1 AS INT), 512) AS chunk_text
    FROM (SELECT doc_id, text,
                 UNNEST(generate_series(0, GREATEST(0,
                     CAST(FLOOR((LENGTH(text) - 1) / 448) AS BIGINT)))) AS chunk_id
          FROM documents)
    WHERE LENGTH(SUBSTRING(text, CAST(chunk_id * 448 + 1 AS INT), 512)) > 0
    """,
)
def text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 512-char windows, 64-char overlap
    (stride 448). sequence→explode→substring — a map-only stage."""
    from rabbit_data_pipeline_spark.operators.text import chunk_text

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return chunk_text(d, chunk_chars=512, overlap=64)


@register(
    "text_word_freq",
    oracle="""
    SELECT word, COUNT(*) AS freq
    FROM (SELECT UNNEST(string_split(LOWER(text), ' ')) AS word FROM documents)
    WHERE word != ''
    GROUP BY word
    ORDER BY freq DESC, word
    LIMIT 20
    """,
)
def text_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical distributed wordcount, done right: split→explode→
    partial-agg map-side (the shuffle carries one row per distinct
    word per task, not one per token), TakeOrderedAndProject for the
    top-k. The word tiebreak makes the limit deterministic."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "word")
        .limit(20)
    )


_GRAMS_SQL = (
    "list_transform("
    f"range(1, GREATEST(len(regexp_split_to_array(trim(regexp_replace(lower(text), '{_WS}', ' ', 'g')), ' ')) - 7, 1) + 1), "
    f"i -> array_to_string(list_slice(regexp_split_to_array(trim(regexp_replace(lower(text), '{_WS}', ' ', 'g')), ' '), i, i + 7), ' '))"
)


@register(
    "text_repeated_ngrams",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, list_distinct({_GRAMS_SQL}) AS grams FROM documents
    ),
    u AS (SELECT doc_id, UNNEST(grams) AS gram FROM g),
    h AS (SELECT gram, COUNT(DISTINCT doc_id) AS n_docs
          FROM u GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2)
    SELECT u.doc_id,
           COUNT(DISTINCT u.gram) AS n_repeated,
           MAX(h.n_docs) AS max_gram_docs
    FROM u JOIN h ON u.gram = h.gram
    GROUP BY u.doc_id
    """,
)
def text_repeated_ngrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L23: cross-document repeated word-8-gram detection (substring-
    dedup signal — boilerplate/templates shared verbatim across docs
    that whole-doc near-dup misses). One gram-keyed shuffle for the
    doc-frequency count, broadcast join back; no all-pairs."""
    from rabbit_data_pipeline_spark.operators.text import repeated_ngrams

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return repeated_ngrams(d, k=8, min_docs=2)


@register(
    "text_decontaminate",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, list_distinct({_GRAMS_SQL}) AS grams FROM documents
    ),
    b AS (SELECT DISTINCT UNNEST(grams) AS gram FROM g WHERE doc_id % 250 = 0),
    c AS (SELECT doc_id, UNNEST(grams) AS gram FROM g)
    SELECT c.doc_id, COUNT(DISTINCT c.gram) AS n_shared
    FROM c JOIN b ON c.gram = b.gram
    GROUP BY c.doc_id
    HAVING COUNT(DISTINCT c.gram) >= 1
    """,
)
def text_decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L19: train/test contamination check — corpus docs sharing any
    distinct word 8-gram with the benchmark set (here: every 250th doc
    plays the eval set, so those docs must flag themselves at full
    gram count, plus any naturally overlapping neighbors). Gram
    equi-join, no all-pairs; benchmark side broadcasts."""
    from rabbit_data_pipeline_spark.operators.text import decontaminate

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    bench = d.filter(F.col("doc_id") % 250 == 0)
    return decontaminate(d, bench, k=8, min_shared=1)


@register(
    "text_mix",
    oracle="""
    SELECT doc_id, source FROM documents
    WHERE doc_id % 1000 < CASE source
        WHEN 'src0' THEN 700 WHEN 'src1' THEN 300 WHEN 'src2' THEN 100 ELSE 0 END
    """,
)
def text_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L20: deterministic training-mixture sampling — per-source keep
    fractions via id modulo (reproducible across engines and runs, no
    RNG), a pure filter that pushes into the scan."""
    from rabbit_data_pipeline_spark.operators.text import stratified_mix

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    out = stratified_mix(d, "source", {"src0": 0.7, "src1": 0.3, "src2": 0.1})
    return out.select("doc_id", "source")


@register(
    "text_pack",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '{_WS}')) END AS tokens,
             doc_id % 16 AS bucket
      FROM documents
    )
    SELECT doc_id, tokens,
           CONCAT(bucket, '_', CAST(FLOOR(
             (SUM(tokens) OVER (PARTITION BY bucket
                                ORDER BY tokens DESC, doc_id
                                ROWS UNBOUNDED PRECEDING) - tokens) / 512
           ) AS BIGINT)) AS bin
    FROM t
    """,
)
def text_pack_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L21: sequence packing — whitespace token counts, then
    contiguous-fill bin assignment against a 512-token budget inside
    16 hash buckets (independent packing streams: one bucket-key
    shuffle, no global sort)."""
    from rabbit_data_pipeline_spark.operators.text import pack_sequences, ws_token_count

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    t = d.select("doc_id", ws_token_count(F.col("text")).alias("tokens"))
    return pack_sequences(t, "tokens", budget=512, n_buckets=16)


_NORM_TOKS_SQL = f"regexp_split_to_array(trim(regexp_replace(lower(text), '{_WS}', ' ', 'g')), ' ')"


@register(
    "text_gopher_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_NORM_TOKS_SQL} AS toks FROM documents
    ), s AS (
      SELECT doc_id, len(toks) AS n_words, len(list_distinct(toks)) AS n_distinct,
             list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS char_sum
      FROM t
    ), b AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, GREATEST(len(toks) - 1, 0) + 1),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM t
    ), bc AS (
      SELECT doc_id, bigram, COUNT(*) AS c FROM b GROUP BY 1, 2
    ), tb AS (
      SELECT doc_id, MAX(c) AS top_n FROM bc GROUP BY 1
    )
    SELECT s.doc_id, n_words,
           CAST(n_words - n_distinct AS DOUBLE) / GREATEST(n_words, 1) AS dup_word_frac,
           CAST(COALESCE(top_n, 0) AS DOUBLE) / GREATEST(n_words - 1, 1) AS top_bigram_frac,
           CAST(char_sum AS DOUBLE) / GREATEST(n_words, 1) AS mean_word_len,
           CAST(n_words - n_distinct AS DOUBLE) / GREATEST(n_words, 1) <= 0.3
             AND CAST(COALESCE(top_n, 0) AS DOUBLE) / GREATEST(n_words - 1, 1) <= 0.2 AS keep
    FROM s LEFT JOIN tb ON s.doc_id = tb.doc_id
    """,
)
def text_gopher_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L24: Gopher-style intra-document repetition filters (duplicate-
    word fraction, top-bigram coverage, mean word length + keep flag) —
    the post-dedup spam/boilerplate-loop screen (Rae et al. 2021 A1.1).
    Word stats are shuffle-free HOFs; only the bigram mode explodes,
    keyed by (doc, bigram) then doc."""
    from rabbit_data_pipeline_spark.operators.text import gopher_repetition

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return gopher_repetition(d)


@register(
    "text_tfidf",
    oracle=f"""
    WITH terms AS (
      SELECT doc_id, UNNEST({_NORM_TOKS_SQL}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM terms WHERE term <> '' GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), ranked AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                ORDER BY CAST(tf.tf AS DOUBLE) / dfreq.df DESC, tf.term) AS rank
      FROM tf JOIN dfreq USING (term)
    )
    SELECT doc_id, term, tf, df, rank FROM ranked WHERE rank <= 3
    """,
)
def text_tfidf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L25: per-document top-3 TF-IDF terms (exact-quotient ranking —
    see operators/text.py:tfidf_terms for why not ln). TF keyed by
    (doc, term), DF + join keyed by term, top-k window keyed by doc."""
    from rabbit_data_pipeline_spark.operators.text import tfidf_terms

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return tfidf_terms(d, top_k=3)


@register(
    "ann_range",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           list_cosine_similarity(q.emb, c.emb) AS cos_sim
    FROM e q JOIN e c ON q.vec_id != c.vec_id
    WHERE q.vec_id < 20
      AND list_cosine_similarity(q.emb, c.emb) >= 0.3
    """,
)
def ann_range_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L26: cosine range search (all neighbors ≥ 0.3) for 20 query
    vectors — pure broadcast-filter pass, no window exchange."""
    from rabbit_data_pipeline_spark.operators.similarity import ann_range

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return ann_range(e, e.filter(F.col("vec_id") < 20), threshold=0.3)


# ------------------------------------------------- product quantization
# Fixed codebook for the driver gate: deterministic pseudo-random
# literals injected into BOTH engines (layout-independent sampling from
# the corpus uses xxhash64, which DuckDB cannot mirror — the operator's
# corpus-trained path is unit-tested instead; see sample_pq_codebook).
# 6-decimal literals parse to the same double in both engines.


def _pq_codebook(m: int = 4, ks: int = 8, dsub: int = 16, seed: int = 7) -> list[list[list[float]]]:
    import numpy as np

    rng = np.random.RandomState(seed)
    return [
        [[round(float(v), 6) for v in rng.standard_normal(dsub)] for _ in range(ks)]
        for _ in range(m)
    ]


_PQ_CB = _pq_codebook()
_PQ_M, _PQ_KS, _PQ_DSUB = len(_PQ_CB), len(_PQ_CB[0]), len(_PQ_CB[0][0])


def _sql_pq_l2sq(vec_expr: str, j: int, cv: list[float]) -> str:
    """Chained left-assoc Σ (v[i]-c)² — bit-identical to the Spark
    fold in operators/similarity.py:_l2sq."""
    return "(" + " + ".join(
        f"({vec_expr}[{j * _PQ_DSUB + i + 1}] - ({c!r})) * ({vec_expr}[{j * _PQ_DSUB + i + 1}] - ({c!r}))"
        for i, c in enumerate(cv)
    ) + ")"


def _sql_pq_dists(vec_expr: str, j: int) -> str:
    return "list_value(" + ", ".join(_sql_pq_l2sq(vec_expr, j, cv) for cv in _PQ_CB[j]) + ")"


def _sql_pq_codes(vec_expr: str) -> str:
    """codes list: argmin per subspace (first-min = lowest cid, same
    tie-break as Spark's struct sort). The dists list is let-bound via
    a single-element list_transform so it is written (and evaluated)
    once per subspace."""
    parts = [
        f"list_transform([{_sql_pq_dists(vec_expr, j)}], d -> list_position(d, list_min(d)) - 1)[1]"
        for j in range(_PQ_M)
    ]
    return "list_value(" + ", ".join(parts) + ")"


def _pq_codes_oracle() -> str:
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
    SELECT vec_id, ARRAY_TO_STRING({_sql_pq_codes('emb')}, ',') AS codes FROM e
    """


@register("emb_pq_codes", oracle=_pq_codes_oracle())
def emb_pq_codes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L27: product-quantization encode — 4 subspaces × 8 centroids,
    codes replace 64 floats with 4 small ints (the compression that
    serves 100 TB ANN from RAM). Literal-folded codebook: one map
    pass, no shuffle, no Python.

    The codes array is emitted joined into one string per the rule at
    queries/tpch2.py (q_array_agg): the driver's canonicalizer
    pandas-sorts result columns and list cells are unhashable there,
    so arrays must leave the compare surface as scalars on BOTH
    engines (r4's one red row was exactly this)."""
    from rabbit_data_pipeline_spark.operators.similarity import pq_encode

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    codes = pq_encode(e, _PQ_CB)
    return codes.select(
        "vec_id",
        F.array_join(F.col("codes").cast("array<string>"), ",").alias("codes"),
    )


def _pq_adc_oracle() -> str:
    terms = " + ".join(
        f"{_sql_pq_dists('q.emb', j)}[c.codes[{j + 1}] + 1]" for j in range(_PQ_M)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    codes AS (SELECT vec_id, {_sql_pq_codes('emb')} AS codes FROM e),
    q AS (SELECT vec_id, emb FROM e WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS n_id, {terms} AS adc
      FROM codes c JOIN q ON q.vec_id != c.vec_id
    )
    SELECT q_id, n_id, adc, rank FROM (
      SELECT q_id, n_id, adc,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc ASC, n_id) AS rank
      FROM scored)
    WHERE rank <= 5
    """


@register("ann_pq", oracle=_pq_adc_oracle())
def ann_pq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L27b: asymmetric-distance ANN over the PQ codes — per query an
    m×ks lookup table, per corpus row m lookups + m adds (O(m), not
    O(dim)). Top-5 by ADC distance for 5 queries."""
    from rabbit_data_pipeline_spark.operators.similarity import ann_pq, pq_encode

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    codes = pq_encode(e, _PQ_CB)
    return ann_pq(codes, e.filter(F.col("vec_id") < 5), _PQ_CB, k=5)


@register(
    "text_sample_exact_k",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    WHERE rn <= 7
    """,
)
def text_sample_exact_k_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L30: exactly-7-per-source deterministic sample — md5-ranked
    per-group draw, reproducible across engines/partitionings (the
    oracle-checkable stand-in for reservoir sampling). One group-key
    shuffle."""
    from rabbit_data_pipeline_spark.operators.text import sample_exact_k

    d = load_tables(spark, sf_dir, ("documents",))["documents"].select("doc_id", "source")
    return sample_exact_k(d, "source", k=7)


def ann_ivfpq_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L27c at sf scale: IVF-PQ over the embeddings table — sampled
    coarse centroids + sampled codebook, probe 4/16 cells. Correctness
    gate: the lossless seeded corpus (queries/seeded.py ann_ivfpq);
    this is the real-data probe for recall/bench experiments."""
    from rabbit_data_pipeline_spark.operators.similarity import (
        ann_ivfpq,
        sample_pq_codebook,
    )

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"].select("vec_id", "embedding")
    sampled = (
        e.orderBy(F.xxhash64(F.col("vec_id"), F.lit(1)), F.col("vec_id")).limit(16).collect()
    )
    centroids = [(i, [float(x) for x in r["embedding"]]) for i, r in enumerate(sampled)]
    cb = sample_pq_codebook(e, m=4, ks=16, dim=64)
    return ann_ivfpq(e, e.filter(F.col("vec_id") < 5), centroids, cb, k=10, n_probe=4)


def _rp_oracle() -> str:
    from rabbit_data_pipeline_spark.operators.similarity import make_rp_planes

    planes = make_rp_planes(out_dim=8, in_dim=64)
    dots = ", ".join(
        "("
        + " + ".join(f"emb[{i + 1}] * ({p!r})" for i, p in enumerate(plane))
        + f") AS rp_{j}"
        for j, plane in enumerate(planes)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
    SELECT vec_id, {dots} FROM e
    """


@register("emb_rp_project", oracle=_rp_oracle())
def emb_rp_project_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L33: Johnson-Lindenstrauss random projection 64 → 8 dims —
    literal plane matrix, one shuffle-free map pass; the left-assoc
    dot fold matches the oracle's chained `+` bit-for-bit.

    The projected vector leaves the compare surface as one DOUBLE
    column per dim (rp_0..rp_7), not an array: the driver's pandas
    canonicalizer cannot sort list cells (the emb_pq_codes r4 red),
    and string-joining floats would trade that for formatter drift
    between Java and DuckDB — per-dim scalars avoid both."""
    from rabbit_data_pipeline_spark.operators.similarity import make_rp_planes, rp_project

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    out = rp_project(e, make_rp_planes(out_dim=8, in_dim=64))
    return out.select("vec_id", *[F.col("rp")[j].alias(f"rp_{j}") for j in range(8)])


def _split_oracle() -> str:
    from rabbit_data_pipeline_spark.operators.text import sql_split_assign

    return f"""
    SELECT doc_id, source, {sql_split_assign('doc_id')} AS split
    FROM documents
    """


@register("text_split", oracle=_split_oracle())
def text_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L36: deterministic md5-threshold train/val/test assignment over
    the documents table — reproducible where randomSplit is not; a
    doc's split depends only on its own id, so holdouts stay stable as
    the corpus grows. Pure map expression, zero shuffle."""
    from rabbit_data_pipeline_spark.operators.text import split_assign

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return split_assign(d).select("doc_id", "source", "split")


def _data_card_oracle() -> str:
    from rabbit_data_pipeline_spark.functions.exact import sql_davg

    return f"""
    WITH t AS (
      SELECT source, lang, n_chars,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '{_WS}')) END AS ws_tokens
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT lang) AS n_langs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars,
           {sql_davg('n_chars')} AS avg_chars,
           CAST(SUM(ws_tokens) AS BIGINT) AS total_tokens,
           {sql_davg('ws_tokens')} AS avg_tokens
    FROM t GROUP BY source
    """


@register("text_data_card", oracle=_data_card_oracle())
def text_data_card_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L38: per-source corpus profiling — the "data card" numbers every
    corpus release publishes (docs, languages, size, token budget per
    source). Integer sums are exact; means go through the decimal
    accumulate (functions/exact.py) so they hash cross-engine. One
    map-side-combining aggregation, shuffle carries one row per
    source."""
    from rabbit_data_pipeline_spark.functions.exact import davg
    from rabbit_data_pipeline_spark.operators.text import ws_token_count

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    t = d.select("source", "lang", "n_chars", ws_token_count(F.col("text")).alias("ws_tokens"))
    return t.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        davg("n_chars").alias("avg_chars"),
        F.sum("ws_tokens").alias("total_tokens"),
        davg("ws_tokens").alias("avg_tokens"),
    )


@register(
    "corpus_diff",
    oracle="""
    WITH old AS (SELECT doc_id, md5(text) AS h FROM documents),
    new AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS h
      FROM documents WHERE doc_id % 11 <> 0
      UNION ALL
      SELECT doc_id + 1000000, md5('new doc ' || CAST(doc_id AS VARCHAR))
      FROM documents WHERE doc_id % 13 = 0
    )
    SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN old.doc_id IS NULL THEN 'added'
                WHEN new.doc_id IS NULL THEN 'removed'
                WHEN old.h IS NOT DISTINCT FROM new.h THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
    """,
)
def corpus_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L39: snapshot diff between corpus v1 and a deterministically
    perturbed v2 (every 11th doc removed, every 7th edited, a new doc
    per 13th) — added/removed/changed/unchanged statuses all fire and
    value-hash. The join carries md5 digests, not document bodies."""
    from rabbit_data_pipeline_spark.operators.text import corpus_diff

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    v2 = (
        d.filter(F.col("doc_id") % 11 != 0)
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))).otherwise(F.col("text")),
        )
        .unionByName(
            d.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.lit("new doc "), F.col("doc_id").cast("string")).alias("text"),
                *[F.col(c) for c in d.columns if c not in ("doc_id", "text")],
            )
        )
    )
    return corpus_diff(d, v2)


def _sentiment_oracle() -> str:
    from rabbit_data_pipeline_spark.operators.text import NEGATIVE_WORDS, POSITIVE_WORDS

    pos = r"\b(" + "|".join(POSITIVE_WORDS) + r")\b"
    neg = r"\b(" + "|".join(NEGATIVE_WORDS) + r")\b"
    return f"""
    WITH h AS (
      SELECT doc_id,
             len(regexp_extract_all(lower(text), '{pos}')) AS p,
             len(regexp_extract_all(lower(text), '{neg}')) AS n
      FROM documents
    )
    SELECT doc_id, CAST(p - n AS DOUBLE) / (p + n + 1) AS sentiment FROM h
    """


@register("text_sentiment", oracle=_sentiment_oracle())
def text_sentiment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L48: lexicon sentiment over the documents table — shuffle-free
    double regexp_count scan, exact quotient hashes cross-engine."""
    from rabbit_data_pipeline_spark.operators.text import sentiment_score

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return d.select("doc_id", sentiment_score(F.col("text")).alias("sentiment"))


@register(
    "text_snippets",
    oracle="""
    SELECT doc_id,
           strpos(text, 'spark') AS pos,
           substr(text, GREATEST(1, strpos(text, 'spark') - 30), 65) AS snippet
    FROM documents WHERE contains(text, 'spark')
    """,
)
def text_snippets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L49: keyword-in-context snippets for 'spark' over the documents
    table — locate + clamped substring, shuffle-free; positions and
    extracted windows hash char-for-char against DuckDB."""
    from rabbit_data_pipeline_spark.operators.text import keyword_snippets

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return keyword_snippets(d, "spark", context=30)


_PERPLEXITY_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), bi AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, len(w)),
                               i -> {'w1': w[i], 'w2': w[i+1]}),
                recursive := true)
  FROM toks WHERE len(w) >= 2
), cb AS (
  SELECT w1, w2, COUNT(*) AS c_bi FROM bi GROUP BY w1, w2
), cu AS (
  SELECT w1, COUNT(*) AS c_uni FROM bi GROUP BY w1
), v AS (
  SELECT COUNT(DISTINCT w) AS V
  FROM (SELECT w1 AS w FROM bi UNION SELECT w2 FROM bi)
), scored AS (
  SELECT bi.doc_id,
         CAST(FLOOR((-LOG10((cb.c_bi + 0.5) / (cu.c_uni + 0.5 * v.V)))
                    * 1000000 + 0.5) AS BIGINT) AS t
  FROM bi JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       SUM(t) / 1000000.0 / COUNT(*) AS avg_neg_logp
FROM scored GROUP BY doc_id
"""


@register("text_perplexity", oracle=_PERPLEXITY_ORACLE)
def text_perplexity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L52: CCNet-style perplexity quality scoring (Wenzek et al.
    2020) over the documents table — add-α bigram self-model, per-doc
    average negative log10 probability. The model counts broadcast
    (reference-sample contract at 100 TB); per-bigram log terms floor
    to integer micro-units before the order-independent sum, so the
    only transcendental is per-row and both engines accumulate
    identically (operators/text.py perplexity_score)."""
    from rabbit_data_pipeline_spark.operators.text import perplexity_score

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return perplexity_score(d)


@register("text_inverted_index", oracle=None)  # oracle attached below
def text_inverted_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L54: sharded inverted-index build over the documents table —
    bounded posting lists (32 ids/shard) so stop-word skew becomes
    many fixed-size rows; postings leave the compare surface as a
    comma-joined scalar (operators/text.py inverted_index)."""
    from rabbit_data_pipeline_spark.operators.text import inverted_index

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return inverted_index(d, shard_size=32)


@register("text_bm25", oracle=None)
def text_bm25_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L55: BM25 lexical ranking for the query {spark, join, window}
    over the documents table — doc length carried map-side, one
    (doc,term) exchange over query-matching tokens only, stats and df
    broadcast; per-term scores micro-floored before the per-doc sum
    (operators/text.py bm25_scores)."""
    from rabbit_data_pipeline_spark.operators.text import bm25_scores

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return bm25_scores(d, ["spark", "join", "window"])


@register("text_collocations", oracle=None)
def text_collocations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L56: PMI collocation mining over the documents table — bigram/
    unigram counting with map-side combine, lift computed from exact
    integer counts in one fixed IEEE shape, per-row ln micro-floored
    (operators/text.py collocations)."""
    from rabbit_data_pipeline_spark.operators.text import collocations

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return collocations(d, min_count=5, top_k=20)


def _attach_text_index_oracles() -> None:
    from rabbit_data_pipeline_spark.operators.text import (
        sql_bm25,
        sql_collocations,
        sql_inverted_index,
    )
    from rabbit_data_pipeline_spark.queries import _REGISTRY, Query

    for name, sql in (
        ("text_inverted_index", sql_inverted_index(shard_size=32)),
        ("text_bm25", sql_bm25(["spark", "join", "window"])),
        ("text_collocations", sql_collocations(min_count=5, top_k=20)),
    ):
        q = _REGISTRY[name]
        _REGISTRY[name] = Query(q.name, q.builder, sql)


_attach_text_index_oracles()


@register(
    "text_nb_train",
    oracle="""
    SELECT lang AS label, word, COUNT(*) AS c
    FROM (SELECT lang, UNNEST(string_split(LOWER(text), ' ')) AS word FROM documents)
    WHERE word != ''
    GROUP BY lang, word
    """,
)
def text_nb_train_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L57a: Naive Bayes training over the documents table — the model
    IS two integer count tables (per-(class,word) + priors), so
    training is one keyed shuffle with map-side combine, two training
    runs merge by integer addition, and the full model hash-matches
    the oracle (operators/classify.py nb_train)."""
    from rabbit_data_pipeline_spark.operators.classify import nb_train

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return nb_train(d)


@register(
    "text_nb_classify",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(LOWER(text), ' ')) AS word FROM documents
    ), tok2 AS (SELECT * FROM tok WHERE word != ''),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok2 GROUP BY doc_id, word),
    ltok AS (
      SELECT lang, UNNEST(string_split(LOWER(text), ' ')) AS word FROM documents
    ),
    model AS (SELECT lang AS label, word, COUNT(*) AS c FROM ltok WHERE word != '' GROUP BY 1, 2),
    totals AS (SELECT label, SUM(c) AS tot FROM model GROUP BY label),
    vocab AS (SELECT COUNT(DISTINCT word) AS V FROM model),
    priors AS (SELECT lang AS label, COUNT(*) AS n_docs FROM documents GROUP BY lang),
    n_all AS (SELECT SUM(n_docs) AS n_all FROM priors),
    scored AS (
      SELECT tf.doc_id, t.label,
             SUM(CAST(FLOOR(tf.tf * LN((COALESCE(m.c, 0) + 1.0) / (t.tot + v.V)) * 1000000 + 0.5) AS BIGINT)) AS ll
      FROM tf CROSS JOIN totals t CROSS JOIN vocab v
      LEFT JOIN model m ON m.label = t.label AND m.word = tf.word
      GROUP BY tf.doc_id, t.label
    ),
    with_prior AS (
      SELECT s.doc_id, s.label,
             s.ll + CAST(FLOOR(LN(CAST(p.n_docs AS DOUBLE) / a.n_all) * 1000000 + 0.5) AS BIGINT) AS score
      FROM scored s JOIN priors p ON p.label = s.label CROSS JOIN n_all a
    )
    SELECT doc_id, label AS predicted, score / 1e6 AS score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, label) AS rn
          FROM with_prior)
    WHERE rn = 1
    """,
)
def text_nb_classify_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L57b: Naive Bayes inference — self-classification of the
    documents corpus by language. Per-(doc,word,class) log terms are
    micro-floored before the integer sum (order-independent); argmax
    tie-breaks (score desc, label asc); the model broadcasts, so the
    corpus crosses the wire once for tf and once for the (doc,class)
    sum (operators/classify.py nb_classify)."""
    from rabbit_data_pipeline_spark.operators.classify import nb_classify, nb_train

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    model = nb_train(d)
    priors = d.groupBy(F.col("lang").alias("label")).agg(F.count("*").alias("n_docs"))
    return nb_classify(d, model, priors)


def _search_index_oracle() -> str:
    from rabbit_data_pipeline_spark.operators.text import sql_normalize_text

    return f"""
    WITH norm AS (
      SELECT doc_id, {sql_normalize_text('text')} AS text FROM documents
    ), ded AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               ROW_NUMBER() OVER (
                 PARTITION BY md5(trim(regexp_replace(lower(text), '{_WS}', ' ', 'g')))
                 ORDER BY doc_id) AS rn
        FROM norm
      ) WHERE rn = 1
    ), tok AS (
      SELECT DISTINCT doc_id, term FROM (
        SELECT doc_id, UNNEST(string_split(LOWER(text), ' ')) AS term FROM ded
      ) WHERE term != ''
    ), r AS (
      SELECT term, doc_id,
             CAST((ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) - 1) // 32 AS BIGINT) AS shard
      FROM tok
    )
    SELECT term, shard, COUNT(*) AS n_docs,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
    FROM r GROUP BY term, shard
    """


@register("pipeline_search_index", oracle=None)  # oracle attached below
def pipeline_search_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L58: the search-ingest chain — normalize → exact dedup →
    sharded inverted index — declared as a Scheduler task and executed
    as ONE composed Catalyst plan over the documents table; a single
    CTE-chain oracle adjudicates all three stages end-to-end (the
    composition gate, same contract as pipeline_web_prep)."""
    from rabbit_data_pipeline_spark.pipeline import PipelineSpec, Scheduler

    spec = PipelineSpec.from_dict(
        "search_index",
        {
            "src": {
                "type": "source.table",
                "start": True,
                "name": "documents",
                "sf_dir": sf_dir,
                "output": ["norm"],
            },
            "norm": {"type": "transform.normalize", "keep_newlines": False, "output": ["ded"]},
            "ded": {"type": "transform.dedup_exact", "output": ["idx"]},
            "idx": {"type": "transform.inverted_index", "shard_size": 32},
        },
    )
    return Scheduler(spark, {"search_index": spec}).run("search_index")["idx"]


def _attach_search_index_oracle() -> None:
    from rabbit_data_pipeline_spark.queries import _REGISTRY, Query

    q = _REGISTRY["pipeline_search_index"]
    _REGISTRY["pipeline_search_index"] = Query(q.name, q.builder, _search_index_oracle())


_attach_search_index_oracle()


_BLOOM_POS = (
    "CAST(('0x' || substring(md5({g} || '#' || CAST(t.i AS VARCHAR)), 1, 12)) AS BIGINT) % 1048576"
)


@register(
    "text_bloom_decontaminate",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, list_distinct({_GRAMS_SQL}) AS grams FROM documents
    ),
    b AS (SELECT DISTINCT UNNEST(grams) AS gram FROM g WHERE doc_id % 250 = 0),
    bits AS (
      SELECT DISTINCT {_BLOOM_POS.format(g="b.gram")} AS pos
      FROM b CROSS JOIN (SELECT UNNEST(range(0, 3)) AS i) t
    ),
    c AS (SELECT doc_id, UNNEST(grams) AS gram FROM g),
    cp AS (
      SELECT c.doc_id, c.gram, t.i, {_BLOOM_POS.format(g="c.gram")} AS pos
      FROM c CROSS JOIN (SELECT UNNEST(range(0, 3)) AS i) t
    ),
    hit AS (
      SELECT cp.doc_id, cp.gram
      FROM cp JOIN bits ON bits.pos = cp.pos
      GROUP BY cp.doc_id, cp.gram
      HAVING COUNT(DISTINCT cp.i) = 3
    )
    SELECT doc_id, COUNT(*) AS n_flagged
    FROM hit GROUP BY doc_id HAVING COUNT(*) >= 1
    """,
)
def text_bloom_decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L59: Bloom-filter decontamination — the constant-size benchmark
    membership structure for eval sets too large to broadcast as raw
    gram sets (1 Mbit filter here, ~128 KB, independent of benchmark
    size). Bit positions derive from md5, so both engines flag the
    IDENTICAL gram set including the structure's false positives — the
    oracle replays the same bit arithmetic, making an approximate
    structure exactly gateable (operators/text.py
    bloom_decontaminate)."""
    from rabbit_data_pipeline_spark.operators.text import bloom_decontaminate

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    bench = d.filter(F.col("doc_id") % 250 == 0)
    return bloom_decontaminate(d, bench, k=8, m_bits=1 << 20, n_hashes=3)


# --------------------------------------------- codec-tier bench probe


@_lru_cache(maxsize=1)
def _codec_corpus():
    """Deterministic real-format payloads for the codec bench probe
    (VERDICT r8 ask #5): a FIXED byte budget of stdlib-decodable
    PNG / AVI-DIB / WAV files, generated once per process and cached,
    so the probe times decode→features codec work, not generation.
    Random pixel/sample content is deliberately incompressible — the
    decode cost the probe tracks is the worst-case (real) one."""
    import io
    import wave

    import numpy as np

    from rabbit_data_pipeline_spark.operators.avi import write_avi
    from rabbit_data_pipeline_spark.operators.png import write_png

    rng = np.random.default_rng(90210)
    pngs = [
        (
            f"png{i:04d}",
            write_png(rng.integers(0, 256, 64 * 64 * 3, dtype=np.uint8).tobytes(), 64, 64, channels=3),
        )
        for i in range(240)
    ]
    avis = []
    for i in range(48):
        frames = [rng.integers(0, 256, 48 * 48, dtype=np.uint8).tobytes() for _ in range(64)]
        avis.append((f"avi{i:03d}", write_avi(frames, 48, 48, codec="DIB", bit_count=8)))
    wavs = []
    for i in range(160):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(16000)
            w.writeframes(rng.integers(-2000, 2000, 16000).astype("<i2").tobytes())
        wavs.append((f"wav{i:03d}", buf.getvalue()))
    return pngs, avis, wavs


#: Parquet staging for the codec probe corpus — the temp dir persists
#: across rounds like the bench's scaled sf1 copy. The generator
#: VERSION is part of the directory name, so a corpus change can
#: never collide with a stale stage, and concurrent same-version
#: stagers (bench + test suite overlap in practice) race only on an
#: atomic rename, never on in-place overwrite-mode writes.
_CODEC_STAGE_VERSION = "v1-240png-48avi-160wav-seed90210"


def _codec_stage_dir() -> str:
    """Per-user 0o700 staging root (ADVICE r10 #1): a fixed
    world-writable /tmp name lets any local user pre-create the
    directory and poison the probe's input. The root is owned-and-
    private per uid; a pre-existing root owned by someone else is an
    error, not an input."""
    import os
    import stat as stat_mod
    import tempfile

    base = os.path.join(tempfile.gettempdir(), f"rdps-{os.getuid()}")
    os.makedirs(base, mode=0o700, exist_ok=True)
    # lstat, not stat: a symlink planted at the fixed name would pass a
    # follow-links uid check against the attacker-chosen TARGET and
    # redirect the chmod + corpus writes there. A real directory owned
    # by us can't be replaced later (sticky-bit temp dir), so checking
    # the entry itself closes the pre-creation attack.
    st = os.lstat(base)
    if stat_mod.S_ISLNK(st.st_mode) or not stat_mod.S_ISDIR(st.st_mode):
        raise RuntimeError(f"codec stage root {base} is not a plain directory")
    if st.st_uid != os.getuid():
        raise RuntimeError(f"codec stage root {base} is owned by uid {st.st_uid}, not us")
    os.chmod(base, 0o700)  # makedirs mode= is ignored when the dir pre-exists
    return os.path.join(base, f"codec_corpus_{_CODEC_STAGE_VERSION}")


def _install_stage(build: str, stage_dir: str) -> None:
    """Atomically install a fully-built stage dir (must contain
    `_BUILT`) at the shared path. Lost races discard `build` (all
    same-version stages are bit-identical — the corpus is seeded).
    A marker-LESS dir blocking the rename is a stale half-stage (e.g.
    tmpfiles pruned files inside it; ADVICE r10 #1): recover instead
    of failing until someone cleans the temp dir — but never rmtree
    the shared path in place, because a concurrent stager may have
    JUST installed a valid stage after our marker check. The blocker
    is renamed aside first (atomic, one winner); if what we grabbed
    turns out to carry the marker after all, it goes straight back.

    ADVICE r11 #4: the aside name must be unique PER ATTEMPT, not per
    pid — a leftover .stale-<pid> dir from a crashed recovery plus pid
    reuse made os.rename(stage_dir, stale) fail ENOTEMPTY, which the
    except branch misread as 'another recoverer moved it aside': the
    build was discarded and staging raised until someone cleaned the
    temp dir by hand. A uuid suffix makes the target fresh every time
    (rename onto a non-existent name can't ENOTEMPTY), so the only
    OSError left on that rename is the real lost-race ENOENT."""
    import os
    import shutil
    import uuid

    marker = os.path.join(stage_dir, "_BUILT")
    try:
        os.rename(build, stage_dir)
        return
    except OSError:
        pass
    if os.path.exists(marker):
        shutil.rmtree(build, ignore_errors=True)  # lost the race; theirs is identical
        return
    stale = f"{stage_dir}.stale-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    try:
        os.rename(stage_dir, stale)
    except OSError:
        pass  # another recoverer already moved it aside
    else:
        if os.path.exists(os.path.join(stale, "_BUILT")):
            try:
                os.rename(stale, stage_dir)
            except OSError:  # a third stager beat us back
                shutil.rmtree(stale, ignore_errors=True)
        else:
            shutil.rmtree(stale, ignore_errors=True)
    try:
        os.rename(build, stage_dir)
    except OSError:
        shutil.rmtree(build, ignore_errors=True)


def _codec_corpus_staged(spark: SparkSession) -> dict[str, DataFrame]:
    """Stage the generated codec corpus to parquet once and read it
    back (VERDICT r9 ask #5): the probe previously shipped ~15 MB
    through spark.createDataFrame every bench run, so its trend line
    measured driver serialization along with codec work. Reading the
    staged parquet makes the probed plan a parquet scan → decode, the
    shape a real media pipeline has. Concurrency: each stager builds
    under a private <dir>.build-<pid> and os.rename()s it into place —
    the loser of the rename race discards its build and reads the
    winner's (bit-identical: the corpus is seeded). The post-scan
    repartition(16) stays: the files are small enough that
    maxPartitionBytes would pack them into 1-2 input partitions, and
    the probe measures codec throughput at local[32] parallelism, not
    scheduler packing (the ~15 MB shuffle it costs is noise against
    seconds of decode)."""
    import os

    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    schema = StructType(
        [StructField("media_id", StringType()), StructField("payload", BinaryType())]
    )
    stage_dir = _codec_stage_dir()
    marker = os.path.join(stage_dir, "_BUILT")
    if not os.path.exists(marker):
        build = f"{stage_dir}.build-{os.getpid()}"
        pngs, avis, wavs = _codec_corpus()
        for mod, rows in (("png", pngs), ("avi", avis), ("wav", wavs)):
            spark.createDataFrame(rows, schema).repartition(4).write.mode(
                "overwrite"
            ).parquet(os.path.join(build, f"{mod}.parquet"))
        with open(os.path.join(build, "_BUILT"), "w") as f:
            f.write(_CODEC_STAGE_VERSION)
        _install_stage(build, stage_dir)
        if not os.path.exists(marker):
            raise RuntimeError(f"codec corpus staging failed to materialize {marker}")
    return {
        mod: spark.read.parquet(os.path.join(stage_dir, f"{mod}.parquet")).repartition(16)
        for mod in ("png", "avi", "wav")
    }


def multimodal_codec_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only codec-tier probe (VERDICT r8 ask #5): real PNG /
    AVI-DIB / WAV payloads flow through the same decode→feature
    operators the multimodal registry gates verify (stdlib codecs,
    zero optional deps), at a FIXED byte budget — ~3 MB of PNG images
    (240 × 64×64 RGB), ~7 MB of AVI video (48 × 64 frames of 48×48
    gray) and ~5 MB of WAV audio (160 × 1 s @ 16 kHz) — so the
    Python-side codec cost gets a round-over-round trend line like
    every other tier. The corpus is staged to parquet on first use
    (VERDICT r9 ask #5 — trend line restarts in round 10; see
    SCALING.md) so the probe times scan → decode → features, not
    driver createDataFrame serialization. sf_dir is intentionally
    ignored (the probe is scale-invariant; bench.py skips its sf1
    twin). Correctness gates: the seeded multimodal_* registry keys."""
    from rabbit_data_pipeline_spark.operators.multimodal import (
        audio_energy_features,
        extract_features,
        video_fingerprint,
    )

    staged = _codec_corpus_staged(spark)

    def mk(mod):
        # 16 partitions per modality: enough parallelism for local[32]
        # without per-task payload counts dropping to 1-2 (the probe
        # measures codec throughput, not scheduler overhead).
        return staged[mod]

    img = extract_features(mk("png")).agg(
        F.lit("png_features").alias("tier"),
        F.count("*").alias("n"),
        F.sum(F.element_at("features", 1)).cast("double").alias("chk"),
    )
    vid = video_fingerprint(mk("avi")).agg(
        F.lit("avi_fingerprint").alias("tier"),
        F.count("*").alias("n"),
        F.sum((F.col("vfp") % F.lit(1000003)).cast("double")).alias("chk"),
    )
    aud = audio_energy_features(mk("wav")).agg(
        F.lit("wav_features").alias("tier"),
        F.count("*").alias("n"),
        F.sum(F.element_at("features", 1)).cast("double").alias("chk"),
    )
    return img.unionByName(vid).unionByName(aud)
