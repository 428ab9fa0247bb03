"""Invariant tests for the xxhash64-based / approximate LLM ops that
the DuckDB oracle can't mirror (SURVEY §2 L2/L3/L5/L7/L12)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rabbit_data_pipeline_spark.session import load_tables


def _docs_with_copies(spark, sf_dir, perturb=" qq zz"):
    d = load_tables(spark, sf_dir, ("documents",))["documents"].select("doc_id", "text")
    copies = (
        d.filter(F.col("doc_id") % 10 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1000000)
        .withColumn("text", F.concat(F.col("text"), F.lit(perturb)))
    )
    return d.unionAll(copies), d.filter(F.col("doc_id") % 10 == 0).count()


def test_minhash_finds_planted_near_dups(spark, sf_smoke):
    from rabbit_data_pipeline_spark.operators.dedup import lsh_candidate_pairs, minhash_signature

    inp, n_copies = _docs_with_copies(spark, sf_smoke)
    pairs = lsh_candidate_pairs(minhash_signature(inp, num_hashes=48, k=5), bands=12, sim_threshold=0.6)
    found = pairs.filter(F.col("id_b") - F.col("id_a") == 1000000).count()
    # ~300-char docs with a 6-char suffix → true jaccard ≈ .97; recall should be ~total
    assert found >= 0.9 * n_copies, f"minhash recall too low: {found}/{n_copies}"


def test_minhash_deterministic(spark, sf_smoke):
    from rabbit_data_pipeline_spark.operators.dedup import minhash_signature

    inp, _ = _docs_with_copies(spark, sf_smoke)
    s1 = minhash_signature(inp.limit(20), num_hashes=16).select("doc_id", "sig").collect()
    s2 = minhash_signature(inp.limit(20), num_hashes=16).select("doc_id", "sig").collect()
    assert sorted(map(tuple, ((r.doc_id, tuple(r.sig)) for r in s1))) == sorted(
        map(tuple, ((r.doc_id, tuple(r.sig)) for r in s2))
    )


def test_minhash_arrow_parity(spark, sf_smoke):
    """The Arrow/numpy signature is a drop-in for the SQL one: same
    determinism, same exact-dup behavior (identical sigs for identical
    text), and equal-or-better recall through the same LSH pipeline."""
    from rabbit_data_pipeline_spark.operators.dedup import lsh_candidate_pairs, minhash_signature_arrow

    inp, n_copies = _docs_with_copies(spark, sf_smoke)
    s1 = minhash_signature_arrow(inp.limit(20), num_hashes=16).select("doc_id", "sig").collect()
    s2 = minhash_signature_arrow(inp.limit(20), num_hashes=16).select("doc_id", "sig").collect()
    assert sorted((r.doc_id, tuple(r.sig)) for r in s1) == sorted((r.doc_id, tuple(r.sig)) for r in s2)

    exact_inp, _ = _docs_with_copies(spark, sf_smoke, perturb="")
    sigs = minhash_signature_arrow(exact_inp, num_hashes=16)
    joined = (
        sigs.filter(F.col("doc_id") >= 1000000)
        .select((F.col("doc_id") - 1000000).alias("doc_id"), F.col("sig").alias("sig_copy"))
        .join(sigs.filter(F.col("doc_id") < 1000000), on="doc_id")
    )
    assert joined.filter(F.col("sig") != F.col("sig_copy")).count() == 0

    pairs = lsh_candidate_pairs(minhash_signature_arrow(inp, num_hashes=48, k=5), bands=12, sim_threshold=0.6)
    found = pairs.filter(F.col("id_b") - F.col("id_a") == 1000000).count()
    assert found >= 0.9 * n_copies, f"arrow minhash recall too low: {found}/{n_copies}"


def test_minhash_arrow_signature_matches_reference_formula(spark):
    """r15: pin the Arrow signature path BIT-IDENTICAL to the reference
    per-row formula (same normalization, same short-doc space padding,
    same uint64 wraparound) across the edge cases: empty/whitespace-only
    text, docs shorter than k, multi-byte UTF-8, repeated grams, NULL
    text. Added while A/B-testing a whole-batch reduceat rewrite of the
    signature UDF (rejected: the stage cost is the per-task Python
    boundary, not hashing — the rewrite measured ~2x SLOWER at sf1);
    the pin stays so any future rewrite has the equivalence gate ready."""
    import numpy as np

    from rabbit_data_pipeline_spark.operators.dedup import minhash_signature_arrow

    num_hashes, k = 12, 5
    texts = [
        "",
        "   ",
        "ab",
        "abcd",
        "abcde",
        "the quick brown fox jumps over the lazy dog",
        "aaaaaaaaaaaaaaaaaaaaaaa",
        "Ünïcödé — 多字节 テキスト bytes",
        "Mixed   WHITESPACE\t\tand CASE  normalization",
        None,
    ]

    def reference(s: str | None) -> list[int]:
        import re

        a = (2 * np.arange(num_hashes, dtype=np.uint64) + 1)[:, None]
        b = (104729 * (np.arange(num_hashes, dtype=np.uint64) + 1))[:, None]
        powers = np.uint64(1099511628211) ** np.arange(k, dtype=np.uint64)
        norm = re.sub(r"\s+", " ", (s or "").lower()).strip()
        raw = np.frombuffer(norm.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
        if raw.size < k:
            raw = np.pad(raw, (0, k - raw.size), constant_values=32)
        grams = np.zeros(raw.size - k + 1, dtype=np.uint64)
        for j in range(k):
            grams += raw[j : raw.size - k + 1 + j] * powers[j]
        u = np.unique(grams)
        return (a * u[None, :] + b).min(axis=1).view(np.int64).tolist()

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    got = {
        r.doc_id: list(r.sig)
        for r in minhash_signature_arrow(df, num_hashes=num_hashes, k=k).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == reference(t), f"sig mismatch for text {t!r}"


def test_connected_components_chain_and_islands(spark):
    """A pure chain (1-2, 2-3, 3-4: no shortcut edges) must collapse to
    one component — exactly what star-shaped pair dedup gets wrong —
    while disconnected pairs and nodes stay separate."""
    from rabbit_data_pipeline_spark.operators.graph import connected_components, dedup_transitive

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)], ["id_a", "id_b"]
    )
    comp = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame([(i, f"t{i}") for i in [1, 2, 3, 4, 10, 11, 20, 21, 99]], ["doc_id", "text"])
    survivors = sorted(r.doc_id for r in dedup_transitive(docs, pairs).collect())
    assert survivors == [1, 10, 20, 99]


def test_train_ivf_centroids_recovers_planted_clusters(spark):
    """Three well-separated gaussian clusters in 8-dim: after a few
    Lloyd iterations each trained centroid must align (cosine > .95)
    with one planted mean, and all three means must be covered —
    random-sample init alone can't promise coverage."""
    import numpy as np

    from rabbit_data_pipeline_spark.functions.vector import cosine as _  # noqa: F401
    from rabbit_data_pipeline_spark.operators.similarity import train_ivf_centroids

    rng = np.random.RandomState(7)
    means = np.eye(3, 8) * 10.0  # orthogonal, far apart
    rows = []
    i = 0
    for m in range(3):
        for _n in range(60):
            rows.append((i, (means[m] + rng.standard_normal(8) * 0.3).tolist()))
            i += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    trained = train_ivf_centroids(df, n_centroids=3, n_iters=4, seed=11)

    def cos(a, b):
        a, b = np.array(a), np.array(b)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b) + 1e-12))

    covered = set()
    for _cid, cv in trained:
        sims = [cos(cv, means[m]) for m in range(3)]
        best = int(np.argmax(sims))
        assert sims[best] > 0.95, sims
        covered.add(best)
    assert covered == {0, 1, 2}


def test_ann_ivf_with_training_runs(spark):
    import numpy as np

    from rabbit_data_pipeline_spark.operators.similarity import ann_ivf

    rng = np.random.RandomState(3)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(80)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = ann_ivf(df, df.limit(5), k=3, n_centroids=4, n_probe=2, train_iters=2)
    got = out.collect()
    assert len(got) > 0 and all(r.rank <= 3 for r in got)


def test_connected_components_long_chain_converges_under_bound(spark):
    """A 100-node chain has diameter 99 — plain neighbor-min label
    propagation would need ~99 rounds and blow the 25-round cap; the
    pointer-jumping step must close it in O(log n) rounds."""
    from rabbit_data_pipeline_spark.operators.graph import connected_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, 100)], ["id_a", "id_b"])
    comp = {r.id: r.component for r in connected_components(pairs, max_iter=25).collect()}
    assert len(comp) == 100
    assert set(comp.values()) == {1}


def test_connected_components_raises_past_bound(spark):
    import pytest

    from rabbit_data_pipeline_spark.operators.graph import connected_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, 40)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=1)


def test_simhash_identical_docs_hamming_zero(spark):
    from rabbit_data_pipeline_spark.operators.dedup import simhash64

    df = spark.createDataFrame([(1, "the quick brown fox"), (2, "the quick brown fox")], "doc_id long, text string")
    h = [r["simhash"] for r in simhash64(df).collect()]
    assert h[0] == h[1]


def test_simhash_finds_planted_near_dups(spark, sf_smoke):
    from rabbit_data_pipeline_spark.operators.dedup import simhash64, simhash_near_pairs

    inp, n_copies = _docs_with_copies(spark, sf_smoke, perturb=" qq")
    pairs = simhash_near_pairs(simhash64(inp), max_hamming=3)
    found = pairs.filter(F.col("id_b") - F.col("id_a") == 1000000).count()
    assert found >= 0.8 * n_copies, f"simhash recall too low: {found}/{n_copies}"


def test_embedding_near_dup_finds_scaled_copies(spark, sf_smoke):
    from rabbit_data_pipeline_spark.operators.dedup import embedding_near_pairs

    e = load_tables(spark, sf_smoke, ("embeddings",))["embeddings"].select("vec_id", "embedding")
    copies = (
        e.filter(F.col("vec_id") % 10 == 0)
        .withColumn("vec_id", F.col("vec_id") + 1000000)
        .withColumn("embedding", F.transform("embedding", lambda x: x * F.lit(1.5)))
    )
    n_copies = e.filter(F.col("vec_id") % 10 == 0).count()
    pairs = embedding_near_pairs(e.unionAll(copies), threshold=0.99)
    found = pairs.filter(F.col("id_b") - F.col("id_a") == 1000000).count()
    # scaled copy: cosine exactly 1 and identical bucket bits → 100% recall
    assert found == n_copies


def test_embedding_near_dup_or_amplified_recall(spark):
    """Mid-similarity pairs (cos ≈ 0.95, NOT same-bucket by
    construction) are where OR-amplification earns its keep: one
    8-plane table catches ~0.43 of them, 4 tables ~0.90. Deterministic
    seeded corpus; regression guard on the amplified recall."""
    import numpy as np

    from rabbit_data_pipeline_spark.operators.dedup import embedding_near_pairs

    rng = np.random.RandomState(9)
    dim, n = 32, 60
    base = rng.standard_normal((n, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    # partner at angle ~18 deg (cos ~0.95) in a random orthogonal direction
    noise = rng.standard_normal((n, dim))
    noise -= (noise * base).sum(1, keepdims=True) * base
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    partner = 0.95 * base + np.sqrt(1 - 0.95**2) * noise
    rows = [(i, base[i].tolist()) for i in range(n)]
    rows += [(i + 1000, partner[i].tolist()) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    found1 = (
        embedding_near_pairs(df, threshold=0.94, dim=dim, n_tables=1)
        .filter(F.col("id_b") - F.col("id_a") == 1000)
        .count()
    )
    found4 = (
        embedding_near_pairs(df, threshold=0.94, dim=dim, n_tables=4)
        .filter(F.col("id_b") - F.col("id_a") == 1000)
        .count()
    )
    assert found4 > found1, f"OR-amplification gained nothing: {found1} -> {found4}"
    assert found4 >= 0.75 * n, f"amplified recall too low: {found4}/{n}"


def test_ann_lsh_recall_vs_bruteforce(spark, sf_smoke):
    from rabbit_data_pipeline_spark.operators.similarity import ann_bruteforce, ann_lsh

    e = load_tables(spark, sf_smoke, ("embeddings",))["embeddings"]
    q = e.filter(F.col("vec_id") < 10)
    exact = {(r.q_id, r.n_id) for r in ann_bruteforce(e, q, k=5).collect()}
    approx = {(r.q_id, r.n_id) for r in ann_lsh(e, q, k=5, n_planes=4).collect()}
    recall = len(exact & approx) / len(exact)
    # random 64-dim embeddings are the worst case for LSH (neighbors sit
    # near cos≈0.4); 8 OR-ed tables measure ~0.72 here. Regression guard.
    assert recall >= 0.5, f"lsh recall collapsed: {recall}"


def test_ann_ivf_runs_and_ranks(spark, sf_smoke):
    from rabbit_data_pipeline_spark.operators.similarity import ann_ivf

    e = load_tables(spark, sf_smoke, ("embeddings",))["embeddings"]
    out = ann_ivf(e, e.filter(F.col("vec_id") < 3), k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


# ---------------------------------------------------------- multimodal


def _media_df(spark):
    from rabbit_data_pipeline_spark.operators.multimodal import encode_image, encode_video

    rows = [
        ("img1", "image", encode_image(8, 6, seed=1)),
        ("img2", "image", encode_image(4, 4, seed=2)),
        ("vid1", "video", encode_video(5, 16, seed=3)),
    ]
    from rabbit_data_pipeline_spark.operators.multimodal import MEDIA_SCHEMA

    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_metadata(spark):
    from rabbit_data_pipeline_spark.operators.multimodal import decode_metadata

    meta = {r.media_id: r for r in decode_metadata(_media_df(spark)).collect()}
    assert meta["img1"].width == 8 and meta["img1"].height == 6 and meta["img1"].format == "IMG1"
    assert meta["vid1"].n_frames == 5 and meta["vid1"].format == "VID1"


def test_decode_unknown_codec_raises(spark):
    from rabbit_data_pipeline_spark.operators.multimodal import MEDIA_SCHEMA, decode_metadata

    df = spark.createDataFrame([("x", "image", b"JPEGxxxx")], MEDIA_SCHEMA)
    with pytest.raises(Exception, match="no codec"):
        decode_metadata(df).collect()


def test_resize_images(spark):
    from rabbit_data_pipeline_spark.operators.multimodal import decode_metadata, resize_images

    imgs = _media_df(spark).filter(F.col("media_type") == "image")
    out = resize_images(imgs, 2, 2)
    rows = {r.media_id: r for r in out.collect()}
    assert rows["img1"].width == 2 and len(bytes(rows["img1"].payload)) == 12 + 4
    # resized payload is itself decodable
    meta = decode_metadata(out.withColumn("media_type", F.lit("image"))).collect()
    assert all(m.width == 2 and m.height == 2 for m in meta)


def test_sample_frames(spark):
    from rabbit_data_pipeline_spark.operators.multimodal import sample_frames

    vids = _media_df(spark).filter(F.col("media_type") == "video")
    frames = sample_frames(vids, every_n=2).collect()
    assert [f.frame_idx for f in frames] == [0, 2, 4]
    assert all(len(bytes(f.frame)) == 16 for f in frames)


def test_text_analysis_bundle(spark, sf_smoke):
    from rabbit_data_pipeline_spark.operators.text import with_text_analysis

    d = load_tables(spark, sf_smoke, ("documents",))["documents"]
    out = with_text_analysis(d).limit(5).collect()
    for r in out:
        assert r.ws_tokens > 0 and r.bpe_tokens >= r.ws_tokens
        assert 0.0 <= r.quality <= 1.0
        assert len(r.fingerprint) == 32
        assert r.lang_guess in ("de", "en", "es", "fr", "zh", "und")


# One word that scores for exactly one language.
_LANG_WORD = {"de": "der", "en": "the", "es": "el", "fr": "le", "zh": "字"}


def _py_lang_argmax(scores: dict[str, int | None]) -> str:
    """Highest score wins, ties go to the alphabetically first code,
    no positive score (or null text) gives 'und'."""
    best = max(sorted(scores), key=lambda lang: scores[lang] or 0)
    return best if (scores[best] or 0) > 0 else "und"


def test_lang_id_matches_python_argmax(spark, sf_smoke):
    from rabbit_data_pipeline_spark.operators.text import lang_id, lang_scores

    texts = [None, "", "   ", "多字节", "xyz qqq", "THE Der", "de la", "la que"]
    for a, wa in _LANG_WORD.items():
        for b, wb in _LANG_WORD.items():
            texts += [f"{wa} {wb}", f"{wa} {wa} {wb}"]
    texts.append(" ".join(_LANG_WORD.values()))
    edge = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    real = load_tables(spark, sf_smoke, ("documents",))["documents"].select("doc_id", "text")
    langs = sorted(_LANG_WORD)
    tied = set()
    for df in (edge, real):
        tc = F.col("text")
        scores = lang_scores(tc)
        rows = df.select(lang_id(tc).alias("got"), *[scores[lang].alias(lang) for lang in langs]).collect()
        for r in rows:
            s = {lang: r[lang] for lang in langs}
            assert r.got == _py_lang_argmax(s), (r, s)
            top = max(v or 0 for v in s.values())
            if top > 0:
                tied.add(tuple(lang for lang in langs if s[lang] == top))
    # every pair of languages, and all five at once, reached a tie
    for i, a in enumerate(langs):
        for b in langs[i + 1 :]:
            assert (a, b) in tied
    assert tuple(langs) in tied


def test_lang_id_evaluates_each_score_once(spark):
    """Each language score appears once in the lang_id expression, so a
    chain that copies earlier scores into later levels cannot return
    unnoticed."""
    from rabbit_data_pipeline_spark.operators.text import lang_id, lang_scores

    expr = lang_id(F.col("text"))._jc.toString()
    assert expr.count("regexp_count") == len(lang_scores(F.col("text"))) == 5


def test_redact_pii_behaviors(spark):
    from pyspark.sql import functions as F

    from rabbit_data_pipeline_spark.operators.text import redact_pii

    rows = spark.createDataFrame(
        [
            ("contact bob.smith+x@corp.example.co for info",),
            ("call +1 (415) 555-0199 now",),
            ("server at 10.0.42.7 responded",),
            ("ssn 123-45-6789 on file",),
            ("no pii here, just text",),
        ],
        "text string",
    ).select(redact_pii(F.col("text")).alias("t"))
    out = [r.t for r in rows.collect()]
    assert out[0] == "contact [EMAIL] for info"
    assert out[1] == "call [PHONE] now"
    assert out[2] == "server at [IPV4] responded"
    assert out[3] == "ssn [SSN] on file"
    assert out[4] == "no pii here, just text"


def test_chunk_text_overlap_and_reconstruction(spark):
    from pyspark.sql import functions as F

    from rabbit_data_pipeline_spark.operators.text import chunk_text

    doc = "abcdefghij" * 30  # 300 chars
    df = spark.createDataFrame([(1, doc)], "doc_id int, text string")
    chunks = chunk_text(df, chunk_chars=100, overlap=20).orderBy("chunk_id").collect()
    # stride 80: starts 0,80,160,240 → lengths 100,100,100,60
    assert [len(c.chunk_text) for c in chunks] == [100, 100, 100, 60]
    # consecutive chunks overlap by exactly 20 chars
    for a, b in zip(chunks, chunks[1:]):
        assert a.chunk_text[-20:] == b.chunk_text[:20]
    # stitching strides reconstructs the document
    assert "".join([chunks[0].chunk_text] + [c.chunk_text[20:] for c in chunks[1:]]) == doc


def test_yaml_redact_then_chunk_pipeline(spark, tmp_path):
    """Declarative scrub→chunk prep: the YAML surface covers the new
    text ops end-to-end through the Scheduler."""
    from rabbit_data_pipeline_spark.pipeline import PipelineSpec, Scheduler

    path = str(tmp_path / "pii_docs")
    spark.createDataFrame(
        [(1, "email me at a@b.co " + "x" * 120)], "doc_id int, text string"
    ).write.parquet(path)
    spec = PipelineSpec.from_dict(
        "prep",
        {
            "docs": {"type": "source.parquet", "start": True, "path": path, "output": ["scrub"]},
            "scrub": {"type": "transform.redact_pii", "output": ["chunks"]},
            "chunks": {"type": "transform.chunk", "chunk_chars": 64, "overlap": 16},
        },
    )
    rows = Scheduler(spark, {"prep": spec}).build("prep", "chunks").collect()
    assert all("[EMAIL]" in r.chunk_text or "x" in r.chunk_text for r in rows)
    assert "a@b.co" not in "".join(r.chunk_text for r in rows)
    assert len(rows) >= 2


def test_decontaminate_flags_planted_overlap(spark):
    from rabbit_data_pipeline_spark.operators.text import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "one two three four five six seven eight nine ten"),
            (3, "totally different words with no overlap at all here now"),
        ],
        "doc_id long, text string",
    )
    # benchmark contains doc 1's opening 8-gram verbatim
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")], "doc_id long, text string"
    )
    out = {r.doc_id: r.n_shared for r in decontaminate(corpus, bench, k=8).collect()}
    assert 1 in out and out[1] >= 1
    assert 2 not in out and 3 not in out


def test_decontaminate_short_docs_no_crash(spark):
    from rabbit_data_pipeline_spark.operators.text import decontaminate

    corpus = spark.createDataFrame([(1, "tiny doc")], "doc_id long, text string")
    bench = spark.createDataFrame([(2, "tiny doc")], "doc_id long, text string")
    # <k words: the whole doc is one short gram; identical short docs match
    assert decontaminate(corpus, bench, k=8).count() == 1


def test_repeated_ngrams_flags_boilerplate(spark):
    """A license header pasted into several docs must be flagged for
    exactly those docs, with max_gram_docs = the paste count; unique
    docs stay unflagged."""
    from rabbit_data_pipeline_spark.operators.text import repeated_ngrams

    boiler = "this software is provided as is without warranty of any kind express or implied"
    rows = [(i, f"{boiler} unique tail {i} " + " ".join(f"w{i}x{j}" for j in range(10))) for i in range(4)]
    rows += [(10 + i, " ".join(f"solo{i}y{j}" for j in range(20))) for i in range(3)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: (r.n_repeated, r.max_gram_docs) for r in repeated_ngrams(df, k=8, min_docs=3).collect()}
    assert set(got) == {0, 1, 2, 3}
    for _doc, (n_rep, spread) in got.items():
        assert n_rep >= 7  # the 14-word boilerplate yields ≥7 shared 8-grams
        assert spread == 4


def test_stratified_mix_fractions_and_drop(spark):
    from rabbit_data_pipeline_spark.operators.text import stratified_mix

    rows = [(i, "a" if i < 1000 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_mix(df, "source", {"a": 0.25})  # b absent -> dropped
    got = out.groupBy("source").count().collect()
    assert {r.source: r["count"] for r in got} == {"a": 250}


def test_pack_sequences_fills_budget(spark):
    from rabbit_data_pipeline_spark.operators.text import pack_sequences

    # one bucket -> one packing stream; largest-first order is
    # 40,30,20,10 -> cum-before 0,40,70,90 -> bins 0,0,1,1 at budget 64
    df = spark.createDataFrame([(0, 10), (16, 20), (32, 30), (48, 40)], "doc_id long, tokens long")
    out = {r.doc_id: r.bin for r in pack_sequences(df, "tokens", budget=64, n_buckets=1).collect()}
    assert out == {48: "0_0", 32: "0_0", 16: "0_1", 0: "0_1"}


def test_pack_sequences_buckets_independent(spark):
    from rabbit_data_pipeline_spark.operators.text import pack_sequences

    df = spark.createDataFrame([(i, 50) for i in range(8)], "doc_id long, tokens long")
    out = pack_sequences(df, "tokens", budget=100, n_buckets=4)
    # 2 docs per bucket, 50+50 = 100 <= budget: every bucket packs its
    # two docs into local bin 0 -> exactly 4 distinct bins of size 2
    bins = {r.bin for r in out.collect()}
    assert len(bins) == 4 and all(b.endswith("_0") for b in bins)


# ---------------------------------------------- gopher repetition filters
def test_gopher_repetition_flags_spam(spark):
    from rabbit_data_pipeline_spark.operators.text import gopher_repetition

    df = spark.createDataFrame(
        [
            (1, "buy now buy now buy now buy now"),
            (2, "a perfectly ordinary sentence with many distinct words here"),
            (3, "one"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in gopher_repetition(df).collect()}
    # doc 1: 8 words, 2 distinct -> dup 0.75; "buy now" bigram 4/7
    assert rows[1]["n_words"] == 8
    assert abs(rows[1]["dup_word_frac"] - 0.75) < 1e-12
    assert abs(rows[1]["top_bigram_frac"] - 4 / 7) < 1e-12
    assert rows[1]["keep"] is False
    assert rows[2]["keep"] is True
    # single word: no bigrams, frac 0, never divides by zero
    assert rows[3]["top_bigram_frac"] == 0.0 and rows[3]["n_words"] == 1


def test_tfidf_prefers_rare_terms(spark):
    from rabbit_data_pipeline_spark.operators.text import tfidf_terms

    df = spark.createDataFrame(
        [(1, "apple banana banana"), (2, "apple cherry")],
        ["doc_id", "text"],
    )
    top = {(r["doc_id"], r["rank"]): r for r in tfidf_terms(df, top_k=2).collect()}
    assert top[(1, 1)]["term"] == "banana" and top[(1, 1)]["tf"] == 2 and top[(1, 1)]["df"] == 1
    assert top[(1, 2)]["term"] == "apple" and top[(1, 2)]["df"] == 2
    assert top[(2, 1)]["term"] == "cherry"


# ------------------------------------------------- product quantization
def _pq_cb():
    from rabbit_data_pipeline_spark.queries.llm import _PQ_CB

    return _PQ_CB


def test_pq_encode_centroid_roundtrip(spark):
    """A vector assembled from centroid c of every subspace must encode
    to codes [c, c, c, c] (distance exactly 0 beats every other cell)."""
    from rabbit_data_pipeline_spark.operators.similarity import pq_encode

    cb = _pq_cb()
    vec = [x for j in range(len(cb)) for x in cb[j][3]]
    df = spark.createDataFrame([(1, vec)], ["vec_id", "embedding"])
    codes = pq_encode(df, cb).collect()[0]["codes"]
    assert codes == [3, 3, 3, 3]


def test_sample_pq_codebook_layout_independent(spark, sf_smoke):
    from rabbit_data_pipeline_spark.operators.similarity import sample_pq_codebook
    from rabbit_data_pipeline_spark.session import load_tables

    e = load_tables(spark, sf_smoke, ("embeddings",))["embeddings"]
    cb1 = sample_pq_codebook(e, m=4, ks=4, dim=64)
    cb2 = sample_pq_codebook(e.repartition(7), m=4, ks=4, dim=64)
    assert cb1 == cb2
    assert len(cb1) == 4 and len(cb1[0]) == 4 and len(cb1[0][0]) == 16


def test_ann_pq_exact_duplicate_attains_min_adc(spark, sf_smoke):
    """A planted exact duplicate shares the query's codes, so its ADC
    equals the global minimum for that query (ties possible with other
    same-code rows — assert on the distance, not the rank)."""
    from pyspark.sql import functions as F

    from rabbit_data_pipeline_spark.operators.similarity import ann_pq, pq_encode
    from rabbit_data_pipeline_spark.session import load_tables

    cb = _pq_cb()
    e = load_tables(spark, sf_smoke, ("embeddings",))["embeddings"].select("vec_id", "embedding")
    dup = e.filter(F.col("vec_id") == 0).withColumn("vec_id", F.lit(9_000_000))
    corpus = e.unionByName(dup)
    out = ann_pq(pq_encode(corpus, cb), corpus.filter(F.col("vec_id") == 0), cb, k=1000)
    rows = [r for r in out.collect() if r["q_id"] == 0]
    best = min(r["adc"] for r in rows)
    dup_row = next(r for r in rows if r["n_id"] == 9_000_000)
    assert dup_row["adc"] == best


def test_ann_ivfpq_matches_bruteforce_on_lossless_corpus(spark):
    """On the seeded lossless corpus, IVF-PQ top-5 == exact L2 top-5
    computed in numpy (independent of the DuckDB oracle)."""
    import numpy as np
    from pyspark.sql import functions as F

    from rabbit_data_pipeline_spark.operators.similarity import ann_ivfpq
    from rabbit_data_pipeline_spark.queries.seeded import _IVFPQ_QUERY_IDS, _spark_vec_df, ivfpq_corpus

    corpus, centroids, codebook = ivfpq_corpus()
    df = _spark_vec_df(spark, corpus)
    out = ann_ivfpq(
        df, df.filter(F.col("vec_id").isin(_IVFPQ_QUERY_IDS)), centroids, codebook, k=5, n_probe=2
    )
    got = {(r["q_id"], r["rank"]): r["n_id"] for r in out.collect()}
    vecs = {i: np.array(v) for i, v in corpus}
    for qid in _IVFPQ_QUERY_IDS:
        d = sorted(
            (float(((vecs[qid] - v) ** 2).sum()), nid) for nid, v in vecs.items() if nid != qid
        )
        for rank, (_, nid) in enumerate(d[:5], 1):
            assert got[(qid, rank)] == nid, (qid, rank)


def test_tfidf_max_df_prunes_stopword_terms(spark):
    from rabbit_data_pipeline_spark.operators.text import tfidf_terms

    df = spark.createDataFrame(
        [(i, "the common word plus token%d" % i) for i in range(4)], ["doc_id", "text"]
    )
    out = tfidf_terms(df, top_k=10, max_df=3).collect()
    terms = {r["term"] for r in out}
    # 'the'/'common'/'word'/'plus' appear in all 4 docs -> pruned
    assert terms == {f"token{i}" for i in range(4)}


def test_gopher_filter_plugin_drops_spam(spark, tmp_path):
    from rabbit_data_pipeline_spark.pipeline import PipelineSpec, Scheduler

    src = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"), (2, "regular words make a fine document here")],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "docs")
    src.write.mode("overwrite").parquet(path)
    spec = PipelineSpec.from_dict(
        "gq",
        {
            "src": {"type": "source.parquet", "start": True, "path": path, "output": ["gf"]},
            "gf": {"type": "transform.gopher_filter"},
        },
    )
    out = Scheduler(spark, {"gq": spec}).run("gq")["gf"]
    assert [r["doc_id"] for r in out.collect()] == [2]


def test_canonicalize_url_families_and_singletons(spark):
    from pyspark.sql import functions as F

    from rabbit_data_pipeline_spark.operators.text import canonicalize_url, url_dedup
    from rabbit_data_pipeline_spark.queries.seeded import url_corpus

    rows = url_corpus()
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    counts = sorted(r["n_variants"] for r in url_dedup(df).collect())
    assert counts == [1] * 8 + [3] * 12  # 12 families of 3, 8 singletons
    got = df.select(canonicalize_url(F.col("url")).alias("c")).where(
        F.col("url") == "http://SITE2.EXAMPLE.COM?utm_source=feed&b=3&a=2"
    )
    one = spark.createDataFrame([(0, "http://site2.example.com:80/?a=2&b=3#x")], ["i", "url"]
        ).select(canonicalize_url(F.col("url")).alias("c"))
    vals = {r["c"] for r in got.union(one).collect()}
    assert vals == {"http://site2.example.com/?a=2&b=3"}


def test_dedup_lines_keeps_order_and_drops_empty_docs(spark):
    from rabbit_data_pipeline_spark.operators.text import dedup_lines

    df = spark.createDataFrame(
        [(1, "keep one\nBOILER\nkeep two"), (2, "BOILER\nother text"), (3, "BOILER")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r["text"] for r in dedup_lines(df).collect()}
    assert rows == {1: "keep one\nkeep two", 2: "other text"}  # doc 3 vanished


def test_ann_pq_recall_beats_random_on_unstructured_data(spark, sf_dir):
    """Honest recall statement for PQ on the WORST-case input: the
    testdata embeddings are unstructured (near-uniform pairwise
    distances — no clusters for the codebook to exploit), and a
    sampled m=4 codebook compresses 64 dims into 4 code lookups, so
    recall@10 is far from 1 — but it must stay well above the random
    baseline (10/499 ≈ 0.02). All seeds fixed → exact determinism.
    The mechanics (argmin/lut/ADC) are exactly gated by the lossless
    seeded corpus in ann_ivfpq/ann_pq oracles."""
    import numpy as np
    from pyspark.sql import functions as F

    from rabbit_data_pipeline_spark.operators.similarity import ann_pq, pq_encode, sample_pq_codebook
    from rabbit_data_pipeline_spark.session import load_tables

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"].select("vec_id", "embedding")
    rows = {r["vec_id"]: np.array(r["embedding"], dtype=float) for r in e.collect()}
    assert len(rows) >= 400  # the statement needs the 500-vector corpus
    truth = {}
    for q in range(5):
        d = sorted((float(((rows[q] - v) ** 2).sum()), n) for n, v in rows.items() if n != q)
        truth[q] = {n for _, n in d[:10]}
    cb = sample_pq_codebook(e, m=4, ks=16, dim=64)
    out = ann_pq(pq_encode(e, cb), e.filter(F.col("vec_id") < 5), cb, k=10).collect()
    got: dict[int, set] = {}
    for r in out:
        got.setdefault(r["q_id"], set()).add(r["n_id"])
    recalls = [len(got[q] & truth[q]) / 10 for q in range(5)]
    assert min(recalls) >= 0.1 and sum(recalls) / 5 >= 0.15, recalls


def test_cc_star_matches_union_find_and_label_propagation(spark):
    """large-star/small-star vs a python union-find reference AND the
    label-propagation operator, over a chain, a star, two islands and
    a seeded random graph."""
    import random as _random

    from rabbit_data_pipeline_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    rng = _random.Random(99)
    graphs = {
        "chain": [(i, i + 1) for i in range(60)],
        "star": [(0, i) for i in range(1, 40)],
        "islands": [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "random": [(rng.randrange(50), rng.randrange(50)) for _ in range(70)],
    }
    for name, edges in graphs.items():
        edges = [(a, b) for a, b in edges if a != b]
        parent: dict[int, int] = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {n: find(n) for n in parent}

        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        got_star = {r["id"]: r["component"] for r in connected_components_star(df).collect()}
        got_lp = {r["id"]: r["component"] for r in connected_components(df).collect()}
        assert got_star == want, name
        assert got_lp == want, name


def test_dedup_transitive_star_algorithm(spark):
    from rabbit_data_pipeline_spark.operators.graph import dedup_transitive

    df = spark.createDataFrame([(i, f"t{i}") for i in range(6)], ["doc_id", "text"])
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], ["id_a", "id_b"])
    for algo in ("label", "star"):
        got = sorted(r["doc_id"] for r in dedup_transitive(df, pairs, algorithm=algo).collect())
        assert got == [0, 3, 4], algo


def test_web_prep_pipeline_survivors(spark):
    """Each engineered drop fires: 1,8 (url variants), 12 (exact dup
    after banner strip), 15 (gopher spam), 19 (boilerplate-only)."""
    from rabbit_data_pipeline_spark.queries.seeded import pipeline_web_prep

    out = {r["doc_id"] for r in pipeline_web_prep(spark, "").collect()}
    assert out == set(range(19)) - {1, 8, 12, 15}


def test_ann_ivfpq_scale_probe_runs_and_ranks(spark, sf_smoke):
    from rabbit_data_pipeline_spark.queries.llm import ann_ivfpq_scale

    rows = ann_ivfpq_scale(spark, sf_smoke).collect()
    assert rows, "probe produced no candidates"
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(x["rank"] for x in rs)
        assert ranks == list(range(1, len(ranks) + 1)), q
        adcs = [x["adc"] for x in sorted(rs, key=lambda x: x["rank"])]
        assert adcs == sorted(adcs), q


def test_rag_prep_end_to_end_chunk_embed_pq(spark):
    """The retrieval-prep composition: documents → overlapping chunks →
    (stub) embeddings → PQ codes → ADC query. The query text equals one
    chunk verbatim, so with the deterministic embedder its vector is
    identical and its ADC distance is the global minimum — the whole
    chain (chunking offsets, batched embed, encode, lut, ranking) must
    line up for this to hold."""
    from pyspark.sql import functions as F

    from rabbit_data_pipeline_spark.operators.model import embed_documents
    from rabbit_data_pipeline_spark.operators.similarity import ann_pq, pq_encode, sample_pq_codebook
    from rabbit_data_pipeline_spark.operators.text import chunk_text

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(120))) for i in range(8)],
        ["doc_id", "text"],
    )
    chunks = chunk_text(docs, chunk_chars=256, overlap=32).withColumn(
        "vec_id",
        (F.col("doc_id") * 1000 + F.col("chunk_id")).cast("long"),
    )
    emb = embed_documents(chunks, text_col="chunk_text", dim=16).select("vec_id", "embedding", "chunk_text")
    target = emb.filter(F.col("vec_id") == 3001).first()
    query = spark.createDataFrame(
        [(999999, target["chunk_text"])], ["vec_id", "text"]
    )
    q_emb = embed_documents(query, dim=16).select("vec_id", "embedding")
    cb = sample_pq_codebook(emb, m=4, ks=8, dim=16)
    out = ann_pq(pq_encode(emb, cb), q_emb, cb, k=len(emb.collect())).collect()
    best_adc = min(r["adc"] for r in out)
    hit = next(r for r in out if r["n_id"] == 3001)
    assert hit["adc"] == best_adc


def test_minhash_scale_probe_full_recall_on_planted(spark, sf_dir):
    """The bench probe's banding-matched parameters (b=8, r=6 for the
    0.7 bar) must keep exactly-full recall on the planted near-dups
    (jaccard ≈ 0.95 ≫ the 0.71 S-curve midpoint)."""
    from rabbit_data_pipeline_spark.queries.llm import dedup_minhash_scale

    row = dedup_minhash_scale(spark, sf_dir).first()
    assert row["copies_left"] == 0


def test_train_pq_codebook_reduces_quantization_error(spark, sf_dir):
    """Lloyd training must strictly improve mean reconstruction error
    over the sampled init on the real embeddings (deterministic:
    fixed seeds, exact decimal-free double math on fixed data)."""
    from rabbit_data_pipeline_spark.operators.similarity import (
        pq_quantization_error,
        sample_pq_codebook,
        train_pq_codebook,
    )
    from rabbit_data_pipeline_spark.session import load_tables

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"].select("vec_id", "embedding")
    init = sample_pq_codebook(e, m=4, ks=8, dim=64)
    trained = train_pq_codebook(e, m=4, ks=8, dim=64, n_iters=3)
    e0 = pq_quantization_error(e, init)
    e1 = pq_quantization_error(e, trained)
    assert e1 < e0 * 0.8, (e0, e1)


def test_train_pq_codebook_recovers_planted_prototypes(spark):
    """Subspace clusters: every vector's subspace-j slice is one of 4
    prototypes + small noise — training must place a centroid near
    each prototype (error collapses vs sampled init on clustered
    data)."""
    import random as _random

    from rabbit_data_pipeline_spark.operators.similarity import (
        pq_quantization_error,
        train_pq_codebook,
    )

    rng = _random.Random(7)
    m, dsub = 2, 4
    protos = [[[rng.gauss(0, 3) for _ in range(dsub)] for _ in range(4)] for _ in range(m)]
    rows = []
    for i in range(200):
        vec = []
        for j in range(m):
            p = protos[j][rng.randrange(4)]
            vec.extend(x + rng.gauss(0, 0.05) for x in p)
        rows.append((i, vec))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    trained = train_pq_codebook(df, m=m, ks=4, dim=m * dsub, n_iters=5)
    err = pq_quantization_error(df, trained)
    # noise floor: E[Σ (x-proto)²] = dim * 0.05² = 8 * 0.0025 = 0.02
    assert err < 0.1, err


def test_sample_exact_k_matches_python_md5_ranking(spark):
    """The md5 ranking is reproducible OUTSIDE Spark too — the same
    selection falls out of python's hashlib, which is what makes the
    draw auditable."""
    import hashlib

    from rabbit_data_pipeline_spark.operators.text import sample_exact_k

    rows = [(i, f"g{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    got = {(r["source"], r["doc_id"]) for r in sample_exact_k(df, "source", k=4).collect()}
    want = set()
    for g in ("g0", "g1", "g2"):
        ids = [i for i, gg in rows if gg == g]
        ranked = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        want.update((g, i) for i in ranked[:4])
    assert got == want


def test_dsir_ranks_target_like_docs_highest(spark):
    """DSIR importance weights must surface exactly the 8 source docs
    drawn from the target subvocab as the top-8, with a clear margin,
    and agree with the pure-Python replica of the same model."""
    from rabbit_data_pipeline_spark.operators.text import dsir_log_weights
    from rabbit_data_pipeline_spark.queries.seeded import (
        _py_bucket,
        _py_grams,
        dsir_corpora,
        dsir_models,
    )

    source, _ = dsir_corpora()
    t_lp, s_lp = dsir_models()
    df = spark.createDataFrame(source, ["doc_id", "text"])
    got = {r["doc_id"]: r["log_weight"] for r in dsir_log_weights(df, t_lp, s_lp).collect()}
    top8 = sorted(got, key=lambda i: -got[i])[:8]
    assert sorted(top8) == list(range(32, 40))
    # margin: every target-vocab doc beats every generic doc
    assert min(got[i] for i in range(32, 40)) > max(got[i] for i in range(32))
    # python replica agreement (same fold order → tight bound)
    for i, t in source:
        py = 0.0
        for g in _py_grams(t):
            py += t_lp[_py_bucket(g)] - s_lp[_py_bucket(g)]
        assert abs(py - got[i]) < 1e-9


def test_ivf_index_roundtrip(spark, tmp_path):
    """Index persistence: save → load returns the exact centroid and
    codebook floats, and an IVF-PQ query over the loaded index equals
    the query over the in-memory one."""
    from rabbit_data_pipeline_spark.operators.similarity import (
        ann_ivfpq,
        load_ivf_index,
        save_ivf_index,
    )
    from rabbit_data_pipeline_spark.queries.seeded import ivfpq_corpus

    corpus, centroids, codebook = ivfpq_corpus()[:3]
    p = str(tmp_path / "idx")
    save_ivf_index(spark, p, centroids, codebook)
    c2, cb2 = load_ivf_index(spark, p)
    assert c2 == sorted(centroids) and cb2 == codebook
    df = spark.createDataFrame(corpus, "vec_id long, embedding array<double>")
    q = df.filter("vec_id < 3")
    want = sorted(map(tuple, ann_ivfpq(df, q, centroids, codebook, k=5).collect()))
    got = sorted(map(tuple, ann_ivfpq(df, q, c2, cb2, k=5).collect()))
    assert got == want


def test_corpus_diff_null_text_is_presence_not_hash(spark):
    """A row whose TEXT is null is still PRESENT: presence flags (not
    md5-nullness) must decide added/removed, and two null texts are
    unchanged (null-safe hash comparison)."""
    from rabbit_data_pipeline_spark.operators.text import corpus_diff

    old = spark.createDataFrame(
        [(1, None), (2, "x"), (3, None), (4, "gone")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "hello"), (2, None), (3, None), (5, "fresh")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert got == {1: "changed", 2: "changed", 3: "unchanged", 4: "removed", 5: "added"}


def test_perplexity_score_hand_computed(spark):
    """Tiny corpus with hand-derived add-0.5 bigram probabilities:
    c(a,b)=3, c(b,a)=1, c(x,y)=1; c(a·)=3, c(b·)=1, c(x·)=1; V=4.
    P(a,b)=3.5/5=.7, P(b,a)=P(x,y)=1.5/3=.5."""
    import math

    from rabbit_data_pipeline_spark.operators.text import perplexity_score

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x y"), (4, "solo")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in perplexity_score(df).collect()}
    assert 4 not in rows  # no bigrams -> no score
    t7 = math.floor(-math.log10(0.7) * 1e6 + 0.5)
    t5 = math.floor(-math.log10(0.5) * 1e6 + 0.5)
    assert rows[1]["n_bigrams"] == 3
    assert rows[1]["avg_neg_logp"] == (2 * t7 + t5) / 1e6 / 3
    assert rows[2]["avg_neg_logp"] == t7 / 1e6
    assert rows[3]["avg_neg_logp"] == t5 / 1e6
    # fluent repetition scores lower than the one-off bigram
    assert rows[2]["avg_neg_logp"] < rows[3]["avg_neg_logp"]


def test_bpe_hand_derived_merges(spark):
    """corpus 'aaab aaab': pair counts (a,a)=4, (a,b)=2 -> merge (a,a);
    then (aa,a)=2 ties (a,b)=2 and ('a','b') < ('aa','a') wins the
    lexicographic tie-break; then (aa,ab)=2. Derived by hand, so a bug
    shared by the distributed trainer and its Python twin still fails."""
    from rabbit_data_pipeline_spark.operators.bpe import reference_bpe, train_bpe

    expected = [(0, "a", "a"), (1, "a", "b"), (2, "aa", "ab")]
    assert reference_bpe(["aaab aaab"], n_merges=5) == expected
    df = spark.createDataFrame([(1, "aaab aaab")], ["doc_id", "text"])
    assert train_bpe(df, n_merges=5) == expected


def test_bpe_encode_greedy_left_to_right(spark):
    """'aaa' under merge (a,a) must become [aa, a] — the merged tail
    does not re-pair — and unseen symbols pass through untouched."""
    from rabbit_data_pipeline_spark.operators.bpe import bpe_encode, reference_encode

    merges = [(0, "a", "a")]
    assert reference_encode("aaa xy", merges) == ["aa·a", "x·y"]
    df = spark.createDataFrame([(1, "aaa xy")], ["doc_id", "text"])
    row = bpe_encode(df, merges).collect()[0]
    assert row["tokens"] == "aa·a x·y"
    assert row["n_tokens"] == 4


def test_pagerank_hand_verified_fixed_point(spark):
    """Symmetric 2-node graph: n=2, init=5e8 nano; base=(1e9*15)//200
    =75e6; contribution=score//1=5e8; update=75e6+(85*5e8)//100=5e8 —
    the uniform vector is an exact integer fixed point, so every
    iteration returns rank 0.5 to the last bit. A 3-leaf star must
    rank the hub strictly above the (equal-rank) leaves."""
    from rabbit_data_pipeline_spark.operators.graph import pagerank

    sym = spark.createDataFrame([("a", "b"), ("b", "a")], ["src", "dst"])
    ranks = {r["node"]: r["rank"] for r in pagerank(sym, iters=3).collect()}
    assert ranks == {"a": 0.5, "b": 0.5}

    star_pairs = [("hub", f"l{i}") for i in range(3)]
    star = spark.createDataFrame(
        star_pairs + [(b, a) for a, b in star_pairs], ["src", "dst"]
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(star, iters=6).collect()}
    assert ranks["hub"] > ranks["l0"]
    assert ranks["l0"] == ranks["l1"] == ranks["l2"]
    assert abs(sum(ranks.values()) - 1.0) < 1e-6  # mass conserved up to int truncation


def test_pagerank_in_complete_bit_identical_on_symmetric_graph(spark):
    """r15: `in_complete=True` (legal whenever every node has an
    in-edge, e.g. any symmetrized edge list) skips the per-round node
    left join. On a symmetric graph it must be BIT-identical to the
    default path — same nodes, same integer fixed-point ranks."""
    from rabbit_data_pipeline_spark.operators.graph import pagerank

    star_pairs = [("hub", f"l{i}") for i in range(3)] + [("l0", "l1")]
    star = spark.createDataFrame(
        star_pairs + [(b, a) for a, b in star_pairs], ["src", "dst"]
    )
    base = {r["node"]: r["rank"] for r in pagerank(star, iters=6).collect()}
    fast = {
        r["node"]: r["rank"]
        for r in pagerank(star, iters=6, in_complete=True).collect()
    }
    assert fast == base
    # and the lazy path composes with the flag too
    lazy = {
        r["node"]: r["rank"]
        for r in pagerank(star, iters=4, eager=False, in_complete=True).collect()
    }
    lazy_base = {
        r["node"]: r["rank"] for r in pagerank(star, iters=4, eager=False).collect()
    }
    assert lazy == lazy_base


def test_graph_loops_agree_with_and_without_size_gated_broadcast(spark):
    """r15: pagerank's per-round score join and kcore's per-round
    survivor semi-joins broadcast the counted-small side only while it
    fits the session broadcast budget. Forcing the budget to 0 must
    take the shuffle fallback and return identical results."""
    from rabbit_data_pipeline_spark.operators.graph import kcore, pagerank

    star_pairs = [("hub", f"l{i}") for i in range(3)] + [("l0", "l1")]
    star = spark.createDataFrame(
        star_pairs + [(b, a) for a, b in star_pairs], ["src", "dst"]
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(star, iters=4, in_complete=True).collect()}
    core = {r["node"]: r["deg"] for r in kcore(star, k=2).collect()}
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "0")
        ranks0 = {
            r["node"]: r["rank"] for r in pagerank(star, iters=4, in_complete=True).collect()
        }
        core0 = {r["node"]: r["deg"] for r in kcore(star, k=2).collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert ranks0 == ranks
    assert core0 == core


def test_broadcast_budget_rows_parses_spark_byte_strings(spark):
    """ADVICE r15 #1: the budget gate must accept every size-string
    form Spark's byteString parser does ("10mb" crashed the old inline
    parse; "1t" silently read as 1 byte), disable on -1, and fall back
    to the 10 MB default on garbage instead of raising."""
    from rabbit_data_pipeline_spark.operators.graph import _broadcast_budget_rows

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    cases = {
        "10485760": 10485760 // 40,
        "10m": (10 << 20) // 40,
        "10mb": (10 << 20) // 40,
        "10MB": (10 << 20) // 40,
        "1g": (1 << 30) // 40,
        "1t": (1 << 40) // 40,
        "512k": (512 << 10) // 40,
        "100b": 100 // 40,
        "-1": 0,
        "0": 0,
    }
    try:
        for raw, want in cases.items():
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", raw)
            assert _broadcast_budget_rows(spark) == want, raw
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # Spark validates conf.set, so the garbage fallback (10 MB default,
    # never a raise) is exercised through a stub conf instead.
    class _Conf:
        def get(self, *_):
            return "banana"

    class _Stub:
        conf = _Conf()

    assert _broadcast_budget_rows(_Stub()) == (10 << 20) // 40


def test_frontier_loops_agree_with_and_without_size_gated_broadcast(spark):
    """BFS, SSSP and connected components size-gate a broadcast of
    their counted-small sides, the same pattern as pagerank/kcore.
    Forcing the budget to 0 must take the shuffle fallback and return
    identical results; connected components then skips its node count,
    since no broadcast can fire."""
    import time

    from rabbit_data_pipeline_spark.operators.graph import (
        bfs_distances,
        connected_components,
        weighted_sssp,
    )

    und = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("b", "e")]
    edges = spark.createDataFrame(und + [(y, x) for x, y in und], ["src", "dst"])
    wedges = spark.createDataFrame(
        [(u, v, 2) for u, v in und] + [(v, u, 2) for u, v in und], ["src", "dst", "w"]
    )
    pairs = spark.createDataFrame([("a", "b"), ("b", "c"), ("x", "y")], ["id_a", "id_b"])
    sc = spark.sparkContext

    def cc_with_jobs():
        group = f"cc-jobs-{time.time_ns()}"
        sc.setJobGroup(group, "connected_components job count")
        try:
            got = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
        finally:
            sc.setJobGroup("", "")
        return got, len(sc.statusTracker().getJobIdsForGroup(group))

    bfs = {r["node"]: r["dist"] for r in bfs_distances(edges, ["a"]).collect()}
    sssp = {r["node"]: r["dist"] for r in weighted_sssp(wedges, ["a"]).collect()}
    cc = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "0")
        bfs0 = {r["node"]: r["dist"] for r in bfs_distances(edges, ["a"]).collect()}
        sssp0 = {r["node"]: r["dist"] for r in weighted_sssp(wedges, ["a"]).collect()}
        cc0, jobs0 = cc_with_jobs()
        # 40 bytes is a budget of one row: the node count runs, but no
        # side of five nodes fits, so the plans match the budget-0 ones.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "40")
        cc1, jobs1 = cc_with_jobs()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert bfs0 == bfs == {"a": 0, "b": 1, "c": 2, "d": 3, "e": 2}
    assert sssp0 == sssp == {"a": 0, "b": 2, "c": 4, "d": 6, "e": 4}
    assert cc0 == cc1 == cc == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    # The skipped count is one action: two Spark jobs under AQE (its
    # aggregation's shuffle stage runs as a job of its own).
    assert 0 < jobs1 - jobs0 <= 2, (jobs0, jobs1)


def test_bfs_distances_hand_verified(spark):
    """Path graph a-b-c-d (undirected) from a: dists 0,1,2,3; early
    exit leaves unreachable z absent."""
    from rabbit_data_pipeline_spark.operators.graph import bfs_distances

    und = [("a", "b"), ("b", "c"), ("c", "d"), ("z", "z2")]
    edges = spark.createDataFrame(und + [(y, x) for x, y in und], ["src", "dst"])
    got = {r["node"]: r["dist"] for r in bfs_distances(edges, ["a"], max_hops=10).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}


def test_triangle_count_hand_verified(spark):
    """K4 has C(4,3)=4 triangles; adding a pendant edge adds none.
    The pendant also makes degrees uneven, exercising the
    degree-ordered orientation."""
    from itertools import combinations

    from rabbit_data_pipeline_spark.operators.graph import triangle_count

    k4 = [(a, b) for a, b in combinations(["a", "b", "c", "d"], 2)]
    edges = spark.createDataFrame(k4 + [("d", "e")], ["u", "v"])
    assert triangle_count(edges).collect()[0]["n_triangles"] == 4


def test_inverted_index_shards_and_orders(spark):
    """3 docs sharing 'a': shard_size=2 splits the postings at doc
    order [1,2],[3]; per-doc duplicates collapse before counting."""
    from rabbit_data_pipeline_spark.operators.text import inverted_index

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "a b")], ["doc_id", "text"]
    )
    rows = {
        (r["term"], r["shard"]): (r["n_docs"], r["postings"])
        for r in inverted_index(df, shard_size=2).collect()
    }
    assert rows[("a", 0)] == (2, "1,2")
    assert rows[("a", 1)] == (1, "3")
    assert rows[("b", 0)] == (2, "1,3")
    assert rows[("c", 0)] == (1, "2")


def test_bm25_ranks_rarer_term_higher(spark):
    """Two docs of equal length: the one matching the rarer query term
    outranks the one matching the common term (idf dominates at tf=1)."""
    from rabbit_data_pipeline_spark.operators.text import bm25_scores

    df = spark.createDataFrame(
        [(1, "rare w x y"), (2, "common w x y"), (3, "common p q r"), (4, "common s t u")],
        ["doc_id", "text"],
    )
    got = bm25_scores(df, ["rare", "common"], top_k=4).collect()
    assert got[0]["doc_id"] == 1  # rare-term doc first
    assert got[0]["bm25"] > got[1]["bm25"]


def test_collocations_pmi_prefers_exclusive_pair(spark):
    """'x y' always co-occur exclusively; 'a b' share their words with
    other contexts — PMI must rank (x,y) above (a,b)."""
    from rabbit_data_pipeline_spark.operators.text import collocations

    rows = [(i, "x y") for i in range(5)] + [(100 + i, "a b") for i in range(5)] + [
        (200 + i, "a c b d") for i in range(5)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = collocations(df, min_count=5, top_k=10).collect()
    pmi = {(r["w1"], r["w2"]): r["pmi"] for r in got}
    assert pmi[("x", "y")] > pmi[("a", "b")]


def test_kcore_hand_verified_peeling(spark):
    """Triangle a-b-c plus pendant d-a: 2-core must peel d first, then
    keep exactly the triangle with in-core degree 2 each — two rounds,
    exercising the cascade."""
    from rabbit_data_pipeline_spark.operators.graph import kcore

    und = [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")]
    edges = spark.createDataFrame(und + [(y, x) for x, y in und], ["src", "dst"])
    got = {r["node"]: r["deg"] for r in kcore(edges, k=2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}


def test_weighted_sssp_prefers_cheap_detour(spark):
    """a->b costs 10 direct but 3 via c (2+1): the relaxation must
    take the two-hop path; unreachable z stays absent."""
    from rabbit_data_pipeline_spark.operators.graph import weighted_sssp

    edges = spark.createDataFrame(
        [("a", "b", 10), ("a", "c", 2), ("c", "b", 1), ("z", "z2", 5)],
        ["src", "dst", "w"],
    )
    got = {r["node"]: r["dist"] for r in weighted_sssp(edges, ["a"]).collect()}
    assert got == {"a": 0, "c": 2, "b": 3}


def test_nb_classifier_separates_toy_languages(spark):
    """Two toy 'languages' with disjoint vocab: self-classification
    must recover every label, and an unseen mixed doc must go to the
    class whose words dominate it."""
    from rabbit_data_pipeline_spark.operators.classify import nb_classify, nb_train

    import pyspark.sql.functions as F

    train = spark.createDataFrame(
        [(1, "le chat dort", "fr"), (2, "le chien dort", "fr"),
         (3, "the cat sleeps", "en"), (4, "the dog sleeps", "en")],
        ["doc_id", "text", "lang"],
    )
    model = nb_train(train)
    priors = train.groupBy(F.col("lang").alias("label")).agg(F.count("*").alias("n_docs"))
    got = {r["doc_id"]: r["predicted"] for r in nb_classify(train, model, priors).collect()}
    assert got == {1: "fr", 2: "fr", 3: "en", 4: "en"}

    test = spark.createDataFrame([(9, "the cat dort sleeps")], ["doc_id", "text"])
    assert nb_classify(test, model, priors).collect()[0]["predicted"] == "en"


def test_bloom_decontaminate_never_misses_true_positives(spark, sf_smoke):
    """Bloom membership has false positives but NO false negatives:
    every doc the exact gram-join flags must also be bloom-flagged."""
    from rabbit_data_pipeline_spark.operators.text import bloom_decontaminate, decontaminate
    from rabbit_data_pipeline_spark.session import load_tables

    import pyspark.sql.functions as F

    d = load_tables(spark, sf_smoke, ("documents",))["documents"]
    bench = d.filter(F.col("doc_id") % 250 == 0)
    exact = {r["doc_id"] for r in decontaminate(d, bench, k=8).collect()}
    bloom = {r["doc_id"] for r in bloom_decontaminate(d, bench, k=8).collect()}
    assert exact and exact <= bloom
