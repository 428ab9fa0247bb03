"""Text-analysis operators for large-scale training-data pipelines:
language ID, quality scoring, token counting, fingerprinting.

Every function is a single-pass column expression — no shuffle, no
UDF: at 100 TB these run at parquet-scan speed and stay inside
whole-stage codegen. Each has an exact DuckDB-SQL twin (queries/llm.py)
because the formulas use only functions with identical semantics in
both engines (regexp_count on RE2-compatible patterns, md5, integer
arithmetic, double division).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Tiny per-language stopword lists for the heuristic language scorer.
# Deliberately small + word-boundary matched: the score is a determin-
# istic function, not a model — the scale story is the shape (one
# regexp_count per language, one pass), not the lexicon size.
LANG_STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "los", "una", "por"],
    "fr": ["le", "la", "les", "et", "des", "une", "est", "que"],
}
CJK_PATTERN = r"[\x{4e00}-\x{9fff}]"
PUNCT_PATTERN = r"[.,;:!?]"
# Whitespace, spelled out: Java's `\s` is exactly these six ASCII
# characters, but RE2's `\s` (pyarrow.compute, DuckDB) leaves out \x0B.
# Every pattern the Arrow pass or a DuckDB oracle also evaluates uses
# this class, so all three engines split text the same way.
WS_CHARS = r" \t\n\x0B\f\r"
WS_RUN = f"[{WS_CHARS}]+"
# BPE-ish pieces: runs of up to 4 alphanumerics, or a single symbol.
BPE_PATTERN = f"[A-Za-z0-9]{{1,4}}|[^A-Za-z0-9{WS_CHARS}]"


def norm_text(col: Column) -> Column:
    """Canonical form for hashing/dedup: lowercase, collapse runs of
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), WS_RUN, " "))


def ws_token_count(col: Column) -> Column:
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, WS_RUN)))


def bpe_token_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(BPE_PATTERN))


def token_counts_arrow(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Vectorized twin of the (ws_token_count, bpe_token_count) pair:
    one mapInArrow pass running the same patterns through
    pyarrow.compute (RE2) — guide §4.2's "one pyarrow.compute
    expression per batch beats the equivalent chain of JVM
    expressions". Returns (id_col, ws_tokens, bpe_tokens), exactly the
    text_tokens projection, with id_col keeping its input type.

    Intended to match the JVM pair row for row; these are the points
    where the two could drift apart, and how each is kept aligned:
    - trim is space-only (`utf8_trim(_, " ")`), matching Spark/DuckDB
      `trim` — NOT utf8_trim_whitespace, which strips tabs/newlines
      and would diverge on data with non-space edges;
    - for a space-trimmed non-empty string, `size(split(t, WS_RUN))`
      == separator-run count + 1 (leading/trailing non-space
      whitespace contributes an empty token on the split side AND a
      run on the count side, so the identity holds for any input);
    - the patterns spell whitespace as WS_CHARS, never `\\s`, whose
      meaning differs between Java and RE2 (\\x0B), and otherwise stay
      in the Java∩RE2-agreeing subset the module header requires.
    Checked against the JVM pair on real data, edge cases and generated
    text by tests/test_text_props.py.

    On small tables the fixed Arrow boundary cost outweighs the faster
    regexes, so callers gate on session.arrow_text_worthwhile."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def run(batches):
        for b in batches:
            text = b.column(text_col)
            t = pc.utf8_trim(text, " ")
            ws = pc.if_else(
                pc.equal(pc.utf8_length(t), 0),
                pa.scalar(0, pa.int32()),
                pc.add(pc.count_substring_regex(t, WS_RUN), 1).cast(pa.int32()),
            )
            bpe = pc.count_substring_regex(text, BPE_PATTERN).cast(pa.int32())
            yield pa.RecordBatch.from_arrays(
                [b.column(id_col), ws, bpe], [id_col, "ws_tokens", "bpe_tokens"]
            )

    id_type = df.schema[id_col].dataType.simpleString()
    # project FIRST: mapInArrow is opaque to column pruning (guide §4.1)
    return df.select(id_col, text_col).mapInArrow(
        run, f"{id_col} {id_type}, ws_tokens int, bpe_tokens int"
    )


def stopword_hits(col: Column, words: list[str]) -> Column:
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(col), F.lit(pat))


def lang_scores(col: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts + CJK char count for zh."""
    scores = {lang: stopword_hits(col, words) for lang, words in LANG_STOPWORDS.items()}
    scores["zh"] = F.regexp_count(col, F.lit(CJK_PATTERN))
    return scores


def lang_id(col: Column) -> Column:
    """The language code with the highest score in `lang_scores`.

    One `array_max` over (score, tie rank, code) structs, so each score
    is evaluated once. Structs compare field by field:
    - the highest score wins;
    - on a tie the alphabetically first code wins, because its tie
      rank `-i` is the largest;
    - a trailing ('und', score 0, rank 1) entry beats every score of 0,
      so text with no hits at all, and null text (whose null scores
      sort below 0), gives 'und'."""
    scores = lang_scores(col)

    def entry(score: Column, rank: int, lang: str) -> Column:
        return F.struct(score.alias("score"), F.lit(rank).alias("rank"), F.lit(lang).alias("lang"))

    entries = [entry(scores[lang], -i, lang) for i, lang in enumerate(sorted(scores))]
    return F.array_max(F.array(*entries, entry(F.lit(0), 1, "und"))).getField("lang")


def quality_features(col: Column) -> dict[str, Column]:
    n_chars = F.length(col)
    n_words = ws_token_count(col)
    punct = F.regexp_count(col, F.lit(PUNCT_PATTERN))
    upper = F.regexp_count(col, F.lit("[A-Z]"))
    stop = stopword_hits(col, LANG_STOPWORDS["en"])
    nz = lambda c: F.greatest(c, F.lit(1))  # noqa: E731
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "punct_ratio": punct.cast("double") / nz(n_chars),
        "upper_ratio": upper.cast("double") / nz(n_chars),
        "stopword_ratio": stop.cast("double") / nz(n_words),
        "avg_word_len": n_chars.cast("double") / nz(n_words),
    }


def quality_score(col: Column) -> Column:
    """Deterministic 0-1 quality heuristic: rewards sane length, word
    shape and English stopword presence; punishes punctuation soup.
    Weights are integers/halves so double math is exact cross-engine."""
    f = quality_features(col)
    length_ok = F.when((f["n_chars"] >= 100) & (f["n_chars"] <= 20000), F.lit(0.25)).otherwise(F.lit(0.0))
    words_ok = F.when((f["avg_word_len"] >= 3.0) & (f["avg_word_len"] <= 12.0), F.lit(0.25)).otherwise(F.lit(0.0))
    stop_ok = F.when(f["stopword_ratio"] >= 0.05, F.lit(0.25)).otherwise(F.lit(0.0))
    punct_ok = F.when(f["punct_ratio"] <= 0.1, F.lit(0.25)).otherwise(F.lit(0.0))
    return length_ok + words_ok + stop_ok + punct_ok


def fingerprint(col: Column) -> Column:
    """Content fingerprint: md5 of the normalized text (exact-dup key;
    identical spelling in DuckDB → oracle-able)."""
    return F.md5(norm_text(col))


def with_text_analysis(df: DataFrame, text_col: str = "text") -> DataFrame:
    c = F.col(text_col)
    feats = quality_features(c)
    return df.withColumns(
        {
            "lang_guess": lang_id(c),
            "quality": quality_score(c),
            "ws_tokens": ws_token_count(c),
            "bpe_tokens": bpe_token_count(c),
            "fingerprint": fingerprint(c),
            **{k: v for k, v in feats.items() if k not in df.columns},
        }
    )


# ------------------------------------------------------ PII redaction

# Patterns written in the common subset of Java regex (Spark) and RE2
# (DuckDB): no backrefs, no lookaround, explicit character classes.
# Declaration order IS application order: most-specific first, so the
# generic phone pattern can't eat an SSN-shaped id.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": rf"\+?[0-9][0-9()\-{WS_CHARS}]{{7,}}[0-9]",
}


def redact_pii(col: Column, kinds: list[str] | None = None) -> Column:
    """Replace emails / phone numbers / IPv4s / SSN-shaped ids with
    ``[KIND]`` tokens — the scrubbing pass every training-data pipeline
    runs before anything else sees the text. Chained regexp_replace:
    single scan, shuffle-free, whole-stage-codegen (no Python). The
    patterns deliberately use the Java∩RE2 regex subset so the DuckDB
    oracle applies the IDENTICAL expressions."""
    out = col
    for kind in kinds or list(PII_PATTERNS):
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"[{kind.upper()}]")
    return out


def sql_redact_pii(expr: str, kinds: list[str] | None = None) -> str:
    """DuckDB spelling of redact_pii (regexp_replace with 'g')."""
    out = expr
    for kind in kinds or list(PII_PATTERNS):
        pat = PII_PATTERNS[kind].replace("'", "''")
        out = f"regexp_replace({out}, '{pat}', '[{kind.upper()}]', 'g')"
    return out


# ------------------------------------------------------ chunking


def chunk_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_chars: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split documents into fixed-size character windows with overlap —
    the context-window prep step for embedding/training. Pure built-ins:
    sequence() generates chunk starts, explode fans out, substring
    slices — one scan, no Python, no shuffle; at 100 TB this is a
    map-only stage that AQE never touches.

    Output: (id_col, chunk_id, chunk_text). Stride = chunk_chars -
    overlap; the final partial chunk is kept (min length 1)."""
    if overlap >= chunk_chars:
        raise ValueError("overlap must be < chunk_chars")
    stride = chunk_chars - overlap
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.lit(0), F.floor((F.length(F.col(text_col)) - 1) / stride).cast("int")),
    )
    return (
        df.select(
            id_col,
            F.col(text_col),
            F.explode(starts).alias("chunk_id"),
        )
        .select(
            id_col,
            "chunk_id",
            F.substring(F.col(text_col), F.col("chunk_id") * stride + 1, chunk_chars).alias("chunk_text"),
        )
        .filter(F.length("chunk_text") > 0)
    )


def word_kgrams(col: Column, k: int = 8) -> Column:
    """Distinct word k-grams of normalized text (space-joined) — the
    overlap unit for decontamination. Built-ins only: one split, one
    sequence/transform, no Python."""
    toks = F.split(norm_text(col), " ")
    n = F.size(toks)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Train/test contamination check: corpus documents sharing at
    least `min_shared` distinct word k-grams with ANY benchmark
    document. The standard LLM-training hygiene step (n-gram collision
    decontamination) the reference has no analogue for.

    Scale shape: explode k-grams on both sides, equi-join ON THE GRAM
    (one shuffle keyed by gram; the benchmark side is tiny — eval sets
    are thousands of rows — so it broadcasts), then count distinct
    shared grams per corpus doc. No all-pairs doc comparison exists
    anywhere: the gram join only materializes actual collisions.
    Returns (id_col, n_shared) for contaminated docs.
    """
    c = corpus.select(F.col(id_col), F.explode(word_kgrams(F.col(text_col), k)).alias("gram"))
    b = benchmark.select(F.explode(word_kgrams(F.col(text_col), k)).alias("gram")).distinct()
    return (
        c.join(F.broadcast(b), on="gram")
        .groupBy(id_col)
        .agg(F.count_distinct("gram").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def repeated_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_docs: int = 3,
) -> DataFrame:
    """Cross-document repeated n-gram detection — the signal behind
    substring-level training-data dedup (boilerplate, licenses,
    templated spam appear verbatim across many documents even when
    whole-doc near-dup misses them; cf. Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better").

    Word k-grams occurring in ≥ `min_docs` DISTINCT documents are
    "repeated"; returns per affected doc: how many of its distinct
    grams are repeated and the widest spread among them
    (id, n_repeated, max_gram_docs).

    Scale shape: one gram explode (distinct per doc), ONE shuffle
    keyed by gram for the doc-frequency count, then an equi-join of
    the gram stream back to the heavy grams — the join key is again
    the gram, so AQE reuses the exchange; heavy-gram tables are small
    (boilerplate is rare among distinct grams) and broadcast. No
    all-pairs doc comparison anywhere."""
    grams = df.select(F.col(id_col), F.explode(word_kgrams(F.col(text_col), k)).alias("gram"))
    heavy = (
        grams.groupBy("gram")
        .agg(F.count_distinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    return (
        grams.join(F.broadcast(heavy), on="gram")
        .groupBy(id_col)
        .agg(
            F.count_distinct("gram").alias("n_repeated"),
            F.max("n_docs").alias("max_gram_docs"),
        )
    )


def gopher_repetition(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dup_word_frac: float = 0.3,
    max_top_bigram_frac: float = 0.2,
) -> DataFrame:
    """Gopher-style repetition/quality signals (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", App. A1.1): per document the
    duplicate-word fraction, the fraction of word bigrams covered by
    the single most repeated bigram, and the mean word length — the
    intra-document repetition filters every web-scale corpus applies
    after near-dup removal (they catch keyword-stuffed spam and
    boilerplate loops that WHOLE-document dedup cannot).

    Scale shape: word stats (distinct count, char sum) are pure HOFs
    over the token array — no shuffle; only the top-bigram mode needs
    an explode + two aggregations, both keyed by id (the second
    reuses the first's partitioning). No Python, no all-pairs, and the
    explode fan-out is n_words-1 per doc — linear in corpus size.

    Returns (id, n_words, dup_word_frac, top_bigram_frac,
    mean_word_len, keep) where `keep` applies the two thresholds."""
    toks = F.split(norm_text(F.col(text_col)), " ")
    base = df.select(F.col(id_col), toks.alias("__toks"))
    n = F.size(F.col("__toks"))
    stats = base.select(
        id_col,
        n.alias("n_words"),
        F.size(F.array_distinct("__toks")).alias("n_distinct"),
        F.aggregate("__toks", F.lit(0), lambda a, t: a + F.length(t)).alias("char_sum"),
    )
    t = F.col("__toks")
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    top = (
        base.select(id_col, F.explode(bigrams).alias("bigram"))
        .groupBy(id_col, "bigram")
        .count()
        .groupBy(id_col)
        .agg(F.max("count").alias("top_n"))
    )
    nz = F.greatest(F.col("n_words"), F.lit(1))
    return (
        stats.join(top, on=id_col, how="left")
        .select(
            id_col,
            "n_words",
            ((F.col("n_words") - F.col("n_distinct")).cast("double") / nz).alias("dup_word_frac"),
            (
                F.coalesce(F.col("top_n"), F.lit(0)).cast("double")
                / F.greatest(F.col("n_words") - 1, F.lit(1))
            ).alias("top_bigram_frac"),
            (F.col("char_sum").cast("double") / nz).alias("mean_word_len"),
        )
        .withColumn(
            "keep",
            (F.col("dup_word_frac") <= max_dup_word_frac)
            & (F.col("top_bigram_frac") <= max_top_bigram_frac),
        )
    )


def tfidf_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Per-document top-k characteristic terms by TF-IDF — the keyword
    signal used for topic bucketing / domain tagging of training
    corpora. Returns (id, term, tf, df, rank).

    Ranking uses the raw quotient tf/df (ties → term asc): for a fixed
    corpus this orders identically to tf·ln(N/df) where it matters
    (same tf ⇒ lower df wins) and — unlike ln — IEEE division is
    bit-identical across engines, so the result is exactly
    reproducible. Call `F.log` on top if the caller wants the
    conventional score.

    Scale shape: one explode; TF aggregates on (id, term); DF
    aggregates the slim TF rows on term; the DF join is again keyed by
    term (exchange reuse); the final top-k is one window keyed by id.
    Everything is counts over exploded tokens — linear in corpus
    token count, no all-pairs, no Python.

    `max_df` is the stopword-skew guard: terms in more than max_df
    documents are dropped BEFORE the join — they are definitionally
    uninformative for TF-IDF (df ≈ N ⇒ idf ≈ 0) and they are exactly
    the keys that would hot-spot the term-keyed shuffle at corpus
    scale (the salt_cap idiom, applied by pruning instead of
    salting because the pruned keys carry no signal)."""
    toks = F.split(norm_text(F.col(text_col)), " ")
    terms = df.select(F.col(id_col), F.explode(toks).alias("term")).filter(F.col("term") != "")
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    if max_df is not None:
        dfreq = dfreq.filter(F.col("df") <= max_df)
    w = Window.partitionBy(id_col).orderBy(
        (F.col("tf").cast("double") / F.col("df")).desc(), F.col("term")
    )
    return (
        tf.join(dfreq, on="term")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(id_col, "term", "tf", "df", "rank")
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    broadcast_heavy: bool = True,
) -> DataFrame:
    """Corpus-level line deduplication (the CCNet/RefinedWeb
    boilerplate-removal step): a line appearing in ≥ `min_docs`
    distinct documents is boilerplate (nav menus, cookie banners,
    signatures) and is removed from EVERY document; surviving lines
    are reassembled in their original order. Documents left with no
    lines drop out entirely — their whole content was boilerplate.

    Scale shape: one posexplode (linear in corpus lines), one
    line-keyed shuffle for the distinct-doc count, an anti-join keyed
    by the same line key (exchange reuse; the heavy-line side is tiny
    — boilerplate is rare among DISTINCT lines — and broadcasts), one
    doc-keyed reassembly agg. Order restoration is a struct sort
    inside the agg, not a global sort. Returns (id, text).

    Set `broadcast_heavy=False` when min_docs is low AND the corpus is
    adversarially templated (heavy-line set too big for a broadcast) —
    the anti-join then shuffles both sides on the line key, which the
    explode already partitioned."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).filter(F.trim(F.col("line")) != "")
    heavy = (
        lines.groupBy("line")
        .agg(F.count_distinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("line")
    )
    kept = lines.join(
        F.broadcast(heavy) if broadcast_heavy else heavy, on="line", how="left_anti"
    )
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))), lambda s: s["line"]
            ),
            "\n",
        ).alias(text_col)
    )


def sample_exact_k(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exactly-k-per-group sampling (k or the whole group if smaller)
    — the distributed replacement for per-group reservoir sampling:
    rank rows inside each group by md5(id) and keep the first k. The
    hash ranking is a uniform-ish draw that is deterministic across
    runs, engines and partitionings (md5 hex compares identically
    everywhere — unlike RNG sampling, which no oracle could check, or
    xxhash64, which DuckDB can't compute). One shuffle on the group
    key; at heavy group skew pre-filter with a sampleBy-style fraction
    before the exact rank."""
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


# ------------------------------------------------ URL canonicalization

_URL_SCHEME = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_URL_HOST = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_URL_PATH = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
_URL_QUERY = r"\?([^#]*)"


def canonicalize_url(col: Column) -> Column:
    """Canonical URL form — the key for URL-level dedup of web crawls
    (the first dedup pass of CommonCrawl-derived corpora, before any
    content hashing): lowercase scheme+host, strip the fragment, strip
    the scheme-default port (:80 http / :443 https), default the empty
    path to '/', drop utm_* tracking params, sort the rest. Pure
    regexp/HOF column expression (Java∩RE2 subset) — shuffle-free,
    and mirrored token-for-token by the DuckDB twin below."""
    scheme = F.lower(F.regexp_extract(col, _URL_SCHEME, 1))
    host = F.lower(F.regexp_extract(col, _URL_HOST, 1))
    host = F.when(
        (scheme == "http") & host.endswith(":80"), F.substring(host, 1, F.length(host) - 3)
    ).when(
        (scheme == "https") & host.endswith(":443"), F.substring(host, 1, F.length(host) - 4)
    ).otherwise(host)
    path = F.regexp_extract(col, _URL_PATH, 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    params = F.filter(
        F.split(F.regexp_extract(col, _URL_QUERY, 1), "&"),
        lambda p: (p != "") & ~p.startswith("utm_"),
    )
    query = F.array_join(F.array_sort(params), "&")
    query = F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), query))
    return F.concat(scheme, F.lit("://"), host, path, query)


def sql_canonicalize_url(expr: str) -> str:
    """DuckDB spelling of canonicalize_url (identical regexes)."""
    scheme = f"lower(regexp_extract({expr}, '{_URL_SCHEME}', 1))"
    host0 = f"lower(regexp_extract({expr}, '{_URL_HOST}', 1))"
    host = (
        f"CASE WHEN {scheme} = 'http' AND {host0} LIKE '%:80' THEN {host0}[1:-4] "
        f"WHEN {scheme} = 'https' AND {host0} LIKE '%:443' THEN {host0}[1:-5] "
        f"ELSE {host0} END"
    )
    path0 = f"regexp_extract({expr}, '{_URL_PATH}', 1)"
    path = f"CASE WHEN {path0} = '' THEN '/' ELSE {path0} END"
    params = (
        f"list_sort(list_filter(string_split(regexp_extract({expr}, '\\?([^#]*)', 1), '&'), "
        f"p -> p <> '' AND p NOT LIKE 'utm\\_%' ESCAPE '\\'))"
    )
    query = (
        f"CASE WHEN len({params}) = 0 THEN '' "
        f"ELSE '?' || array_to_string({params}, '&') END"
    )
    return f"{scheme} || '://' || {host} || {path} || {query}"


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Group crawl records by canonical URL: (canon_url, n_variants,
    keep_id) — keep_id is the lowest id, the survivor every URL-level
    dedup keeps. One shuffle on the canonical string."""
    return (
        df.select(F.col(id_col), canonicalize_url(F.col(url_col)).alias("canon_url"))
        .groupBy("canon_url")
        .agg(F.count("*").alias("n_variants"), F.min(id_col).alias("keep_id"))
    )


# --------------------------------------------------- C4 cleaning rules

# Stand-in for the external "List of Dirty, Naughty, Obscene..." list
# C4 filters against — the rule shape (any hit drops the whole page) is
# what matters; swap the real list in via the bad_words parameter.
C4_BAD_WORDS: tuple[str, ...] = ("badword1", "badword2")


def _c4_line_keep(line: Column, min_words: int) -> Column:
    """Line survives C4's line rules: ends in terminal punctuation,
    has >= min_words whitespace words, and doesn't mention javascript
    (Raffel et al. 2020 §2.2, the C4 heuristics)."""
    t = F.trim(line)
    words = F.size(F.filter(F.split(t, " "), lambda w: w != ""))
    return (
        F.substring(t, -1, 1).isin(".", "!", "?", '"')
        & (words >= min_words)
        & ~F.contains(F.lower(t), F.lit("javascript"))
    )


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 5,
    min_lines: int = 3,
    bad_words: tuple[str, ...] = C4_BAD_WORDS,
) -> DataFrame:
    """C4-style corpus cleaning (Raffel et al. 2020 §2.2 — the rules
    that turned Common Crawl into C4): per LINE keep only lines that
    end in a terminal punctuation mark, contain >= `min_words` words,
    and don't mention "javascript"; then drop the whole PAGE if it has
    fewer than `min_lines` surviving lines, contains "lorem ipsum" or
    a curly brace, or hits the bad-word list. (C4's three-sentence-
    span dedup is the separate corpus-level `dedup_lines` /
    `repeated_ngrams` step.)

    Scale shape: pure filter/transform higher-order functions on the
    text column — zero shuffles, zero UDFs, runs at parquet-scan speed
    inside whole-stage codegen; the doc-level filter pushes to the
    scan. Mirrored token-for-token by the DuckDB twin
    (queries/seeded.py), so the gate proves rule-for-rule parity.
    Returns (id, cleaned text, n_lines_kept) for surviving docs."""
    lower = F.lower(F.col(text_col))
    kept = F.filter(
        F.split(F.col(text_col), "\n"), lambda l: _c4_line_keep(l, min_words)
    )
    bad = F.lit(False)
    for w in bad_words:
        bad = bad | F.contains(lower, F.lit(w))
    return (
        df.withColumn("__kept", kept)
        .filter(
            (F.size(F.col("__kept")) >= min_lines)
            & ~F.contains(lower, F.lit("lorem ipsum"))
            & ~F.contains(lower, F.lit("{"))
            & ~bad
        )
        .select(
            F.col(id_col),
            F.array_join(F.transform(F.col("__kept"), F.trim), "\n").alias(text_col),
            F.size(F.col("__kept")).alias("n_lines_kept"),
        )
    )


def sql_c4_clean(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 5,
    min_lines: int = 3,
    bad_words: tuple[str, ...] = C4_BAD_WORDS,
) -> str:
    """DuckDB spelling of c4_clean (identical rule set, list_filter/
    list_transform mirror Spark's filter/transform HOFs)."""
    keep = (
        "right(trim(l), 1) IN ('.', '!', '?', '\"') "
        f"AND len(list_filter(string_split(trim(l), ' '), w -> w <> '')) >= {min_words} "
        "AND NOT contains(lower(trim(l)), 'javascript')"
    )
    bad = " OR ".join(f"contains(lower({text_col}), '{w}')" for w in bad_words)
    return f"""
    WITH kept AS (
      SELECT {id_col},
             list_filter(string_split({text_col}, chr(10)), l -> {keep}) AS klines
      FROM {table}
      WHERE NOT contains(lower({text_col}), 'lorem ipsum')
        AND NOT contains(lower({text_col}), '{{')
        AND NOT ({bad})
    )
    SELECT {id_col},
           array_to_string(list_transform(klines, l -> trim(l)), chr(10)) AS {text_col},
           len(klines) AS n_lines_kept
    FROM kept WHERE len(klines) >= {min_lines}
    """


def stratified_mix(
    df: DataFrame,
    group_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    denom: int = 1000,
) -> DataFrame:
    """Deterministic per-group subsampling — the data-mixing step that
    turns raw source corpora into a weighted training mixture. Keeps a
    row iff ``id % denom < fraction(group) * denom``: reproducible
    across runs/engines (no RNG), filter-only (no shuffle, pushes to
    the scan), and exact-ratio in expectation for uniform ids. Groups
    absent from `fractions` are dropped (weight 0)."""
    frac = None
    for g, f in fractions.items():
        cond = F.col(group_col) == g
        frac = F.when(cond, F.lit(int(f * denom))) if frac is None else frac.when(cond, F.lit(int(f * denom)))
    frac = frac.otherwise(F.lit(0)) if frac is not None else F.lit(0)
    return df.filter(F.pmod(F.col(id_col), F.lit(denom)) < frac)


def pack_sequences(
    df: DataFrame,
    tokens_col: str,
    id_col: str = "doc_id",
    budget: int = 2048,
    n_buckets: int = 64,
) -> DataFrame:
    """Sequence packing: assign each document to a training bin so
    consecutive docs fill a fixed token budget (contiguous-fill
    packing: a bin takes docs until the cumulative count crosses the
    budget, so bins may overflow by at most one doc — the standard
    trade against bin-packing's NP-hardness).

    Scale shape: docs hash into `n_buckets` independent packing
    streams (pmod on the id — deterministic, no RNG), each bucket
    packs with ONE window over its own partition, so the sort never
    goes global and the operator is a single shuffle on the bucket
    key. Bin ids are (bucket, local_bin) strings, unique corpus-wide.
    Within a bucket, docs pack largest-first (classic first-fit-
    decreasing order) with the id as tiebreak, so output is
    deterministic."""
    w = (
        Window.partitionBy("__bucket")
        .orderBy(F.col(tokens_col).desc(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    b = df.withColumn("__bucket", F.pmod(F.col(id_col), F.lit(n_buckets)))
    cum_before = F.sum(tokens_col).over(w) - F.col(tokens_col)
    return b.withColumn(
        "bin", F.concat_ws("_", F.col("__bucket"), F.floor(cum_before / budget))
    ).drop("__bucket")


# ------------------------------------- deterministic dataset splitting


def _split_boundaries(splits: list[tuple[str, float]]) -> list[tuple[str, str]]:
    """(name, upper-bound) pairs: cumulative fractions of the 32-bit
    hash space rendered as fixed-width lowercase hex — an 8-char hex
    string compares lexicographically exactly as its integer value, in
    any engine."""
    out, cum = [], 0.0
    for name, frac in splits:
        cum += frac
        out.append((name, format(min(int(cum * 2**32), 2**32 - 1), "08x")))
    return out


def split_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    splits: list[tuple[str, float]] | None = None,
) -> DataFrame:
    """Deterministic train/val/test assignment — the reproducible
    replacement for randomSplit (whose output depends on partitioning
    and Spark version, so no holdout built with it can ever be
    reproduced or checked): the first 8 hex chars of md5(id) are a
    uniform draw in [0, 2^32) that every engine computes identically,
    and CASE thresholds on the hex string slice the space into the
    requested fractions. A document's split NEVER changes as the
    corpus grows (assignment depends only on its own id) — the
    property that keeps eval sets stable across corpus versions.
    Pure map expression: no shuffle, no RNG, codegen'd.
    Adds a `split` column."""
    splits = splits or [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    h = F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)
    bounds = _split_boundaries(splits)
    expr = None
    for name, ub in bounds[:-1]:
        cond = h < F.lit(ub)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(bounds[-1][0])
    expr = expr.otherwise(last) if expr is not None else last
    return df.withColumn("split", expr)


def sql_split_assign(
    id_expr: str, splits: list[tuple[str, float]] | None = None
) -> str:
    """DuckDB spelling of split_assign's CASE (identical md5 slice +
    hex thresholds)."""
    splits = splits or [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    bounds = _split_boundaries(splits)
    h = f"substr(md5(CAST({id_expr} AS VARCHAR)), 1, 8)"
    whens = " ".join(f"WHEN {h} < '{ub}' THEN '{name}'" for name, ub in bounds[:-1])
    return f"CASE {whens} ELSE '{bounds[-1][0]}' END"


# ------------------------------------------- domain blocklist filtering


def host_of_url(col: Column) -> Column:
    """Lowercased host of a URL, port stripped — the key for
    domain-level crawl policy (blocklists, per-site quotas)."""
    host = F.lower(F.regexp_extract(col, _URL_HOST, 1))
    return F.regexp_replace(host, r":[0-9]+$", "")


def sql_host_of_url(expr: str) -> str:
    return f"regexp_replace(lower(regexp_extract({expr}, '{_URL_HOST}', 1)), ':[0-9]+$', '')"


def domain_filter(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop rows whose URL host is a blocked domain OR any subdomain
    of one (the crawl-pipeline blocklist pass: ads/tracker/spam
    domains). Subdomain matching is turned into an EQUI-join by
    exploding each host into its dot-suffix chain (a.b.c.com →
    [a.b.c.com, b.c.com, c.com, com]) and anti-joining the blocklist
    on the suffix — no LIKE-per-pattern scan, so a million-entry
    blocklist costs one broadcast hash join, not a million regex
    evaluations per row. `blocklist` is a 1-column (domain) DataFrame;
    suffix depth is bounded by label count (~4-6), so the explode is a
    constant-factor map."""
    parts = F.split(host_of_url(F.col(url_col)), r"\.")
    n = F.size(parts)
    suffixes = F.transform(
        F.sequence(F.lit(1), n), lambda i: F.array_join(F.slice(parts, i, n), ".")
    )
    cand = df.select(F.col(id_col), F.explode(suffixes).alias("__sfx"))
    blocked = cand.join(
        F.broadcast(blocklist.select(F.col("domain").alias("__sfx"))), on="__sfx"
    ).select(id_col).distinct()
    return df.join(blocked, on=id_col, how="left_anti")


# ----------------------------------------------- corpus snapshot diff


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Diff two corpus snapshots — the versioning step of a managed
    training corpus (what changed between crawl v1 and v2, what must
    be re-embedded / re-deduped): full-outer merge on the id, content
    compared by md5 so the join carries a 32-char digest instead of
    the document body. Returns (id, status) with status ∈ added /
    removed / changed / unchanged.

    Scale shape: each side reduces to (id, md5) at scan time — the
    shuffle moves ~40 bytes/doc regardless of document size; one
    equi-join on the id (both sides hash-partition; incremental snap-
    shots with few changes broadcast the delta side instead)."""
    # Presence flags, not hash-nullness, decide added/removed: a row
    # whose TEXT is null (md5(null) = null) is still PRESENT, and
    # hash-null tests would misreport it. Hash comparison is null-safe
    # (two null texts = unchanged).
    o = old.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("__h_old"), F.lit(True).alias("__p_old")
    )
    n = new.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("__h_new"), F.lit(True).alias("__p_new")
    )
    j = o.join(n, on=id_col, how="full_outer")
    status = (
        F.when(F.col("__p_old").isNull(), F.lit("added"))
        .when(F.col("__p_new").isNull(), F.lit("removed"))
        .when(F.col("__h_old").eqNullSafe(F.col("__h_new")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(F.col(id_col), status.alias("status"))


# --------------------------------------- DSIR importance weighting


def _gram_bucket(g: Column, n_buckets: int) -> Column:
    """Hash bucket of an n-gram: integer value of md5's first 4 hex
    chars mod n_buckets. md5-prefix instead of xxhash64 so Python
    (hashlib), DuckDB (nibble arithmetic) and Spark all agree — the
    model arrays built offline index the same buckets the scoring
    pass computes. Swap xxhash64 in for max throughput where
    cross-engine checkability doesn't matter (same plan shape)."""
    return F.pmod(F.conv(F.substring(F.md5(g), 1, 4), 16, 10).cast("long"), F.lit(n_buckets))


def _doc_grams(text_col: str) -> Column:
    """Word uni+bigram list of a document (normalized, order
    preserved): words, then the len-1 bigrams (zip_with pads the tail
    with a space-free token the filter drops)."""
    words = F.split(norm_text(F.col(text_col)), " ")
    bigrams = F.zip_with(words, F.slice(words, 2, F.size(words)), lambda a, b: F.concat_ws(" ", a, b))
    return F.concat(words, F.filter(bigrams, lambda g: F.instr(g, " ") > 0))


def dsir_log_weights(
    df: DataFrame,
    target_logprobs: list[float],
    source_logprobs: list[float],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance log-weight per document: log w(x) = Σ_g
    [log p_target(bucket(g)) - log p_source(bucket(g))] over the doc's
    hashed uni+bigrams — documents that look like the TARGET domain
    under the hashed-ngram model get high weight, and resampling by w
    shifts the training mixture toward the target (Xie et al. 2023).

    Scale shape: both models fold into the plan as LITERAL log-prob
    arrays (n_buckets doubles each — the whole point of hashing is
    that the model is tiny), so scoring is element_at lookups inside
    one aggregate HOF: zero joins, zero shuffles, scan-speed. The
    per-doc sum is a left-assoc fold — deterministic for the seeded
    gate. Smooth the models BEFORE taking logs (no zero buckets).
    Adds `log_weight`."""
    n_buckets = len(target_logprobs)
    assert len(source_logprobs) == n_buckets
    t_arr = F.array(*[F.lit(float(x)) for x in target_logprobs])
    s_arr = F.array(*[F.lit(float(x)) for x in source_logprobs])
    bucket = lambda g: (_gram_bucket(g, n_buckets) + 1).cast("int")  # noqa: E731
    lw = F.aggregate(
        F.filter(_doc_grams(text_col), lambda g: g != ""),
        F.lit(0.0),
        lambda acc, g: acc + (F.element_at(t_arr, bucket(g)) - F.element_at(s_arr, bucket(g))),
    )
    return df.withColumn("log_weight", lw)


# ------------------------------------------------ text normalization

# Latin-1/Latin-Extended accent folding map (split in two so the
# from/to strings stay index-aligned and reviewable). translate() is a
# per-char map with identical semantics in Spark and DuckDB — unlike
# full NFKD unicode normalization, which neither engine exposes as a
# built-in; for true NFKD run unicodedata in a mapInPandas stage.
_ACCENT_FROM = "áàâäãåéèêëíìîïóòôöõúùûüýÿçñÁÀÂÄÃÅÉÈÊËÍÌÎÏÓÒÔÖÕÚÙÛÜÝÇÑ"
_ACCENT_TO = "aaaaaaeeeeiiiiooooouuuuyycnAAAAAAEEEEIIIIOOOOOUUUUYCN"


def normalize_text(col: Column, keep_newlines: bool = False) -> Column:
    """Aggressive text canonicalization for matching/dedup keys:
    accent folding (per-char translate), control-char removal, unicode
    punctuation variants → ASCII, whitespace collapse, lowercase.
    Shuffle-free single scan; the DuckDB twin below is token-for-token
    so normalized keys agree across engines."""
    c = F.translate(col, _ACCENT_FROM, _ACCENT_TO)
    c = F.translate(c, "‘’“”–— ", "''\"\"--  ")
    if keep_newlines:
        # preserve line structure for downstream line-based ops
        # (c4_clean, dedup_lines): strip controls except \n, collapse
        # only within-line whitespace, trim spaces around newlines
        c = F.regexp_replace(c, r"[\x00-\x09\x0b-\x1f\x7f]", " ")
        c = F.regexp_replace(c, r"[^\S\n]+", " ")
        c = F.regexp_replace(c, r" ?\n ?", "\n")
    else:
        c = F.regexp_replace(c, r"[\x00-\x1f\x7f]", " ")
        c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(F.lower(c))


def sql_normalize_text(expr: str, keep_newlines: bool = False) -> str:
    """DuckDB spelling of normalize_text (identical maps/regexes)."""
    quotes_from = "‘’“”–— "
    quotes_to = "''\"\"--  "
    c = f"translate({expr}, '{_ACCENT_FROM}', '{_ACCENT_TO}')"
    c = f"translate({c}, '{quotes_from}', '{quotes_to.replace(chr(39), chr(39) * 2)}')"
    if keep_newlines:
        c = f"regexp_replace({c}, '[\\x00-\\x09\\x0b-\\x1f\\x7f]', ' ', 'g')"
        c = f"regexp_replace({c}, '[^\\S\\n]+', ' ', 'g')"
        c = f"regexp_replace({c}, ' ?\\n ?', chr(10), 'g')"
    else:
        c = f"regexp_replace({c}, '[\\x00-\\x1f\\x7f]', ' ', 'g')"
        c = f"regexp_replace({c}, '\\s+', ' ', 'g')"
    return f"trim(lower({c}))"


def dedup_lines_within(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """INTRA-document repeated-line removal (the within-page half of
    C4/RefinedWeb cleaning — templated pages repeat nav/footer blocks
    inside one page; corpus-level `dedup_lines` can't see repeats that
    never cross documents): keep the FIRST occurrence of each line
    within its document, preserve order, drop empty lines. Two keyed
    exchanges — the first-occurrence rank partitions by (doc, line),
    the reassembly aggregate by doc; both are linear in corpus lines
    and carry (pos, line) rows only. Returns
    (id, text, n_lines_removed)."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).filter(F.trim(F.col("line")) != "")
    w = Window.partitionBy(id_col, "line").orderBy("pos")
    kept = lines.withColumn("__rn", F.row_number().over(w))
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.when(F.col("__rn") == 1, F.struct("pos", "line")))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias(text_col),
        F.sum(F.when(F.col("__rn") > 1, 1).otherwise(0)).alias("n_lines_removed"),
    )


def remove_repeated_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-PASSAGE removal (the substring-dedup
    step of Lee et al. 2021 "Deduplicating Training Data Makes
    Language Models Better", word-granular): any word k-gram appearing
    in ≥ min_docs distinct documents marks its k positions as
    boilerplate, overlapping marks union into full passage spans, and
    the covered words are cut from every document (docs reduced to
    nothing drop out — mirrors dedup_lines). Operates on
    already-normalized text (single-space; run normalize_text first).

    Scale shape: gram doc-frequency is one gram-keyed shuffle over
    distinct (gram, doc) pairs — linear in corpus tokens, same shape
    as repeated_ngrams/decontaminate, no all-pairs anywhere; the
    coverage explode fans out ×k for HEAVY grams only (boilerplate is
    rare among distinct grams); the final anti-join and reassembly key
    by (doc, pos) / doc. Returns (id, text, n_words_removed)."""
    words = F.split(F.col(text_col), " ")
    n = F.size(words)
    gram_structs = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.struct(i.alias("start"), F.array_join(F.slice(words, i, k), " ").alias("gram")),
        ),
    ).otherwise(F.array().cast("array<struct<start:int,gram:string>>"))
    grams = df.select(F.col(id_col), F.explode(gram_structs).alias("g")).select(
        id_col, F.col("g.start").alias("start"), F.col("g.gram").alias("gram")
    )
    heavy = (
        grams.groupBy("gram")
        .agg(F.count_distinct(id_col).alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("gram")
    )
    covered = (
        grams.join(F.broadcast(heavy), on="gram")
        .select(id_col, F.explode(F.sequence(F.col("start"), F.col("start") + k - 1)).alias("pos"))
        .distinct()
    )
    wp = df.select(
        F.col(id_col), n.alias("__n"), F.posexplode(words).alias("pos0", "word")
    ).select(id_col, "__n", (F.col("pos0") + 1).alias("pos"), "word")
    kept = wp.join(covered, on=[id_col, "pos"], how="left_anti")
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "word"))), lambda s: s["word"]),
            " ",
        ).alias(text_col),
        (F.first("__n") - F.count("*")).cast("long").alias("n_words_removed"),
    )


# -------------------------------------------------- sentiment scoring

# Tiny seed lexicons, word-boundary matched — like LANG_STOPWORDS the
# scale story is the shape (two regexp_count passes), not lexicon size;
# swap AFINN/VADER lists in via the parameters.
POSITIVE_WORDS: tuple[str, ...] = ("good", "great", "fast", "love", "best", "happy", "win")
NEGATIVE_WORDS: tuple[str, ...] = ("bad", "slow", "hate", "worst", "sad", "fail", "error")


def sentiment_score(
    col: Column,
    positive: tuple[str, ...] = POSITIVE_WORDS,
    negative: tuple[str, ...] = NEGATIVE_WORDS,
) -> Column:
    """Lexicon sentiment in [-1, 1]: (pos-hits − neg-hits) / (hits+1)
    — the distributed shape of large-scale social-stream sentiment
    (EDBT'16 "Large Scale Sentiment Analysis on Twitter with Spark"):
    two word-boundary regexp_count passes, integer arithmetic, one
    exact double division — shuffle-free, codegen'd, and oracle-able
    (the +1 keeps the quotient exact-checkable and neutral docs at 0)."""
    pos = stopword_hits(col, list(positive))
    neg = stopword_hits(col, list(negative))
    return (pos - neg).cast("double") / (pos + neg + F.lit(1))


def keyword_snippets(
    df: DataFrame,
    term: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    context: int = 30,
) -> DataFrame:
    """Keyword-in-context extraction: the ±context-char window around
    the FIRST occurrence of `term` in each matching document — the
    search-result-preview / concordance op. Pure locate+substring
    column expressions: shuffle-free, codegen'd, and the match filter
    composes with scan pushdown via the contains() pre-filter. For
    all-occurrence concordances run chunk_text first and snippet per
    chunk. Returns (id, pos, snippet)."""
    pos = F.instr(F.col(text_col), term)
    start = F.greatest(F.lit(1), pos - context)
    return (
        df.filter(F.contains(F.col(text_col), F.lit(term)))
        .select(
            F.col(id_col),
            pos.alias("pos"),
            F.substring(F.col(text_col), start, F.lit(2 * context + len(term))).alias("snippet"),
        )
    )


# -------------------------------------------------- perplexity filter


def perplexity_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    model: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style LM quality scoring (Wenzek et al. 2020 §4.3 filter
    web pages by LM perplexity; KenLM replaced by an add-α bigram
    model, which is what the distributed shape is about): score each
    document by its average per-bigram negative log10 probability
    under the model — low = fluent/in-domain, high = noise. ``model``
    defaults to the scored corpus itself (self-perplexity, the
    novelty/outlier probe); pass a reference corpus for CCNet's
    in-domain filtering.

    Scale shape: bigram extraction is a shuffle-free map pass
    (transform over sequence — no Python); model counts are two keyed
    aggregations linear in corpus tokens; scoring joins bigram
    occurrences to the model — at 100 TB the model is trained on a
    reference SAMPLE and both count tables broadcast, so scoring adds
    zero row-moving exchanges; the final doc aggregation is one
    id-keyed shuffle.

    Cross-engine determinism: P = (c_bi+α)/(c_uni+α·V) is a rational
    of exact counts evaluated with the identical IEEE expression shape
    in DuckDB; each −log10 P is floored to integer micro-units BEFORE
    the sum, so accumulation is order-independent (functions/exact.py
    rationale; the transcendental is per-row, never accumulated).
    Returns (id, n_bigrams, avg_neg_logp)."""
    def bigrams_of(frame: DataFrame) -> DataFrame:
        toks = F.split(F.col(text_col), " ")
        n = F.size(toks)
        pairs = F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.struct(
                    F.element_at(toks, i).alias("w1"),
                    F.element_at(toks, i + 1).alias("w2"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        return frame.select(F.col(id_col), F.explode(pairs).alias("b")).select(
            id_col, F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
        )

    corpus_bi = bigrams_of(df)
    model_bi = corpus_bi if model is None else bigrams_of(model)
    cnt_bi = model_bi.groupBy("w1", "w2").agg(F.count("*").alias("c_bi"))
    cnt_uni = model_bi.groupBy("w1").agg(F.count("*").alias("c_uni"))
    vocab = (
        model_bi.select(F.col("w1").alias("w"))
        .union(model_bi.select(F.col("w2").alias("w")))
        .agg(F.count_distinct("w").alias("V"))
    )
    p = (F.coalesce(F.col("c_bi"), F.lit(0)) + F.lit(alpha)) / (
        F.coalesce(F.col("c_uni"), F.lit(0)) + F.lit(alpha) * F.col("V")
    )
    scored = (
        corpus_bi.join(cnt_bi, ["w1", "w2"], "left")
        .join(cnt_uni, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .withColumn("__t", F.floor((-F.log10(p)) * 1_000_000 + F.lit(0.5)).cast("long"))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        (F.sum("__t") / F.lit(1e6) / F.count("*")).alias("avg_neg_logp"),
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_size: int = 32,
) -> DataFrame:
    """Sharded inverted-index construction (the core layout of keyword
    search / exact decontamination lookup at corpus scale): one row per
    (term, shard) with a bounded posting list, so a stop-word's
    millions of postings become many fixed-size rows instead of one
    unmergeable giant — the same reason Lucene segments cap block
    size. Reference parity: the reference pipes corpora through
    Pdo/Clickhouse for ad-hoc lookup (src/Sinks/Clickhouse.php); an
    inverted index is the native layout for that job at 100 TB.

    Scale shape: per-doc ``array_distinct`` happens map-side, so the
    one term-keyed exchange carries (term, doc) pairs already deduped
    within documents; the row_number window re-uses that exchange's
    partitioning (term is the partition key) and emits postings in
    doc-id order. Posting strings are bounded by ``shard_size`` ids.
    At extreme skew (a term in >10^8 docs) the window's per-term sort
    is the residual hot spot; the documented mitigation is a two-level
    shard key (term, doc_id mod k) — same output modulo shard ids.

    Returns (term, shard, n_docs, postings) with postings a
    comma-joined doc-id string — scalar compare surface per the
    q_array_agg rule (queries/tpch2.py:588)."""
    tok = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(F.array_distinct(F.split(F.lower(F.col(text_col)), " "))).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    w = Window.partitionBy("term").orderBy("doc")
    sharded = tok.withColumn(
        "shard", ((F.row_number().over(w) - F.lit(1)) / F.lit(shard_size)).cast("long")
    )
    return (
        sharded.groupBy("term", "shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.array_join(F.transform(F.sort_array(F.collect_list("doc")), lambda d: d.cast("string")), ",").alias(
                "postings"
            ),
        )
    )


def sql_inverted_index(shard_size: int = 32) -> str:
    """DuckDB twin of inverted_index over the documents view."""
    return f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, term FROM (
        SELECT doc_id, UNNEST(string_split(LOWER(text), ' ')) AS term FROM documents
      ) WHERE term != ''
    ), r AS (
      SELECT term, doc_id,
             CAST((ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) - 1) // {shard_size} AS BIGINT) AS shard
      FROM tok
    )
    SELECT term, shard, COUNT(*) AS n_docs,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
    FROM r GROUP BY term, shard
    """


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """BM25 keyword ranking (Robertson/Sparck Jones probabilistic
    weighting — the default lexical ranker everywhere from Lucene to
    corpus QC): score(d) = sum over query terms of
    idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)),
    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)).

    Scale shape: doc length (dl) is computed map-side and carried
    through the tokenize-explode, so tf aggregation is the only
    corpus-wide exchange (keyed on (doc, term), pre-filtered to the
    query terms — the scan feeds only matching tokens forward);
    corpus stats (N, total tokens) and per-term df are tiny aggregates
    that broadcast back. Top-k is TakeOrdered, not a global sort.

    Cross-engine determinism: every per-(doc,term) score is floored to
    integer micro-units BEFORE the per-doc sum (functions/exact.py
    rationale); ln/division are per-row IEEE ops evaluated with the
    identical expression shape in the DuckDB twin."""
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term"),
        ws_token_count(F.col(text_col)).alias("dl"),
    ).filter(F.col("term") != "")
    stats = df.select(
        F.count("*").alias("n_docs_total"),
        F.sum(ws_token_count(F.col(text_col))).alias("total_tokens"),
    )
    qtoks = toks.filter(F.col("term").isin(query_terms))
    dft = qtoks.groupBy("term").agg(F.count_distinct("doc").alias("df_docs"))
    tf = qtoks.groupBy("doc", "term", "dl").agg(F.count("*").alias("tf"))
    scored = (
        tf.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("avgdl", F.col("total_tokens").cast("double") / F.col("n_docs_total"))
        .withColumn(
            "idf",
            F.log(F.lit(1.0) + (F.col("n_docs_total") - F.col("df_docs") + F.lit(0.5)) / (F.col("df_docs") + F.lit(0.5))),
        )
        .withColumn(
            "s",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (F.col("tf") + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))),
        )
        .withColumn("s_micro", F.floor(F.col("s") * 1_000_000 + F.lit(0.5)).cast("long"))
    )
    return (
        scored.groupBy("doc")
        .agg((F.sum("s_micro") / F.lit(1e6)).alias("bm25"), F.count("*").alias("n_terms_hit"))
        .select(F.col("doc").alias(id_col), "bm25", "n_terms_hit")
        .orderBy(F.col("bm25").desc(), id_col)
        .limit(top_k)
    )


def sql_bm25(query_terms: list[str], k1: float = 1.2, b: float = 0.75, top_k: int = 20) -> str:
    """DuckDB twin of bm25_scores over the documents view."""
    terms = ", ".join(f"'{t}'" for t in query_terms)
    return f"""
    WITH toks AS (
      SELECT doc_id AS doc, UNNEST(string_split(LOWER(text), ' ')) AS term,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '{WS_RUN}')) END AS dl
      FROM documents
    ), toks2 AS (SELECT * FROM toks WHERE term != ''),
    stats AS (
      SELECT COUNT(*) AS n_docs_total,
             SUM(CASE WHEN trim(text) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '{WS_RUN}')) END) AS total_tokens
      FROM documents
    ),
    qtoks AS (SELECT * FROM toks2 WHERE term IN ({terms})),
    dft AS (SELECT term, COUNT(DISTINCT doc) AS df_docs FROM qtoks GROUP BY term),
    tf AS (SELECT doc, term, dl, COUNT(*) AS tf FROM qtoks GROUP BY doc, term, dl),
    scored AS (
      SELECT tf.doc, FLOOR(
        (LN(1.0 + (stats.n_docs_total - dft.df_docs + 0.5) / (dft.df_docs + 0.5))
         * (tf.tf * {k1 + 1.0!r})
         / (tf.tf + {k1!r} * (1.0 - {b!r} + {b!r} * tf.dl / (CAST(stats.total_tokens AS DOUBLE) / stats.n_docs_total))))
        * 1000000 + 0.5) AS s_micro
      FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN stats
    )
    SELECT doc AS doc_id, SUM(s_micro) / 1e6 AS bm25, COUNT(*) AS n_terms_hit
    FROM scored GROUP BY doc
    ORDER BY bm25 DESC, doc_id LIMIT {top_k}
    """


def collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """PMI collocation mining (Church & Hanks 1990): word pairs that
    co-occur far above chance — the standard signal for multi-word
    expressions, template detection, and vocabulary curation over a
    training corpus. PMI = ln(p(xy) / (p(x)p(y))) with p(xy) from
    bigram counts and p(x) from unigram counts.

    Scale shape: bigram extraction is the same shuffle-free
    transform-over-sequence pass as perplexity_score; one keyed
    aggregation each for bigram and unigram counts (linear in corpus
    tokens, map-side combined); unigram tables re-join by key —
    broadcast when small, shuffle otherwise (Spark AQE decides).
    Totals are tiny aggregates that cross-join broadcast.

    Cross-engine determinism: the lift ratio is computed with one
    fixed IEEE expression shape over exact integer counts, PMI's ln is
    per-row, and the emitted value is floored to micro-units; ordering
    is on the rounded value with (w1, w2) tiebreak."""
    toks = F.split(F.lower(F.col(text_col)), " ")
    n = F.size(toks)
    pairs = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bi = df.select(F.explode(pairs).alias("b")).select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    uni = df.select(F.explode(toks).alias("w")).filter(F.col("w") != "")
    c_bi = bi.groupBy("w1", "w2").agg(F.count("*").alias("c_xy")).filter(F.col("c_xy") >= min_count)
    c_uni = uni.groupBy("w").agg(F.count("*").alias("c_w"))
    n_bi = bi.select(F.count("*").alias("n_bi"))
    n_uni = uni.select(F.count("*").alias("n_uni"))
    lift = (
        (F.col("c_xy").cast("double") * F.col("n_uni").cast("double") / (F.col("c_x").cast("double") * F.col("c_y").cast("double")))
        * (F.col("n_uni").cast("double") / F.col("n_bi").cast("double"))
    )
    return (
        c_bi.join(c_uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_x")), "w1")
        .join(c_uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_y")), "w2")
        .crossJoin(F.broadcast(n_bi))
        .crossJoin(F.broadcast(n_uni))
        .withColumn("pmi", F.floor(F.log(lift) * 1_000_000 + F.lit(0.5)) / F.lit(1e6))
        .select("w1", "w2", "c_xy", "pmi")
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(top_k)
    )


def sql_collocations(min_count: int = 5, top_k: int = 20) -> str:
    """DuckDB twin of collocations over the documents view."""
    return f"""
    WITH toks AS (SELECT string_split(LOWER(text), ' ') AS t FROM documents),
    bi AS (
      SELECT UNNEST(list_transform(range(1, GREATEST(len(t) - 1, 0) + 1),
                    i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS b
      FROM toks WHERE len(t) >= 2
    ), bi2 AS (SELECT b.w1 AS w1, b.w2 AS w2 FROM bi),
    uni AS (SELECT UNNEST(t) AS w FROM toks), uni2 AS (SELECT w FROM uni WHERE w != ''),
    c_bi AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bi2 GROUP BY w1, w2 HAVING COUNT(*) >= {min_count}),
    c_uni AS (SELECT w, COUNT(*) AS c_w FROM uni2 GROUP BY w),
    n_bi AS (SELECT COUNT(*) AS n_bi FROM bi2),
    n_uni AS (SELECT COUNT(*) AS n_uni FROM uni2)
    SELECT c_bi.w1, c_bi.w2, c_bi.c_xy,
           FLOOR(LN((CAST(c_xy AS DOUBLE) * CAST(n_uni.n_uni AS DOUBLE) / (CAST(cx.c_w AS DOUBLE) * CAST(cy.c_w AS DOUBLE)))
                    * (CAST(n_uni.n_uni AS DOUBLE) / CAST(n_bi.n_bi AS DOUBLE))) * 1000000 + 0.5) / 1e6 AS pmi
    FROM c_bi
    JOIN c_uni cx ON cx.w = c_bi.w1
    JOIN c_uni cy ON cy.w = c_bi.w2
    CROSS JOIN n_bi CROSS JOIN n_uni
    ORDER BY pmi DESC, w1, w2 LIMIT {top_k}
    """


def _bloom_pos(gram: Column, i: int, m_bits: int) -> Column:
    """Bloom hash i: 48 bits of md5(gram + '#i') mod m — md5 is
    byte-identical in every engine, so bit positions (and therefore
    false positives) are deterministic and cross-engine reproducible."""
    return (
        F.conv(F.substring(F.md5(F.concat(gram, F.lit(f"#{i}"))), 1, 12), 16, 10).cast("long")
        % m_bits
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    m_bits: int = 1 << 20,
    n_hashes: int = 3,
    min_shared: int = 1,
) -> DataFrame:
    """Bloom-filter n-gram decontamination — the constant-size variant
    of `decontaminate` for benchmarks too large to broadcast as raw
    gram sets: the benchmark compresses to an m-bit Bloom filter
    (m/8 bytes regardless of gram count), and a corpus gram is flagged
    when ALL `n_hashes` of its bit positions are set.

    Scale shape: the filter is the distinct-position table (≤ m rows
    of longs; broadcast), built with one distinct pass over benchmark
    grams; the corpus probe explodes each distinct gram to its
    n_hashes positions (bounded fan-out), joins the broadcast bit set
    and keeps grams matching on every hash index. No corpus shuffle
    other than the final doc rollup.

    False positives are INHERENT to the structure and deliberately
    kept in the contract: positions derive from md5, so both engines
    flag the identical gram set (the oracle reproduces the same bit
    arithmetic), and the FP rate is (set_bits/m)^n_hashes by
    construction. Returns (id, n_flagged) like `decontaminate`."""
    b = (
        benchmark.select(F.explode(word_kgrams(F.col(text_col), k)).alias("gram"))
        .distinct()
    )
    bits = (
        b.select(F.explode(F.array(*[_bloom_pos(F.col("gram"), i, m_bits) for i in range(n_hashes)])).alias("pos"))
        .distinct()
    )
    c = corpus.select(
        F.col(id_col), F.explode(F.array_distinct(word_kgrams(F.col(text_col), k))).alias("gram")
    )
    cpos = c.select(
        id_col,
        "gram",
        F.posexplode(F.array(*[_bloom_pos(F.col("gram"), i, m_bits) for i in range(n_hashes)])).alias(
            "i", "pos"
        ),
    )
    hit = (
        cpos.join(F.broadcast(bits), "pos")
        .groupBy(id_col, "gram")
        .agg(F.count_distinct("i").alias("n_hit"))
        .filter(F.col("n_hit") == n_hashes)
    )
    return (
        hit.groupBy(id_col)
        .agg(F.count("*").alias("n_flagged"))
        .filter(F.col("n_flagged") >= min_shared)
    )
