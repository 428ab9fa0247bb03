"""Byte-pair-encoding tokenizer — distributed training + encoding.

SURVEY §2 L10 counts tokens with a BPE-ish regex; this module makes the
tokenizer itself first-class: the classic BPE algorithm (Sennrich et
al. 2016, "Neural Machine Translation of Rare Words with Subword
Units") trained Spark-side and applied as a column expression or an
Arrow map pass. The reference pipeline ships no tokenizer training —
this is one of the "beyond reference" LLM-corpus operators the brief
asks for.

Scale shape (the point of doing this on Spark):

- The ONLY corpus-scale pass is the word-count aggregation — one
  shuffle keyed by word, map-side combined. Everything after operates
  on the DISTINCT-WORD histogram (Sennrich's own trick): at 100 TB the
  corpus may be 10^13 tokens but the histogram is ~10^6-10^8 rows, and
  standard practice (HF tokenizers, SentencePiece) additionally
  frequency-truncates it.

- Training has two exact engines behind one front door:

  * ``driver`` (the default whenever the histogram fits a configurable
    row budget): collect the histogram once and run the classic
    incremental algorithm — pair-count deltas + a lazy max-heap — in
    pure Python. Zero Spark jobs per merge; a 32k-merge vocab is
    seconds of driver CPU over a vocab-sized table. This is the same
    architecture single-node tokenizer trainers use; Spark's job is the
    corpus→histogram reduction. The same justified driver-side
    materialization as PQ codebook training (operators/similarity.py).

  * ``distributed`` (histogram too big to collect): BATCHED merge
    rounds. Each round is one pair-count aggregation whose top-K rows
    come back to the driver; the driver selects the longest prefix of
    the priority-ordered candidates that is provably order-equivalent
    to applying them one at a time (rule below), and one Arrow
    ``mapInPandas`` pass applies the whole batch. A 32k-merge vocab
    costs O(32k / avg-batch) aggregations instead of 32k.

  Batch-exactness rule (why batched == sequential, bit for bit): scan
  candidates in (count DESC, left ASC, right ASC) order and accept
  while each pair (a) shares no symbol with an already-accepted pair,
  (b) its merged token l+r is a brand-new string (not an existing
  alphabet symbol nor another accepted pair's token), and (c) is not
  preceded in the batch by a SELF-pair (l == r): a self-merge's
  residues ('ccc' → [cc, c]) create pairs like (cc, c) bounded only by
  the self-pair's own count, so a self-pair closes its batch. The scan
  stops at the first violation, whose count is c_stop; keep only
  accepted pairs with count > c_stop. Sketch: disjointness + brand-new
  tokens make accepted pairs' counts invariant under each other's
  application, and — self-pairs excluded — every pair a merge can
  create or inflate is bounded by the count of a pre-merge pair that
  conflicts with the prefix, hence ranks at/after the stop candidate
  and is ≤ c_stop, strictly below every kept pair. Hence at each
  sub-step the kept pair is still the global argmax. When the filter
  empties the batch, fall back to the top-1 pair (a single sequential
  step is trivially exact). The hypothesis property suite
  (tests/test_bpe_props.py) checks the selected batch IS the
  sequential-argmax prefix on random histograms — it is what caught
  the self-pair case — and the randomized equivalence tests in
  tests/test_bpe.py exercise the full trainer against the pure-Python
  twin on adversarial tiny-alphabet corpora.

- Encoding applies merges in rank order, greedy left-to-right per word
  (the published semantics; the oracle twin is independent):

  * ``fold`` (≤ _FOLD_LIMIT merges): chained whole-stage-codegen fold
    expressions, no Python anywhere.
  * ``arrow`` (production vocabs): the merge table rides the closure
    into ONE ``mapInPandas`` pass; per-partition word memoization plus
    a substring prefilter (a merge can only fire on a word containing
    its token, since tokens are concatenations of adjacent original
    characters) keeps the per-distinct-word cost far below
    n_merges × len. Expression depth no longer grows with vocab size.

Determinism: pair selection orders by (count DESC, left ASC, right
ASC) — total order, no float anywhere — so training is bit-stable
across partitionings, batchings and engines; the oracle twin is an
independent pure-Python implementation of the same published
algorithm.
"""

from __future__ import annotations

import heapq
import re
from collections import Counter
from itertools import islice

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rabbit_data_pipeline_spark.functions.checkpoints import CheckpointScope

#: Above this many merges, bpe_encode(engine="auto") switches from
#: chained fold expressions to the Arrow map pass — fold depth is
#: per-merge, and codegen degrades well before a real vocab size.
_FOLD_LIMIT = 24

#: Histograms up to this many distinct words train driver-side
#: (strategy="auto"). 2M rows of short strings is tens of MB — far
#: under any sane spark.driver.memory; beyond it, batched rounds.
_DRIVER_MAX_WORDS = 2_000_000

#: Word splitting is defined by Spark/Java's \s, which is ASCII-only
#: ([ \t\n\x0B\f\r]). Python re's \s is Unicode-aware (NBSP, U+3000…),
#: so Python-side paths MUST use this explicit class or the Arrow
#: encoder would segment real web/CJK corpora differently from the
#: fold engine and the training histogram.
_ASCII_WS = re.compile("[ \t\n\x0b\f\r]+")


def _split_words(text: str) -> list[str]:
    """Python twin of Spark's split(col, '\\s+') + non-empty filter."""
    return [w for w in _ASCII_WS.split(text) if w != ""]


def _word_histogram(df: DataFrame, text_col: str) -> DataFrame:
    """Distinct words with counts — the one corpus-scale shuffle."""
    return (
        df.select(F.explode(F.split(F.col(text_col), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _merge_expr(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right application of one merge to a symbol
    array: fold symbols, joining a symbol onto the accumulator's tail
    when (tail, symbol) == (left, right). 'aaa' + merge(a,a) → [aa, a]
    (the merged tail is 'aa', which no longer pairs with 'a')."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(left + right))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


# --------------------------------------------------------- driver engine


def _train_incremental(
    words: list[tuple[list[str], int]], n_merges: int, min_pair_count: int
) -> list[tuple[int, str, str]]:
    """Classic incremental BPE over an in-memory histogram: pair-count
    deltas per affected word + a lazy max-heap (every count CHANGE
    pushes a fresh (−count, l, r) entry; stale entries are discarded on
    pop by comparing against the live count). Exactly reproduces the
    recompute-everything textbook loop, in O(total merge work)."""
    pair_counts: dict[tuple[str, str], int] = {}
    occ: dict[tuple[str, str], set[int]] = {}
    syms_of: list[list[str]] = []
    cnt_of: list[int] = []
    for wi, (syms, cnt) in enumerate(words):
        syms_of.append(list(syms))
        cnt_of.append(cnt)
        for p in zip(syms, syms[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + cnt
            occ.setdefault(p, set()).add(wi)
    heap = [(-c, l, r) for (l, r), c in pair_counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[int, str, str]] = []
    while len(merges) < n_merges and heap:
        negc, left, right = heapq.heappop(heap)
        if pair_counts.get((left, right), 0) != -negc:
            continue  # stale: the change that invalidated it pushed a fresh entry
        if -negc < min_pair_count:
            break
        merges.append((len(merges), left, right))
        for wi in sorted(occ.get((left, right), ())):  # sorted: determinism
            syms = syms_of[wi]
            new_syms = list(_apply(tuple(syms), left, right))
            if new_syms == syms:
                continue  # occ entry was stale (pair left this word earlier)
            cnt = cnt_of[wi]
            old_p = Counter(zip(syms, syms[1:]))
            new_p = Counter(zip(new_syms, new_syms[1:]))
            for p, d in (old_p - new_p).items():
                c2 = pair_counts[p] - d * cnt
                if c2 <= 0:
                    pair_counts.pop(p, None)
                else:
                    pair_counts[p] = c2
                    heapq.heappush(heap, (-c2, p[0], p[1]))
            for p, d in (new_p - old_p).items():
                c2 = pair_counts.get(p, 0) + d * cnt
                pair_counts[p] = c2
                occ.setdefault(p, set()).add(wi)
                heapq.heappush(heap, (-c2, p[0], p[1]))
            syms_of[wi] = new_syms
        occ.pop((left, right), None)
    return merges


# ---------------------------------------------------- distributed engine


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-pair counts weighted by word count, over the histogram."""
    return (
        vocab.select(
            F.explode(
                F.when(
                    F.size("syms") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.struct(
                            F.element_at(F.col("syms"), i).alias("l"),
                            F.element_at(F.col("syms"), i + 1).alias("r"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
            ).alias("p"),
            "cnt",
        )
        .groupBy("p.l", "p.r")
        .agg(F.sum("cnt").alias("c"))
    )


def _select_batch(
    cands: list[tuple[int, str, str]],
    alphabet: set[str],
    budget: int,
    min_pair_count: int,
    complete: bool,
) -> list[tuple[str, str]]:
    """Longest order-equivalent batch from priority-sorted candidates
    (the exactness rule in the module docstring). ``complete`` says the
    candidate list is the WHOLE pair table, not a top-K truncation."""
    accepted: list[tuple[int, str, str]] = []
    used: set[str] = set()
    c_stop = 0 if complete else cands[-1][0]
    for idx, (c, left, right) in enumerate(cands):
        tok = left + right
        if (
            c < min_pair_count
            or len(accepted) == budget
            or left in used
            or right in used
            or tok in used
            or tok in alphabet
        ):
            c_stop = c
            break
        accepted.append((c, left, right))
        used.update((left, right, tok))
        if left == right:
            # A self-merge's residues ('ccc' → [cc, c]) create pairs
            # like (cc, c) whose count is bounded only by THIS pair's
            # count — not by any later candidate's — so no later
            # candidate can be proven to stay the argmax at its
            # sub-step. The batch closes here. (Found by the
            # hypothesis property suite, tests/test_bpe_props.py.)
            if idx + 1 < len(cands):
                c_stop = cands[idx + 1][0]
            elif not complete:
                c_stop = cands[-1][0]
            else:
                c_stop = 0
            break
    batch = [(l, r) for c, l, r in accepted if c > c_stop]
    if not batch:  # top-1 alone is a plain sequential step — always exact
        batch = [(cands[0][1], cands[0][2])]
    return batch


def _apply_batch_list(syms: list[str], merge_map: dict[tuple[str, str], str]) -> list[str]:
    """One left-to-right pass applying a symbol-disjoint merge batch.
    Disjointness + brand-new tokens make this identical to applying
    each merge greedily in rank order (merges cannot interact)."""
    out: list[str] = []
    for s in syms:
        if out and (out[-1], s) in merge_map:
            out[-1] = out[-1] + s
        else:
            out.append(s)
    return out


def _apply_merges_arrow(vocab: DataFrame, batch: list[tuple[str, str]]) -> DataFrame:
    """Apply a whole merge batch to the histogram in ONE Arrow pass
    (the merge map rides the closure — vocab-batch sized, tiny)."""
    merge_map = {(l, r): l + r for l, r in batch}
    schema = vocab.schema

    def run(it):
        for pdf in it:
            pdf["syms"] = [
                _apply_batch_list(list(s), merge_map) for s in pdf["syms"]
            ]
            yield pdf

    return vocab.mapInPandas(run, schema)


def _train_distributed(
    vocab: DataFrame,
    n_merges: int,
    min_pair_count: int,
    batch_top_k: int,
    stats: dict | None,
) -> list[tuple[int, str, str]]:
    """Batched merge rounds over a histogram DataFrame(syms, cnt):
    one top-K pair-count aggregation + one Arrow batch application per
    round. A per-round checkpoint keeps the plan flat round-over-round
    (the same re-evaluation guard dedup_minhash documents); the result
    is a plain merge list, so no checkpoint outlives the call."""
    with CheckpointScope() as scope:
        vocab = scope.checkpoint(vocab)
        alphabet = {
            r[0] for r in vocab.select(F.explode("syms").alias("s")).distinct().collect()
        }
        merges: list[tuple[int, str, str]] = []
        rounds = 0
        while len(merges) < n_merges:
            top = (
                _pair_counts(vocab)
                .orderBy(F.col("c").desc(), "l", "r")
                .limit(batch_top_k)
                .collect()
            )
            if not top or top[0]["c"] < min_pair_count:
                break
            rounds += 1
            batch = _select_batch(
                [(row["c"], row["l"], row["r"]) for row in top],
                alphabet,
                budget=n_merges - len(merges),
                min_pair_count=min_pair_count,
                complete=len(top) < batch_top_k,
            )
            for left, right in batch:
                merges.append((len(merges), left, right))
                alphabet.add(left + right)
            new_vocab = scope.checkpoint(_apply_merges_arrow(vocab, batch))
            scope.release(vocab)
            vocab = new_vocab
    if stats is not None:
        stats.update(strategy="distributed", rounds=rounds)
    return merges


# -------------------------------------------------------------- front door


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 16,
    min_pair_count: int = 2,
    strategy: str = "auto",
    driver_max_words: int = _DRIVER_MAX_WORDS,
    batch_top_k: int = 4096,
    stats: dict | None = None,
) -> list[tuple[int, str, str]]:
    """Train BPE merges over a corpus; returns [(rank, left, right)].
    Stops early when no pair reaches ``min_pair_count``.

    strategy:
    - "auto": "driver" when the distinct-word histogram has
      ≤ driver_max_words rows (zero Spark jobs per merge), else
      "distributed".
    - "driver" / "distributed": force an engine. All three produce
      bit-identical merge tables over the same histogram.
    - "driver_topm": frequency-truncate the histogram to the top
      driver_max_words word types (count DESC, word ASC — total
      order, deterministic) and train driver-side. This is the
      standard single-node-tokenizer practice for histograms too big
      to collect (rare word types contribute negligible pair mass);
      it is a DOCUMENTED APPROXIMATION of full-histogram training,
      unlike the other engines, but is exact BPE over the truncated
      histogram — prefer it over "distributed" on natural-language
      corpora, where the exact batching rule degenerates to ~1 merge
      per round (top pairs share letters).
    """
    if strategy not in ("auto", "driver", "distributed", "driver_topm"):
        raise ValueError(
            f"unknown strategy {strategy!r}: expected auto|driver|distributed|driver_topm"
        )
    # The result is a plain merge list: the scope frees the histogram
    # checkpoint once the driver engines have collected it or the
    # batched trainer has returned.
    with CheckpointScope() as scope:
        hist = scope.checkpoint(_word_histogram(df, text_col))
        if strategy == "auto":
            n_words = hist.count()  # cheap: histogram already materialized
            strategy = "driver" if n_words <= driver_max_words else "distributed"
        if strategy == "distributed":
            vocab = hist.select(F.split(F.col("word"), "").alias("syms"), "cnt")
            return _train_distributed(vocab, n_merges, min_pair_count, batch_top_k, stats)
        if strategy == "driver_topm":
            hist = hist.orderBy(F.col("cnt").desc(), "word").limit(driver_max_words)
        rows = hist.collect()
    if stats is not None:
        stats.update(strategy="driver", rounds=0, words=len(rows))
    return _train_incremental(
        [(list(r["word"]), r["cnt"]) for r in rows], n_merges, min_pair_count
    )


def encode_expr(col: Column, merges: list[tuple[int, str, str]]) -> Column:
    """Column expr: one word → its BPE token array, merges applied in
    rank order (chained folds — the codegen path for small vocabs)."""
    syms = F.split(col, "")
    for _, left, right in sorted(merges):
        syms = _merge_expr(syms, left, right)
    return syms


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[int, str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    engine: str = "auto",
    memo_cap: int | None = None,
) -> DataFrame:
    """Tokenize documents: per-word greedy merge application, tokens
    rejoined in document order with '·' marking in-word boundaries.
    Shuffle-free map pass. Returns (id, tokens, n_tokens).

    engine: "fold" = chained codegen folds (depth grows with vocab —
    right up to _FOLD_LIMIT merges); "arrow" = one mapInPandas pass
    with the merge table in the closure (production vocabs); "auto"
    picks by len(merges). Identical output either way. ``memo_cap``
    overrides the arrow engine's per-partition encode-memo bound
    (default _ENCODE_MEMO_CAP; the fold engine has no memo).
    """
    if engine == "auto":
        engine = "fold" if len(merges) <= _FOLD_LIMIT else "arrow"
    if engine == "arrow":
        return bpe_encode_arrow(df, merges, text_col, id_col, memo_cap=memo_cap)
    words = F.split(F.col(text_col), r"\s+")
    # Materialize the per-word token arrays as a real column first so
    # the chained merge folds evaluate ONCE per row — deriving both
    # outputs from one expression tree would double codegen size and
    # per-row work, the very thing _FOLD_LIMIT exists to bound.
    arr = F.transform(
        F.filter(words, lambda w: w != ""),
        lambda w: encode_expr(w, merges),
    )
    return df.select(F.col(id_col), arr.alias("__arr")).select(
        F.col(id_col),
        F.array_join(
            F.transform("__arr", lambda a: F.array_join(a, "·")), " "
        ).alias("tokens"),
        F.size(F.flatten("__arr")).alias("n_tokens"),
    )


#: Per-partition encode-memo bound: a million distinct words × ~100
#: bytes ≈ 100 MB/task worst case. An unbounded memo would grow with
#: distinct words per partition on exactly the production corpora this
#: path targets.
_ENCODE_MEMO_CAP = 1_000_000


def _make_word_encoder(ranked: list[tuple[str, str, str]], memo_cap: int | None = None):
    """Per-partition word encoder with the LRU-capped memo (unit-
    tested directly in tests/test_bpe.py — the eviction policy is
    observable there without driving Spark). ``memo_cap`` is captured
    BY VALUE so a caller-supplied cap survives the closure's pickle
    round-trip into Spark's Python workers (a monkeypatched module
    global never reaches the re-imported executor module)."""
    cap = _ENCODE_MEMO_CAP if memo_cap is None else memo_cap
    memo: dict[str, tuple[str, int]] = {}

    def enc_word(w: str) -> tuple[str, int]:
        hit = memo.pop(w, None)
        if hit is None:
            cand = [(l, r) for l, r, tok in ranked if tok in w]
            syms = tuple(w)
            for left, right in cand:
                syms = _apply(syms, left, right)
            hit = ("·".join(syms), len(syms))
            if len(memo) >= cap:
                # dict order is recency (hits re-insert below), so
                # the first half is the LRU half; max(1, ...) keeps
                # eviction real at cap<=1 (cap//2 == 0 would insert
                # without evicting — unbounded growth through the
                # public memo_cap kwarg)
                for k in list(islice(iter(memo), max(1, cap // 2))):
                    del memo[k]
        memo[w] = hit  # (re-)insert at the live end: order = recency
        return hit

    enc_word._memo = memo  # test hook: inspect cache state
    return enc_word


def bpe_encode_arrow(
    df: DataFrame,
    merges: list[tuple[int, str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    memo_cap: int | None = None,
) -> DataFrame:
    """Arrow encode path: merge ranks ride the closure into one
    mapInPandas pass. Per-partition word memo (corpora repeat words
    heavily) + substring prefilter (a merge's token is a run of
    adjacent original characters, so only merges whose token is a
    substring of the word can ever fire) keep the per-distinct-word
    cost to the handful of applicable merges, not the whole table.
    The memo is capped at _ENCODE_MEMO_CAP entries with LRU eviction:
    a hit re-inserts its key, so dict order IS recency and evicting
    the first half drops the least-recently-used entries — bounding
    executor memory on high-distinct-word partitions while keeping the
    Zipf head cached (head words re-hit constantly, so they keep
    migrating to the live end; plain first-seen insertion order would
    evict exactly those head words first)."""
    import pandas as pd

    ranked = [(left, right, left + right) for _, left, right in sorted(merges)]
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("tokens", T.StringType(), True),
            T.StructField("n_tokens", T.IntegerType(), True),
        ]
    )

    def run(it):
        # memo_cap rides the closure by value: the executor-side
        # re-import of this module must not reset a caller's cap.
        enc_word = _make_word_encoder(ranked, memo_cap)

        for pdf in it:
            toks: list[str | None] = []
            counts: list[int | None] = []
            for text in pdf[text_col]:
                if text is None or text is pd.NA:
                    # fold-engine parity: null text → null tokens/count
                    toks.append(None)
                    counts.append(None)
                    continue
                parts = [enc_word(w) for w in _split_words(text)]
                toks.append(" ".join(p[0] for p in parts))
                counts.append(sum(p[1] for p in parts))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].reset_index(drop=True),
                    "tokens": toks,
                    "n_tokens": pd.array(counts, dtype="Int32"),
                }
            )

    return df.select(id_col, text_col).mapInPandas(run, out_schema)


# ------------------------------------------------------------- persistence


def save_merges(spark, merges: list[tuple[int, str, str]], path: str) -> None:
    """Persist a trained merge table as parquet (rank, left, right) —
    the same no-pickle artifact convention as the ANN index
    persistence (operators/similarity.py): portable across Spark
    versions and readable by any engine."""
    spark.createDataFrame(
        merges, "rank INT, left STRING, right STRING"  # explicit: [] must persist too
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_merges(spark, path: str) -> list[tuple[int, str, str]]:
    """Load a persisted merge table, rank-ordered."""
    return [
        (r["rank"], r["left"], r["right"])
        for r in spark.read.parquet(path).orderBy("rank").collect()
    ]


# ---------------------------------------------------------------- oracle twin

def reference_bpe(
    texts: list[str], n_merges: int = 16, min_pair_count: int = 2
) -> list[tuple[int, str, str]]:
    """Independent pure-Python twin of train_bpe (the textbook
    algorithm, dict-based, counts recomputed in full every merge) —
    oracle builder for the seeded gate, the hand-checked unit tests,
    and the batched-equals-sequential equivalence suite."""
    hist: dict[tuple[str, ...], int] = {}
    for t in texts:
        # _split_words is the shared TOKENIZATION SPEC (ASCII \s, as
        # Spark/Java defines it); the merge algorithm below stays an
        # independent implementation.
        for w in _split_words(t):
            k = tuple(w)
            hist[k] = hist.get(k, 0) + 1
    merges: list[tuple[int, str, str]] = []
    for rank in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in hist.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = pairs.get((syms[i], syms[i + 1]), 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_count:
            break
        (left, right), _ = best
        merges.append((rank, left, right))
        new_hist: dict[tuple[str, ...], int] = {}
        for syms, c in hist.items():
            k = _apply(syms, left, right)
            new_hist[k] = new_hist.get(k, 0) + c  # collapsed spellings add up
        hist = new_hist
    return merges


def _apply(syms: tuple[str, ...], left: str, right: str) -> tuple[str, ...]:
    out: list[str] = []
    for s in syms:
        if out and out[-1] == left and s == right:
            out[-1] = left + right
        else:
            out.append(s)
    return tuple(out)


def reference_encode(text: str, merges: list[tuple[int, str, str]]) -> list[str]:
    toks: list[str] = []
    for w in _split_words(text):  # shared tokenization spec, as above
        syms = tuple(w)
        for _, left, right in sorted(merges):
            syms = _apply(syms, left, right)
        toks.append("·".join(syms))
    return toks
