"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same pair writes
byte-identical inputs. Each one writes its files into a directory and
returns a ``truth`` dict that records the make-up of the inputs and the
ground truth the correctness checks use (planted duplicate families,
planted components, published message counts). The truth dict is saved
next to the inputs as ``truth.json``, so a cached input set carries its
own truth.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _stamp(t: float) -> str:
    """ISO-8601 UTC with millisecond precision, as the stream source parses it."""
    return datetime.fromtimestamp(t, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


# ---------------------------------------------------------------- llm_prep

LANG_WORDS = {
    "en": "the a of and to in is it data model river city paper light music garden".split(),
    "de": "der die das und ist nicht ein mit haus stadt wasser licht zeit buch".split(),
    "fr": "le la les et des une est que maison ville eau temps livre jardin".split(),
    "es": "el la de que y los una por casa ciudad agua tiempo libro mundo".split(),
}
FILLER = "system value network market energy school family history science report".split()


def _doc_text(rng: np.random.Generator, lang: str, n_words: int) -> str:
    vocab = LANG_WORDS[lang] + FILLER
    words = [vocab[i] for i in rng.integers(0, len(vocab), size=n_words)]
    out, i = [], 0
    while i < n_words:  # sentences of 6-14 words, capitalised, full stop
        k = int(rng.integers(6, 15))
        sent = words[i : i + k]
        sent[0] = sent[0].capitalize()
        out.append(" ".join(sent) + ".")
        i += k
    return " ".join(out)


def _respell(rng: np.random.Generator, text: str) -> str:
    """An exact duplicate under the dedup key (lowercase, collapsed
    whitespace, trimmed) that differs in bytes."""
    kind = int(rng.integers(0, 3))
    if kind == 0:
        return text.upper()
    if kind == 1:
        return "  " + text.replace(" ", "\t ", 3) + "\n"
    return text


def gen_corpus(out_dir: str, seed: int, n_texts: int, min_words: int, files: int = 4) -> dict:
    """A document corpus with planted exact-duplicate families.

    ``n_texts`` distinct texts are drawn, then ``n_texts // 2`` extra
    copies of randomly chosen ones, some respelled (case or whitespace)
    so only the normalised key matches. One text in eight is short (fewer than
    ``min_words`` words), which the task's filter drops."""
    rng = np.random.default_rng([seed, 2])
    langs = list(LANG_WORDS)
    texts: list[str] = []
    short_ids = set(rng.choice(n_texts, size=n_texts // 8, replace=False).tolist())
    kept = 0
    for i in range(n_texts):
        short = i in short_ids
        # The serial word appended below keeps every planted text distinct
        # and adds one token; a respelling may add an empty trailing one.
        # Short texts stay below min_words tokens either way.
        n_words = int(rng.integers(3, min_words - 2)) if short else int(rng.integers(min_words + 8, 260))
        t = _doc_text(rng, langs[int(rng.integers(0, 4))], n_words) + f" Ref{seed}x{i}."
        texts.append(t)
        kept += not short
    # exactly n_texts // 2 extra copies, so every seed has the same number
    # of documents; a text drawn k times heads a family of k + 1
    docs = texts + [_respell(rng, texts[i]) for i in rng.integers(0, n_texts, size=n_texts // 2)]
    order = rng.permutation(len(docs))
    ids = rng.choice(np.arange(1, 50 * len(docs), dtype=np.int64), size=len(docs), replace=False)
    table = pa.table({"doc_id": ids, "text": pa.array([docs[j] for j in order], type=pa.string())})
    d = os.path.join(out_dir, "corpus")
    os.makedirs(d)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(d, f"part-{i:03d}.parquet"))
    return {"docs": len(docs), "distinct_texts": n_texts, "distinct_kept": kept, "min_words": min_words}


# ------------------------------------------------------------ stream_windows

STREAM_T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)


def gen_queue(out_dir: str, seed: int, n_messages: int, n_files: int, n_keys: int,
              window_s: int, watermark_s: int) -> dict:
    """A backlog of JSON-lines message files in the file-queue format
    that ``sources.stream.queue_dir_publish`` writes.

    Event time advances file by file; within a file each event lags the
    file's clock by less than half the watermark, so no event is ever
    late. A final sentinel file holds one event far enough past the last
    window to close every window. File modification times are set one
    second apart, so the stream source takes the files in order."""
    rng = np.random.default_rng([seed, 3])
    qdir = os.path.join(out_dir, "queue")
    os.makedirs(qdir)
    n_files -= 1  # the last file holds the sentinel
    per_file = n_messages // n_files
    span_s = 10 * window_s  # event time covered by one file
    max_lag = watermark_s // 2
    mtime = 1_700_000_000
    t0 = STREAM_T0.timestamp()
    for i in range(n_files):
        base = t0 + i * span_s
        offs = rng.integers(0, span_s * 1000, size=per_file) / 1000.0
        lag = rng.integers(0, max_lag * 1000, size=per_file) / 1000.0
        ts = base + offs - np.minimum(lag, offs + i * span_s)
        keys = rng.integers(0, n_keys, size=per_file)
        amounts = rng.integers(1, 10_000, size=per_file)
        path = os.path.join(qdir, f"m-{i:05d}.json")
        with open(path, "w") as f:
            for t, k, a in zip(ts, keys, amounts):
                f.write(json.dumps({"key": f"k{k}", "value": json.dumps({"user": f"k{k}", "amount": int(a)}),
                                    "topic": "events", "ts": _stamp(float(t))}) + "\n")
        os.utime(path, (mtime + i, mtime + i))
    end = t0 + n_files * span_s + watermark_s + 2 * window_s
    sentinel = os.path.join(qdir, f"m-{n_files:05d}.json")
    with open(sentinel, "w") as f:
        f.write(json.dumps({"key": "sentinel", "value": json.dumps({"user": "sentinel", "amount": 0}),
                            "topic": "events", "ts": _stamp(end)}) + "\n")
    os.utime(sentinel, (mtime + n_files + 10, mtime + n_files + 10))
    return {"messages": per_file * n_files, "files": n_files + 1, "keys": n_keys,
            "window_s": window_s, "watermark_s": watermark_s, "sentinel_key": "sentinel"}


# ---------------------------------------------------------- graph_components


def gen_graph(out_dir: str, seed: int, n_trees: int, path_len: int) -> dict:
    """An edge list with planted components.

    Component 0 is a path of ``path_len`` nodes with ids rising along it.
    The others are ``n_trees`` random trees of 2-4 nodes (each node hangs
    off a random earlier one) with one extra intra-component edge in
    three, whose ids are a random permutation, so their minimum id sits
    anywhere in them. The trees are shallow, so the path sets the number
    of label-propagation rounds, and that number is the same on every
    seed. The truth is each node's planted component label: the minimum
    id in its component."""
    rng = np.random.default_rng([seed, 4])
    sizes = [path_len] + rng.integers(2, 5, size=n_trees).tolist()
    n_nodes = sum(sizes)
    ids = rng.choice(np.arange(1, 20 * n_nodes, dtype=np.int64), size=n_nodes, replace=False)
    ids[:path_len] = np.sort(ids[:path_len])
    src, dst, comp_of = [], [], np.empty(n_nodes, dtype=np.int64)
    start = 0
    for c, size in enumerate(sizes):
        members = np.arange(start, start + size)
        comp_of[members] = c
        parent = members[:-1] if c == 0 else members[(rng.random(size - 1) * np.arange(1, size)).astype(np.int64)]
        src.append(members[1:])
        dst.append(parent)
        if c > 0 and rng.random() < 1 / 3:
            src.append(members[rng.integers(0, size, 1)])
            dst.append(members[rng.integers(0, size, 1)])
        start += size
    a, b = np.concatenate(src), np.concatenate(dst)
    keep = a != b
    a, b = a[keep], b[keep]
    flip = rng.random(a.size) < 0.5
    a, b = np.where(flip, b, a), np.where(flip, a, b)
    order = rng.permutation(a.size)
    edges = pa.table({"id_a": ids[a[order]], "id_b": ids[b[order]]})
    d = os.path.join(out_dir, "edges")
    os.makedirs(d)
    pq.write_table(edges, os.path.join(d, "part-000.parquet"))
    comp_min = np.full(len(sizes), np.iinfo(np.int64).max)
    np.minimum.at(comp_min, comp_of, ids)
    pq.write_table(pa.table({"id": ids, "component": comp_min[comp_of]}), os.path.join(out_dir, "labels.parquet"))
    return {"nodes": n_nodes, "edges": int(a.size), "components": len(sizes), "path_len": path_len}


# ------------------------------------------------------------------ caching


def cached(root: str, key: str, make, keep: int = 3) -> tuple[str, dict]:
    """Directory holding the input set ``key``, generating it with
    ``make(tmp_dir) -> truth`` on first use. Keeps the ``keep`` most
    recently used sets of the same workload and deletes older ones."""
    d = os.path.join(root, key)
    truth_path = os.path.join(d, "truth.json")
    if not os.path.exists(truth_path):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        truth = make(tmp)
        with open(os.path.join(tmp, "truth.json"), "w") as f:
            json.dump(truth, f, sort_keys=True)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    os.utime(truth_path)
    prefix = key.split("-s", 1)[0] + "-s"
    mine = [e for e in os.listdir(root) if e.startswith(prefix) and ".tmp" not in e]
    mine.sort(key=lambda e: os.path.getmtime(os.path.join(root, e, "truth.json")), reverse=True)
    for old in mine[keep:]:
        shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    with open(truth_path) as f:
        return d, json.load(f)
