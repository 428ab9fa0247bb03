"""Each correctness check passes on a correct output and fails on one
deliberately corrupted: a row dropped, a sum changed, a label swapped.

The correct outputs are written from the checks' own DuckDB queries (the
batch workloads) or from the generator's planted truth (the graph), so
these tests need no Spark session.
"""

import os

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from perfbench import checks, gen


def _write(con, sql: str, path: str) -> None:
    os.makedirs(path)
    con.sql(f"COPY ({sql}) TO '{path}/part-0.parquet' (FORMAT parquet)")


def _rewrite(path: str, change) -> None:
    """Apply ``change`` to the Arrow table in a directory of one part file."""
    f = os.path.join(path, "part-0.parquet")
    pq.write_table(change(pq.read_table(f)), f)


def _set(table: pa.Table, column: str, row: int, value) -> pa.Table:
    values = table.column(column).to_pylist()
    values[row] = value
    i = table.schema.get_field_index(column)
    return table.set_column(i, column, pa.array(values, type=table.schema.field(column).type))


# ------------------------------------------------------------------ llm_prep


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    inputs = str(tmp_path_factory.mktemp("llm_in"))
    truth = gen.gen_corpus(inputs, seed=7, n_texts=80, min_words=16, files=2)
    return inputs, truth


def _llm_output(inputs: str, truth: dict, out: str) -> None:
    with duckdb.connect() as con:
        _write(con, checks.llm_expected(inputs, truth["min_words"]), f"{out}/docs")


def test_llm_check_passes_and_planted_survivors_match(corpus, tmp_path):
    inputs, truth = corpus
    assert truth["docs"] > truth["distinct_texts"] > truth["distinct_kept"]
    _llm_output(inputs, truth, str(tmp_path))
    assert checks.check_llm(inputs, str(tmp_path), truth) == []


def test_llm_check_fails_on_dropped_row(corpus, tmp_path):
    inputs, truth = corpus
    _llm_output(inputs, truth, str(tmp_path))
    _rewrite(f"{tmp_path}/docs", lambda t: t.slice(1))
    errs = checks.check_llm(inputs, str(tmp_path), truth)
    assert len(errs) == 2  # the digest and the planted survivor count


def test_llm_check_fails_on_changed_value(corpus, tmp_path):
    inputs, truth = corpus
    _llm_output(inputs, truth, str(tmp_path))
    _rewrite(f"{tmp_path}/docs", lambda t: _set(t, "bpe_tokens", 0, t.column("bpe_tokens")[0].as_py() + 1))
    assert checks.check_llm(inputs, str(tmp_path), truth)


# ------------------------------------------------------------ stream_windows


@pytest.fixture(scope="module")
def queue(tmp_path_factory):
    inputs = str(tmp_path_factory.mktemp("queue_in"))
    truth = gen.gen_queue(inputs, seed=7, n_messages=600, n_files=4, n_keys=5, window_s=60, watermark_s=600)
    return inputs, truth


def test_stream_check_passes_on_expected_windows(queue):
    inputs, truth = queue
    rows = checks.stream_expected(inputs, truth)
    assert sum(r[2] for r in rows) == truth["messages"]
    assert checks.check_stream(inputs, list(reversed(rows)), truth) == []


def test_stream_check_fails_on_changed_sum(queue):
    inputs, truth = queue
    rows = checks.stream_expected(inputs, truth)
    w, user, n, total = rows[3]
    rows[3] = (w, user, n, total + 1)
    assert checks.check_stream(inputs, rows, truth)


def test_stream_check_fails_on_dropped_window(queue):
    inputs, truth = queue
    rows = checks.stream_expected(inputs, truth)[1:]
    assert len(checks.check_stream(inputs, rows, truth)) == 2


def test_stream_events_are_never_later_than_the_watermark(queue):
    """Event time may step back within a file, but never by the watermark."""
    import glob
    import json
    from datetime import datetime

    inputs, truth = queue
    seen_max = None
    for path in sorted(glob.glob(f"{inputs}/queue/*.json")):
        stamps = [datetime.fromisoformat(json.loads(line)["ts"].replace("Z", "+00:00")).timestamp()
                  for line in open(path)]
        if seen_max is not None:
            assert min(stamps) > seen_max - truth["watermark_s"]
        seen_max = max([seen_max or 0.0] + stamps)


# ---------------------------------------------------------- graph_components


@pytest.fixture(scope="module")
def graph(tmp_path_factory):
    inputs = str(tmp_path_factory.mktemp("graph_in"))
    truth = gen.gen_graph(inputs, seed=7, n_trees=40, path_len=16)
    return inputs, truth


def test_graph_check_passes_on_planted_labels(graph):
    inputs, truth = graph
    table = pq.read_table(f"{inputs}/labels.parquet")
    assert checks.check_graph(inputs, table, truth) == []


def test_graph_check_fails_on_swapped_label(graph):
    inputs, truth = graph
    table = pq.read_table(f"{inputs}/labels.parquet")
    comps = table.column("component")
    other = next(i for i in range(1, table.num_rows) if comps[i] != comps[0])
    labels = comps.to_pylist()
    labels[0], labels[other] = labels[other], labels[0]
    swapped = table.set_column(1, "component", pa.array(labels, type=pa.int64()))
    assert checks.check_graph(inputs, swapped, truth)


def test_persisted_check_allows_only_the_result_checkpoint():
    assert checks.check_persisted(5, 5) == []
    assert checks.check_persisted(5, 6) == []  # the returned frame's labels checkpoint


def test_persisted_check_fails_on_extra_rdds_left():
    assert checks.check_persisted(5, 7)


def test_graph_labels_are_component_minimums(graph):
    inputs, truth = graph
    table = pq.read_table(f"{inputs}/labels.parquet")
    edges = pq.read_table(f"{inputs}/edges")
    # every edge joins two nodes of one planted component
    lab = dict(zip(table.column("id").to_pylist(), table.column("component").to_pylist()))
    assert all(lab[a] == lab[b] for a, b in zip(edges.column("id_a").to_pylist(), edges.column("id_b").to_pylist()))
    assert pc.count_distinct(table.column("component")).as_py() == truth["components"]
    assert all(c <= i for i, c in lab.items())


# -------------------------------------------------------------- generators


def test_generators_are_deterministic_per_seed(tmp_path):
    def digest(seed: int, name: str) -> str:
        import hashlib

        d = tmp_path / f"{name}{seed}"
        d.mkdir()
        gen.gen_graph(str(d), seed, 30, 8)
        h = hashlib.sha256()
        for p in sorted(d.rglob("*.parquet")):
            h.update(p.read_bytes())
        return h.hexdigest()

    assert digest(1, "a") == digest(1, "b")
    assert digest(1, "c") != digest(2, "d")
