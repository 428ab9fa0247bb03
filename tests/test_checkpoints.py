"""Storage bounds of the iterative loops' localCheckpoints.

The graph and BPE loops cut lineage with one checkpoint per round,
owned by a ``CheckpointScope``. Without an explicit release the
superseded rounds' blocks sit in executor storage until the
ContextCleaner happens to run. These tests pin (a) the release helper's
contract: it releases exactly a checkpoint's blocks, refuses derived
plans, and never breaks live data; (b) the scope's contract: release on
every exit, except what is kept; and (c) every loop's storage bound on
its success, non-convergence and mid-round-exception paths: a call
leaves only the blocks its result still reads.
"""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import functions as F

from rabbit_data_pipeline_spark.functions.checkpoints import (
    CheckpointScope,
    release_local_checkpoint,
)
from rabbit_data_pipeline_spark.operators import bpe, graph


def _persistent_ids(spark) -> set[int]:
    m = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it, ids = m.iterator(), set()
    while it.hasNext():
        ids.add(it.next()._1())
    return ids


def test_release_frees_checkpoint_blocks(spark):
    before = _persistent_ids(spark)
    ckpt = spark.range(100).selectExpr("id", "id * 2 AS y").localCheckpoint(eager=True)
    created = _persistent_ids(spark) - before
    assert len(created) == 1  # the checkpoint persisted exactly one RDD
    assert release_local_checkpoint(ckpt) is True
    assert not (created & _persistent_ids(spark))  # blocks gone immediately


def test_release_refuses_derived_plans(spark):
    ckpt = spark.range(50).localCheckpoint(eager=True)
    derived = ckpt.filter(F.col("id") > 10)  # root is Filter, not LogicalRDD
    assert release_local_checkpoint(derived) is False
    assert derived.count() == 39  # the underlying checkpoint is untouched
    release_local_checkpoint(ckpt)


def test_release_refuses_unpersisted_logical_rdd(spark):
    """createDataFrame frames are LogicalRDD-rooted too but persist
    nothing — the helper must not claim it released blocks there."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    assert release_local_checkpoint(df) is False
    assert df.count() == 2


# ------------------------------------------------------------ the scope


def test_scope_releases_all_but_kept_on_exit(spark):
    before = _persistent_ids(spark)
    with CheckpointScope() as scope:
        a = scope.checkpoint(spark.range(10))
        b = scope.checkpoint(spark.range(20))
        lazy = scope.checkpoint(spark.range(30), eager=False)
        assert lazy.count() == 30  # a lazy checkpoint materializes on its first action
        scope.release(a)
        scope.release(a, b.filter(F.col("id") > 3))  # repeats and derived plans are no-ops
        scope.keep(b)
    assert len(_persistent_ids(spark) - before) == 1  # only the kept frame
    assert b.count() == 20


def test_scope_releases_on_exception(spark):
    before = _persistent_ids(spark)
    with pytest.raises(ValueError, match="boom"):
        with CheckpointScope() as scope:
            scope.checkpoint(spark.range(10))
            raise ValueError("boom")
    assert not (_persistent_ids(spark) - before)


def test_connected_components_estimate_does_not_compound(spark):
    """Each round joins the previous labels with themselves; a
    checkpoint that carried its plan's size estimate forward doubled
    the estimate's bit length every round (about 48,000 bits on this
    chain), until Catalyst stalled in BigInteger arithmetic on deeper
    graphs."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(200)], ["id_a", "id_b"])
    comp = graph.connected_components(pairs)
    # py4j hands the estimate over as a decimal string
    limit = sys.get_int_max_str_digits()
    sys.set_int_max_str_digits(0)
    try:
        bits = comp._jdf.queryExecution().optimizedPlan().stats().sizeInBytes().bit_length()
    finally:
        sys.set_int_max_str_digits(limit)
    assert bits < 128, f"size estimate grew to {bits} bits"
    assert {r["component"] for r in comp.collect()} == {0}


# --------------------------------------------------- the loops' bounds


def _chain_pairs(spark, n=9):
    return spark.createDataFrame([(i, i + 1) for i in range(n)], ["id_a", "id_b"])


def _symmetric(spark, und, cols=("src", "dst")):
    return spark.createDataFrame(und + [(b, a) for a, b in und], list(cols))


def _cc(spark, **kw):
    rows = graph.connected_components(_chain_pairs(spark), **kw).collect()
    return {r["id"]: r["component"] for r in rows}


def _cc_star(spark, **kw):
    rows = graph.connected_components_star(_chain_pairs(spark), **kw).collect()
    return {r["id"]: r["component"] for r in rows}


def _pagerank(spark, **kw):
    und = [(i, (i + 1) % 7) for i in range(7)] + [(0, 3), (2, 5)]
    return {r["node"]: r["rank"] for r in graph.pagerank(_symmetric(spark, und), **kw).collect()}


def _bfs(spark, **kw):
    edges = spark.createDataFrame([(str(i), str(i + 1)) for i in range(6)], ["src", "dst"])
    return {r["node"]: r["dist"] for r in graph.bfs_distances(edges, ["0"], **kw).collect()}


def _kcore(spark, **kw):
    # a triangle with a pendant chain: the chain peels over two rounds
    edges = _symmetric(spark, [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)])
    return {r["node"] for r in graph.kcore(edges, k=2, **kw).collect()}


def _sssp(spark, **kw):
    edges = spark.createDataFrame(
        [("a", "b", 5), ("b", "c", 1), ("a", "c", 9), ("c", "d", 2)], ["src", "dst", "w"]
    )
    return {r["node"]: r["dist"] for r in graph.weighted_sssp(edges, ["a"], **kw).collect()}


LOOPS = {
    "connected_components": _cc,
    "connected_components_star": _cc_star,
    "pagerank": _pagerank,
    "bfs_distances": _bfs,
    "kcore": _kcore,
    "weighted_sssp": _sssp,
}

# loop -> (expected result or None, persisted RDDs the result reads)
SUCCESS = {
    "connected_components": ({i: 0 for i in range(10)}, 1),
    # the star result joins the node set with the final edge set
    "connected_components_star": ({i: 0 for i in range(10)}, 2),
    "pagerank": (None, 1),
    "bfs_distances": ({str(i): i for i in range(7)}, 1),
    "kcore": ({0, 1, 2}, 1),
    "weighted_sssp": ({"a": 0, "b": 5, "c": 6, "d": 8}, 1),
}

# loop -> (kwargs that stop it early, expected error or None for a
# truncated result, persisted RDDs the result reads). pagerank runs a
# fixed number of rounds and has no such path.
EARLY_EXIT = {
    "connected_components": ({"max_iter": 1}, "did not converge", 0),
    "connected_components_star": ({"max_iter": 1}, "did not converge", 0),
    "kcore": ({"max_rounds": 1}, "did not converge", 0),
    "weighted_sssp": ({"max_rounds": 1}, "did not converge", 0),
    "bfs_distances": ({"max_hops": 2}, None, 1),
}


def _check_success(spark, name):
    expected, kept = SUCCESS[name]
    before = _persistent_ids(spark)
    got = LOOPS[name](spark)
    if expected is not None:
        assert got == expected
    leaked = _persistent_ids(spark) - before
    assert len(leaked) <= kept, f"superseded rounds left persisted: {sorted(leaked)}"
    return got


def _check_early_exit(spark, name):
    kw, error, kept = EARLY_EXIT[name]
    before = _persistent_ids(spark)
    if error:
        with pytest.raises(RuntimeError, match=error):
            LOOPS[name](spark, **kw)
    else:
        assert LOOPS[name](spark, **kw) == {"0": 0, "1": 1, "2": 2}
    leaked = _persistent_ids(spark) - before
    assert len(leaked) <= kept, f"early exit left persisted RDDs: {sorted(leaked)}"


def test_connected_components_storage_stays_bounded(spark):
    _check_success(spark, "connected_components")


def test_connected_components_star_storage_stays_bounded(spark):
    _check_success(spark, "connected_components_star")


def test_pagerank_eager_releases_and_agrees(spark):
    """The eager rounds leave one score vector, and their values are
    bit-identical to the lazy chain's (integer arithmetic). eager=False
    materializes no round inside the call, so every checkpoint its plan
    reads must survive the call."""
    assert _check_success(spark, "pagerank") == _pagerank(spark, iters=6, eager=False)


def test_bfs_eager_rounds_release_and_agree(spark):
    _check_success(spark, "bfs_distances")


def test_kcore_storage_stays_bounded(spark):
    _check_success(spark, "kcore")


def test_weighted_sssp_releases_and_agrees(spark):
    _check_success(spark, "weighted_sssp")


def test_connected_components_raise_path_releases(spark):
    _check_early_exit(spark, "connected_components")


def test_connected_components_star_raise_path_releases(spark):
    _check_early_exit(spark, "connected_components_star")


def test_kcore_raise_path_releases(spark):
    _check_early_exit(spark, "kcore")


def test_weighted_sssp_raise_path_releases(spark):
    _check_early_exit(spark, "weighted_sssp")


def test_bfs_hop_limit_releases(spark):
    _check_early_exit(spark, "bfs_distances")


# (loop, which count() call raises): the second count is a probe inside
# the first round, after that round's checkpoint is materialized;
# pagerank's one count is the node count.
MID_ROUND = [
    ("connected_components", 2),
    ("connected_components_star", 2),
    ("pagerank", 1),
    ("bfs_distances", 2),
    ("kcore", 2),
    ("weighted_sssp", 2),
]


@pytest.mark.parametrize("name,nth", MID_ROUND, ids=[s[0] for s in MID_ROUND])
def test_loop_mid_round_exception_releases(spark, monkeypatch, name, nth):
    frame_type = type(spark.range(1))
    count = frame_type.count
    calls = []

    def failing_count(self):
        calls.append(1)
        if len(calls) == nth:
            raise RuntimeError("executor lost mid-round")
        return count(self)

    monkeypatch.setattr(frame_type, "count", failing_count)
    before = _persistent_ids(spark)
    with pytest.raises(RuntimeError, match="executor lost"):
        LOOPS[name](spark)
    leaked = _persistent_ids(spark) - before
    assert not leaked, f"mid-round exception left persisted RDDs: {sorted(leaked)}"


def test_iterative_storage_is_round_independent(spark):
    """The persisted set a frontier loop leaves behind is its invariant
    set (the final dist checkpoint), independent of how many rounds
    ran: a chain forces one round per node, and 3× the rounds must
    leave exactly as much as 1×."""
    leaks = {}
    for n in (8, 24):
        edges = spark.createDataFrame([(str(i), str(i + 1)) for i in range(n)], ["src", "dst"])
        before = _persistent_ids(spark)
        rows = graph.bfs_distances(edges, ["0"], max_hops=n + 2).collect()
        dist = {r["node"]: r["dist"] for r in rows}
        assert dist == {str(i): i for i in range(n + 1)}
        leaks[n] = len(_persistent_ids(spark) - before)
    assert leaks[24] <= leaks[8] <= 1, f"leak grew with round count: {leaks}"


def test_pagerank_storage_is_round_independent(spark):
    edges = spark.createDataFrame([(i, (i + 1) % 5) for i in range(5)], ["src", "dst"])
    leaks = {}
    for iters in (3, 9):
        before = _persistent_ids(spark)
        assert graph.pagerank(edges, iters=iters).count() == 5
        leaks[iters] = len(_persistent_ids(spark) - before)
    assert leaks[9] <= leaks[3] <= 1, f"leak grew with round count: {leaks}"


def test_pagerank_zero_iters_keeps_inputs_readable(spark):
    """iters=0 returns the uniform vector as a derived plan over the
    node checkpoint, which must not be released."""
    edges = spark.createDataFrame([(0, 1), (1, 0)], ["src", "dst"])
    rows = graph.pagerank(edges, iters=0).collect()
    assert {r["node"] for r in rows} == {0, 1}
    assert all(abs(r["rank"] - 0.5) < 1e-9 for r in rows)


# ---------------------------------------------------------------- BPE


def _bpe_docs(spark):
    return spark.createDataFrame(
        [(i, "low lower lowest newer newest wide widely") for i in range(20)],
        ["doc_id", "text"],
    )


def test_train_bpe_releases_histogram_on_every_strategy(spark):
    """train_bpe returns a plain merge list, so no strategy may leave a
    persisted RDD behind, and releasing must not change the merges.
    driver_topm rebinds the histogram to a derived plan, which only the
    scope's own handle can release."""
    df = _bpe_docs(spark)
    merges = {}
    for strategy in ("auto", "driver", "driver_topm", "distributed"):
        before = _persistent_ids(spark)
        merges[strategy] = [(l, r) for _, l, r in bpe.train_bpe(df, n_merges=6, strategy=strategy)]
        leaked = _persistent_ids(spark) - before
        assert not leaked, f"{strategy} left persisted RDDs: {sorted(leaked)}"
    assert len(set(map(tuple, merges.values()))) == 1, merges


def _check_bpe_raise(spark, monkeypatch, strategy, owner, target):
    def boom(*a, **k):
        raise RuntimeError("executor lost mid-train")

    monkeypatch.setattr(owner, target, boom)
    df = _bpe_docs(spark)
    before = _persistent_ids(spark)
    with pytest.raises(RuntimeError, match="executor lost"):
        bpe.train_bpe(df, n_merges=4, strategy=strategy)
    leaked = _persistent_ids(spark) - before
    assert not leaked, f"raise path left persisted RDDs: {sorted(leaked)}"


def test_train_bpe_raise_in_dispatch_releases_histogram(spark, monkeypatch):
    _check_bpe_raise(spark, monkeypatch, "distributed", bpe, "_train_distributed")


def test_train_distributed_raise_mid_round_releases_vocab(spark, monkeypatch):
    _check_bpe_raise(spark, monkeypatch, "distributed", bpe, "_select_batch")


@pytest.mark.parametrize("strategy", ["driver", "driver_topm", "distributed"])
def test_train_bpe_collect_raise_releases(spark, monkeypatch, strategy):
    """A failing collect hits the driver engines' histogram read and
    the batched trainer's alphabet."""
    _check_bpe_raise(spark, monkeypatch, strategy, type(spark.range(1)), "collect")
