"""Distributed connected components for near-dup cluster resolution.

`dedup_by_pairs` keeps the lowest id of every *pair* (star-shaped
clusters); when near-duplicates chain (A~B, B~C, no direct A~C pair —
common with shingle-based similarity under small edits), resolving a
canonical survivor per *cluster* needs the transitive closure. This is
min-label propagation over the candidate-pair graph:

    label(v) <- min(label(v), min over neighbors u of label(u))
    label(v) <- min(label(v), label(label(v)))      # pointer jump

iterated to fixpoint. The neighbor step alone needs O(diameter)
rounds — degenerate on chain-shaped graphs (A~B~C~...~Z, which small
sequential edits DO produce); the pointer-jumping step compresses
label paths by doubling, so convergence is O(log diameter) — a
100-node chain closes in ~8 rounds instead of 99. (Same asymptotics
as the large-star/small-star algorithm of Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14; this two-step spelling
keeps every round a plain keyed join.) Everything is DataFrame
joins/aggregations: the per-round shuffles are on node id / label id,
the driver only sees one `count()` per round for the convergence
check, and a per-round checkpoint cuts the lineage so plans don't grow
exponentially with rounds. Every loop here checkpoints through
`functions.checkpoints.CheckpointScope`, which frees superseded rounds
and, on every exit, whatever the result does not read; a cluster
deployment that wants reliable checkpoints changes
`CheckpointScope.checkpoint` alone.

The pair graph is the output of the LSH/banding candidate generators,
i.e. ~(dup families) edges, orders of magnitude smaller than the
corpus — the corpus itself never enters the iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# release_local_checkpoint is bound here for the benchmark tracer,
# which wraps it by this name (perfbench/trace.py).
from rabbit_data_pipeline_spark.functions.checkpoints import (  # noqa: F401
    CheckpointScope,
    broadcast_if_fits,
    release_local_checkpoint,
)


def _broadcast_budget_rows(spark, bytes_per_row: int = 40) -> int:
    """Rows that fit the session's broadcast budget — the shared gate
    for the iterative loops' counted-small-side broadcasts (pagerank,
    kcore, BFS, SSSP, connected components). Derived from
    ``spark.sql.autoBroadcastJoinThreshold`` so "-1" disables it and
    the deployer's cluster config governs; at web-scale node counts
    the gate fails and every loop degrades to its shuffle shape by
    itself.

    Accepts every form Spark's own byteString parser does: plain
    bytes, one-letter suffixes ("10m"), two-letter suffixes ("10MB"),
    any case. An unparseable value falls back to Spark's 10 MB default
    instead of raising — a malformed session conf should cost the
    optimization, not the query.

    ``bytes_per_row`` is the approximate hashed-relation footprint of
    one build row and assumes SHORT keys (longs / small strings); rows
    with long string keys or wide payloads need a larger figure from
    the caller."""
    raw = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}
    try:
        budget = int(raw)
    except ValueError:
        s = raw[:-1] if raw.endswith("b") else raw
        try:
            if s and s[-1] in units:
                budget = int(float(s[:-1]) * units[s[-1]])
            else:
                budget = int(float(s))
        except ValueError:
            budget = 10 << 20
    return max(budget, 0) // bytes_per_row


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve the pair graph into components.

    Returns (id, component) for every node that appears in `pairs`,
    where component = the minimum node id reachable (the canonical
    survivor). Deterministic; raises if not converged in `max_iter`
    rounds — with pointer jumping the bound is O(log diameter), so the
    default cap of 25 covers graphs with diameters up to ~2^20 and
    hitting it means the input is not a candidate-pair graph."""
    # The label vector has one row per node in every round, so the node
    # count taken once sizes every node-sized join side; broadcast them
    # when they fit the session budget. With a budget of 0 nothing can
    # broadcast, so the count is skipped.
    budget = _broadcast_budget_rows(pairs.sparkSession)
    with CheckpointScope() as scope:
        edges = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        edges = scope.checkpoint(
            edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
        )
        # Lazy: the count materializes and counts in one job (or, with
        # no count, the first round's checkpoint materializes it).
        labels = scope.checkpoint(
            edges.select("u").distinct().withColumn("label", F.col("u")), eager=False
        )
        n_nodes = labels.count() if budget else 0

        def _b(df: DataFrame) -> DataFrame:
            return broadcast_if_fits(df, n_nodes, budget)

        for _ in range(max_iter):
            nbr_min = (
                edges.join(_b(labels.select(F.col("u").alias("v"), "label")), on="v")
                .groupBy("u")
                .agg(F.min("label").alias("nbr_label"))
            )
            new_labels = labels.join(_b(nbr_min), on="u", how="left").select(
                "u", F.least("label", F.coalesce("nbr_label", F.col("label"))).alias("label")
            )
            # Pointer jump: label(v) <- label(label(v)). Every label value
            # is itself a node (a min-so-far id), so a self-join resolves
            # one extra hop and halves the remaining path length per round.
            jump = new_labels.select(F.col("u").alias("label"), F.col("label").alias("label2"))
            new_labels = scope.checkpoint(
                new_labels.join(_b(jump), on="label", how="left").select(
                    "u", F.least("label", F.coalesce("label2", F.col("label"))).alias("label")
                )
            )
            changed = (
                new_labels.join(_b(labels.select("u", F.col("label").alias("old"))), on="u")
                .filter(F.col("label") != F.col("old"))
                .count()
            )
            scope.release(labels)
            labels = new_labels
            if changed == 0:
                scope.keep(labels)
                return labels.select(F.col("u").alias("id"), F.col("label").alias("component"))
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def dedup_transitive(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id", algorithm: str = "label"
) -> DataFrame:
    """Keep exactly one survivor (the minimum id) per connected
    near-dup cluster — the transitive-closure upgrade of
    `dedup_by_pairs`. `algorithm`: "label" (propagation + pointer
    jumping, best for the star-shaped graphs near-dup produces) or
    "star" (large/small-star, O(log² n) on adversarial shapes)."""
    cc = {"label": connected_components, "star": connected_components_star}[algorithm]
    comp = cc(pairs)
    losers = comp.filter(F.col("id") != F.col("component")).select(F.col("id").alias(id_col))
    return df.join(losers, on=id_col, how="left_anti")


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    the adversarial-graph alternative to `connected_components`: label
    propagation needs O(diameter) rounds before pointer jumping kicks
    in and suffers on high-degree hubs, while the star operations
    converge in O(log² n) rounds on ANY graph shape and each round
    only shuffles the (shrinking) edge list on its endpoints.

    large-star: every node points its larger neighbors at its
    neighborhood minimum; small-star: every node folds its smaller
    neighbors (and itself) onto the smallest. Fixpoint = a forest of
    stars (u, root). Returns (id, component) for every node in
    `pairs`, component = min reachable id — the same contract as
    `connected_components`, verified equal in tests."""
    with CheckpointScope() as scope:
        E = scope.checkpoint(
            pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
            .filter(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
        )
        # Eager: the return path joins `nodes`, and the initial E it
        # derives from is released once the first star round supersedes it.
        nodes = scope.checkpoint(
            E.select(F.col("u").alias("id")).unionAll(E.select("v")).distinct()
        )
        for _ in range(max_iter):
            # large-star over the symmetrized graph
            sym = E.unionAll(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
            mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
            mins = mins.select("u", F.least("u", "mn").alias("m"))
            ls = (
                sym.join(mins, on="u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("a"), F.col("m").alias("b"))
                .filter(F.col("a") != F.col("b"))
                .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
                .distinct()
            )
            # small-star over the (u > v)-directed edges
            mins2 = ls.groupBy("u").agg(F.min("v").alias("mn"))
            ss = scope.checkpoint(
                ls.join(mins2, on="u")
                .select(F.col("v").alias("a"), F.col("mn").alias("b"))
                .unionAll(mins2.select(F.col("u").alias("a"), F.col("mn").alias("b")))
                .filter(F.col("a") != F.col("b"))
                .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
                .distinct()
            )
            changed = ss.exceptAll(E).limit(1).count() + E.exceptAll(ss).limit(1).count()
            # The star rounds shrink the edge list, so the superseded
            # copies are the biggest blocks this loop holds.
            scope.release(E)
            E = ss
            if changed == 0:
                scope.keep(E, nodes)
                comp = E.select(F.col("u").alias("id"), F.col("v").alias("component"))
                return nodes.join(comp, on="id", how="left").select(
                    "id", F.coalesce("component", F.col("id")).alias("component")
                )
        raise RuntimeError(f"connected_components_star did not converge in {max_iter} rounds")


def pagerank(
    edges: DataFrame,
    iters: int = 6,
    scale: int = 1_000_000_000,
    damp_num: int = 85,
    damp_den: int = 100,
    eager: bool = True,
    in_complete: bool = False,
) -> DataFrame:
    """Integer-arithmetic PageRank — the canonical Spark iterative
    workload (Page et al. 1999; the motivating example of the RDD
    paper), made BIT-EXACT so even an iterative algorithm can carry a
    full value-hash oracle: scores live in integer nano-units, each
    contribution is truncating integer division score÷out_degree, and
    the damping update is (85·Σ)÷100 — no float enters until the final
    single /1e9, so Spark and an unrolled-CTE DuckDB twin agree to the
    last bit regardless of accumulation order.

    ``edges`` is directed (src, dst), assumed deduplicated; every node
    must have ≥1 out-edge (true by construction for the
    both-directions bipartite graphs fact tables induce — dangling
    nodes would need the usual redistribution term).

    ``in_complete=True`` asserts the caller's graph also gives every
    node ≥1 IN-edge (true for any symmetrized edge list, where each
    out-edge has a mirror). Under that invariant the per-iteration
    contribution aggregate already covers the exact node set, so the
    round skips the ``nodes`` left join entirely — one join and its
    exchanges removed per iteration, results bit-identical (A/B in
    OPTIMIZATION_r15.md). The flag is an UNCHECKED caller assertion:
    passed for a graph with a zero-in-degree node, nothing raises —
    that node silently disappears from the output and its rank mass is
    lost. Only set it where the edge list is symmetric by construction.

    Scale shape: out-degrees and the node set are one aggregation
    each; every iteration is one src-keyed join of the (small) score
    vector against the (large, never-moving) edge list plus one
    dst-keyed aggregation — the edge list partitioning is reused
    across all iterations, scores are checkpointed so the plan stays
    flat instead of nesting k joins. The node count is the one driver
    scalar (graph order), same class as the PQ-training round-trips.

    ``eager=True`` (default): each round's score vector is an EAGER
    checkpoint and the superseded round is released the moment its
    successor is materialized; the edge-list and node checkpoints are
    released at return, so a call leaves exactly ONE node-sized vector
    in executor storage (the returned score, reclaimed by the
    ContextCleaner when the caller drops it). Under lazy cleanup each
    call parked about an edge list plus `iters` score vectors until GC
    happened to run, which accumulates across repeated calls (measured
    in SCALING.md).

    ``eager=False`` keeps the lazy contract: building the result runs
    zero round jobs, one final action materializes the whole chain
    (callers that only explain/plan the result never execute the
    iterations), and cleanup is the ContextCleaner's."""
    spark = edges.sparkSession
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # AQE coalesces the small join output to ONE post-shuffle
    # partition, and a checkpoint freezes that, so every round's
    # contribution stage would re-read the whole edge list as a single
    # task. Repartition by src to the deployer-sized shuffle width
    # first (an explicit N is exempt from AQE coalescing).
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    budget = _broadcast_budget_rows(spark)
    with CheckpointScope() as scope:
        # Materialize (src, dst, deg) ONCE: the input edge list is
        # usually the tail of a fact-table join lineage, which every
        # round would otherwise re-run along with the degree aggregation.
        wedges = scope.checkpoint(
            edges.join(deg, "src").select("src", "dst", "deg").repartition(n_part, "src")
        )
        # Lazy: the graph-order count materializes and counts in one job.
        nodes = scope.checkpoint(wedges.select(F.col("src").alias("node")).distinct(), eager=False)
        n = nodes.count()
        base = (scale * (damp_den - damp_num)) // (damp_den * n)
        score = nodes.withColumn("score", F.lit(scale // n).cast("long"))
        if not eager:
            scope.keep(wedges, nodes)  # the lazy chain reads them when it runs
        for _ in range(iters):
            # Broadcasting the counted score vector keeps the edge list
            # in place: each round is then ONE node-sized exchange (the
            # dst aggregation) instead of a sort-merge join that
            # re-shuffles and re-sorts the whole edge list.
            side = broadcast_if_fits(score.withColumnRenamed("node", "src"), n, budget)
            contrib = wedges.join(side, "src").select("dst", F.expr("score div deg").alias("c"))
            agg = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
            if in_complete:
                # Every node receives ≥1 contribution, so `agg` already
                # covers the exact node set and the left join below is an
                # identity — skip it and its per-round exchanges. `s` is
                # never NULL on this path, so dropping the coalesce keeps
                # the arithmetic bit-identical.
                new_score = agg.select(
                    F.col("dst").alias("node"),
                    (
                        F.lit(base) + F.expr(f"({damp_num} * s) div {damp_den}")
                    ).cast("long").alias("score"),
                )
            else:
                new_score = nodes.join(agg.withColumnRenamed("dst", "node"), "node", "left").select(
                    "node",
                    (
                        F.lit(base)
                        + F.expr(f"({damp_num} * coalesce(s, CAST(0 AS BIGINT))) div {damp_den}")
                    ).cast("long").alias("score"),
                )
            new_score = scope.checkpoint(new_score, eager=eager)
            if eager:
                scope.release(score)
            else:
                scope.keep(new_score)
            score = new_score
        # With iters=0 the result is the uniform vector over `nodes`.
        scope.keep(score if iters else nodes)
        return score.select("node", (F.col("score") / F.lit(float(scale))).alias("rank"))


def bfs_distances(
    edges: DataFrame,
    sources: list,
    max_hops: int = 8,
) -> DataFrame:
    """Multi-source BFS hop distances — the frontier-expansion
    iterative shape (vs pagerank's full-vector relaxation): with unit
    edge weights the FIRST visit is the shortest path, so each round
    expands only the newly-settled frontier, anti-joins against the
    settled set, and stops when the frontier empties. All-integer, so
    results are exactly comparable to an unrolled min-propagation SQL
    twin (which relaxes the full vector every round — same fixed
    point, different work).

    Scale shape: per round one src-keyed join of the frontier against
    the never-moving edge list, one dst-keyed min-agg, one anti-join
    against settled nodes; total work across all rounds is O(edges)
    because every node enters a frontier exactly once (the textbook
    Pregel BFS). The emptiness probe is one driver count per round —
    bounded by the graph diameter, not size. The settled set is
    checkpointed so plans stay flat, and executor storage stays at
    {edges + dist + 2 frontiers} whatever the hop count."""
    spark = edges.sparkSession
    # Both small sides' row counts come for free: the frontier count is
    # the per-hop emptiness probe and the settled set grows by exactly
    # that count. Each is broadcast when it fits the session budget, so
    # the edge list is not re-shuffled against a few-row frontier.
    budget = _broadcast_budget_rows(spark)
    with CheckpointScope() as scope:
        edges = scope.checkpoint(edges)
        dist = frontier = scope.checkpoint(
            spark.createDataFrame([(s, 0) for s in sources], ["node", "dist"])
        )
        n_front = n_dist = len(sources)
        for _ in range(max_hops):
            fside = broadcast_if_fits(frontier, n_front, budget)
            new = scope.checkpoint(
                fside.join(edges, fside["node"] == edges["src"])
                .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
                .join(broadcast_if_fits(dist, n_dist, budget), "node", "left_anti")
            )
            n_new = new.count()
            if n_new == 0:
                break
            new_dist = scope.checkpoint(dist.unionAll(new))
            scope.release(dist, frontier)
            dist, frontier = new_dist, new
            n_front = n_new
            n_dist += n_new
        scope.keep(dist)
        return dist.select("node", F.col("dist").cast("int").alias("dist"))


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over an undirected graph given as
    canonical (u < v) edge pairs — the standard degree-ordered
    algorithm (Schank & Wagner 2005 forward/compact-forward): orient
    every edge from the (degree, id)-smaller endpoint to the larger,
    enumerate wedges from each node's out-neighborhood, and close them
    against the oriented edge list. The orientation is what makes this
    scale: out-degrees are bounded by O(sqrt(m)) on any graph, so the
    wedge join is O(m^1.5) total instead of the O(Σ deg²) a naive
    common-neighbor join pays on skewed graphs — the hub that breaks
    the naive plan has huge IN-degree but tiny out-degree here.

    Any acyclic orientation counts each triangle exactly once, so the
    degree-ordered count equals the plain id-ordered SQL twin's count
    — which is how an optimized plan can still carry an exact oracle.

    One row out: (n_triangles). Three shuffles: degree agg, wedge
    self-join keyed by wedge center, closing semi-join keyed by the
    wedge endpoints."""
    # edges is referenced three times (degree agg + the keyed join +
    # the closing semi-join); materialize once so its upstream lineage
    # runs once instead of three times.
    edges = edges.localCheckpoint(eager=True)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    keyed = (
        edges.join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
        .select(
            "u", "v",
            F.struct(F.col("du").alias("d"), F.col("u").alias("n")).alias("ku"),
            F.struct(F.col("dv").alias("d"), F.col("v").alias("n")).alias("kv"),
        )
    )
    oriented = keyed.select(
        F.when(F.col("ku") < F.col("kv"), F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(F.col("ku") < F.col("kv"), F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(F.col("ku") < F.col("kv"), F.col("kv")).otherwise(F.col("ku")).alias("kdst"),
    )
    e1 = oriented.select("src", F.col("dst").alias("w1"), F.col("kdst").alias("k1"))
    e2 = oriented.select("src", F.col("dst").alias("w2"), F.col("kdst").alias("k2"))
    wedges = e1.join(e2, "src").filter(F.col("k1") < F.col("k2")).select("w1", "w2")
    closed = wedges.join(
        oriented.select(F.col("src").alias("w1"), F.col("dst").alias("w2")),
        ["w1", "w2"],
        "left_semi",
    )
    return closed.agg(F.count("*").cast("long").alias("n_triangles"))


def kcore(edges: DataFrame, k: int, max_rounds: int = 25) -> DataFrame:
    """K-core decomposition by iterative peeling: repeatedly drop
    nodes with degree < k in the surviving subgraph until the fixpoint
    (the maximal subgraph where everyone keeps >= k neighbors — the
    standard community-density filter). `edges` must be symmetric
    (both directions present).

    Scale shape: each round is two semi-joins of the static edge list
    against the shrinking survivor set plus one keyed count — work
    decreases monotonically as nodes peel. The convergence probe is
    one driver count per round; rounds are bounded by the peeling
    depth (typically ≪ diameter), and a fixpoint round is a no-op,
    which is what lets an unrolled fixed-depth SQL twin hash-match
    the converged answer exactly.

    Returns (node, deg) — survivors with their in-core degree."""
    # The convergence probe hands over the survivor set's exact row
    # count every round: broadcast the semi-join side whenever it fits
    # the session budget, instead of sort-merging the edge list twice.
    budget = _broadcast_budget_rows(edges.sparkSession)
    with CheckpointScope() as scope:
        # One materialization; every peeling round re-joins this, not
        # its lineage. (An explicit repartition(src) first, as pagerank
        # does, was measured here and rejected: kcore converges in ~2
        # rounds, too few to amortize the extra exchange.)
        edges = scope.checkpoint(edges)
        alive = prev = scope.checkpoint(edges.select(F.col("src").alias("node")).distinct())
        n_alive = alive.count()
        for _ in range(max_rounds):
            side = broadcast_if_fits(alive, n_alive, budget)
            # Lazy: the convergence count materializes and probes it in
            # one job. The survivor set of the next round is a projection
            # over this checkpoint, so a round makes one checkpoint.
            deg = scope.checkpoint(
                edges.join(side.withColumnRenamed("node", "src"), "src", "left_semi")
                .join(side.withColumnRenamed("node", "dst"), "dst", "left_semi")
                .groupBy("src")
                .agg(F.count("*").alias("deg"))
                .filter(F.col("deg") >= k),
                eager=False,
            )
            n_next = deg.count()
            scope.release(prev)
            if n_next in (n_alive, 0):
                scope.keep(deg)
                return deg.select(F.col("src").alias("node"), "deg")
            alive, prev, n_alive = deg.select(F.col("src").alias("node")), deg, n_next
        raise RuntimeError(f"kcore did not converge in {max_rounds} rounds")


def _improvements(side: DataFrame, edges: DataFrame, old: DataFrame) -> DataFrame:
    """One relaxation out of `side` (node, dist) along `edges`
    (src, dst, w): the (node, dist) rows that beat `old` (node, old)."""
    return (
        side.join(edges, side["node"] == edges["src"])
        .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        .groupBy("node")
        .agg(F.min("dist").alias("dist"))
        .join(old, "node", "left")
        .filter(F.col("old").isNull() | (F.col("dist") < F.col("old")))
        .select("node", "dist")
    )


def weighted_sssp(
    edges: DataFrame,
    sources: list,
    max_rounds: int = 12,
) -> DataFrame:
    """Single-source shortest paths with integer edge weights —
    Bellman-Ford-style frontier relaxation: each round relaxes only
    edges out of nodes whose distance IMPROVED last round (the
    delta-stepping-without-buckets shape), so total work is
    O(edges x improvement-rounds), not O(V x E). `edges` needs
    (src, dst, w) with non-negative integer w (micro-units upstream).

    Integer distances make the converged vector bit-comparable to an
    unrolled full-vector relaxation twin (extra unrolled rounds are
    no-ops at the fixpoint). Raises if not converged in `max_rounds`
    (graphs here are candidate/trading graphs with small hop
    diameters; a genuine 10^6-hop chain needs a different algorithm).

    Returns (node, dist) for reachable nodes."""
    spark = edges.sparkSession
    # The frontier count is the per-round improvement probe; the
    # distance vector's count is tracked as an upper bound (improved
    # rows may replace existing entries, and the exact count would cost
    # a job). A too-big bound only forfeits a broadcast.
    budget = _broadcast_budget_rows(spark)
    with CheckpointScope() as scope:
        edges = scope.checkpoint(edges)
        dist = frontier = scope.checkpoint(
            spark.createDataFrame([(s, 0) for s in sources], ["node", "dist"])
        )
        n_front = n_dist_max = len(sources)
        for _ in range(max_rounds):
            old = broadcast_if_fits(dist.withColumnRenamed("dist", "old"), n_dist_max, budget)
            improved = scope.checkpoint(
                _improvements(broadcast_if_fits(frontier, n_front, budget), edges, old)
            )
            n_imp = improved.count()
            if n_imp == 0:
                scope.keep(dist)
                return dist
            gone = broadcast_if_fits(improved.select("node"), n_imp, budget)
            new_dist = scope.checkpoint(dist.join(gone, "node", "left_anti").unionAll(improved))
            scope.release(dist, frontier)
            dist, frontier = new_dist, improved
            n_front = n_imp
            n_dist_max += n_imp
        # converged iff one more relaxation changes nothing
        dside = broadcast_if_fits(dist, n_dist_max, budget)
        if not _improvements(dside, edges, dist.withColumnRenamed("dist", "old")).isEmpty():
            raise RuntimeError(f"weighted_sssp did not converge in {max_rounds} rounds")
        scope.keep(dist)
        return dist
