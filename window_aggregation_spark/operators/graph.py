"""Distributed graph operators over edge lists: connected components (the
grouping step that turns near-duplicate PAIRS into duplicate CLUSTERS),
fixed-iteration PageRank (node importance for link/citation-style
corpora), and degree-oriented exact triangle counting (local clustering
structure, e.g. co-purchase/co-citation density).

Greedy pairwise dedup (drop the higher id of every pair) is not transitive:
a~b and b~c with a!~c can keep both a and c. Components fix that: every
node gets the minimum reachable node id as its cluster label, and one
representative per cluster survives.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — pure DataFrame
self-joins and aggregations, no graph library:

- ``large-star``: every node points its larger neighbors at its smallest
  neighbor-or-self.
- ``small-star``: every node and its smaller neighbors all point at the
  smallest of them.

Both steps strictly reduce the potential function and converge to star
graphs rooted at each component's minimum in O(log n) rounds (label
propagation needs O(diameter) rounds AND drags a full label table through
every join — stars rewire the edge set itself, so hub-and-spoke dup
clusters converge in 1-2 rounds).

Scale notes: per round, two shuffles (a groupBy min and a self-join per
star step) over the EDGE set — which for LSH dup pairs is far smaller than
the corpus. Lineage is truncated every round with
:func:`..session.checkpoint` (iterative plans otherwise grow exponentially
and stall Catalyst): a local checkpoint by default; on a real cluster with
executor churn, set a checkpoint dir (``spark.sparkContext.setCheckpointDir``)
and every pin in this module becomes a reliable checkpoint. Superseded
rounds are freed inside the loops; the frames a result still reads stay
pinned until the caller's :func:`..session.scope` exits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from window_aggregation_spark.session import checkpoint, free


def _symmetric(e: DataFrame) -> DataFrame:
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(e: DataFrame) -> DataFrame:
    nb = _symmetric(e)
    mins = (
        nb.groupBy("u")
        .agg(F.min("v").alias("__mn"))
        .withColumn("m", F.least("__mn", "u"))
        .select("u", "m")
    )
    return (
        nb.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    pointed = oriented.join(mins, "u").select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_edges = mins.select(F.col("u"), F.col("m").alias("v"))
    return (
        pointed.union(self_edges)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _round_stats(e: DataFrame) -> tuple:
    """One action per CC round: an order-independent edge-set digest
    ``(count, bit_xor of xxhash64(u, v))`` — xor never overflows a long
    under ANSI mode, and the edge set is distinct so duplicate
    cancellation can't occur — PLUS an ``is_star_forest`` flag, computed
    in one job.

    A disjoint union of stars (every edge child->root, each child in
    exactly ONE edge, no root also a child) is provably UNCHANGED by
    both star steps — so the flag is a sufficient fixpoint test that
    fires ON the converged round itself, where the digest comparison
    needs one more full round of star steps just to observe "nothing
    changed". The digest stays as the fallback terminator (r13: flag
    checked first, digest second), so a fixpoint the flag somehow missed
    terminates exactly as before rather than looping to max_iter.

    Per-node test via one groupBy over the two endpoint marks of each
    edge: node ok iff it is a pure root (child-degree 0) or a
    single-edge pure child (child-degree 1, root-degree 0); the digest
    rides the child rows so the whole check is one shuffle + one scalar
    aggregate — strictly cheaper than the round of star-step shuffles
    it saves."""
    child = F.greatest("u", "v")
    root = F.least("u", "v")
    marks = e.select(
        child.alias("n"),
        F.lit(1).alias("c"),
        F.xxhash64("u", "v").alias("h"),
    ).union(
        e.select(root.alias("n"), F.lit(0).alias("c"), F.lit(0).alias("h"))
    )
    per_node = marks.groupBy("n").agg(
        F.sum("c").alias("nc"),
        F.count(F.lit(1)).alias("deg"),
        F.bit_xor("h").alias("hx"),
    )
    row = per_node.agg(
        F.coalesce(F.sum("nc"), F.lit(0)).alias("n_edges"),
        F.bit_xor("hx").alias("h"),
        F.min(
            # pure root (nc == 0) or pure single-edge child
            # (nc == 1 and no root marks: deg == nc)
            (F.col("nc") == 0)
            | ((F.col("nc") == 1) & (F.col("deg") == F.col("nc")))
        ).alias("star"),
    ).first()
    return (
        (row["n_edges"], row["h"]),
        bool(row["star"]) if row["star"] is not None else True,
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Component label per node: ``(node, component)`` where ``component``
    is the minimum node id reachable from ``node``. Only nodes appearing in
    ``pairs`` are returned — callers map absent nodes to themselves.
    """
    e = (
        pairs.select(
            F.col(src).cast("long").alias("u"),
            F.col(dst).cast("long").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )

    # LAZY checkpoints (r13): every round already runs exactly one action
    # — the convergence fingerprint — and that action materializes the
    # checkpoint as a side effect. An eager checkpoint would run a SECOND
    # driver action per round just to materialize earlier (measured: the
    # loop's job count halves lazy vs eager, same shuffles). Freeing the
    # superseded round stays safe: by the time round i+1's fingerprint
    # runs, round i's blocks were materialized by round i's own.
    e = checkpoint(e)
    # one action per round: digest + star-forest flag (see _round_stats).
    # The flag fires ON the converged round — the digest-only loop paid
    # one extra full round of star steps just to observe no change (and
    # an LSH pair set whose clusters are already min-rooted stars skips
    # the loop entirely). The digest comparison stays as the fallback
    # terminator, so behavior on a flag-missed fixpoint is unchanged.
    prev, star = _round_stats(e)
    if stats is not None:
        # observability for scale probes: input pair count before the
        # loop, convergence round count after (bench.py cc_scale_probe —
        # round growth is the CC family's hidden super-linear risk)
        stats["input_pairs"] = prev[0]
    rounds = 0
    while not star:
        if rounds >= max_iter:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                "rounds (pathological graph? raise max_iter)"
            )
        last_e = e
        e = checkpoint(_small_star(_large_star(e)))
        rounds += 1
        cur, star = _round_stats(e)
        # free the superseded round's blocks ONLY NOW: the stats action
        # above materialized the new round FROM last_e's blocks; freeing
        # any earlier would truncate the only copy (checkpoints have no
        # lineage to recompute from). Without this an iterative loop
        # pins every round's edge set for the whole session — the old
        # per-round DataFrame.unpersist() was a CacheManager no-op on
        # checkpointed frames (see session.free).
        free(last_e)
        if cur == prev:
            break
        prev = cur

    if stats is not None:
        stats["rounds"] = rounds
    # Converged edge set is a star forest oriented child -> root.
    children = e.select(
        F.greatest("u", "v").alias("node"), F.least("u", "v").alias("component")
    )
    roots = children.select(
        F.col("component").alias("node"), F.col("component")
    ).distinct()
    return children.union(roots).distinct()


def _degree_oriented(
    edges: DataFrame, src: str = "u", dst: str = "v"
) -> DataFrame:
    """Deduplicated undirected edges oriented from the lower-(degree, id)
    endpoint to the higher — the Schank-Wagner orientation whose
    out-degrees are bounded by sqrt(2m) (tests/test_pagerank.py holds it
    on a hot-node graph; the last measurement at scale is the
    ``graph_skew_probe`` record in OPTIMIZATION_r14.md)."""
    # The dedup'd edge set is referenced FIVE times downstream (twice
    # per degree union, once per rank join side) and the orientation
    # result three more — without a materialization barrier every
    # reference replays the whole upstream edge-generation subtree
    # (measured on graph_triangle_count: 30 parquet scans / 32
    # exchanges in one plan; ReuseExchange recovered only 6). One lazy
    # checkpoint pins the 16-byte edge rows instead — the same barrier
    # the CC loop already uses, and cheaper at any scale than re-running
    # the distinct shuffle per reference (fault tolerance: see the module
    # docstring).
    e = checkpoint(
        edges.select(
            F.least(F.col(src), F.col(dst)).cast("long").alias("a"),
            F.greatest(F.col(src), F.col(dst)).cast("long").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .union(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ranked = e.join(
        deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a"
    ).join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
    lt = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return ranked.select(
        F.when(lt, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lt, F.col("b")).otherwise(F.col("a")).alias("v"),
    )


def triangle_count(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    *,
    per_node: bool = True,
) -> DataFrame:
    """Exact triangle counting over an undirected simple graph via
    degree orientation (Schank-Wagner / MapReduce "compact-forward"):
    orient every edge from its lower-(degree, id) endpoint to the higher
    one, enumerate wedges only among each pivot's OUT-neighbors, and
    close them against the oriented edge set.

    Returns ``(node, triangles)`` — one row per node in >= 1 triangle,
    each triangle credited to all three corners (``per_node=True``) —
    or one global ``(triangles)`` row (``per_node=False``). Direction,
    duplicate edges and self-loops in the input are ignored.

    Scale shape: orientation caps every out-degree at O(sqrt(m))
    (arboricity bound), killing the hub-node wedge blowup that breaks
    the naive 3-cycle self-join on skewed degree distributions — and
    the wedge set itself is NEVER materialized: out-neighborhoods are
    collected into per-node arrays (bounded by the orientation cap) and
    each edge (u, v) counts its closing nodes with one codegen
    ``array_intersect`` over the two endpoint arrays, so the only
    post-aggregate rows are actual triangles. Probed on the sf0.1
    co-purchase graph (392k edges): 4.2M oriented wedges avoided,
    0.31M triangle rows materialized. Shuffles: the degree groupBy, the
    adjacency groupBy, and the two adjacency joins (broadcast when the
    node list fits, hash otherwise).
    """
    # oriented is consumed three times (the adjacency build twice, the
    # closing join once) — pin it like `e` above so the rank joins run
    # once, not per consumer
    oriented = checkpoint(_degree_oriented(edges, src, dst))
    # edge-iterator closing: a triangle {p, x, y} with p -> x, p -> y,
    # x -> y is found exactly once, at edge (p, x): y is an out-neighbor
    # of both endpoints (of p directly, of x via the closing edge); at
    # (p, y) and (x, y) the third corner is not out of both. An edge
    # whose head has no out-neighbors closes nothing, so the inner
    # adjacency join dropping it is correct AND prunes the probe side.
    adj = oriented.groupBy("u").agg(F.collect_list("v").alias("__nbrs"))
    tris = (
        oriented.join(adj.withColumnRenamed("__nbrs", "__nu"), "u")
        .join(
            adj.select(F.col("u").alias("v"), F.col("__nbrs").alias("__nv")),
            "v",
        )
        .select(
            "u", "v",
            F.explode(F.array_intersect("__nu", "__nv")).alias("w"),
        )
    )
    if not per_node:
        return tris.agg(F.count(F.lit(1)).alias("triangles"))
    # one generator pass, NOT a 3-way union: unioning three selects of
    # `tris` replays the whole adjacency-join subtree per branch (the
    # plan audit showed 20 exchanges / 8 SMJs for what is one join tree)
    corners = tris.select(
        F.explode(F.array("u", "v", "w")).alias("node")
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list: ``(node, rank)``
    for every node appearing as a source or destination.

    Semantics (the original power-iteration formula, no dangling-mass
    redistribution — dangling nodes keep only the teleport term, which is
    the common MapReduce convention and keeps the result a pure function
    of the edge set):

        rank_0(v)   = 1 / N
        rank_i+1(v) = (1 - d)/N + d * sum over in-neighbors u of
                      rank_i(u) / outdeg(u)

    Fixed ``iterations`` (not convergence-tested) keeps the result
    deterministic and SQL-mirrorable; pass more iterations for better
    convergence (each costs two shuffles).

    Scale shape: edge weights ``1/outdeg`` are computed ONCE and
    checkpointed — per iteration the plan is one join of the rank table
    (N rows) onto the weighted edges (shuffle on src) and one groupBy dst
    (second shuffle); the rank table is checkpointed per iteration so the
    plan never grows. The single driver action is the bounded node
    count N (a scalar, needed for the teleport constant).
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("src"),
            F.col(dst).cast("long").alias("dst"),
        )
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes = checkpoint(nodes, eager=True)
    n = nodes.count()
    if n == 0:
        # empty edge set -> empty result, not a ZeroDivisionError from
        # the teleport constant
        return nodes.select("node", F.lit(0.0).alias("rank"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__outdeg"))
    # reciprocal precomputed once (multiply beats divide in the per-
    # iteration hot path, and the 1/outdeg form is what the DuckDB
    # oracle mirrors op-for-op for bit-level comparability)
    w = checkpoint(
        e.join(deg, "src").select(
            "src", "dst", (F.lit(1.0) / F.col("__outdeg")).alias("w")
        ),
        eager=True,
    )
    base = (1.0 - damping) / n
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for i in range(iterations):
        contribs = (
            w.join(ranks, w["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("__c"))
        )
        last_ranks = ranks
        ranks = checkpoint(
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("__c"), F.lit(0.0))
                ).alias("rank"),
            ),
            eager=True,
        )
        if i > 0:
            # superseded iteration checkpoints leak storage linearly —
            # free them (i == 0 is the un-checkpointed init projection).
            # Safe here because the checkpoint is EAGER: ranks_{i+1} is
            # fully materialized before the free.
            free(last_ranks)
    if iterations > 0:
        # the returned table is checkpoint-materialized, so the weight and
        # node tables are dead weight from here — and w is O(edges)
        # (measured: 108 MB pinned at sf0.1 without this). With
        # iterations == 0 the returned projection still READS nodes'
        # blocks, hence the guard.
        free(w)
        free(nodes)
    return ranks
