"""PageRank unit semantics: hand-computed chain values, the cycle fixed
point, dangling-node convention, and duplicate-edge collapsing."""

from __future__ import annotations

import pytest

from window_aggregation_spark.operators.graph import pagerank


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src bigint, dst bigint")


def _ranks(df):
    return {r.node: r.rank for r in df.collect()}


class TestPagerank:
    def test_two_node_chain_hand_computed(self, spark):
        # 1 -> 2, N=2, d=0.85. r0 = (.5, .5)
        # iter1: r(1) = .15/2 = .075 ; r(2) = .075 + .85*.5   = .5
        # iter2: r(1) = .075        ; r(2) = .075 + .85*.075  = .13875
        out = _ranks(pagerank(_edges(spark, [(1, 2)]), iterations=2))
        assert out[1] == pytest.approx(0.075, abs=1e-12)
        assert out[2] == pytest.approx(0.13875, abs=1e-12)

    def test_cycle_is_fixed_point(self, spark):
        # 1->2->3->1: uniform 1/3 is exactly stationary at any iteration
        out = _ranks(
            pagerank(_edges(spark, [(1, 2), (2, 3), (3, 1)]), iterations=4)
        )
        for v in out.values():
            assert v == pytest.approx(1 / 3, abs=1e-12)

    def test_dangling_node_keeps_teleport_only(self, spark):
        # node 2 has no out-edges; its mass is NOT redistributed (module
        # convention) — node 1 ends at the teleport floor
        out = _ranks(pagerank(_edges(spark, [(1, 2)]), iterations=3))
        assert out[1] == pytest.approx(0.075, abs=1e-12)

    def test_duplicate_edges_collapse(self, spark):
        dup = pagerank(
            _edges(spark, [(1, 2), (1, 2), (1, 3)]), iterations=2
        )
        clean = pagerank(_edges(spark, [(1, 2), (1, 3)]), iterations=2)
        a, b = _ranks(dup), _ranks(clean)
        assert a == b

    def test_total_mass_bounded_by_one(self, spark):
        out = _ranks(
            pagerank(
                _edges(spark, [(1, 2), (2, 1), (1, 3)]), iterations=5
            )
        )
        assert sum(out.values()) <= 1.0 + 1e-9


def test_empty_edges_return_empty_ranks(spark):
    out = pagerank(
        _edges(spark, []).where("src > 0"), iterations=2
    )
    assert out.columns == ["node", "rank"] and out.count() == 0


class TestTriangleCount:
    def _tris(self, spark, pairs, **kw):
        from window_aggregation_spark.operators.graph import triangle_count

        e = spark.createDataFrame(pairs, "u bigint, v bigint")
        return triangle_count(e, **kw)

    def test_k4_every_node_in_three_triangles(self, spark):
        k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        out = {r.node: r.triangles for r in self._tris(spark, k4).collect()}
        assert out == {0: 3, 1: 3, 2: 3, 3: 3}

    def test_global_count(self, spark):
        k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        row = self._tris(spark, k4, per_node=False).collect()
        assert len(row) == 1 and row[0].triangles == 4

    def test_duplicates_reversals_and_self_loops_ignored(self, spark):
        messy = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (2, 3)]
        out = {r.node: r.triangles for r in self._tris(spark, messy).collect()}
        assert out == {1: 1, 2: 1, 3: 1}

    def test_triangle_free_graph_is_empty(self, spark):
        # 4-cycle: no triangles; per-node output has no rows, global is 0
        square = [(1, 2), (2, 3), (3, 4), (4, 1)]
        assert self._tris(spark, square).count() == 0
        assert self._tris(spark, square, per_node=False).collect()[0].triangles == 0

    def test_matches_bruteforce_on_random_graph(self, spark):
        import itertools
        import random

        rng = random.Random(6)
        n = 12
        edges = [
            (a, b)
            for a in range(n)
            for b in range(a + 1, n)
            if rng.random() < 0.45
        ]
        adj = set(edges)
        expect: dict[int, int] = {}
        for a, b, c in itertools.combinations(range(n), 3):
            if (a, b) in adj and (b, c) in adj and (a, c) in adj:
                for x in (a, b, c):
                    expect[x] = expect.get(x, 0) + 1
        out = {r.node: r.triangles for r in self._tris(spark, edges).collect()}
        assert out == expect


def test_degree_orientation_caps_out_degree_on_a_hot_node(spark):
    """triangle_count's scale bound: orienting each edge from the
    lower-(degree, id) endpoint caps every out-degree at sqrt(2m), even
    when one node holds ~10% of the edges, so the hot node's wedges are
    never enumerated at its raw degree."""
    from pyspark.sql import functions as F

    from window_aggregation_spark.operators.graph import _degree_oriented

    n_nodes, n_edges = 2000, 12000
    edges = spark.range(n_edges).select(
        F.when(F.col("id") < n_edges // 10, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id", F.lit("u")), F.lit(n_nodes)))
        .alias("u"),
        F.pmod(F.xxhash64("id", F.lit("v")), F.lit(n_nodes)).alias("v"),
    )
    oriented = _degree_oriented(edges)
    m = oriented.count()
    max_out = oriented.groupBy("u").count().agg(F.max("count")).first()[0]
    assert max_out <= (2 * m) ** 0.5
    # the hot node's raw degree is >10x any oriented out-degree, its own
    # included
    hot_degree = oriented.where("u = 0 OR v = 0").count()
    assert hot_degree > 10 * max_out
