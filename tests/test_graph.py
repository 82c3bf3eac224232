"""Integer PageRank: closed-form pins, conservation, plan/lineage."""

from pyspark.sql import functions as F

from gumbo_pp_spark.operators import graph as G


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src bigint, dst bigint")


def _hits(monkeypatch, edges, n_iter, scale=G.HITS_SCALE):
    monkeypatch.setattr(G, "N_ITER", n_iter)
    monkeypatch.setattr(G, "HITS_SCALE", scale)
    return G.hits(edges)


class TestPagerank:
    def test_two_node_cycle_closed_form(self, spark):
        # a <-> b: perfectly symmetric, every iteration keeps
        # rank = base + 0.85 * rank_prev (outdeg 1); with integer
        # arithmetic: r1 = 15e7 + 85*1e9 DIV 100 = 1e9 exactly, so the
        # cycle is a fixed point at scale
        r = {x["node"]: x["rank"] for x in
             G.pagerank(_edges(spark, [(1, 2), (2, 1)])).collect()}
        assert r == {1: 10**9, 2: 10**9}

    def test_matches_python_reference(self, spark):
        edges = [(i, (i * 7 + 1) % 23) for i in range(40)] + [(3, 17), (5, 17)]
        got = {r["node"]: r["rank"] for r in
               G.pagerank(_edges(spark, edges)).collect()}
        # python mirror
        from collections import defaultdict

        nodes = {s for s, _ in edges} | {d for _, d in edges}
        out = defaultdict(int)
        for s, _ in edges:
            out[s] += 1
        rank = {n: 10**9 for n in nodes}
        for _ in range(G.N_ITER):
            s = defaultdict(int)
            for u, v in edges:
                s[v] += rank[u] // out[u]
            rank = {n: 15 * 10**7 + (85 * s[n]) // 100 for n in nodes}
        assert got == rank

    def test_hub_outranks_leaves(self, spark):
        # star: everyone links to 0
        edges = [(i, 0) for i in range(1, 20)] + [(0, 1)]
        r = {x["node"]: x["rank"] for x in
             G.pagerank(_edges(spark, edges)).collect()}
        assert r[0] == max(r.values())
        assert r[0] > 10 * r[5]

    def test_plan_grows_linearly_in_rounds(self, spark, monkeypatch):
        # no round is checkpointed: each reads the previous ranks once,
        # so every round adds the same number of joins
        import re

        e = _edges(spark, [(i, (i * 7 + 3) % 60) for i in range(200)])

        def joins(n):
            monkeypatch.setattr(G, "N_ITER", n)
            plan = G.pagerank(e)._jdf.queryExecution().optimizedPlan().toString()
            return len(re.findall(r"\bJoin\b", plan))

        j = [joins(n) for n in (1, 2, 3)]
        assert j[2] - j[1] == j[1] - j[0] > 0, j

    def test_no_cartesian_in_plan(self, spark, monkeypatch):
        edges = _edges(spark, [(1, 2), (2, 3), (3, 1)])
        monkeypatch.setattr(G, "N_ITER", 2)
        plan = (G.pagerank(edges)
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan


class TestHits:
    def _edges(self, spark, pairs):
        return spark.createDataFrame(pairs, "src bigint, dst bigint")

    def test_star_graph_hub_and_authority(self, spark, monkeypatch):
        # 1,2,3 all point at 9; 1 also points at 8
        e = self._edges(spark, [(1, 9), (2, 9), (3, 9), (1, 8)])
        got = {r.node: (r.hub, r.authority) for r in
               _hits(monkeypatch, e, 2, scale=1000).collect()}
        # 9 is the unique best authority, 1 the unique best hub
        assert got[9][1] == 1000
        assert got[1][0] == 1000
        assert got[8][1] < 1000 and got[2][0] < 1000
        # pure sinks have hub 0, pure sources authority 0
        assert got[9][0] == 0 and got[1][1] == 0

    def test_hand_computed_single_iteration(self, spark, monkeypatch):
        e = self._edges(spark, [(1, 9), (2, 9), (1, 8)])
        got = {r.node: (r.hub, r.authority) for r in
               _hits(monkeypatch, e, 1, scale=100).collect()}
        # a'(9)=2s, a'(8)=s -> a(9)=100, a(8)=50
        # h'(1)=a(9)+a(8)=150, h'(2)=a(9)=100 -> h(1)=100, h(2)=66
        assert got[9] == (0, 100)
        assert got[8] == (0, 50)
        assert got[1] == (100, 0)
        assert got[2] == (66, 0)

    def test_values_stay_bounded_by_scale(self, spark, monkeypatch):
        e = self._edges(spark, [(i, (i * 3 + 1) % 7) for i in range(20)])
        out = _hits(monkeypatch, e, 4, scale=10**6).collect()
        for r in out:
            assert 0 <= r.hub <= 10**6 and 0 <= r.authority <= 10**6

    def test_plan_grows_at_most_linearly_in_rounds(self, spark, monkeypatch):
        # each pass reads its raw sums twice (node join and max): the
        # plan may grow by the same number of joins per round, never
        # double per pass
        import re

        e = self._edges(spark, [(i, (i * 7 + 3) % 60) for i in range(200)])
        joins = [
            len(re.findall(r"\bJoin\b", _hits(monkeypatch, e, n)._jdf.queryExecution()
                           .optimizedPlan().toString()))
            for n in (1, 2, 3)
        ]
        assert joins[2] - joins[1] == joins[1] - joins[0], joins


class TestDegreeStats:
    def test_histograms_both_directions(self, spark):
        # 1 -> {8,9,10}; 2 -> {9}; in-degrees: 9:2, 8:1, 10:1
        e = _edges(spark, [(1, 8), (1, 9), (1, 10), (2, 9)])
        got = {(r.direction, r.degree): r.n_nodes
               for r in G.degree_stats(e).collect()}
        assert got == {
            ("out", 3): 1, ("out", 1): 1,
            ("in", 2): 1, ("in", 1): 2,
        }
