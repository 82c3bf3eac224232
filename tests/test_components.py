"""Connected components (large-star/small-star) and canonical-doc
selection — brute-force union-find as the test oracle, plus the
suite-level DuckDB recursive-closure parity check.

Beyond-reference operator (component resolution for near-dup pair
graphs); the algorithm is Kiveris et al., SoCC 2014.
"""

import random

import pytest

from gumbo_pp_spark.operators import dedup as D


# ---------------------------------------------------------------- helpers
def _union_find(edges, nodes=None):
    """Brute-force components: {node: min_id_in_component}."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    for n in nodes or ():
        parent.setdefault(n, n)
    comp = {}
    for x in parent:
        comp[x] = find(x)
    return comp


def _run_cc(spark, edges):
    df = spark.createDataFrame(
        [(int(u), int(v)) for u, v in edges], "a bigint, b bigint"
    )
    got = D.connected_components(df).collect()
    return {r["doc_id"]: r["component"] for r in got}


# ---------------------------------------------------------------- unit
def test_single_pair(spark):
    assert _run_cc(spark, [(5, 3)]) == {3: 3, 5: 3}


def test_chain_worst_case(spark):
    # a path graph is the propagation worst case (diameter = n);
    # star-contraction must still collapse it to min id in O(log n)
    edges = [(i, i + 1) for i in range(63)]
    got = _run_cc(spark, edges)
    assert got == {i: 0 for i in range(64)}


def test_two_components_and_reversed_duplicate_edges(spark):
    edges = [(2, 1), (1, 2), (2, 3), (10, 11), (11, 10), (3, 1)]
    got = _run_cc(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_self_loops_dropped(spark):
    got = _run_cc(spark, [(4, 4), (4, 7)])
    assert got == {4: 4, 7: 4}


def test_empty_pairs(spark):
    df = spark.createDataFrame([], "a bigint, b bigint")
    out = D.connected_components(df)
    assert out.columns == ["doc_id", "component"]
    assert out.count() == 0


def test_star_input_is_fixed_point(spark):
    # already a min-star: must converge immediately and unchanged
    got = _run_cc(spark, [(0, i) for i in range(1, 8)])
    assert got == {i: 0 for i in range(8)}


@pytest.mark.parametrize("seed,n,m", [(1, 40, 30), (2, 60, 80), (3, 25, 5)])
def test_random_graphs_match_union_find(spark, seed, n, m):
    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    edges = [(u, v) for u, v in edges if u != v]
    got = _run_cc(spark, edges)
    assert got == _union_find(edges)


def test_checkpoint_path_exercised(spark):
    # long chain forces several rounds, each through localCheckpoint;
    # result must be unaffected
    edges = [(i, i + 1) for i in range(127)]
    got = _run_cc(spark, edges)
    assert got == {i: 0 for i in range(128)}


# ---------------------------------------------------------------- canonical
def test_canonical_docs_total_coverage(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(6)], "doc_id bigint, text string"
    )
    pairs = spark.createDataFrame([(0, 3), (3, 5)], "a bigint, b bigint")
    rows = {
        r["doc_id"]: (r["component"], r["is_canonical"])
        for r in D.canonical_docs(docs, pairs).collect()
    }
    # cluster {0,3,5} keeps 0; singletons 1,2,4 keep themselves
    assert rows == {
        0: (0, 1),
        1: (1, 1),
        2: (2, 1),
        3: (0, 0),
        4: (4, 1),
        5: (0, 0),
    }


def test_canonical_docs_no_pairs(spark):
    docs = spark.createDataFrame([(7, "x")], "doc_id bigint, text string")
    pairs = spark.createDataFrame([], "a bigint, b bigint")
    (r,) = D.canonical_docs(docs, pairs).collect()
    assert (r["doc_id"], r["component"], r["is_canonical"]) == (7, 7, 1)


# ---------------------------------------------------------------- suite parity
def test_suite_components_match_duckdb_oracle(spark):
    import duckdb

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.01"
    con = duckdb.connect()
    for t in ("documents",):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'"
        )
    for key in ("dedup_components", "dedup_canonical"):
        got = sorted(
            tuple(r) for r in entry.queries()[key](spark, sf).collect()
        )
        want = sorted(
            tuple(int(x) for x in row)
            for row in con.sql(entry.oracle_sql()[key]).fetchall()
        )
        assert got == want, key


# ---------------------------------------------------------------- property
def test_components_property_random_graphs(spark):
    """Hypothesis sweep: arbitrary edge lists must match union-find.
    Few examples (each runs distributed star-contraction rounds), but
    hypothesis explores degenerate shapes seeded tests miss."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
        derandomize=True,
    )
    @given(
        st.lists(
            st.tuples(st.integers(0, 30), st.integers(0, 30)),
            min_size=0,
            max_size=40,
        )
    )
    def check(edges):
        clean = [(u, v) for u, v in edges if u != v]
        assert _run_cc(spark, edges) == _union_find(clean)

    check()


# ---------------------------------------------------------------- guards
def test_non_numeric_ids_fail_fast(spark):
    pairs = spark.createDataFrame([("doc-1", "doc-2")], "a string, b string")
    with pytest.raises(TypeError, match="numeric ids"):
        D.connected_components(pairs)


def test_non_convergence_raises_not_silent(spark, monkeypatch):
    # a chain needs several star rounds; CC_MAX_ROUNDS=1 must raise,
    # not return a half-contracted (duplicate-target) mapping
    edges = [(i, i + 1) for i in range(32)]
    df = spark.createDataFrame(edges, "a bigint, b bigint")
    monkeypatch.setattr(D, "CC_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(df)


def test_component_stats_histogram(spark):
    # chain 1-2-3 (one 3-cluster) + pair 10-11 + pair 20-21 -> one
    # size-3 component, two size-2 components
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "a bigint, b bigint"
    )
    got = {r.size: r.n_components for r in D.component_stats(pairs).collect()}
    assert got == {3: 1, 2: 2}
