"""PageRank fixpoint-loop tests: mass conservation, hub dominance, and the
dangling-node correction (paths the graded symmetric-graph query can't hit)."""

import pytest
from pyspark.sql import functions as F

from bears_spark.functions.graph import pagerank


def test_pagerank_mass_conserved_and_hub_wins(spark):
    # star graph: everyone links to "hub", hub links back to a1
    edges = [("a%d" % i, "hub") for i in range(10)] + [("hub", "a1")]
    df = spark.createDataFrame(edges, "src: string, dst: string")
    ranks = pagerank(df, num_iter=10)
    rows = {r["id"]: r["rank"] for r in ranks.collect()}
    assert abs(sum(rows.values()) - 1.0) < 1e-9  # no mass leak
    # hub receives from all; a1 receives ALL of hub's mass (its sole
    # out-link) — the hub<->a1 2-cycle dominates every other node
    assert rows["hub"] > rows["a2"]
    assert rows["a1"] > rows["a2"]


def test_pagerank_dangling_mass_redistributed(spark):
    # b has no out-edges: without the correction its mass would leak
    df = spark.createDataFrame([("a", "b")], "src: string, dst: string")
    ranks = pagerank(df, num_iter=8)
    rows = {r["id"]: r["rank"] for r in ranks.collect()}
    assert abs(sum(rows.values()) - 1.0) < 1e-9
    assert rows["b"] > rows["a"]  # a's mass flows to b; b returns only via teleport


def test_pagerank_uniform_on_cycle(spark):
    nodes = ["n%d" % i for i in range(6)]
    edges = [(nodes[i], nodes[(i + 1) % 6]) for i in range(6)]
    df = spark.createDataFrame(edges, "src: string, dst: string")
    rows = [r["rank"] for r in pagerank(df, num_iter=6).collect()]
    assert max(rows) - min(rows) < 1e-12  # symmetry -> uniform
    assert all(abs(v - 1 / 6) < 1e-9 for v in rows)


def _persisted_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _pagerank_reference(edges, num_iter, damping=0.85):
    """Power iteration in plain Python, the same update pagerank applies."""
    nodes = sorted({v for e in edges for v in e})
    n = len(nodes)
    out = {v: [d for s, d in edges if s == v] for v in nodes}
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(num_iter):
        dangling = sum(rank[v] for v in nodes if not out[v])
        mass = {v: 0.0 for v in nodes}
        for v in nodes:
            for d in out[v]:
                mass[d] += rank[v] / len(out[v])
        rank = {v: (1 - damping) / n + damping * (mass[v] + dangling / n) for v in nodes}
    return rank


def test_pagerank_frees_superseded_rounds_and_the_drain_frees_the_rest(spark):
    from bears_spark.caching import release_scoped_caches

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    df = spark.createDataFrame(edges, "src: string, dst: string")
    before = _persisted_rdd_ids(spark)
    rows = {r["id"]: r["rank"] for r in pagerank(df, num_iter=8).collect()}
    # the three static persists plus the last round: no checkpoint per round
    assert len(_persisted_rdd_ids(spark) - before) <= 4
    expected = _pagerank_reference(edges, 8)
    assert rows.keys() == expected.keys()
    assert all(abs(rows[v] - expected[v]) < 1e-12 for v in rows)
    release_scoped_caches()
    assert _persisted_rdd_ids(spark) <= before


def test_connected_components_frees_its_rounds_at_the_drain(spark):
    from bears_spark.caching import release_scoped_caches
    from bears_spark.functions import dedup as dd

    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long")
    before = _persisted_rdd_ids(spark)
    comp = {r["id"]: r["component"] for r in dd.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}
    # the edge persist plus the last round: no checkpoint per round
    assert len(_persisted_rdd_ids(spark) - before) <= 2
    release_scoped_caches()
    assert _persisted_rdd_ids(spark) <= before
