"""Connected-components semantics (replacement for the reference's greedy
star clustering, dna_benchmark.h:361-417; SURVEY §2.6)."""

import random
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from lshdedup.cluster import (
    _star_rounds, assign_clusters, cluster_sizes, connected_components,
)


def test_two_components(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["src", "dst"]
    )
    got = {r["id"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_long_chain_converges(spark):
    n = 24
    edges = spark.createDataFrame(
        [(f"v{i:03d}", f"v{i+1:03d}") for i in range(n)], ["src", "dst"]
    )
    got = connected_components(edges, max_iter=64).collect()
    assert {r["cluster_id"] for r in got} == {"v000"}
    assert len(got) == n + 1


def union_find(edges):
    """Pure-Python reference: vertex -> least id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def path(n):
    return [(f"v{i:03d}", f"v{i+1:03d}") for i in range(n - 1)]


def random_order_path(n, seed=7):
    order = list(range(n))
    random.Random(seed).shuffle(order)
    return [(order[i], order[i + 1]) for i in range(n - 1)]


def random_graph(n, m, seed=11):
    rng = random.Random(seed)
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]


GRAPHS = {
    "path_80": lambda: path(80),
    "random_order_path_10k": lambda: random_order_path(10_000),
    # the hub sorts last, so with partitions left uncoalesced every
    # partition's leaves hook to a different local root
    "star_2000_leaves": lambda: [(2000, i) for i in range(2000)],
    "random_3000": lambda: random_graph(3000, 2500),
    "self_loops": lambda: [("a", "a"), ("b", "b"), ("c", "d"), ("d", "d")],
    "int64_ids": lambda: [(10**12 + i, 10**12 + (i * 7) % 50) for i in range(50)],
}


@contextmanager
def aqe_coalescing(spark, enabled):
    """AQE partition coalescing on (small edge sets close in the
    contraction pass) or off (components span partitions: star rounds)."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, str(enabled).lower())
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.fixture(params=[True, False], ids=["coalesced", "uncoalesced"])
def coalesce(spark, request):
    with aqe_coalescing(spark, request.param):
        yield request.param


@pytest.mark.parametrize("graph", sorted(GRAPHS))
def test_matches_union_find(spark, coalesce, graph):
    edges = GRAPHS[graph]()
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["id"]: r["cluster_id"] for r in connected_components(df).collect()}
    assert got == union_find(edges)


def test_empty_edges(spark, coalesce):
    df = spark.createDataFrame([], "src string, dst string")
    assert connected_components(df).collect() == []


def test_long_path_raises_instead_of_splitting(spark):
    """No fixed hop budget: an 80-node path spread over uncoalesced
    partitions gets one label at default settings.  A budget too small
    for its star rounds still fails loudly rather than return a split
    component."""
    edges = spark.createDataFrame(path(80), ["src", "dst"])
    with aqe_coalescing(spark, False):
        got = connected_components(edges).collect()
        assert {r["cluster_id"] for r in got} == {"v000"}
        assert len(got) == 80
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(edges, max_iter=1)


def test_star_rounds_follow_small_star_changes(spark):
    """Rounds whose large-star step changes nothing can still re-link in
    their small-star step (5 and 6 each have two smaller neighbours):
    the rounds go on until neither step changes an edge."""
    e = spark.createDataFrame([(5, 1), (5, 2), (6, 0), (6, 2)], ["v", "p"])
    got = {(r["v"], r["p"]) for r in _star_rounds(e, None).collect()}
    assert got == {(1, 0), (2, 0), (5, 0), (6, 0)}


def test_long_path_job_count(spark):
    """A 120-hop path closes in the one contraction pass: a handful of
    Spark jobs, not one round of jobs per hop."""
    sc = spark.sparkContext
    edges = spark.createDataFrame(path(121), ["src", "dst"])
    sc.setJobGroup("cc_long_path", "connected_components on a 120-hop path")
    try:
        got = connected_components(edges).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert {r["cluster_id"] for r in got} == {"v000"}
    assert len(sc.statusTracker().getJobIdsForGroup("cc_long_path")) <= 10


def test_partitioning_determinism(spark):
    edges = [(f"e{i}", f"e{(i*7)%20}") for i in range(20)]
    df2 = spark.createDataFrame(edges, ["src", "dst"]).repartition(2)
    df16 = spark.createDataFrame(edges, ["src", "dst"]).repartition(16)
    c2 = {(r["id"], r["cluster_id"]) for r in connected_components(df2).collect()}
    c16 = {(r["id"], r["cluster_id"]) for r in connected_components(df16).collect()}
    assert c2 == c16


def test_assign_clusters_singletons(spark):
    ids = spark.createDataFrame([("a",), ("b",), ("c",)], ["image_id"])
    edges = spark.createDataFrame([("a", "b")], ["src", "dst"])
    got = {r["image_id"]: r["cluster_id"] for r in assign_clusters(ids, edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "c"}
    sizes = {
        r["cluster_id"]: r["n_members"]
        for r in cluster_sizes(assign_clusters(ids, edges)).collect()
    }
    assert sizes == {"a": 2, "c": 1}
