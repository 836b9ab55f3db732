"""Connected-components semantics (replacement for the reference's greedy
star clustering, dna_benchmark.h:361-417; SURVEY §2.6)."""

import pytest
from pyspark.sql import functions as F

from lshdedup.cluster import assign_clusters, cluster_sizes, connected_components


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


def test_long_path_raises_instead_of_splitting(spark):
    """An 80-node path needs 79 hops: the default 50 rounds must fail
    loudly (it used to return 29 labels), and enough rounds give one."""
    edges = spark.createDataFrame(
        [(f"v{i:03d}", f"v{i+1:03d}") for i in range(79)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges)
    got = connected_components(edges, max_iter=128).collect()
    assert {r["cluster_id"] for r in got} == {"v000"}
    assert len(got) == 80


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
