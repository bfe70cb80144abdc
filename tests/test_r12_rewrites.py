"""Round-12 rewrite pins: the per-partition union-find pre-contraction
added inside connected_components (operators/dedup.py) must preserve
connectivity exactly, partition layout notwithstanding; spread_scan
(sources/parquet.py) fires only on under-parallel frames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _py_components(edges):
    """Reference union-find over a Python edge list → {node: min id}."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        for v in (a, b):
            parent.setdefault(v, v)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@pytest.fixture()
def chain_and_blobs(spark):
    # a 40-node chain (worst case for propagation, crosses any
    # partitioning) + two dense blobs + disjoint pairs
    edges = [(i, i + 1) for i in range(40)]
    edges += [(100 + i, 100 + j) for i in range(5) for j in range(i + 1, 5)]
    edges += [(200, 201), (300, 301), (203, 201), (202, 203)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return edges, df


def test_local_contract_preserves_components(spark, chain_and_blobs):
    from epl_cas_etl_2026_spark.operators.dedup import _local_contract

    edges, df = chain_and_blobs
    sym = df.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")).unionByName(
        df.select(F.col("id_b").alias("a"), F.col("id_a").alias("b"))
    )
    # force a multi-partition layout so per-partition forests must be
    # merged by the caller's loop, not solved in one task
    sym = sym.repartition(7)
    contracted = [(r["a"], r["b"]) for r in _local_contract(sym).collect()]
    assert _py_components(contracted) == _py_components(edges)
    # star shape: every emitted edge points member -> smaller root
    assert all(b < a for a, b in contracted)


def test_connected_components_labels_unchanged(spark, chain_and_blobs):
    from epl_cas_etl_2026_spark.operators.dedup import connected_components

    edges, df = chain_and_blobs
    got = {
        r["node"]: r["label"]
        for r in connected_components(df, "id_a", "id_b").collect()
    }
    assert got == _py_components(edges)


def test_spread_scan_leaves_parallel_frame_unchanged(spark):
    from epl_cas_etl_2026_spark.sources.parquet import spread_scan

    target = min(32, spark.sparkContext.defaultParallelism)
    for n in (target, target + 3):
        df = spark.range(0, 200, numPartitions=n)
        assert spread_scan(df) is df


def test_spread_scan_spreads_single_partition_frame(spark):
    from epl_cas_etl_2026_spark.sources.parquet import spread_scan

    df = spark.range(0, 200, numPartitions=1)
    spread = spread_scan(df)
    assert spread.rdd.getNumPartitions() == min(
        32, spark.sparkContext.defaultParallelism
    )
    assert sorted(r.id for r in spread.collect()) == list(range(200))
