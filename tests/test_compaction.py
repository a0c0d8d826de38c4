"""maintenance: compaction verify flag."""

from __future__ import annotations

import os

import pytest

from server_spark.plans.maintenance import compact_partitions


@pytest.fixture()
def fragmented_table(spark, tmp_path):
    """A (region)-partitioned table where one partition is written in
    8 tiny fragments and the other in 1."""
    root = str(tmp_path / "tbl")
    big = spark.range(0, 800).selectExpr(
        "id", "id % 7 AS v", "'eu' AS region"
    )
    for i in range(8):
        big.filter((big.id % 8) == i).coalesce(1).write.mode(
            "append"
        ).partitionBy("region").parquet(root)
    spark.range(1000, 1100).selectExpr(
        "id", "id % 7 AS v", "'us' AS region"
    ).coalesce(1).write.mode("append").partitionBy("region").parquet(root)
    return root


def _n_files(d: str) -> int:
    return len([f for f in os.listdir(d) if f.endswith(".parquet")])


def test_verified_compaction_preserves_content(spark, fragmented_table):
    root = fragmented_table
    assert _n_files(os.path.join(root, "region=eu")) == 8
    before = {
        tuple(r)
        for r in spark.read.parquet(root).select(
            "id", "v", "region"
        ).collect()
    }
    n = compact_partitions(spark, root, min_files=4, verify=True)
    assert n == 1  # only the fragmented partition is rewritten
    assert _n_files(os.path.join(root, "region=eu")) == 1
    assert _n_files(os.path.join(root, "region=us")) == 1
    after = {
        tuple(r)
        for r in spark.read.parquet(root).select(
            "id", "v", "region"
        ).collect()
    }
    assert after == before
    # idempotent second pass
    assert compact_partitions(spark, root, min_files=4, verify=True) == 0

