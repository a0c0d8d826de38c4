"""Z-order clustering (plans/layout.py): morton-code correctness and
the file-skipping property the layout exists for. The quantitative
measurement (sf0.1, JSON) was scripts/probe_zorder.py, kept at commit
8de34ac; these assertions pin the qualitative shape at smoke scale."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from server_spark.plans.layout import (
    files_touched,
    morton2,
    write_keysorted,
    write_zordered,
)


def test_morton2_interleaves_bits(spark):
    rows = spark.range(1).select(
        morton2(F.lit(0b101).cast("long"), F.lit(0b011).cast("long"), 3)
        .alias("z")
    ).collect()
    # a=101, b=011 -> bits (a2 b2 a1 b1 a0 b0) = 1 0 0 1 1 1 = 0b100111
    assert rows[0]["z"] == 0b100111


def test_morton2_is_monotone_in_locality(spark):
    """Nearby (a, b) points get nearby codes more often than far
    points — the locality property that makes envelopes tight. Pin a
    cheap proxy: the code of (k, k) is strictly increasing in k."""
    df = spark.range(100).select(
        F.col("id"), morton2(F.col("id"), F.col("id"), 8).alias("z")
    )
    rows = [r["z"] for r in df.orderBy("id").collect()]
    assert rows == sorted(rows)
    assert len(set(rows)) == 100


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    from server_spark.sources.synthetic import auctions

    base = str(tmp_path_factory.mktemp("zorder"))
    au = auctions(spark, "/root/testdata/sf0.001").select(
        "auc", "item", "owner", "buyout"
    )
    write_keysorted(au, f"{base}/by_item", "item", n_files=8)
    write_zordered(au, f"{base}/z", "item", "owner", n_files=8)
    lo_i, hi_i, lo_o, hi_o = au.agg(
        F.min("item"), F.max("item"), F.min("owner"), F.max("owner")
    ).collect()[0]
    mid = lambda lo, hi, a, b: (  # noqa: E731
        lo + (hi - lo) * a // 100, lo + (hi - lo) * b // 100
    )
    return base, mid(lo_i, hi_i, 45, 55), mid(lo_o, hi_o, 45, 55)


def test_zorder_skips_on_both_dimensions(spark, layouts):
    base, (i0, i1), (o0, o1) = layouts
    item_box = F.col("item").between(i0, i1)
    owner_box = F.col("owner").between(o0, o1)

    # wrong-key predicate on the single-sorted layout touches ~all
    t, n = files_touched(spark, f"{base}/by_item", owner_box)
    assert t == n, "owner box should not skip on an item-sorted layout"
    # the z-ordered layout skips on EITHER dimension
    ti, n = files_touched(spark, f"{base}/z", item_box)
    to, _ = files_touched(spark, f"{base}/z", owner_box)
    tb, _ = files_touched(spark, f"{base}/z", item_box & owner_box)
    assert ti < n and to < n
    # conjunction prunes at least as hard as either single predicate
    assert tb <= min(ti, to)


def test_zorder_roundtrips_rows(spark, layouts):
    base, _, _ = layouts
    from server_spark.sources.synthetic import auctions

    au = auctions(spark, "/root/testdata/sf0.001")
    assert (
        spark.read.parquet(f"{base}/z").count() == au.count()
    )
    # the clustering column is dropped from the written schema
    assert "_z" not in spark.read.parquet(f"{base}/z").columns
