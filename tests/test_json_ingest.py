"""Raw gzip-JSON dump → bronze end-to-end: the reference's literal
input format (S1) and the AuctionManifest idempotency contract (T2
batch form): a re-delivered dump must be skipped, a new one appended.
"""

from __future__ import annotations

import gzip
import json

import pytest
from pyspark.sql import functions as F

from server_spark.plans.medallion import (
    MedallionPaths,
    ingest_bronze_incremental,
    load_manifest,
)
from server_spark.sources.json_dump import read_auction_dump


def _dump_doc(slug: str, n: int, base_auc: int) -> dict:
    return {
        "realms": [{"name": slug.title(), "slug": slug}],
        "auctions": [
            {
                "auc": base_auc + i,
                "item": 100 + (i % 7),
                "owner": f"seller{i % 3}",
                "ownerRealm": slug.title(),
                "bid": 50 * (i + 1),
                "buyout": 100 * (i + 1),
                "quantity": 1 + (i % 5),
                "timeLeft": "VERY_LONG",
            }
            for i in range(n)
        ],
    }


@pytest.fixture()
def dump_dir(tmp_path):
    d = tmp_path / "dumps"
    d.mkdir()
    for slug, n, base in [("earthen-ring", 40, 1000), ("stormrage", 25, 5000)]:
        with gzip.open(d / f"{slug}.json.gz", "wt") as f:
            json.dump(_dump_doc(slug, n, base), f)
    return d


def test_read_gzip_json_dump(spark, dump_dir):
    df = read_auction_dump(
        spark, str(dump_dir / "earthen-ring.json.gz"), "us", "2024-01-10 03:00:00"
    )
    rows = df.collect()
    assert len(rows) == 40
    assert df.columns == [
        "auc", "item", "owner", "owner_realm", "bid", "buyout",
        "quantity", "time_left", "region", "realm_slug", "dump_ts",
    ]
    first = min(rows, key=lambda r: r["auc"])
    assert first["auc"] == 1000
    assert first["owner"] == "seller0"
    assert first["owner_realm"] == "Earthen-Ring"
    assert first["realm_slug"] == "earthen-ring"
    assert first["time_left"] == "VERY_LONG"
    assert str(first["dump_ts"]).startswith("2024-01-10 03:00")
    # glob read: both realm dumps in one pass, slug from each header
    both = read_auction_dump(
        spark, str(dump_dir / "*.json.gz"), "us", "2024-01-10 03:00:00"
    )
    per_realm = {
        r["realm_slug"]: r["n"]
        for r in both.groupBy("realm_slug").agg(F.count("*").alias("n")).collect()
    }
    assert per_realm == {"earthen-ring": 40, "stormrage": 25}


def test_manifest_idempotent_ingest(spark, dump_dir, tmp_path):
    paths = MedallionPaths(str(tmp_path / "lake"))
    dump_a = read_auction_dump(
        spark, str(dump_dir / "earthen-ring.json.gz"), "us", "2024-01-10 03:00:00"
    )

    assert ingest_bronze_incremental(spark, dump_a, paths) == 1
    bronze = spark.read.parquet(paths.bronze)
    assert bronze.count() == 40

    # re-delivery of the same dump key: skipped entirely
    assert ingest_bronze_incremental(spark, dump_a, paths) == 0
    assert spark.read.parquet(paths.bronze).count() == 40
    assert load_manifest(spark, paths).count() == 1

    # a later dump of the SAME realm and day: appended, not overwritten
    dump_a2 = read_auction_dump(
        spark, str(dump_dir / "earthen-ring.json.gz"), "us", "2024-01-10 04:00:00"
    )
    assert ingest_bronze_incremental(spark, dump_a2, paths) == 1
    assert spark.read.parquet(paths.bronze).count() == 80

    # a different realm's dump in the same batch as a replay: only the
    # new key ingests
    dump_b = read_auction_dump(
        spark, str(dump_dir / "stormrage.json.gz"), "us", "2024-01-10 03:00:00"
    )
    assert ingest_bronze_incremental(spark, dump_a.unionAll(dump_b), paths) == 1
    bronze = spark.read.parquet(paths.bronze)
    assert bronze.count() == 105
    assert load_manifest(spark, paths).count() == 3
    per_realm = {
        r["realm_slug"]: r["n"]
        for r in bronze.groupBy("realm_slug").agg(F.count("*").alias("n")).collect()
    }
    assert per_realm == {"earthen-ring": 80, "stormrage": 25}


def test_malformed_dump_degrades_to_nulls(spark, tmp_path):
    """PERMISSIVE parse with the explicit schema: a corrupt dump file
    yields no auction rows (never an exception mid-pipeline), and a
    dump with one malformed auction element keeps the well-formed
    ones — nulls surface in known columns for a data-quality gate."""
    d = tmp_path / "bad"
    d.mkdir()
    with gzip.open(d / "corrupt.json.gz", "wt") as f:
        f.write('{"this is not: valid json')
    df = read_auction_dump(spark, str(d / "corrupt.json.gz"), "us", "2024-01-10 03:00:00")
    assert df.count() == 0

    doc = _dump_doc("earthen-ring", 2, 1)
    doc["auctions"][1]["quantity"] = "not-a-number"
    with gzip.open(d / "partial.json.gz", "wt") as f:
        json.dump(doc, f)
    rows = read_auction_dump(
        spark, str(d / "partial.json.gz"), "us", "2024-01-10 03:00:00"
    ).collect()
    assert len(rows) == 2
    by_auc = {r["auc"]: r for r in rows}
    assert by_auc[1]["quantity"] == 1
    assert by_auc[2]["quantity"] is None  # malformed field → null, row kept


def test_realm_status_nested_parse(spark, tmp_path):
    """S3/J2 — realm-status document: two-level nesting flattens to
    one row per (region, realm, connected realm); realms without
    connections survive with a null."""
    from server_spark.sources.json_dump import read_realm_status

    doc = {
        "region": "us",
        "realms": [
            {"slug": "earthen-ring", "name": "Earthen Ring",
             "timezone": "America/New_York",
             "connected_realms": ["earthen-ring", "stormrage"]},
            {"slug": "lonely", "name": "Lonely", "timezone": "UTC",
             "connected_realms": []},
        ],
        "last_modified": "2024-01-10T03:00:00Z",
    }
    p = tmp_path / "status.json.gz"
    with gzip.open(p, "wt") as f:
        json.dump(doc, f)
    rows = read_realm_status(spark, str(p)).collect()
    assert len(rows) == 3
    by = {(r["realm_slug"], r["connected_realm"]) for r in rows}
    assert by == {
        ("earthen-ring", "earthen-ring"),
        ("earthen-ring", "stormrage"),
        ("lonely", None),
    }
    assert all(r["region"] == "us" for r in rows)
