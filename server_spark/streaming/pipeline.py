"""Structured Streaming forms of the reference's polling intake
(SURVEY.md §2.9). The reference ticks a poller, checks lastModified,
downloads dumps, recomputes aggregates (`state_collector.go` [M]);
the streaming re-expression is:

    file source (new dump files appear)           = T1 trigger
    withWatermark + dropDuplicates on dump key    = T2 watermark dedup
    window(dump_ts, 1h) price aggregation         = T3 tumbling agg

T5 (per-item price churn) runs as a batch operator. Batch jobs remain
the primary orchestration (BASELINE.json); these pipelines prove the
same operators run incrementally with checkpoints
— on a cluster you'd point the source at the landing bucket and the
sink at the gold table, and the medallion becomes continuous.

Scale notes: the file source lists incrementally (maxFilesPerTrigger
bounds batch size); state stores are keyed by (region, realm, item) —
high cardinality, uniformly spread, RocksDB state backend at scale;
watermark bounds state growth for both dedup and windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from server_spark.schemas import AUCTION


def read_auction_stream(
    spark: SparkSession, input_dir: str, max_files: int = 10
) -> DataFrame:
    """T1 — incremental dump ingestion: each parquet file landing in
    ``input_dir`` is one realm dump (the lastModified poll becomes
    file-arrival semantics)."""
    return (
        spark.readStream.schema(AUCTION)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def dedup_dumps(stream: DataFrame, late: str = "2 hours") -> DataFrame:
    """T2 — watermark dedup: a dump re-delivered (the reference's
    `lastModified <= stored` skip) is dropped; watermark bounds the
    dedup state."""
    return stream.withWatermark("dump_ts", late).dropDuplicates(
        ["region", "realm_slug", "dump_ts", "auc"]
    )


def hourly_price_stream(stream: DataFrame, late: str | None = None) -> DataFrame:
    """T3 — tumbling-window per-item price aggregation: the streaming
    form of the pricelist-history append (gold layer, incremental).

    A watermark is REQUIRED for the append-mode window agg; pass
    ``late`` to set one here, or leave None when the input is already
    watermarked (e.g. composed after ``dedup_dumps`` — Spark disallows
    redefining a watermark mid-pipeline).
    """
    per = F.col("buyout") / F.col("quantity")
    base = stream.filter(F.col("buyout") > 0)
    if late is not None:
        base = base.withWatermark("dump_ts", late)
    return (
        base.groupBy(
            F.window("dump_ts", "1 hour").alias("win"),
            "region",
            "realm_slug",
            "item",
        )
        .agg(
            F.min(per).alias("min_buyout_per"),
            F.max(per).alias("max_buyout_per"),
            F.avg(per).alias("average_buyout_per"),
            F.sum("quantity").alias("volume"),
        )
        .select(
            F.col("win.start").alias("bucket_ts"),
            "region", "realm_slug", "item",
            "min_buyout_per", "max_buyout_per", "average_buyout_per", "volume",
        )
    )


def stream_ingest_with_manifest(
    spark: SparkSession, input_dir: str, paths, checkpoint_dir: str
):
    """T1 + AuctionManifest — the full intake loop: file-arrival
    trigger, then each micro-batch lands through the manifest-gated
    bronze ingest (plans/medallion.ingest_bronze_incremental).

    Two independent idempotency layers, deliberately: the checkpoint
    dedupes FILES within this query's lifetime, the manifest dedupes
    DUMP KEYS forever — so a wiped checkpoint, a second pipeline, or a
    manual backfill replaying the same dumps still cannot double-land
    them. foreachBatch runs on the driver; the ingest itself is the
    same batch plan the medallion uses.
    """
    from server_spark.plans.medallion import ingest_bronze_incremental

    stream = read_auction_stream(spark, input_dir)

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        ingest_bronze_incremental(batch_df.sparkSession, batch_df, paths)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_to_parquet(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str, mode: str = "append"
):
    """Drain all currently-available input (availableNow trigger) into
    a parquet sink with exactly-once checkpointing; returns the query
    (caller awaits termination). This is the batch-boundary-friendly
    way to run a continuous pipeline N times a day."""
    return (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# State store backend
# ---------------------------------------------------------------------------

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def use_rocksdb_state(spark, changelog: bool = True) -> None:
    """Switch stateful streaming queries on this session to the
    RocksDB state store (takes effect for queries STARTED afterwards).

    The default HDFS-backed provider keeps every state row on the
    executor JVM heap — fine for the test-scale key spaces here, but
    at production cardinality (~10⁷ open (region, realm, item) keys ×
    windows, SCALE.md §Streaming) state must spill: RocksDB keeps it
    on native memory + local disk with incremental snapshots.
    ``changelog`` enables changelog checkpointing — per-batch uploads
    ship only the delta instead of re-snapshotting the full store,
    the difference between O(state) and O(updates) per commit on a
    long-running 100 TB/day intake."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing"
        ".enabled",
        "true" if changelog else "false",
    )


def use_default_state(spark) -> None:
    """Revert to the HDFS-backed (JVM heap) provider."""
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
