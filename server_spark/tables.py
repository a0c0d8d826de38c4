"""Table loaders.

One narrow waist for every read, mirroring how the reference funnels
all storage access through `app/pkg/database/*.go` [M]. Passing the
explicit schema to the parquet reader (a) documents the contract,
(b) fails fast on drift, and (c) lets Catalyst prune columns /
push predicates into the scan — check with ``df.explain("formatted")``
that `ReadSchema` only lists what the query projects.

The ``events.ts`` column has drifted between physical parquet types
across harness versions (int64 TIMESTAMP(NANOS) in earlier rounds,
``timestamp[us]`` now). We read the footer ONCE per path (cached) and
branch, so either encoding yields identical TimestampType output and
any third encoding raises immediately with the footer type in the
message instead of silently producing 1970-era garbage.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from server_spark.schemas import EVENTS_RAW, TABLE_SCHEMAS

# path -> "timestamp" | "int64_ns", resolved from the parquet footer.
_EVENTS_TS_KIND: dict[str, str] = {}


def events_ts_kind(spark: SparkSession, path: str) -> str:
    """Physical encoding of events.ts, from the parquet footer (cached).

    Footer-sniffing is a driver-side metadata read (no data scan), so
    the cost is one footer fetch per distinct path per process. This is
    the data-contract guard the r3 drift showed we need: an unexpected
    physical type raises here, naming the type, rather than flowing
    1970-collapsed timestamps into 24 downstream queries.
    """
    kind = _EVENTS_TS_KIND.get(path)
    if kind is None:
        # Sniff with pyarrow, NOT spark.read.parquet: Spark 4.1's schema
        # inference raises PARQUET_TYPE_ILLEGAL outright on int64
        # TIMESTAMP(NANOS) footers, which would make the legacy branch
        # unreachable exactly when it's needed. pyarrow reads any footer.
        import pyarrow as pa
        import pyarrow.parquet as pq

        pfile = path
        if os.path.isdir(path):
            parts = sorted(
                f
                for f in os.listdir(path)
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
            if not parts:
                raise FileNotFoundError(f"no parquet part files under {path}")
            pfile = os.path.join(path, parts[0])
        ts_type = pq.read_schema(pfile).field("ts").type
        if pa.types.is_timestamp(ts_type) and ts_type.unit != "ns":
            kind = "timestamp"
        elif pa.types.is_int64(ts_type) or (
            pa.types.is_timestamp(ts_type) and ts_type.unit == "ns"
        ):
            # Plain int64 nanos OR TIMESTAMP(NANOS) logical type: Spark
            # can't infer either as a timestamp; read raw long + convert.
            kind = "int64_ns"
        else:
            raise TypeError(
                f"events.ts at {path} has unsupported physical type "
                f"{ts_type}; expected timestamp[us/ns] or int64 nanos"
            )
        _EVENTS_TS_KIND[path] = kind
    return kind


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    if events_ts_kind(spark, path) == "timestamp":
        return spark.read.schema(TABLE_SCHEMAS["events"]).parquet(path)
    # Legacy int64 TIMESTAMP(NANOS): read raw and floor to µs (`div`
    # keeps exact integer arithmetic; double division loses precision
    # above 2^53). Matches DuckDB's ns→µs truncation.
    return (
        spark.read.schema(EVENTS_RAW)
        .parquet(path)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )


def fan_out(df: DataFrame, *cols: str) -> DataFrame:
    """Scale-adaptive scan fan-out (r14, guide §2.2/§6 'input split
    size'): when the planner gives the upstream scan FEWER partitions
    than the session's default parallelism — small files / a single
    parquet row group, exactly the local test-data case — a narrow
    CPU-heavy map above it (shingling, per-shingle md5, signature
    folds) runs on a handful of cores while the rest idle. Hash-
    repartition (xxhash64 / named key columns) to the default
    parallelism first: the relation is tiny precisely when this branch
    fires, so the extra exchange moves KBs to buy cores for the
    expensive narrow stage. At cluster scale a big table plans orders
    of magnitude more splits than cores and this is a NO-OP (no
    exchange added) — the knob stays scale-adaptive rather than a
    local[32] constant. Apply at kernels whose heavy narrow compute
    sits DIRECTLY on a scan; relations already behind a shuffle or
    barrier pass through untouched.

    Exchange-bearing inputs pass through WITHOUT the partition-count
    probe (r15, advisor finding): under AQE, ``df.rdd`` materializes
    the final physical plan, which EXECUTES every upstream shuffle
    stage at plan-build time — work a later action does not reuse
    (separate QueryExecution), i.e. silent double execution. The probe
    is only meaningful (and only free) on exchange-free plans — bare
    scans, barriered/local relations — which is also the only shape
    this helper targets; a plan that already contains an exchange is
    already parallelized by that exchange's partitioning."""
    if df.isStreaming:  # .rdd is undefined on streaming frames
        return df
    if "Exchange" in df._jdf.queryExecution().sparkPlan().toString():
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        # hash-repartition on a deterministic hash, NOT round-robin:
        # keyless repartition(n) local-sorts its input first
        # (spark.sql.execution.sortBeforeRepartition, needed for retry
        # determinism) and that sort runs on the very scan task this
        # helper exists to relieve — measured +0.3-1.4 s on cheap
        # consumers. xxhash64 is deterministic under task retry (guide
        # §2.5 — never rand()) and effectively unique per row, so the
        # spread is uniform with no hot partition. ``cols`` names a
        # high-cardinality key subset to hash instead of the whole row
        # — hashing every column forces the scan to READ every column,
        # which un-prunes narrow consumers (measured: +1.4 s on a
        # 3-column aggregate over a 7-column table).
        key = (
            [F.col(c) for c in cols]
            if cols
            else [F.xxhash64(*df.columns)]
        )
        return df.repartition(target, *key)
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table as a DataFrame with its fixed schema."""
    if name not in TABLE_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLE_SCHEMAS)}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _load_events(spark, path)
    return spark.read.schema(TABLE_SCHEMAS[name]).parquet(path)


def _utc(s: str) -> datetime:
    dt = datetime.fromisoformat(s)
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt


def load_events_range(
    spark: SparkSession,
    sf_dir: str,
    lo: str | None = None,
    hi: str | None = None,
) -> DataFrame:
    """Events with a time-range predicate PUSHED TO THE PARQUET SCAN.

    Bounds are UTC ISO strings, lo-inclusive / hi-exclusive, matching
    the oracle's ``ts >= TIMESTAMP lo AND ts < TIMESTAMP hi``. With the
    native ``timestamp[us]`` encoding the comparison is directly
    pushable — `PushedFilters: [GreaterThanOrEqual(ts, …)]` — which at
    100 TB is the difference between reading one date range's row
    groups and scanning the table. For the legacy int64-nanos encoding
    we filter the RAW int64 column (also pushable) before converting,
    because a filter above a conversion expression never reaches the
    scan.
    """
    path = os.path.join(sf_dir, "events.parquet")
    if events_ts_kind(spark, path) == "timestamp":
        df = spark.read.schema(TABLE_SCHEMAS["events"]).parquet(path)
        if lo is not None:
            df = df.filter(F.col("ts") >= F.lit(_utc(lo)))
        if hi is not None:
            df = df.filter(F.col("ts") < F.lit(_utc(hi)))
        return df

    import calendar

    def _ns(s: str) -> int:
        dt = datetime.fromisoformat(s)
        if dt.tzinfo is not None:
            dt = dt.astimezone(timezone.utc)
        # Exact integer nanos: float .timestamp() loses precision far
        # from epoch; int() truncates sub-seconds (widening the pushed
        # range vs the oracle's bound).
        return (
            calendar.timegm(dt.timetuple()) * 1_000_000_000
            + dt.microsecond * 1_000
        )

    raw = spark.read.schema(EVENTS_RAW).parquet(path)
    if lo is not None:
        raw = raw.filter(F.col("ts") >= F.lit(_ns(lo)))
    if hi is not None:
        raw = raw.filter(F.col("ts") < F.lit(_ns(hi)))
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
