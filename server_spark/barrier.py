"""Materialization barrier with a reliable-checkpoint option.

Several multi-consumer pipelines (dedup corpus build, connected
components, BPE training, span inventories) need to cut lineage and
materialize an intermediate exactly once.  Locally the cheapest form is
``DataFrame.localCheckpoint()`` — blocks live on executor local disk /
memory and the plan is truncated.  But localCheckpoint is documented as
NOT fault-tolerant: on a real cluster, losing the executor that holds a
block invalidates the checkpoint and fails the job (no lineage left to
recompute from).  On a 1000-executor run over 100 TB that is a real
availability risk for any job longer than a few minutes.

``barrier(df)`` is the single switch point:

- default: ``localCheckpoint`` (fast, local-disk, fine for local[32]
  benches and short jobs);
- when the session has a durable checkpoint directory configured via
  :func:`enable_reliable_barriers` (or the ``SPARK_GRAFT_CHECKPOINT_DIR``
  environment variable at session build), it routes through reliable
  ``DataFrame.checkpoint()`` — blocks are written to the (HDFS/S3)
  checkpoint dir and survive executor loss.

Every operator-layer lineage-cut in the repo goes through this helper,
so flipping one session-level setting changes the fault-tolerance
posture of the whole engine without touching operator code.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Session-conf key consulted on every barrier() call.  "true" means the
# checkpoint dir has been set and reliable checkpoints are wanted.
RELIABLE_CONF = "spark.server_spark.reliableBarrier"


def enable_reliable_barriers(spark: SparkSession, checkpoint_dir: str) -> None:
    """Route all subsequent :func:`barrier` calls through reliable
    ``checkpoint()`` into ``checkpoint_dir`` (an HDFS/S3/local-FS path
    that survives executor loss)."""
    spark.sparkContext.setCheckpointDir(checkpoint_dir)
    spark.conf.set(RELIABLE_CONF, "true")


def disable_reliable_barriers(spark: SparkSession) -> None:
    """Revert :func:`barrier` to localCheckpoint (the local default)."""
    spark.conf.set(RELIABLE_CONF, "false")


def reliable_enabled(spark: SparkSession) -> bool:
    """True when reliable checkpoints are wanted AND possible.

    Checks the session conf OR the SparkContext's checkpoint dir: the
    dir is CONTEXT-scoped while the conf flag is SESSION-scoped, so a
    DataFrame built on a sibling session (spark.newSession(), a
    thread-local session) of a context where enable_reliable_barriers
    ran would read "false" from its own conf and silently downgrade to
    a non-fault-tolerant localCheckpoint (r11 review finding). The
    checkpoint dir's presence is the context-level truth; the conf
    flag remains as the per-session opt-out switch
    (disable_reliable_barriers sets it to "false" explicitly)."""
    flag = spark.conf.get(RELIABLE_CONF, None)
    if flag is not None:
        return flag == "true"
    # The context probe reaches through a private JVM handle that a
    # Spark Connect session does not have (no _jsc on the client side;
    # sparkContext access itself raises there) — answer False instead
    # of throwing, since without a reachable context there is no
    # checkpoint dir to use anyway (r12 advisor finding). Narrowed to
    # the no-such-surface errors only (r12 review finding): a
    # TRANSIENT py4j failure during the JVM call must PROPAGATE — on
    # a classic session where the conf flag is unset and the dir is
    # the truth, swallowing it would silently downgrade barrier() to
    # a non-fault-tolerant localCheckpoint, the exact downgrade the
    # r11 fix closed.
    try:
        from pyspark.errors import PySparkException
    except ImportError:  # very old pyspark — keep the probe usable
        PySparkException = ()  # type: ignore[assignment]
    try:
        ctx = spark.sparkContext
        jsc = ctx._jsc
    except (AttributeError, TypeError, PySparkException):
        return False  # Connect / contextless session: no JVM surface
    if jsc is None:
        return False
    return jsc.sc().getCheckpointDir().isDefined()


def barrier(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` once and truncate its lineage.

    Reliable ``checkpoint()`` when :func:`enable_reliable_barriers` has
    been called on this session (or ``SPARK_GRAFT_CHECKPOINT_DIR`` was
    exported before session build), else ``localCheckpoint()``.
    """
    spark = df.sparkSession
    if reliable_enabled(spark):
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def lazy_barrier(df: DataFrame) -> DataFrame:
    """``barrier(df, eager=False)``: the lineage cut and one shared
    RDD now, with the final stage left to the next action.

    It is not free of jobs under AQE. Building the lazy checkpoint
    plans ``df`` adaptively, and adaptive planning runs every shuffle
    stage below the barrier at once; only the stage that writes the
    checkpoint waits for the next action. Counted on a 10k-row
    ``spark.range`` (local[4]), the jobs a lazy barrier runs before
    any action are: 1 over one aggregate, 3 over a join of two
    aggregates, 2 over a ``repartitionByRange``. With
    ``spark.sql.adaptive.enabled=false`` they are 0, 1 and 1: the
    aggregate waits, but the join's broadcast build and the range
    partitioner's bounds sample still run at once.

    What the query paths need from barrier() is (a) the lineage cut
    (LogicalRDD: plans stay shallow, and Catalyst cannot re-inline a
    lambda-bearing projection per reference) and (b) ONE shared RDD,
    so multi-consumer subtrees compute once and AQE/partition-id
    decisions are pinned to a single physical-plan instance. A lazy
    checkpoint gives both without the eager form's extra job for the
    final stage; size estimates for join planning are preserved
    (probed: identical sizeInBytes and BroadcastHashJoin selection
    either way). Eager remains available for call sites that need
    materialization as a side effect BEFORE a non-Spark decision."""
    return barrier(df, eager=False)


def _maybe_enable_from_env(spark: SparkSession) -> None:
    """Called by the session factory: honor SPARK_GRAFT_CHECKPOINT_DIR."""
    ckdir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckdir and not reliable_enabled(spark):
        enable_reliable_barriers(spark, ckdir)
