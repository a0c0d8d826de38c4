"""Request-shaped serving façade — the reference's NATS query subjects
as parameterized Python entry points (SURVEY.md §3 lifecycle).

The registry (`server_spark/queries/`) proves each OPERATOR correct
against the oracle with pinned constants; this module is the surface a
CALLER uses: every function mirrors one of the reference's
request/reply subjects (`app/pkg/state/state_*.go` handlers [M]) and
composes the same operator building blocks (`operators/auctions.py`)
with caller-supplied parameters. A user of the reference switches by
mapping each NATS subject to the function of the same shape:

    subject auctions        → query_auctions(AuctionsRequest)
    subject price-list      → price_list(item_ids)
    subject price-list-history → price_list_history(item_ids, ts range)
    subject owners-query    → owners_query(substring)
    subject items-query     → items_query(fuzzy string)
    subject status          → realm_status(region)
    subject mod-dates       → realm_modification_dates(region?)
    subject token-history   → token_history(region)
    subject unmet-demand    → unmet_demand_list(owner_cap, limit)

All functions return lazy DataFrames — the serving layer decides how
to materialize (collect for a reply payload, write for an export).
Every subject is a filter, sort, page or keyed pick over ONE of the
per-session snapshots :func:`views` returns (the analog of the
reference serving from its in-process Bolt snapshots). Three kinds of
snapshot back them:

* the raw auctions and the events' (user_id, ts, value) are table-
  sized, so ``serving_gate.warm_cache`` caches them in memory, one
  partition each, sorted by their lookup key, so a key filter reads
  only the in-memory batches whose min/max statistics can match it.
  The auctions and price-list-history subjects aggregate per request
  over them.
* the small views are collected once per session into driver-held
  LocalRelations, already sorted in reply order: one row per realm
  (realms, mod_dates), per (region, day) (tokens) and per owner
  (owners). Four subjects have small replies fixed by their
  parameters, so a request over one is only filter / project /
  limit, which the optimizer folds into a LocalTableScan
  (ConvertToLocalRelation): the reply runs no Spark job. A
  request-time ``orderBy`` would undo that (it plans a
  range-partition sort), so these subjects never sort.
* the two per-part views (min_owner, prices; 200k × sf rows) are
  keyed: collected the same way, and kept with their JVM rows and a
  driver-side array of their key, in the view's order. The
  unmet-demand and price-list subjects find their reply's positions
  in that array and build a LocalRelation of exactly those rows, so
  they too run no job, and no filter is folded over the whole view.
  The items-query subject ranks the min_owner view per request.

A reply that runs a job runs one job of one stage with no Exchange.

Pagination keeps the deterministic total order the operator layer
guarantees.
"""

from __future__ import annotations

import threading
from bisect import bisect_left
from dataclasses import dataclass, field
from itertools import islice
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from server_spark import tables
from server_spark.operators import auctions as ops
from server_spark.sources.synthetic import auctions


def _snapshot(df: DataFrame, *keys) -> DataFrame:
    return df.repartition(1).sortWithinPartitions(*keys)


def _local_rows(rows, schema, spark: SparkSession) -> DataFrame:
    """``rows`` (a JVM ``java.util.List<Row>`` of ``schema``) as a
    driver-held LocalRelation, built on the JVM side: no row crosses
    py4j, and the relation is not a Python RDD (a
    ``spark.createDataFrame`` of Python rows is one, and every request
    over it runs jobs)."""
    return DataFrame(spark._jsparkSession.createDataFrame(rows, schema), spark)


def _local(df: DataFrame) -> DataFrame:
    """``df``'s rows, in ``df``'s order, as a driver-held LocalRelation."""
    return _local_rows(df._jdf.collectAsList(), df._jdf.schema(), df.sparkSession)


class _Keyed:
    """A per-part view kept for keyed picks: its rows, collected once
    into a JVM list and into a driver-held LocalRelation (``df``), and
    a driver-side array of its ``key`` column in the same order. A
    request finds its reply's positions in ``keys`` and takes just
    those rows with :meth:`pick`, so its cost follows the reply, not
    the view. ``drop_key`` leaves the key out of the rows, for a key
    that is in no reply."""

    def __init__(self, df: DataFrame, key: str, drop_key: bool = False):
        self.spark = df.sparkSession
        full = _local(df)
        # a LocalTableScan collects on the driver: neither of the two
        # collects below runs a job
        self.keys = [r[0] for r in full.select(key).collect()]
        view = full.drop(key) if drop_key else full
        self.schema = view._jdf.schema()
        self.rows = view._jdf.collectAsList()
        self.df = _local_rows(self.rows, self.schema, self.spark)
        jvm = self.spark._jvm
        scala = jvm.scala.jdk.javaapi.CollectionConverters
        # each JVM member below is looked up once, as every lookup is a
        # py4j round trip; the rows as a Scala Seq are a function
        # position -> row
        self._row_at = scala.asScala(self.rows)
        self._as_java = scala.asJava
        self._bitset = jvm.java.util.BitSet.valueOf
        self._int_seq = jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray

    def pick(self, positions) -> DataFrame:
        """The rows at the distinct ``positions``, in the view's order,
        as a LocalRelation of exactly those rows. The positions cross
        py4j as one bitmask and the rows are gathered on the JVM side,
        so a pick takes the same few py4j calls at any reply size."""
        mask = sum(1 << p for p in positions)
        at = self._bitset(
            mask.to_bytes((mask.bit_length() + 7) // 8, "little")
        ).stream().toArray()
        picked = self._as_java(self._int_seq(at).map(self._row_at))
        return _local_rows(picked, self.schema, self.spark)


def _realm_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region→realm hierarchy (region table → nation table), the
    dimension behind the status/mod-dates/token subjects."""
    nation = tables.load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("realm_id"),
        F.col("n_name").alias("realm_name"),
        F.col("n_regionkey").alias("_rk"),
    )
    region = tables.load(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("_rk"),
        F.col("r_name").alias("region_name"),
    )
    return nation.join(F.broadcast(region), "_rk").select(
        "region_name", "realm_id", "realm_name"
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load(spark, sf_dir, "events").select("user_id", "ts", "value")


def _mod_dates(v: Views) -> DataFrame:
    # the customer-joined map is customer-SCALE: it stays a shuffle
    # join for AQE to plan; only the ~25-row realm dim is broadcast
    cust = tables.load(v.spark, v.sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_nationkey").alias("realm_id"),
    )
    realms = _realm_dim(v.spark, v.sf_dir)
    dates = (
        _events(v.spark, v.sf_dir)
        .join(cust.join(F.broadcast(realms), "realm_id"), "user_id")
        .groupBy("region_name", "realm_id", "realm_name")
        .agg(
            F.max("ts").alias("last_modified"),
            F.min("ts").alias("first_seen"),
            F.count("*").alias("n_events"),
        )
    )
    return _local(_snapshot(dates, "region_name", "realm_id"))


def _min_owner(v: Views) -> _Keyed:
    part = tables.load(v.spark, v.sf_dir, "part").select(
        F.col("p_partkey").alias("item"), F.col("p_name").alias("item_name")
    )
    least = v.auctions.groupBy("item").agg(F.min("owner").alias("_min_owner"))
    return _Keyed(
        _snapshot(part.join(least, "item", "left"), "item"), "_min_owner",
        drop_key=True,
    )


def _owners(v: Views) -> DataFrame:
    # owners_query's rank: the shortest rendering first, then the owner
    return _local(_snapshot(
        ops.distinct_owners(v.auctions),
        F.length(F.col("owner").cast("string")), "owner",
    ))


def _tokens(v: Views) -> DataFrame:
    from server_spark.queries.timeseries import w5_token_history

    return _local(_snapshot(
        w5_token_history(v.spark, v.sf_dir), "region_name", "bucket_ts"
    ))


# name -> builder of each view. auctions and events are table-sized
# snapshots that warm_cache caches; every other view is a driver-held
# LocalRelation, collected when it is built and sorted in reply order,
# and the two per-part views are kept with their key array (_Keyed).
# owners, min_owner and prices read the auctions view; every other
# view reads only the tables.
_BUILDERS = {
    # raw auctions, by item
    "auctions": lambda v: _snapshot(auctions(v.spark, v.sf_dir), "item"),
    # (user_id, ts, value), by user_id, ts
    "events": lambda v: _snapshot(_events(v.spark, v.sf_dir), "user_id", "ts"),
    # (region_name, realm_id, realm_name), by region_name, realm_id
    "realms": lambda v: _local(_snapshot(
        _realm_dim(v.spark, v.sf_dir), "region_name", "realm_id"
    )),
    # realm_modification_dates' full answer, by region_name, realm_id
    "mod_dates": _mod_dates,
    # W5 token_history's full answer, by region_name, bucket_ts
    "tokens": _tokens,
    # distinct owners, by the length of their rendering, then owner
    "owners": _owners,
    # every part's (item, item_name), by item; keyed by the part's
    # smallest live owner (null: no auction)
    "min_owner": _min_owner,
    # A2 price_stats of every item, by item; keyed by item
    "prices": lambda v: _Keyed(
        _snapshot(ops.price_stats(v.auctions), "item"), "item"
    ),
}


class Views:
    """The nine subjects' parameter-free relations over one ``sf_dir``,
    as attributes named after ``_BUILDERS``' keys. Each is built on
    first use, once: a driver-held view is collected then, a cached
    view stays lazy until ``serving_gate.warm_cache`` caches it.
    Building on first use lets ``warm_cache`` collect one view while
    it caches another. A keyed view's index is held beside its
    DataFrame, and :meth:`keyed` returns it."""

    names = tuple(_BUILDERS)
    cached = ("auctions", "events")  # the views warm_cache caches
    derived = ("owners", "min_owner", "prices")  # read from another view

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark, self.sf_dir = spark, sf_dir
        self._locks = {name: threading.Lock() for name in self.names}
        self._keyed: dict[str, _Keyed] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name not in _BUILDERS:
            raise AttributeError(name)
        with self._locks[name]:
            if name not in self.__dict__:
                view = _BUILDERS[name](self)
                if isinstance(view, _Keyed):
                    self._keyed[name], view = view, view.df
                self.__dict__[name] = view
        return self.__dict__[name]

    def keyed(self, name: str) -> _Keyed:
        """The index of the keyed view ``name``, built with it."""
        getattr(self, name)
        return self._keyed[name]


_VIEWS_ATTR = "_server_spark_api_views"
_VIEWS_LOCK = threading.Lock()


def views(spark: SparkSession, sf_dir: str) -> Views:
    """The per-session snapshots every subject is served from, one
    :class:`Views` per ``(spark, sf_dir)``. The two cached views hold
    one partition each once ``serving_gate.warm_cache`` has run (the
    largest is the raw auctions relation at the table's full row
    count); the driver-held views hold at most one row per part.

    The memo lives on the session object itself, so it dies with its
    session: a ``WeakKeyDictionary`` would pin the session (its views
    reference it), and an ``id()`` key could be reused by a later one.
    """
    with _VIEWS_LOCK:
        memo = spark.__dict__.setdefault(_VIEWS_ATTR, {})
        if sf_dir not in memo:
            memo[sf_dir] = Views(spark, sf_dir)
        return memo[sf_dir]


@dataclass
class AuctionsRequest:
    """The reference's auctions request: filters + sort + page.

    ``after`` switches pagination to the KEYSET cursor (the last row
    of the previous page as a dict over the sort key + collapse keys):
    O(count) work at any depth instead of the rank-window's
    O(page·count) — the serving path for deep scrolls. ``page`` is
    ignored when ``after`` is set (a cursor IS the position)."""

    owner_filters: Sequence[str] = field(default_factory=tuple)
    item_filters: Sequence[int] = field(default_factory=tuple)
    sort_kind: str = "buyout"
    sort_descending: bool = True
    page: int = 0
    count: int = 25
    after: dict | None = None


def query_auctions(
    spark: SparkSession, sf_dir: str, req: AuctionsRequest
) -> DataFrame:
    """Filtered + collapsed + sorted + paginated live auctions (the
    S1/P2/P3/A1/O1/O2 composition behind the auctions subject). The
    collapse runs per request, over the few batches the item filter
    selects."""
    live = views(spark, sf_dir).auctions
    if req.owner_filters:
        live = ops.filter_by_owners(live, req.owner_filters)
    if req.item_filters:
        live = ops.filter_by_items(live, req.item_filters)
    collapsed = ops.collapse_mini_auctions(live)
    if req.after is not None:
        return ops.paginate_keyset(
            collapsed, req.sort_kind, req.sort_descending, req.count,
            after=req.after,
        )
    order = ops.sort_columns(req.sort_kind, req.sort_descending)
    return ops.paginate(collapsed, order, req.page, req.count)


def cursor_of(req: AuctionsRequest, last_row) -> dict:
    """Build the next page's ``after`` cursor from a returned row —
    the primary sort column plus every collapse key (the total-order
    tuple `paginate_keyset` requires)."""
    key = ops.SORT_KINDS[req.sort_kind]
    return {k: last_row[k] for k in dict.fromkeys((key, *ops.COLLAPSE_KEYS))}


def price_list(
    spark: SparkSession, sf_dir: str, item_ids: Sequence[int]
) -> DataFrame:
    """Per-item price stats for a requested item set (A2 behind the
    price-list subject): the requested items' rows of the per-item
    stats, which are exact per item, so computing them once for every
    item answers any item set. Each distinct requested id is bisected
    in the item-ordered view; an id with no auctions has no row."""
    prices = views(spark, sf_dir).keyed("prices")
    keys, hits = prices.keys, []
    for item in set(item_ids):
        p = bisect_left(keys, item)
        if p < len(keys) and keys[p] == item:
            hits.append(p)
    return prices.pick(hits)


def price_list_history(
    spark: SparkSession,
    sf_dir: str,
    item_ids: Sequence[int],
    lower_ts: str,
    upper_ts: str,
) -> DataFrame:
    """Per-item daily price series over a time range (W2 behind the
    price-list-history subject), driven off the events table the way
    the reference reads its pricelist-history buckets."""
    slice_ = views(spark, sf_dir).events.filter(
        (F.col("ts") >= F.lit(lower_ts).cast("timestamp"))
        & (F.col("ts") < F.lit(upper_ts).cast("timestamp"))
        & F.col("user_id").isin(list(item_ids))
    )
    return (
        slice_.groupBy(
            F.col("user_id").alias("item"),
            F.date_trunc("day", "ts").alias("day"),
        )
        .agg(
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.avg("value").alias("avg_value"),
            F.count("*").alias("n_points"),
        )
        .orderBy("item", "day")
    )


def owners_query(
    spark: SparkSession, sf_dir: str, query: str, limit: int = 10
) -> DataFrame:
    """Substring owner search (F2 behind the owners-query subject):
    case-insensitive containment, deterministic rank."""
    # the canonical shape's owner is the numeric supplier key — the
    # substring match runs over its string form (the reference
    # matches owner NAMES; same operator, different rendering). The
    # view is already in rank order: shortest rendering, then owner.
    # Lower BOTH sides: lowering only the query made any letter in it
    # unmatchable the moment owners carry names (r11 review finding)
    rendered = F.lower(F.col("owner").cast("string"))
    return (
        views(spark, sf_dir).owners
        .filter(rendered.contains(query.lower()))
        .limit(limit)
    )


def items_query(
    spark: SparkSession, sf_dir: str, query: str, limit: int = 10
) -> DataFrame:
    """Fuzzy item-name search (F3 behind the items-query subject):
    levenshtein rank with deterministic ties — the f3 operator's
    serving shape. (The reference's exact RankMatchFold, which adds
    the subsequence gate, is the f3b pandas-UDF twin; this serving
    path keeps the JVM-side expression for scan-speed ranking.)"""
    # the min-owner view holds one row per part: the whole catalogue
    items = views(spark, sf_dir).min_owner.select("item", "item_name")
    scored = items.withColumn(
        "distance", F.levenshtein(F.lower("item_name"), F.lit(query.lower()))
    )
    return scored.orderBy("distance", "item").limit(limit)


def realm_status(
    spark: SparkSession, sf_dir: str, region_name: str
) -> DataFrame:
    """The status subject: the connected-realm list for one region
    (the reference replies with the realm roster + metadata; J2's
    hierarchy flatten, filtered to the requested region)."""
    return views(spark, sf_dir).realms.filter(
        F.col("region_name") == region_name
    )


def realm_modification_dates(
    spark: SparkSession, sf_dir: str, region_name: str | None = None
) -> DataFrame:
    """The modification-dates subject: per-realm newest/oldest activity
    timestamps — the reference tracks per-realm dump downloaded/live
    times and serves them so callers can poll for staleness (S2's
    watermark, grouped per realm instead of one global max). The
    per-realm aggregate is a snapshot of one row per realm, in reply
    order; a request filters it to the region, when given."""
    dates = views(spark, sf_dir).mod_dates
    if region_name is None:
        return dates
    return dates.filter(F.col("region_name") == region_name)


def token_history(
    spark: SparkSession, sf_dir: str, region_name: str
) -> DataFrame:
    """The token-history subject: one region's daily token price
    series — exactly the W5 TokenHistory operator's answer with the
    region predicate applied; the served form IS the proven operator,
    parameterized."""
    return views(spark, sf_dir).tokens.filter(
        F.col("region_name") == region_name
    )


def unmet_demand_list(
    spark: SparkSession,
    sf_dir: str,
    owner_cap: int = 10,
    limit: int = 100,
) -> DataFrame:
    """The unmet-demand subject: catalog items with zero live auctions
    from the watched owner set ``owner <= owner_cap``, served as a
    deterministic, bounded list: the first ``limit`` matches of the
    item-ordered view, with no sort per request. An item has none
    exactly when it has no auction or its smallest owner exceeds the
    cap — J5's anti join, since a null owner never satisfies
    ``owner <= cap``."""
    min_owner = views(spark, sf_dir).keyed("min_owner")
    unmet = (
        p for p, m in enumerate(min_owner.keys) if m is None or m > owner_cap
    )
    return min_owner.pick(islice(unmet, limit))
