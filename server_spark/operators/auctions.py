"""The sotah spine: mini-auction collapse, price stats, filters, sort,
pagination — every operator of the reference's live-auctions read path
and intake aggregation (SURVEY.md §2.2/§2.4/§2.6, §3.1/§3.2),
re-expressed as declarative DataFrame plans.

Reference behaviors mirrored (cites per SURVEY.md, mount empty [M]):
- A1 `NewMiniAuctionList` collapse — `app/pkg/sotah/miniauction.go`
- A2 `NewPriceList` stats          — `app/pkg/sotah/pricelist.go`
- P2/P3 owner/item filters         — `app/pkg/sotah/miniauctions_filter.go`
- O1 sort kinds                    — `app/pkg/sotah/miniauctions_sort.go`
- O2 `Limit(count, page)`          — `app/pkg/sotah/miniauctions.go`

Scale notes (100 TB posture):
- The collapse and stats are single-shuffle hash aggregations with
  map-side partial aggregation; group keys (item, owner, …) are
  high-cardinality, so AQE coalesces/splits as needed.
- Exact `median` requires the full group on one partition side of the
  agg; `price_stats(approx=True)` swaps in `approx_percentile` with
  bounded error for cluster-scale runs (SURVEY.md §4.3.3).
- Pagination is `row_number` over a total order WITH a unique
  tiebreaker — bare LIMIT/OFFSET is nondeterministic across runs on a
  distributed sort (SURVEY.md §4.3.2).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# A1 collapse grouping key: the reference groups raw auctions by every
# non-id field (`app/pkg/sotah/miniauction.go` [M]).
COLLAPSE_KEYS = ("item", "owner", "buyout", "quantity", "time_left")

# O1 sort kinds: `sortkinds` enum in miniauctions_sort.go [M].
SORT_KINDS = {
    "item": "item",
    "quantity": "quantity",
    "buyout": "buyout",
    "buyout_per": "buyout_per",
    "auctions": "auc_count",
    "owner": "owner",
}


def collapse_mini_auctions(
    auctions: DataFrame, lead_keys: Sequence[str] = ()
) -> DataFrame:
    """A1 — collapse raw auctions into mini-auctions.

    One groupBy with map-side combine; `array_sort` fixes the
    nondeterministic `collect_list` order so results are stable and
    oracle-comparable. ``lead_keys`` are grouped on ahead of the
    collapse key (the medallion's snapshot columns), so one call
    collapses every snapshot at once.
    """
    return auctions.groupBy(*lead_keys, *COLLAPSE_KEYS).agg(
        F.array_sort(F.collect_list("auc")).alias("auc_list"),
        F.count("*").alias("auc_count"),
        (F.col("buyout") / F.col("quantity")).alias("buyout_per"),
    )


def price_stats(
    auctions: DataFrame,
    group_keys: Sequence[str] = ("item",),
    approx: bool = False,
) -> DataFrame:
    """A2 — per-item price stats over one snapshot.

    Mirrors `NewPriceList`: zero-buyout auctions are excluded from
    per-unit stats (P4 behavior [H]); volume is total quantity.
    ``approx=True`` is the 100 TB path (bounded-error percentile, no
    full-group materialization).
    """
    per = F.col("buyout") / F.col("quantity")
    median_expr = (
        F.percentile_approx(per, 0.5, 10000) if approx else F.median(per)
    )
    return (
        auctions.filter(F.col("buyout") > 0)
        .groupBy(*group_keys)
        .agg(
            F.min(per).alias("min_buyout_per"),
            F.max(per).alias("max_buyout_per"),
            F.avg(per).alias("average_buyout_per"),
            median_expr.alias("median_buyout_per"),
            F.sum("quantity").alias("volume"),
        )
    )


def filter_by_owners(df: DataFrame, owners: Sequence) -> DataFrame:
    """P2 — `FilterByOwnerNames`: keep rows whose owner is requested."""
    return df.filter(F.col("owner").isin(list(owners)))


def filter_by_items(df: DataFrame, item_ids: Sequence[int]) -> DataFrame:
    """P3 — `FilterByItemIds`."""
    return df.filter(F.col("item").isin(list(item_ids)))


def _cursor_key(sort_kind: str, descending: bool) -> list[tuple[str, bool]]:
    """The (column, descending) sequence that makes the (sort_kind,
    direction) order TOTAL over collapsed mini-auctions: the primary
    sort column followed by every remaining collapse key ascending.
    COLLAPSE_KEYS is the groupBy key of `collapse_mini_auctions`, so
    the suffix is unique per row — no two mini-auctions can tie on all
    of (item, owner, buyout, quantity, time_left)."""
    key = SORT_KINDS[sort_kind]
    return [(key, descending)] + [(k, False) for k in COLLAPSE_KEYS if k != key]


def sort_columns(sort_kind: str, descending: bool) -> list[Column]:
    """O1 — translate the reference's (sort_kind, direction) enum into
    sort columns, always suffixed with the full remaining collapse key
    so the order (and thus pagination) is a deterministic TOTAL order
    — quantity and time_left included, since collapsed rows can tie on
    (item, owner, buyout) alone."""
    return [
        F.col(name).desc() if desc else F.col(name).asc()
        for name, desc in _cursor_key(sort_kind, descending)
    ]


def paginate(
    df: DataFrame, order: Sequence[Column], page: int, count: int
) -> DataFrame:
    """O2 — `Limit(count, page)` as a deterministic window slice.

    `row_number` over the given total order, then filter to the page
    range. Spark plans this as a single global-sort window —
    deliberate for deterministic pages over a COLLAPSED,
    realm-bounded relation (bounded rows by construction); composing
    this over an UNBOUNDED relation single-partitions the sort, so
    use :func:`paginate_keyset` there instead (cursor predicate +
    TakeOrderedAndProject, the serving-scale form, oracle-checked as
    `o5_keyset_page`).
    """
    w = Window.orderBy(*order)
    lo, hi = page * count, (page + 1) * count
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") > lo) & (F.col("rn") <= hi))
        .drop("rn")
    )


def distinct_owners(auctions: DataFrame) -> DataFrame:
    """A3 — distinct owner names for a realm (ownersQuery [M])."""
    return auctions.select("owner").distinct()


def owner_volumes(auctions: DataFrame) -> DataFrame:
    """A4 — per-owner auction count and gross volume (rank sellers)."""
    return auctions.groupBy("owner").agg(
        F.count("*").alias("auction_count"),
        F.sum("buyout").alias("gross_buyout"),
        F.sum("quantity").alias("total_quantity"),
    )


def owners_by_items(auctions: DataFrame, item_ids: DataFrame) -> DataFrame:
    """J4 — `ownersQueryByItems`: for an item set, the owners selling
    them with volumes. Semi-join then aggregate; the item-id set is
    tiny → broadcast."""
    return (
        auctions.join(F.broadcast(item_ids), "item", "left_semi")
        .groupBy("owner")
        .agg(
            F.count("*").alias("auction_count"),
            F.sum("quantity").alias("total_quantity"),
        )
    )


def snapshot_totals(auctions: DataFrame) -> DataFrame:
    """A5 — per-snapshot totals (totalAuctions, totalQuantity,
    ownerCount) grouped by the snapshot key."""
    return auctions.groupBy("time_left").agg(
        F.count("*").alias("total_auctions"),
        F.sum("quantity").alias("total_quantity"),
        F.countDistinct("owner").alias("owner_count"),
    )


def paginate_keyset(
    df: DataFrame,
    sort_kind: str,
    descending: bool,
    count: int,
    after: dict | None = None,
) -> DataFrame:
    """O2 at serving scale — KEYSET pagination: instead of ranking
    rows 1..N and slicing (whose cost grows with page depth — window
    `paginate` scans top (page+1)*count rows), the caller passes the
    LAST ROW of the previous page (`after` = the primary sort column
    plus ALL collapse keys) and the next page is `WHERE row > after
    ORDER BY ... LIMIT count` — a pushable range predicate +
    TakeOrderedAndProject, O(count) work per page at ANY depth. This
    is the cursor the reference effectively had for free in Bolt's
    ordered B-tree `Seek`. The cursor tuple is `_cursor_key`'s full
    sequence — primary followed by every remaining COLLAPSE_KEY — which
    is unique per collapsed row, so the lexicographic strictly-after
    predicate is a genuine total-order cut: pages never skip or repeat
    rows, even when rows tie on (item, owner, buyout) but differ in
    quantity or time_left."""
    cursor = _cursor_key(sort_kind, descending)
    if after is not None:
        # Lexicographic "strictly after the cursor row": OR over
        # prefixes — equal on cols[0..i-1] AND strictly past on cols[i].
        pred = None
        eq = F.lit(True)
        for name, desc in cursor:
            col, a = F.col(name), F.lit(after[name])
            step = (col < a) if desc else (col > a)
            clause = eq & step
            pred = clause if pred is None else (pred | clause)
            eq = eq & (col == a)
        df = df.filter(pred)
    return df.orderBy(*sort_columns(sort_kind, descending)).limit(count)
