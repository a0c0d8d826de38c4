"""Serving-façade tests: the parameterized request surface composes
the proven operators correctly — filters actually filter, pagination
partitions the stream deterministically, searches rank stably."""

from __future__ import annotations

from server_spark import api
from server_spark.operators import auctions as ops
from server_spark.sources.synthetic import auctions


def test_query_auctions_filters_and_paginates(spark, sf_dir):
    live = auctions(spark, sf_dir)
    some_owners = [
        r["owner"]
        for r in live.select("owner").distinct().orderBy("owner").head(3)
    ]
    req = api.AuctionsRequest(
        owner_filters=some_owners, sort_kind="buyout",
        sort_descending=True, page=0, count=10,
    )
    page0 = api.query_auctions(spark, sf_dir, req).collect()
    assert 0 < len(page0) <= 10
    assert {r["owner"] for r in page0} <= set(some_owners)
    buyouts = [r["buyout"] for r in page0]
    assert buyouts == sorted(buyouts, reverse=True)

    # page 1 is disjoint from page 0 and continues the order
    req1 = api.AuctionsRequest(
        owner_filters=some_owners, sort_kind="buyout",
        sort_descending=True, page=1, count=10,
    )
    page1 = api.query_auctions(spark, sf_dir, req1).collect()
    keys = lambda rows: {(r["item"], r["owner"], r["buyout"]) for r in rows}
    assert not (keys(page0) & keys(page1))
    if page1:
        assert max(r["buyout"] for r in page1) <= min(buyouts)


def test_price_list_matches_direct_composition(spark, sf_dir):
    live = auctions(spark, sf_dir)
    items = [r["item"] for r in live.select("item").distinct().head(5)]
    got = {
        r["item"]: r["volume"]
        for r in api.price_list(spark, sf_dir, items).collect()
    }
    want = {
        r["item"]: r["volume"]
        for r in ops.price_stats(
            ops.filter_by_items(live, items)
        ).collect()
    }
    assert got == want and set(got) <= set(items) and got


def test_price_list_history_window(spark, sf_dir):
    rows = api.price_list_history(
        spark, sf_dir, item_ids=[1, 2, 3],
        lower_ts="2024-01-05 00:00:00", upper_ts="2024-01-10 00:00:00",
    ).collect()
    assert rows
    import datetime as dt

    for r in rows:
        assert r["item"] in (1, 2, 3)
        assert dt.datetime(2024, 1, 5) <= r["day"] < dt.datetime(2024, 1, 10)
        assert r["min_value"] <= r["avg_value"] <= r["max_value"]


def test_owner_and_item_search(spark, sf_dir):
    live = auctions(spark, sf_dir)
    sample_owner = str(live.select("owner").head()[0])
    frag = sample_owner[:2]
    hits = api.owners_query(spark, sf_dir, frag).collect()
    assert hits and all(frag in str(r["owner"]) for r in hits)

    items = api.items_query(spark, sf_dir, "green", limit=5).collect()
    assert len(items) == 5
    dists = [r["distance"] for r in items]
    assert dists == sorted(dists)


def test_realm_status_lists_region_roster(spark, sf_dir):
    """status subject ≡ the hierarchy dim filtered to one region."""
    from pyspark.sql import functions as F

    from server_spark import tables

    rows = api.realm_status(spark, sf_dir, "EUROPE").collect()
    assert rows and all(r["region_name"] == "EUROPE" for r in rows)
    # equivalence to the direct join
    nation = tables.load(spark, sf_dir, "nation")
    region = tables.load(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    want = sorted(
        r["n_nationkey"]
        for r in nation.join(
            region, nation.n_regionkey == region.r_regionkey
        ).collect()
    )
    assert [r["realm_id"] for r in rows] == want


def test_realm_modification_dates_watermarks(spark, sf_dir):
    """mod-dates subject: per-realm max(ts) equals the direct
    group-by, and the region parameter restricts the roster."""
    from pyspark.sql import functions as F

    from server_spark import tables

    got = {
        r["realm_id"]: r["last_modified"]
        for r in api.realm_modification_dates(spark, sf_dir).collect()
    }
    ev = tables.load(spark, sf_dir, "events")
    cust = tables.load(spark, sf_dir, "customer")
    want = {
        r["c_nationkey"]: r["m"]
        for r in ev.join(cust, ev.user_id == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.max("ts").alias("m"))
        .collect()
    }
    assert got == want and got
    eu = api.realm_modification_dates(spark, sf_dir, "EUROPE").collect()
    assert eu and {r["region_name"] for r in eu} == {"EUROPE"}
    assert set(r["realm_id"] for r in eu) < set(got)


def test_token_history_is_parameterized_w5(spark, sf_dir):
    """token-history subject ≡ the proven W5 operator sliced to the
    region, and no request aggregates: W5 runs once per session, and
    the region predicate folds into the scan of its driver-held
    answer."""
    from server_spark.queries.timeseries import w5_token_history

    got = api.token_history(spark, sf_dir, "ASIA")
    rows = got.collect()
    assert rows and {r["region_name"] for r in rows} == {"ASIA"}
    want = [
        r
        for r in w5_token_history(spark, sf_dir).collect()
        if r["region_name"] == "ASIA"
    ]
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want))
    assert _plan_nodes(got) == ["LocalTableScan"]


def test_unmet_demand_list_matches_j5(spark, sf_dir):
    """unmet-demand subject ≡ J5 with default params, bounded +
    deterministic."""
    from server_spark.queries.joins_sets import j5_unmet_demand

    rows = api.unmet_demand_list(spark, sf_dir, owner_cap=10, limit=50).collect()
    want = sorted(r["item"] for r in j5_unmet_demand(spark, sf_dir).collect())[
        :50
    ]
    assert [r["item"] for r in rows] == want and len(rows) <= 50
    # with no watched owners every catalog item is unmet: the list is
    # non-empty and bounded by the limit
    all_unmet = api.unmet_demand_list(
        spark, sf_dir, owner_cap=-1, limit=50
    ).collect()
    assert len(all_unmet) == 50
    assert [r["item"] for r in all_unmet] == sorted(
        r["item"] for r in all_unmet
    )


def test_keyset_pagination_matches_window_slices(spark, sf_dir):
    """Keyset pages reproduce the window-slice pages exactly at any
    depth, and the plan is a TakeOrderedAndProject with NO rank
    window — O(count) per page instead of O(page*count)."""
    import contextlib
    import io

    from server_spark.operators import auctions as ops
    from server_spark.sources.synthetic import auctions as load

    collapsed = ops.collapse_mini_auctions(load(spark, sf_dir)).cache()
    order = ops.sort_columns("buyout", True)

    after = None
    for page in range(3):
        want = ops.paginate(collapsed, order, page, 7).collect()
        got_df = ops.paginate_keyset(collapsed, "buyout", True, 7, after)
        got = got_df.collect()
        key = lambda r: tuple(r[k] for k in ("buyout", *ops.COLLAPSE_KEYS))
        assert [key(r) for r in got] == [key(r) for r in want], f"page {page}"
        last = got[-1]
        after = {k: last[k] for k in ("buyout", *ops.COLLAPSE_KEYS)}

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got_df.explain()
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan
    assert "row_number" not in plan


# ---------------------------------------------------------------------------
# Property tests: arbitrary request-parameter combinations (r6 verdict 6)
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, example, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_REQS = st.fixed_dictionaries(
    {
        "owners": st.lists(
            st.integers(min_value=1, max_value=10), max_size=4, unique=True
        ),
        "items": st.lists(
            st.integers(min_value=1, max_value=60), max_size=5, unique=True
        ),
        "sort_kind": st.sampled_from(sorted(ops.SORT_KINDS)),
        "descending": st.booleans(),
        "count": st.integers(min_value=1, max_value=9),
    }
)

_PROP_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow, HealthCheck.function_scoped_fixture,
    ],
)


@given(req=_REQS)
@_PROP_SETTINGS
def test_query_auctions_params_agree_with_keyset(spark, sf_dir, req):
    """For ARBITRARY filter × sort × page-size combinations: the
    offset-window pages (api.query_auctions) and a keyset-cursor walk
    over the same request agree page-for-page; rows honor the filters;
    pages are disjoint, bounded, and ordered by the requested key."""
    owners, items = req["owners"], req["items"]
    kind, desc, count = req["sort_kind"], req["descending"], req["count"]

    # mirror the façade's composition to drive the keyset twin
    live = auctions(spark, sf_dir)
    if owners:
        live = ops.filter_by_owners(live, owners)
    if items:
        live = ops.filter_by_items(live, items)
    collapsed = ops.collapse_mini_auctions(live).cache()

    key_cols = (ops.SORT_KINDS[kind], *ops.COLLAPSE_KEYS)
    rowkey = lambda r: tuple(r[k] for k in key_cols)

    after, seen = None, []
    for page in range(3):
        want = api.query_auctions(
            spark, sf_dir,
            api.AuctionsRequest(
                owner_filters=owners, item_filters=items,
                sort_kind=kind, sort_descending=desc,
                page=page, count=count,
            ),
        ).collect()
        got = ops.paginate_keyset(collapsed, kind, desc, count, after).collect()
        assert [rowkey(r) for r in got] == [rowkey(r) for r in want], (
            f"page {page} of {req} diverged"
        )
        if not got:
            break
        # request-surface invariants on the offset page
        assert len(want) <= count
        if owners:
            assert {r["owner"] for r in want} <= set(owners)
        if items:
            assert {r["item"] for r in want} <= set(items)
        vals = [r[ops.SORT_KINDS[kind]] for r in want]
        assert vals == sorted(vals, reverse=desc)
        seen.extend(rowkey(r) for r in got)
        last = got[-1]
        after = {k: last[k] for k in key_cols}
    # pages never overlap (full collapse key is unique per row)
    assert len(set(seen)) == len(seen)
    collapsed.unpersist()


def test_query_auctions_cursor_mode_matches_offset_pages(spark, sf_dir):
    """The façade's keyset mode: walking with `after` cursors built by
    api.cursor_of reproduces the offset pages exactly — the O(count)
    deep-scroll serving path behind the same request shape."""
    base = dict(item_filters=(1, 2, 3, 5, 8), sort_kind="quantity",
                sort_descending=True, count=9)
    after = None
    for page in range(3):
        want = api.query_auctions(
            spark, sf_dir, api.AuctionsRequest(page=page, **base)
        ).collect()
        req = api.AuctionsRequest(after=after, **base)
        got = api.query_auctions(spark, sf_dir, req).collect()
        key = lambda r: tuple(
            r[k] for k in ("quantity", *ops.COLLAPSE_KEYS)
        )
        assert [key(r) for r in got] == [key(r) for r in want], f"page {page}"
        if not got:
            break
        after = api.cursor_of(req, got[-1])


# ---------------------------------------------------------------------------
# Per-session views: no job, or one without Exchange; same answers as the
# per-request compositions
# ---------------------------------------------------------------------------

import pytest  # noqa: E402

from tests.conftest import SF_ORACLE as SF_SERVED  # noqa: E402
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


@pytest.fixture(scope="module")
def served(spark):
    """The sf0.01 views, built the way a serving process builds them
    (the cached ones dropped from the cache again after this module)."""
    from server_spark.serving_gate import warm_cache

    warm_cache(spark, SF_SERVED)
    views = api.views(spark, SF_SERVED)
    yield views
    for name in views.cached:
        getattr(views, name).unpersist()


def _plan_nodes(df) -> list[str]:
    """Names of the nodes in ``df``'s executed plan, an adaptive plan's
    wrappers and stages unwrapped. Cached relations are leaves here:
    their own build plan is not part of a request."""
    conv = df.sparkSession._jvm.scala.jdk.javaapi.CollectionConverters
    found, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif name == "ResultQueryStage":
            stack.append(node.plan())
        else:
            found.append(name)
            stack.extend(conv.asJava(node.children()))
    return found


def _exchanges(df) -> list[str]:
    return [
        n for n in _plan_nodes(df) if "Exchange" in n
        or n in ("ShuffleQueryStage", "BroadcastQueryStage")
    ]


def _one_of_each(spark, sf):
    """Every subject once, with representative parameters (the
    auctions subject in both its page and its cursor form)."""
    after = {"buyout": 50000.0, "item": 8, "owner": 50, "quantity": 25.0,
             "time_left": "N"}
    return {
        "auctions_page": api.query_auctions(spark, sf, api.AuctionsRequest(
            item_filters=(1, 8, 13), owner_filters=tuple(range(1, 60)),
            sort_kind="quantity", page=1, count=5)),
        "auctions_cursor": api.query_auctions(spark, sf, api.AuctionsRequest(
            item_filters=(1, 8, 13), sort_kind="buyout", count=5,
            after=after)),
        "price_list": api.price_list(spark, sf, (1, 21, 34, 55)),
        "price_list_history": api.price_list_history(
            spark, sf, (1, 2, 3), "2024-01-01 00:00:00", "2024-02-01 00:00:00"),
        "owners_query": api.owners_query(spark, sf, "7"),
        "items_query": api.items_query(spark, sf, "lavender blue"),
        "realm_status": api.realm_status(spark, sf, "ASIA"),
        "realm_modification_dates": api.realm_modification_dates(
            spark, sf, "EUROPE"),
        "token_history": api.token_history(spark, sf, "AMERICA"),
        "unmet_demand_list": api.unmet_demand_list(spark, sf, owner_cap=12),
    }


# the subjects whose request is only filter / project / limit over a
# driver-held view
LOCAL_SUBJECTS = (
    "price_list", "owners_query", "realm_status", "realm_modification_dates",
    "token_history", "unmet_demand_list",
)


def _subject_functions() -> list[str]:
    """Every public api function that answers a request: it takes
    ``(spark, sf_dir, ...)`` and is not the views accessor."""
    import inspect

    return sorted(
        name for name, fn in inspect.getmembers(api, inspect.isfunction)
        if fn.__module__ == api.__name__ and not name.startswith("_")
        and name != "views"
        and list(inspect.signature(fn).parameters)[:2] == ["spark", "sf_dir"]
    )


def test_each_subject_is_one_job_without_exchange(spark, served, monkeypatch):
    """Every subject has a request here. A request over a driver-held
    view runs no job: its executed plan is one LocalTableScan. A
    request over a cached view is one job of one stage, and its
    executed plan moves no rows between partitions."""
    subjects, requested = _subject_functions(), set()
    for subject in subjects:
        def record(*args, _subject=subject, _fn=getattr(api, subject), **kw):
            requested.add(_subject)
            return _fn(*args, **kw)
        monkeypatch.setattr(api, subject, record)
    requests = _one_of_each(spark, SF_SERVED)
    monkeypatch.undo()
    missing = sorted(set(subjects) - requested)
    assert not missing, f"subjects with no request in _one_of_each: {missing}"

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        for name, df in requests.items():
            group = f"test_api.one_job.{name}"
            sc.setJobGroup(group, name)
            rows = df.collect()
            jobs = list(tracker.getJobIdsForGroup(group))
            assert rows or name == "auctions_cursor", f"{name}: empty reply"
            if name in LOCAL_SUBJECTS:
                assert jobs == [], f"{name}: jobs {jobs}"
                assert _plan_nodes(df) == ["LocalTableScan"], name
                continue
            assert len(jobs) == 1, f"{name}: jobs {jobs}"
            # a cached view's build stages stay in the job's DAG, skipped
            ran = [
                sid for sid in tracker.getJobInfo(jobs[0]).stageIds
                if tracker.getStageInfo(sid).numCompletedTasks
            ]
            assert len(ran) == 1, f"{name}: stages run {ran}"
            assert _exchanges(df) == [], name
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_views_are_per_session(spark, served):
    """A new session builds its own views; the memo never hands it the
    first session's DataFrames."""
    other = spark.newSession()
    mine, theirs = api.views(spark, SF_SERVED), api.views(other, SF_SERVED)
    assert api.views(spark, SF_SERVED) is mine
    assert theirs is not mine and api.views(other, SF_SERVED) is theirs
    for name in api.Views.names:
        assert getattr(theirs, name).sparkSession is other
        assert getattr(mine, name).sparkSession is spark
    assert (
        api.realm_status(other, SF_SERVED, "ASIA").collect()
        == api.realm_status(spark, SF_SERVED, "ASIA").collect()
    )


def _same_rows(got, want) -> bool:
    import math

    def close(a, b):
        if isinstance(a, float) and isinstance(b, float):
            return math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-9)
        return a == b

    return len(got) == len(want) and all(
        len(g) == len(w) and all(map(close, g, w)) for g, w in zip(got, want)
    )


@given(
    owner_cap=st.one_of(st.just(-1), st.integers(min_value=0, max_value=40)),
    limit=st.integers(min_value=1, max_value=120),
    items=st.lists(
        st.integers(min_value=0, max_value=2100), min_size=1, max_size=8,
        unique=True,
    ),
    region=st.sampled_from((*REGIONS, "ATLANTIS", None)),
    owner_query=st.text(alphabet="0123456789", max_size=3),
)
@example(owner_cap=-1, limit=120, items=[1, 2], region="ATLANTIS",
         owner_query="")
@example(owner_cap=-1, limit=5, items=[3], region=None, owner_query="1")
# duplicate ids, and ids no part has
@example(owner_cap=3, limit=7, items=[5, 5, 0, 2100, 10**6], region="ASIA",
         owner_query="9")
# every item unmet
@example(owner_cap=-1, limit=30, items=[1999], region="EUROPE",
         owner_query="")
# a limit above the number of unmet items (20 at sf0.01)
@example(owner_cap=15, limit=120, items=[7], region="AMERICA",
         owner_query="2")
# empty replies: no item unmet, no requested id priced
@example(owner_cap=40, limit=10, items=[2100, 10**6], region="ATLANTIS",
         owner_query="x")
@_PROP_SETTINGS
def test_views_match_per_request_compositions(
    spark, served, owner_cap, limit, items, region, owner_query
):
    """The view-backed subjects answer exactly what the per-request
    compositions they replace answer over the raw tables: J5's anti
    join, price_stats over the filtered auctions, the ranked substring
    search over the distinct owners, the events ⋈ customer ⋈ realm
    aggregate (None: the mod-dates of every region), region ⋈ nation
    ordered by realm, and W5 filtered by region. The ordered ones pin
    that the driver-held views keep reply order with no sort per
    request."""
    from pyspark.sql import functions as F

    from server_spark import tables
    from server_spark.operators import joins
    from server_spark.queries.timeseries import w5_token_history

    sf = SF_SERVED
    raw = auctions(spark, sf)
    part = tables.load(spark, sf, "part").select(
        F.col("p_partkey").alias("item"), F.col("p_name").alias("item_name")
    )
    offered = raw.filter(F.col("owner") <= owner_cap).select("item")
    want = joins.unmet_demand(part, offered, "item").orderBy("item").limit(limit)
    got = api.unmet_demand_list(spark, sf, owner_cap=owner_cap, limit=limit)
    assert got.collect() == want.collect()

    key = lambda r: r["item"]  # noqa: E731
    want = sorted(ops.price_stats(ops.filter_by_items(raw, items)).collect(), key=key)
    got = sorted(api.price_list(spark, sf, items).collect(), key=key)
    assert _same_rows(got, want)

    rendered = F.col("owner").cast("string")
    want = (
        ops.distinct_owners(raw)
        .filter(F.lower(rendered).contains(owner_query.lower()))
        .orderBy(F.length(rendered), "owner")
        .limit(limit)
    )
    got = api.owners_query(spark, sf, owner_query, limit=limit)
    assert got.collect() == want.collect()

    cust = tables.load(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_nationkey").alias("realm_id")
    )
    realms = tables.load(spark, sf, "nation").join(
        tables.load(spark, sf, "region"), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(
        F.col("r_name").alias("region_name"), F.col("n_nationkey").alias("realm_id"),
        F.col("n_name").alias("realm_name"),
    )
    if region is not None:
        realms = realms.filter(F.col("region_name") == region)
    want = (
        tables.load(spark, sf, "events")
        .join(cust.join(realms, "realm_id"), "user_id")
        .groupBy("region_name", "realm_id", "realm_name")
        .agg(F.max("ts").alias("last_modified"), F.min("ts").alias("first_seen"),
             F.count("*").alias("n_events"))
        .orderBy("region_name", "realm_id")
    )
    got = api.realm_modification_dates(spark, sf, region)
    assert got.collect() == want.collect()
    if region is None:
        return

    got = api.realm_status(spark, sf, region)
    assert got.collect() == realms.orderBy("realm_id").collect()

    want = w5_token_history(spark, sf).filter(F.col("region_name") == region)
    got = api.token_history(spark, sf, region)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    if region == "ATLANTIS":
        assert not got.collect()
        assert not api.realm_status(spark, sf, region).collect()


def test_keyed_subjects_hold_exactly_their_reply(spark, served):
    """price_list and unmet_demand_list fold no filter over their
    per-part view: each request's analyzed plan is one LocalRelation
    holding exactly the reply's rows, picked from the view's index."""
    requests = {
        "price_list": api.price_list(spark, SF_SERVED, (1, 21, 21, 34, 2100)),
        "price_list_absent": api.price_list(spark, SF_SERVED, (-1, 10**6)),
        "unmet_demand_list": api.unmet_demand_list(
            spark, SF_SERVED, owner_cap=4, limit=40),
        "unmet_all": api.unmet_demand_list(spark, SF_SERVED, owner_cap=-1),
    }
    sizes = {}
    for name, df in requests.items():
        plan = df._jdf.queryExecution().analyzed()
        assert plan.nodeName() == "LocalRelation", name
        sizes[name] = plan.data().size()
        assert sizes[name] == len(df.collect()), name
    assert sizes == {
        "price_list": 3, "price_list_absent": 0,
        "unmet_demand_list": 40, "unmet_all": 100,
    }


def test_only_table_sized_views_are_cached(spark, served):
    """After warm_cache, the raw auctions and events are the only views
    in the cache. Every other view is a driver-held LocalRelation
    within its documented bound: one row per realm (realms,
    mod_dates), per (region, day) (tokens), per owner (owners) and per
    part (min_owner, prices)."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from server_spark import tables

    def rows(table: str) -> int:
        return tables.load(spark, SF_SERVED, table).count()

    days = tables.load(spark, SF_SERVED, "events").select(
        F.countDistinct(F.date_trunc("day", "ts"))
    ).first()[0]
    bounds = {
        "realms": rows("nation"),
        "mod_dates": rows("nation"),
        "tokens": rows("region") * days,
        "owners": rows("supplier"),
        "min_owner": rows("part"),
        "prices": rows("part"),
    }
    assert set(bounds) == set(served.names) - set(served.cached)
    for name in served.names:
        view = getattr(served, name)
        assert (view.storageLevel != StorageLevel.NONE) == (
            name in served.cached
        ), name
        if name in bounds:
            plan = view._jdf.queryExecution().optimizedPlan()
            assert plan.nodeName() == "LocalRelation", name
            assert 0 < view.count() <= bounds[name], name
