"""HTML→clean-text extraction (functions/markup.py, x124).

Planted-boilerplate coverage: a hand-written page with nav, share
bar, footer, script/style blocks and entities must come back as the
body prose ONLY — plus structural checks (pure-builtin plan, no
Python eval nodes) and edge cases (empty page, all-boilerplate page,
line exactly at the thresholds).
"""

from __future__ import annotations

import pytest

from server_spark.functions.markup import (
    extract_clean_text,
    synthetic_page,
)

PAGE = (
    "<html><head><title>Ignored Title Here</title>"
    "<style>.x { color: red; } </style>"
    '<script>var a = "</p> fake closer inside script";</script>'
    "</head><body>"
    '<nav><a href="/">Home</a> <a href="/a">News</a> '
    '<a href="/b">Sports</a> <a href="/c">Weather</a></nav>'
    "<h1>Short headline</h1>"
    "<div><p>The quick brown fox jumps over the lazy dog near the "
    "river bank &amp; waits for dusk.</p></div>"
    "<p>Second real paragraph with more than five plain words in "
    "it.</p>"
    '<p class="share"><a href="#">Tweet</a> <a href="#">Share</a> '
    '<a href="#">Pin</a></p>'
    "<footer>(c) 2020 SomeCorp. All rights reserved. "
    '<a href="/p">Privacy</a> <a href="/t">Terms</a> '
    '<a href="/c">Contact</a> <a href="/s">Sitemap</a></footer>'
    "</body></html>"
)


def _one(spark, html):
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    return extract_clean_text(df).collect()[0]


def test_planted_boilerplate_removed_body_kept(spark):
    row = _one(spark, PAGE)
    lines = row["clean_text"].split("\n")
    # body prose kept, entity decoded, whitespace normalized
    assert lines == [
        "The quick brown fox jumps over the lazy dog near the river "
        "bank & waits for dusk.",
        "Second real paragraph with more than five plain words in it.",
    ]
    # every boilerplate class gone
    for bad in ("Home", "Tweet", "rights reserved", "Short headline",
                "color: red", "fake closer"):
        assert bad not in row["clean_text"]
    assert row["n_kept"] == 2
    assert row["n_lines"] > row["n_kept"]
    assert 0.0 < row["boilerplate_word_share"] < 1.0
    assert row["kept_words"] == 17 + 11


def test_script_style_dropped_even_with_fake_closers(spark):
    # a "</p>" INSIDE a script block must not create a line break —
    # script bodies are dropped before the block split
    row = _one(
        spark,
        "<p>real words one two three four five six</p>"
        '<script>x = "</p> not a line";</script>',
    )
    assert row["clean_text"] == "real words one two three four five six"
    assert row["n_kept"] == 1


@pytest.mark.parametrize(
    "html,kept",
    [
        # exactly min_words (5) kept; 4 words dropped
        ("<p>alpha beta gamma delta epsilon</p>", 1),
        ("<p>alpha beta gamma delta</p>", 0),
        # link density: 2 links in 10 words = 0.2 -> NOT below -> drop
        (
            '<p><a href="x">one</a> <a href="y">two</a> three four '
            "five six seven eight nine ten</p>",
            0,
        ),
        # 1 link in 10 words = 0.1 -> keep
        (
            '<p><a href="x">one</a> two three four five six seven '
            "eight nine ten</p>",
            1,
        ),
    ],
)
def test_threshold_boundaries(spark, html, kept):
    assert _one(spark, html)["n_kept"] == kept


def test_empty_and_all_boilerplate_pages(spark):
    empty = _one(spark, "")
    assert empty["clean_text"] == ""
    assert empty["n_kept"] == 0 and empty["total_words"] == 0
    assert empty["boilerplate_word_share"] == 0.0

    nav_only = _one(
        spark,
        '<nav><a href="/">Home</a> <a href="/a">About</a></nav>',
    )
    assert nav_only["clean_text"] == ""
    assert nav_only["boilerplate_word_share"] == 1.0


def test_plan_is_pure_builtin_narrow_map(spark):
    """The whole extraction must stay JVM-side: no Python eval nodes,
    no shuffle (Exchange) in the plan."""
    df = spark.createDataFrame([(1, PAGE)], "doc_id long, html string")
    plan = (
        extract_clean_text(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan
    assert "Exchange" not in plan


@pytest.mark.parametrize(
    "min_words,links_per_word", [(3, 3), (5, 5), (8, 10), (1, 2)]
)
def test_extraction_rules_differential_vs_duckdb(
    spark, min_words, links_per_word
):
    """DIFFERENTIAL sweep of the extraction rule parameters: the
    Spark HOF pipeline and the generated DuckDB twin must agree on
    every column — including the exact clean_text string — for rule
    configurations beyond the one registered default. Guards the
    shared-constants contract of functions/markup.py (a drift between
    the two implementations that happens to cancel at (5, 5) is
    caught by the other corners)."""
    import duckdb

    from server_spark.functions.markup import (
        extract_sql_ctes,
        synthetic_page,
        synthetic_page_sql,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter("doc_id < 120")
    pages = docs.select(
        "doc_id",
        synthetic_page(docs["doc_id"], docs["text"]).alias("html"),
    )
    got = extract_clean_text(
        pages, min_words=min_words, links_per_word=links_per_word
    ).drop("html")
    got_rows = sorted(tuple(r) for r in got.collect())

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet' WHERE doc_id < 120"
    )
    sql = f"""
    WITH pages AS (
        SELECT doc_id, {synthetic_page_sql()} AS html FROM documents
    ),
    {extract_sql_ctes(min_words=min_words, links_per_word=links_per_word)}
    SELECT * FROM extracted
    """
    want_rows = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got_rows == want_rows


def test_null_text_and_html_parity(spark):
    """NULL text/html must behave as the empty page on BOTH engines —
    the Spark chain would otherwise emit size(NULL) = -1 counts while
    DuckDB's UNNEST(NULL) drops the row (engine divergence on
    malformed ingest rows)."""
    import duckdb

    from server_spark.functions.markup import (
        extract_sql_ctes,
        synthetic_page,
        synthetic_page_sql,
    )

    # direct: NULL html → empty-page row, not garbage
    row = _one(spark, None)
    assert row["clean_text"] == "" and row["n_kept"] == 0
    assert row["n_lines"] == 0 and row["total_words"] == 0

    docs = spark.createDataFrame(
        [(1, "plenty of body words to keep here"), (2, None)],
        "doc_id long, text string",
    )
    pages = docs.select(
        "doc_id",
        synthetic_page(docs["doc_id"], docs["text"]).alias("html"),
    )
    got = sorted(
        tuple(r)
        for r in extract_clean_text(pages).drop("html").collect()
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, 'plenty of body words to keep here'), "
        "(2, NULL)) AS t(doc_id, text)"
    )
    sql = f"""
    WITH pages AS (
        SELECT doc_id, {synthetic_page_sql()} AS html FROM documents
    ),
    {extract_sql_ctes()}
    SELECT * FROM extracted
    """
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want
    assert len(got) == 2  # the null-text doc is present, not dropped


def test_synthetic_page_wraps_text(spark):
    df = spark.createDataFrame(
        [(7, "some body words here now okay")],
        "doc_id long, text string",
    )
    page = df.select(
        synthetic_page(
            df["doc_id"], df["text"]
        ).alias("html")
    ).collect()[0]["html"]
    assert page.startswith("<html><head><title>Doc 7</title>")
    assert "some body words here now okay" in page
    assert "</footer></body></html>" in page
    row = _one(spark, page)
    assert row["clean_text"] == (
        "Research & analysis: some body words here now okay"
    )
