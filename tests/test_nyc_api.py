"""Golden end-to-end tests for the NYC-domain API (SURVEY.md section 5
item 2) - every reference edge case: empty sales -> zeroed stats, month gaps
-> 0/None fill, >5 complaint types -> Other bucket, date-range composition,
ordering determinism, unresolvable geocode -> typed error - plus the
request path's cost and safety: Spark jobs per endpoint, no cached blocks
left behind, identical replies under concurrent clients, and dimension maps
memoized per frame and file stamp."""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from nyc_analytics_database_platform_spark.catalog import clear_engine_state
from nyc_analytics_database_platform_spark.nyc import api
from nyc_analytics_database_platform_spark.nyc.fixtures import nyc_tables
from nyc_analytics_database_platform_spark.sources.geocode import geocode_dim


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    # Read back from parquet: a createDataFrame local relation is answered
    # without launching jobs, which would hide the job counts below.
    root = tmp_path_factory.mktemp("nyc")
    out = {}
    for name, df in nyc_tables(spark).items():
        df.write.parquet(str(root / name))
        out[name] = spark.read.parquet(str(root / name))
    return out


def test_parse_bbl():
    assert api.parse_bbl("1-100-10") == (1, 100, 10)
    assert api.parse_bbl("4-11458-0029") == (4, 11458, 29)
    assert api.parse_bbl("9-1-1") is None  # borough out of range
    assert api.parse_bbl("nonsense") is None
    assert api.parse_bbl("1-2") is None


# The tests below keep one name each and loop over their cases, so the
# edge-case windows ride along as extra inputs.

# (window end, by-type (name, count, active), sale prices, (min, max, median))
SUMMARY_CASES = [
    (
        "2024-12-31",  # 2023 request and sale excluded by range
        [("Noise", 2, 1), ("Blocked Driveway", 1, 1), ("Graffiti", 1, 1),
         ("Heat/Hot Water", 1, 1), ("Illegal Parking", 1, 0), ("Rodent", 1, 0),
         ("Street Condition", 1, 1)],
        [1500000.0, 1100000.0, 800000.0, 900000.0, 1200000.0, 1000000.0],
        (800000.0, 1500000.0, 1050000.0),  # even count -> interpolated
    ),
    (
        "2024-02-05",  # window end == a sale date: that sale is in
        [("Noise", 2, 1), ("Heat/Hot Water", 1, 1), ("Illegal Parking", 1, 0)],
        [800000.0, 900000.0, 1200000.0, 1000000.0],
        (800000.0, 1200000.0, 950000.0),
    ),
]


def test_summary_full_parcel(spark, tables):
    for end, by_type, prices, stats in SUMMARY_CASES:
        data = api.bbl_summary(spark, tables, "1-100-10", "2024-01-01", end)
        assert data["borough_name"] == "Manhattan"
        # ordering: count desc, then name
        got = [(r["type"], r["count"], r["active"]) for r in data["complaints_by_type"]]
        assert got == by_type
        assert data["total_requests"] == sum(n for _, n, _ in by_type)
        assert data["active_requests"] == sum(a for _, _, a in by_type)
        # recent-first with sale_id tiebreak on the 2024-01-10 tie
        assert [s["price"] for s in data["sales"]] == prices
        assert data["num_sales"] == len(prices)
        assert data["sale_stats"] == dict(zip(("min_price", "max_price", "median_price"), stats))


def test_summary_zeroed_branches(spark, tables):
    # requests but no sales (server.py:237-240)
    d2 = api.bbl_summary(spark, tables, "2-200-20")
    assert (d2["total_requests"], d2["active_requests"]) == (2, 2)
    assert d2["num_sales"] == 0
    # reference returns 0 (not None) for empty-sales stats (server.py:237-240)
    assert d2["sale_stats"] == {"min_price": 0, "max_price": 0, "median_price": 0}
    # demo parcel: lookup hits, everything empty
    d4 = api.bbl_summary(spark, tables, "4-11458-0029")
    assert d4["borough_name"] == "Queens"
    assert d4["total_requests"] == 0 and d4["num_sales"] == 0
    # unknown parcel / malformed
    assert api.bbl_summary(spark, tables, "5-999-999") is None
    assert api.bbl_summary(spark, tables, "garbage") is None


# (window, spine length, expected count for some months)
TREND_COUNT_CASES = [
    # full requested window, not data bounds; March is a zero-filled gap
    ((api.DEFAULT_START, api.DEFAULT_END), 12,
     {"2024-01": 3, "2024-02": 2, "2024-03": 0, "2024-04": 3, "2024-12": 0}),
    # cross-year, partial months at both ends; the end date is inclusive
    # (a request was created on 2024-02-14)
    (("2023-11-15", "2024-02-14"), 4,
     {"2023-11": 0, "2023-12": 1, "2024-01": 3, "2024-02": 2}),
]


def test_trends_zero_fill_complaints(spark, tables):
    for (start, end), n_months, months in TREND_COUNT_CASES:
        rows = api.bbl_trends(spark, tables, "1-100-10", start, end, metric="service_requests")
        spine = [r["month"] for r in rows]
        assert spine == sorted(spine) and len(spine) == n_months
        assert set(rows[0]) == {"month", "count"}  # reference row shape
        by_month = {r["month"]: r["count"] for r in rows}
        assert {m: by_month[m] for m in months} == months
        # 'complaints' alias keeps working
        assert api.bbl_trends(spark, tables, "1-100-10", start, end, metric="complaints") == rows


# (window, expected (median_price, count) for some months)
TREND_SALES_CASES = [
    ((api.DEFAULT_START, api.DEFAULT_END), {
        "2024-01": (1000000.0, 3),  # odd count -> exact middle
        "2024-02": (950000.0, 2),  # even count -> interpolation
        "2024-03": (None, 0),  # gap: median null, count zero
        "2024-04": (1500000.0, 1),
        "2024-11": (None, 0),
    }),
    # cross-year, partial months; a sale falls on the inclusive end date
    (("2023-11-15", "2024-02-05"), {
        "2023-11": (None, 0), "2023-12": (None, 0),
        "2024-01": (1000000.0, 3), "2024-02": (800000.0, 1),
    }),
]


def test_trends_null_fill_sales_median(spark, tables):
    for window, months in TREND_SALES_CASES:
        rows = api.bbl_trends(spark, tables, "1-100-10", *window, metric="sales")
        assert set(rows[0]) == {"month", "median_price", "count"}  # server.py:292-302
        by_month = {r["month"]: (r["median_price"], r["count"]) for r in rows}
        assert {m: by_month[m] for m in months} == months


def test_analytics_top5_other_and_first_address(spark, tables):
    data = api.analytics(spark, tables, "1-100-10")
    rollup = data["complaints_top5_other"]
    assert len(rollup) == 6  # 7 types -> top 5 + Other
    assert rollup[-1]["type"] == "Other"
    assert rollup[-1]["count"] == 2
    assert sum(r["count"] for r in rollup) == data["total_requests"]
    assert data["first_address"] == "100 BROADWAY"  # latest sale's address
    # <=5 types -> no Other row
    d2 = api.analytics(spark, tables, "2-200-20")
    assert all(r["type"] != "Other" for r in d2["complaints_top5_other"])


# bbl -> (total_requests, active_requests, num_sales, median_price); no date
# filter, so BBL 1's 2023 request and sale are included
BOOKMARKED = {
    "1-100-10": (9, 5, 7, 1000000.0),
    "2-200-20": (2, 2, 0, None),
    "4-11458-0029": (0, 0, 0, None),
}


BOOKMARK_CASES = [
    ["1-100-10", "2-200-20", "4-11458-0029", "bad-bbl"],
    # a repeated BBL answers once per mention; unknown parcels drop out
    ["2-200-20", "1-100-10", "5-999-999", "2-200-20", "1-100-10"],
]


def test_bookmarks_batched(spark, tables):
    for bbls in BOOKMARK_CASES:
        out = api.bookmarks_summary(spark, tables, bbls)
        assert [r["bbl"] for r in out] == [b for b in bbls if b in BOOKMARKED]
        for r in out:
            got = (r["total_requests"], r["active_requests"], r["num_sales"], r["median_price"])
            assert got == BOOKMARKED[r["bbl"]], bbls


def test_compare_typed_error_and_demo_address(spark, tables):
    dim = geocode_dim(spark)
    # the reference demo address resolves to the Queens demo parcel
    result = api.compare(
        spark,
        tables,
        dim,
        ("88-08", "151ST AVE", "QUEENS"),
        ("100", "BROADWAY", "MANHATTAN"),
    )
    assert result["left"]["borough_name"] == "Queens"
    assert result["right"] is None  # geocoded fine but parcel not in DB
    with pytest.raises(api.GeocodeError):
        api.compare(
            spark,
            tables,
            dim,
            ("88-08", "151ST AVE", "QUEENS"),
            ("1", "NOWHERE AVE", "BRONX"),
        )


def test_export_csv(spark, tables):
    csv = api.export_rows(spark, tables, "1-100-10", "complaints", "2024-01-01", "2024-12-31")
    lines = csv.splitlines()
    # reference header strings, byte-for-byte (server.py:523-529)
    assert lines[0] == "Complaint Type,Total Count,Active Count"
    assert lines[1] == "Noise,2,1"
    assert len(lines) == 8  # header + 7 types
    sales_csv = api.export_rows(spark, tables, "1-100-10", "sales", "2024-01-01", "2024-12-31")
    # standard csv quoting: plain fields unquoted, specials escaped
    # (tests/test_review_fixes.py covers the escaping cases)
    assert sales_csv.splitlines()[0] == "Address,Sale Price,Sale Date"
    assert sales_csv.splitlines()[1] == "100 BROADWAY,1500000.0,2024-04-01"


# (name, call, most Spark jobs it may launch once the dimension maps are
# built): one collect per fact table it reads, none for a parcel the geo map
# does not hold or a sales read of a parcel without properties.
ENDPOINT_CALLS = [
    ("summary", lambda s, t: api.bbl_summary(s, t, "1-100-10", "2024-01-01", "2024-12-31"), 2),
    ("summary_no_sales", lambda s, t: api.bbl_summary(s, t, "2-200-20"), 1),
    ("trends", lambda s, t: api.bbl_trends(s, t, "1-100-10"), 1),
    ("trends_sales", lambda s, t: api.bbl_trends(s, t, "1-100-10", metric="sales"), 1),
    ("analytics", lambda s, t: api.analytics(s, t, "1-100-10"), 2),
    ("bookmarks", lambda s, t: api.bookmarks_summary(s, t, ["1-100-10", "3-300-30", "2-2-2"]), 2),
    ("export", lambda s, t: api.export_rows(s, t, "1-100-10", "sales"), 2),
    ("unknown", lambda s, t: api.bbl_summary(s, t, "5-999-999"), 0),
    ("malformed", lambda s, t: api.bbl_trends(s, t, "garbage"), 0),
]


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture(scope="module")
def serial_replies(spark, tables):
    """{name: (reply, jobs)}: every endpoint once, under its own job group,
    after one warm-up call has built the dimension maps."""
    spark.catalog.clearCache()  # earlier test modules share this session
    api.bbl_summary(spark, tables, "1-100-10")
    sc = spark.sparkContext
    out = {}
    for name, call, _ in ENDPOINT_CALLS:
        group = f"test-nyc-api-{name}"
        sc.setJobGroup(group, name)
        try:
            reply = call(spark, tables)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        out[name] = (reply, len(sc.statusTracker().getJobIdsForGroup(group)))
    return out


def test_endpoint_job_bounds_and_no_cache(spark, serial_replies):
    jobs = {name: serial_replies[name][1] for name, _, _ in ENDPOINT_CALLS}
    over = {name: (jobs[name], bound) for name, _, bound in ENDPOINT_CALLS if jobs[name] > bound}
    assert not over, f"(jobs, bound) per endpoint over its bound: {over}"
    assert jobs["summary"] > 0  # the job groups do see the endpoint's work
    assert _cache_is_empty(spark)  # no request leaves cached data behind


def test_concurrent_clients_match_serial(spark, tables, serial_replies):
    # 4 clients on the shared session, each running the mix in its own order
    def client(i):
        order = ENDPOINT_CALLS[i:] + ENDPOINT_CALLS[:i]
        return {name: call(spark, tables) for name, call, _ in order}

    with ThreadPoolExecutor(4) as pool:
        replies = list(pool.map(client, range(4)))
    expected = {name: reply for name, (reply, _) in serial_replies.items()}
    assert all(r == expected for r in replies)
    assert _cache_is_empty(spark)


def _dim_keys(spark) -> list:
    return [k for k in getattr(spark, "_nadb_artifact_cache", {}) if k[0] == "nyc.dim"]


def test_dimension_memo_follows_frame_and_files(spark, tables):
    def by_type(t):
        return [r["type"] for r in api.bbl_summary(spark, t, "1-100-10")["complaints_by_type"]]

    names = by_type(tables)
    # another complaint_type frame is another key: its names show up
    renamed = tables["complaint_type"].withColumn(
        "complaint_type_name", F.concat(F.lit("X "), "complaint_type_name")
    )
    assert by_type({**tables, "complaint_type": renamed}) == [f"X {n}" for n in names]
    assert by_type(tables) == names
    # a rewritten geographic_area file misses: the next call adds an entry
    before = len(_dim_keys(spark))
    files = [urlparse(uri).path for uri in tables["geographic_area"].inputFiles()]
    stats = [os.stat(f) for f in files]
    try:
        for f, st in zip(files, stats):
            os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        assert by_type(tables) == names
        assert len(_dim_keys(spark)) == before + 1
    finally:
        for f, st in zip(files, stats):
            os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))
    clear_engine_state(spark)
    assert _dim_keys(spark) == []
