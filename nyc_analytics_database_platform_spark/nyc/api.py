"""The reference's end-user query API, engine-native (SURVEY.md section 2.11).

Each function mirrors a server.py entry point, with the same response shape
and edge-case semantics:

- bbl_summary       <- get_bbl_data (server.py:130-256)
- bbl_trends        <- get_time_series_data + month spine (server.py:259-342)
- analytics         <- /analytics route (server.py:383-432)
- compare           <- /compare route (server.py:435-473) - returns a typed
                       error for an unresolvable address instead of crashing
                       on None (the reference's latent bug, server.py:461,468)
- bookmarks_summary <- /bookmarks (server.py:561-580) - one batched lookup,
                       not an N+1 loop
- export_rows       <- /export/<bbl> CSV (server.py:498-535)

Design: dimensions on the driver, one fetch per fact table. The three
dimension tables a request reads become driver-side maps, built once per
session and source by `_dim_map` through layouts.session_artifact:
(borough, block, lot) -> (geographic_id, borough_name), complaint_type_id ->
name, and geographic_id -> [(property_id, address)]. A map's key holds the
dimension frame and its files' catalog.file_stamp, so a different frame or
a rewritten file builds a new map; clear_engine_state drops them all. Fact
tables are never memoized. A request then collects its parcels' filtered
rows once from service_request (`_requests`) and once from sale
(`_sales`, by the parcels' property ids), and folds totals, active and
by-type counts, orderings, min/max, exact medians and the month spine in
Python. With the maps built, that is one Spark job per fact table read:
summary, analytics, export and bookmarks 2, trends 1, an unknown or
malformed BBL 0, and a sales read of a parcel without properties 0.
Nothing is cached in the shared session's CacheManager.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from dataclasses import dataclass
from datetime import datetime
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_analytics_database_platform_spark import layouts
from nyc_analytics_database_platform_spark.catalog import file_stamp
from nyc_analytics_database_platform_spark.nyc.schema import ACTIVE_STATUSES

DEFAULT_START, DEFAULT_END = "2024-01-01", "2024-12-31"  # server.py:392-395


def parse_bbl(bbl: str) -> tuple[int, int, int] | None:
    """'b-bbbbb-llll' -> (borough, block, lot); None on malformed input
    (reference: server.py:118-127)."""
    parts = bbl.split("-")
    if len(parts) != 3:
        return None
    try:
        b, bl, l = (int(p) for p in parts)
    except ValueError:
        return None
    if not (1 <= b <= 5):
        return None
    return b, bl, l


def format_bbl(b: int, bl: int, l: int) -> str:
    return f"{b}-{bl}-{l}"


@dataclass
class GeocodeError(Exception):
    address: str

    def __str__(self) -> str:
        return f"could not geocode address: {self.address!r}"


def _dim_map(spark: SparkSession, tables: dict[str, DataFrame], name: str, fold):
    """fold(dimension frame) as a driver-side value, memoized per session
    under the frame itself (a live entry never matches another frame) and
    the stamps of its input files (a rewritten file misses)."""
    df = tables[name]
    stamp = tuple(file_stamp(uri) for uri in df.inputFiles())
    return layouts.session_artifact(spark, ("nyc.dim", name, df, stamp), lambda: fold(df))


def _geo(spark: SparkSession, tables: dict[str, DataFrame]) -> dict:
    """{(borough, block, lot): (geographic_id, borough_name)}, the natural-key
    lookup of server.py:135-152."""
    return _dim_map(spark, tables, "geographic_area", lambda df: {
        (b, bl, l): (gid, name)
        for b, bl, l, gid, name in df.select(
            "borough_code", "block_code", "lot_code", "geographic_id", "borough_name"
        ).collect()
    })


def _parcel(spark: SparkSession, tables: dict[str, DataFrame], bbl: str):
    """The BBL's (geographic_id, borough_name), or None when it is malformed
    or unknown."""
    key = parse_bbl(bbl)
    return None if key is None else _geo(spark, tables).get(key)


def _date_filtered(df: DataFrame, col: str, start: str | None, end: str | None) -> DataFrame:
    """Compositional optional date-range predicate (reference: server.py:155-167)."""
    if start:
        df = df.filter(F.col(col) >= F.lit(start).cast("date"))
    if end:
        df = df.filter(F.col(col) <= F.lit(end).cast("date"))
    return df


def _requests(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    gids: list[int],
    start: str | None = None,
    end: str | None = None,
) -> list[dict]:
    """The parcels' service requests created in the window, one dict each:
    geographic_id, created_date, status, complaint_type_name. A request whose
    complaint_type_id is not in complaint_type is dropped, as an inner join
    would drop it."""
    names = _dim_map(spark, tables, "complaint_type", lambda df: dict(
        df.select("complaint_type_id", "complaint_type_name").collect()
    ))
    rows = _date_filtered(
        tables["service_request"].filter(F.col("geographic_id").isin(gids)),
        "created_date",
        start,
        end,
    ).select("geographic_id", "created_date", "status", "complaint_type_id").collect()
    return [
        {"geographic_id": gid, "created_date": created, "status": status,
         "complaint_type_name": names[ctype]}
        for gid, created, status, ctype in rows
        if ctype in names
    ]


def _sales(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    gids: list[int],
    start: str | None = None,
    end: str | None = None,
) -> list[dict]:
    """The parcels' sales in the window, most recent first with sale_id
    breaking date ties: geographic_id, sale_id, sale_date, price (cast to
    float as server.py:214 does), address. No job when the parcels have no
    property."""
    props = _dim_map(spark, tables, "property", _properties_by_parcel)
    owner = {pid: (gid, address) for gid in gids for pid, address in props.get(gid, ())}
    if not owner:
        return []
    rows = (
        _date_filtered(
            tables["sale"].filter(F.col("property_id").isin(list(owner))),
            "sale_date",
            start,
            end,
        )
        .select("sale_id", "property_id", "sale_date", F.col("sale_price").cast("double"))
        .collect()
    )
    sales = [
        {"geographic_id": owner[pid][0], "sale_id": sid, "sale_date": date,
         "price": price, "address": owner[pid][1]}
        for sid, pid, date, price in rows
    ]
    return sorted(sales, key=lambda r: (r["sale_date"], r["sale_id"]), reverse=True)


def _properties_by_parcel(df: DataFrame) -> dict[int, list[tuple]]:
    """{geographic_id: [(property_id, property_address)]}."""
    out = defaultdict(list)
    for pid, gid, address in df.select(
        "property_id", "geographic_id", "property_address"
    ).collect():
        out[gid].append((pid, address))
    return dict(out)


def _median(values: list[float]) -> float:
    """Exact median, linearly interpolated between the middle pair as
    Spark's exact median and DuckDB's `quantile_cont` do (server.py:224)."""
    v = sorted(values)
    mid = len(v) // 2
    return v[mid] if len(v) % 2 else v[mid - 1] + (v[mid] - v[mid - 1]) / 2


def _active(requests: list) -> int:
    return sum(r["status"] in ACTIVE_STATUSES for r in requests)  # server.py:172


def bbl_summary(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    bbl: str,
    start: str | None = None,
    end: str | None = None,
) -> dict[str, Any] | None:
    """get_bbl_data parity (server.py:130-256): the reference's five
    sequential queries become one fetch per fact table, folded here."""
    geo = _parcel(spark, tables, bbl)
    if geo is None:
        return None
    gid, borough_name = geo
    requests = _requests(spark, tables, [gid], start, end)
    sales = _sales(spark, tables, [gid], start, end)

    by_type = defaultdict(list)
    for r in requests:
        by_type[r["complaint_type_name"]].append(r)
    complaints = sorted(
        ({"type": t, "count": len(rs), "active": _active(rs)} for t, rs in by_type.items()),
        key=lambda c: (-c["count"], c["type"]),
    )
    prices = [s["price"] for s in sales]
    if prices:
        sale_stats = {
            "min_price": min(prices),
            "max_price": max(prices),
            "median_price": _median(prices),
        }
    else:  # the reference returns 0, not None/NULL (server.py:237-240)
        sale_stats = {"min_price": 0, "max_price": 0, "median_price": 0}
    return {
        "bbl": bbl,
        "borough_name": borough_name,
        "total_requests": len(requests),
        "active_requests": _active(requests),
        "complaints_by_type": complaints,
        "sales": [
            {"price": s["price"], "date": s["sale_date"].isoformat(), "address": s["address"]}
            for s in sales
        ],
        "num_sales": len(sales),  # server.py:252
        "sale_stats": sale_stats,
    }


def bbl_trends(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    bbl: str,
    start: str = DEFAULT_START,
    end: str = DEFAULT_END,
    metric: str = "service_requests",
) -> list[dict[str, Any]] | None:
    """get_time_series_data parity (server.py:259-342): monthly buckets over
    the REQUESTED window's month spine, with the reference's exact row
    shapes: metric 'service_requests' emits {month, count} with count
    zero-filled (server.py:312-316,337-338); metric 'sales' emits
    {month, median_price, count} with median_price null-filled and count
    zero-filled (server.py:292-302,316,339-340). 'complaints' is accepted
    as an alias for 'service_requests'.

    Documented deviation: the spine is calendar months trunc(start)..
    trunc(end); the reference iterates from the start date keeping its
    day-of-month (server.py:319-329), which silently drops the final month
    when day(start) > day(end) and crashes on day-31 starts - both sides
    agree on the default/whole-month windows the UI issues."""
    # Route-param input: strict %Y-%m-%d, not fromisoformat, which also
    # admits '20240101' / week-date forms. Malformed dates raise regardless
    # of whether the parcel exists.
    try:
        lo, hi = (datetime.strptime(b, "%Y-%m-%d") for b in (start, end))
    except (TypeError, ValueError) as exc:
        raise ValueError(f"invalid date window: {start!r}..{end!r}") from exc

    geo = _parcel(spark, tables, bbl)
    if geo is None:
        return None
    gids = [geo[0]]
    # spine over the requested window (server.py:319-329 iterates the window,
    # not the data bounds)
    months = [
        f"{i // 12:04d}-{i % 12 + 1:02d}"
        for i in range(lo.year * 12 + lo.month - 1, hi.year * 12 + hi.month)
    ]
    if metric in ("service_requests", "complaints"):
        requests = _requests(spark, tables, gids, start, end)
        counts = Counter(r["created_date"].isoformat()[:7] for r in requests)
        return [{"month": m, "count": counts[m]} for m in months]
    if metric == "sales":
        prices = defaultdict(list)
        for s in _sales(spark, tables, gids, start, end):
            prices[s["sale_date"].isoformat()[:7]].append(s["price"])
        return [
            {
                "month": m,
                "median_price": _median(prices[m]) if prices[m] else None,
                "count": len(prices[m]),
            }
            for m in months
        ]
    raise ValueError(f"unknown metric {metric!r}")


def analytics(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    bbl: str,
    start: str = DEFAULT_START,
    end: str = DEFAULT_END,
) -> dict[str, Any] | None:
    """/analytics route parity (server.py:383-432): summary + top-5-plus-
    Other complaint rollup + first-address pick from the latest sale."""
    data = bbl_summary(spark, tables, bbl, start, end)
    if data is None:
        return None
    by_type = data["complaints_by_type"]
    if len(by_type) > 5:  # server.py:411-419
        top5 = by_type[:5]
        other = sum(r["count"] for r in by_type[5:])
        data["complaints_top5_other"] = top5 + [{"type": "Other", "count": other, "active": None}]
    else:
        data["complaints_top5_other"] = by_type
    data["first_address"] = data["sales"][0]["address"] if data["sales"] else None  # server.py:421-424
    return data


def compare(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    geocode_dim: DataFrame,
    addr1: tuple[str, str, str],
    addr2: tuple[str, str, str],
    start: str = DEFAULT_START,
    end: str = DEFAULT_END,
) -> dict[str, Any]:
    """/compare parity (server.py:435-473) with the None-deref fixed: an
    unresolvable address raises GeocodeError instead of crashing."""
    from nyc_analytics_database_platform_spark.sources.geocode import enrich_addresses

    addrs = spark.createDataFrame(
        [addr1, addr2], "house_number string, street string, borough string"
    )
    resolved = {
        (r["house_number"], r["street"], r["borough"]): r["key_code"]
        for r in enrich_addresses(addrs, geocode_dim).collect()
    }
    out = {}
    for label, addr in (("left", addr1), ("right", addr2)):
        key = resolved.get(addr)
        if key is None:
            raise GeocodeError(" ".join(addr))
        out[label] = bbl_summary(spark, tables, key, start, end)
    return out


def bookmarks_summary(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    bbls: list[str],
) -> list[dict[str, Any]]:
    """/bookmarks parity (server.py:561-580), batched: one fetch per fact
    table for all bookmarked keys instead of a serial per-key 5-query loop.
    No date filter, matching the reference."""
    geo = _geo(spark, tables)
    found = [(bbl, geo[key]) for bbl in bbls if (key := parse_bbl(bbl)) in geo]
    if not found:
        return []
    gids = sorted({gid for _, (gid, _) in found})
    requests, prices = defaultdict(list), defaultdict(list)
    for r in _requests(spark, tables, gids):
        requests[r["geographic_id"]].append(r)
    for s in _sales(spark, tables, gids):
        prices[s["geographic_id"]].append(s["price"])
    out = []
    for bbl, (gid, borough_name) in found:
        reqs, p = requests[gid], prices[gid]
        out.append(
            {
                "bbl": bbl,
                "borough_name": borough_name,
                "total_requests": len(reqs),
                "active_requests": _active(reqs),
                "num_sales": len(p),
                "median_price": _median(p) if p else None,
            }
        )
    return out


def export_rows(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    bbl: str,
    what: str = "complaints",
    start: str | None = None,
    end: str | None = None,
) -> str:
    """/export CSV parity (server.py:498-535): the summary's rows as a CSV
    string (download-sized; the distributed sink for large exports is
    sources/sinks.write_csv)."""
    import csv
    import io

    data = bbl_summary(spark, tables, bbl, start, end)
    if data is None:
        return ""
    buf = io.StringIO()
    writer = csv.writer(buf, lineterminator="\n")
    # header strings and column order match the reference byte-for-byte
    # (server.py:523-529)
    if what == "complaints":
        writer.writerow(["Complaint Type", "Total Count", "Active Count"])
        for r in data["complaints_by_type"]:
            writer.writerow([r["type"], r["count"], r["active"]])
    elif what == "sales":
        writer.writerow(["Address", "Sale Price", "Sale Date"])
        for r in data["sales"]:
            writer.writerow([r["address"], r["price"], r["date"]])
    else:
        raise ValueError(f"unknown export type {what!r}")
    return buf.getvalue().rstrip("\n")
