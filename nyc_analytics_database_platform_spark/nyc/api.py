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

Design: one fetch per fact table, folded on the driver. A request resolves
its parcels in one geo lookup, then collects their filtered rows once from
service_request (`_requests`) and once from sale joined to property
(`_sales`). Totals, active and by-type counts, orderings, min/max, exact
medians and the month spine are all computed in Python from those rows. A
dashboard answers one parcel at a time and a parcel's facts are small, so
this costs a lookup and two scans per request instead of one Spark aggregate
per returned number, and nothing is cached in the shared session.
"""

from __future__ import annotations

import operator
from collections import Counter, defaultdict
from dataclasses import dataclass
from datetime import datetime
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def _lookup_geo(tables: dict[str, DataFrame], keys: list[tuple[int, int, int]]) -> dict:
    """Natural-key point lookup of parsed BBLs (reference: server.py:135-152):
    {(borough, block, lot): Row(geographic_id, borough_name)} for the keys
    that exist, in one scan however many keys are asked for."""
    match = reduce(
        operator.or_,
        [
            (F.col("borough_code") == b) & (F.col("block_code") == bl) & (F.col("lot_code") == l)
            for b, bl, l in keys
        ],
    )
    rows = (
        tables["geographic_area"]
        .filter(match)
        .select("borough_code", "block_code", "lot_code", "geographic_id", "borough_name")
        .collect()
    )
    return {(r["borough_code"], r["block_code"], r["lot_code"]): r for r in rows}


def _parcel(tables: dict[str, DataFrame], bbl: str):
    """The BBL's geo row, or None when it is malformed or unknown."""
    key = parse_bbl(bbl)
    return None if key is None else _lookup_geo(tables, [key]).get(key)


def _date_filtered(df: DataFrame, col: str, start: str | None, end: str | None) -> DataFrame:
    """Compositional optional date-range predicate (reference: server.py:155-167)."""
    if start:
        df = df.filter(F.col(col) >= F.lit(start).cast("date"))
    if end:
        df = df.filter(F.col(col) <= F.lit(end).cast("date"))
    return df


def _requests(
    tables: dict[str, DataFrame],
    gids: list[int],
    start: str | None = None,
    end: str | None = None,
) -> list:
    """The parcels' service requests created in the window, one row each:
    geographic_id, created_date, status, complaint_type_name."""
    sr = _date_filtered(
        tables["service_request"].filter(F.col("geographic_id").isin(gids)),
        "created_date",
        start,
        end,
    )
    return (
        sr.join(F.broadcast(tables["complaint_type"]), "complaint_type_id")
        .select("geographic_id", "created_date", "status", "complaint_type_name")
        .collect()
    )


def _sales(
    tables: dict[str, DataFrame],
    gids: list[int],
    start: str | None = None,
    end: str | None = None,
) -> list:
    """The parcels' sales in the window, most recent first with sale_id
    breaking date ties: geographic_id, sale_id, sale_date, price (cast to
    float as server.py:214 does), address."""
    props = (
        tables["property"]
        .filter(F.col("geographic_id").isin(gids))
        .select("property_id", "geographic_id", F.col("property_address").alias("address"))
    )
    rows = (
        _date_filtered(tables["sale"], "sale_date", start, end)
        .join(F.broadcast(props), "property_id")
        .select(
            "geographic_id",
            "sale_id",
            "sale_date",
            F.col("sale_price").cast("double").alias("price"),
            "address",
        )
        .collect()
    )
    return sorted(rows, key=lambda r: (r["sale_date"], r["sale_id"]), reverse=True)


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
    geo = _parcel(tables, bbl)
    if geo is None:
        return None
    gids = [geo["geographic_id"]]
    requests = _requests(tables, gids, start, end)
    sales = _sales(tables, gids, start, end)

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
        "borough_name": geo["borough_name"],
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

    geo = _parcel(tables, bbl)
    if geo is None:
        return None
    gids = [geo["geographic_id"]]
    # spine over the requested window (server.py:319-329 iterates the window,
    # not the data bounds)
    months = [
        f"{i // 12:04d}-{i % 12 + 1:02d}"
        for i in range(lo.year * 12 + lo.month - 1, hi.year * 12 + hi.month)
    ]
    if metric in ("service_requests", "complaints"):
        requests = _requests(tables, gids, start, end)
        counts = Counter(r["created_date"].isoformat()[:7] for r in requests)
        return [{"month": m, "count": counts[m]} for m in months]
    if metric == "sales":
        prices = defaultdict(list)
        for s in _sales(tables, gids, start, end):
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
    """/bookmarks parity (server.py:561-580), batched: one geo lookup and one
    fetch per fact table for all bookmarked keys instead of a serial per-key
    5-query loop. No date filter, matching the reference."""
    parsed = [(bbl, parse_bbl(bbl)) for bbl in bbls]
    keys = [p for _, p in parsed if p is not None]
    geo = _lookup_geo(tables, keys) if keys else {}
    if not geo:
        return []
    gids = sorted({g["geographic_id"] for g in geo.values()})
    requests, prices = defaultdict(list), defaultdict(list)
    for r in _requests(tables, gids):
        requests[r["geographic_id"]].append(r)
    for s in _sales(tables, gids):
        prices[s["geographic_id"]].append(s["price"])
    out = []
    for bbl, key in parsed:
        g = geo.get(key)
        if g is None:
            continue
        reqs, p = requests[g["geographic_id"]], prices[g["geographic_id"]]
        out.append(
            {
                "bbl": bbl,
                "borough_name": g["borough_name"],
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
