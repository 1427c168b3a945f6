"""Independent DuckDB answers for the dashboard endpoints.

Each function recomputes one `nyc.api` response from the same parquet with
plain SQL, written from the endpoint's documented contract rather than from
its Spark plan, so a wrong answer from the engine shows as a mismatch.
"""

from __future__ import annotations

import csv
import io
import math
import os

import duckdb

ACTIVE = ("Open", "Pending", "In Progress")
NYC_TABLES = ("geographic_area", "property", "sale", "service_request", "complaint_type")
DEFAULT_START, DEFAULT_END = "2024-01-01", "2024-12-31"


def _files(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def connect(data_dir: str, service_request_files: list[str] | None = None,
            deleted_key_files: list[str] | None = None):
    """Views over the NYC parquet. `service_request_files` replaces the
    service_request table by a snapshot's data files, minus the rows whose
    service_request_id is listed in `deleted_key_files`."""
    con = duckdb.connect()
    for t in NYC_TABLES:
        src = f"'{os.path.join(data_dir, t + '.parquet')}'"
        if t == "service_request" and service_request_files is not None:
            src = _files(service_request_files)
        sql = f"SELECT * FROM read_parquet({src})"
        if t == "service_request" and deleted_key_files:
            sql += (" WHERE service_request_id NOT IN (SELECT service_request_id "
                    f"FROM read_parquet({_files(deleted_key_files)}))")
        con.execute(f"CREATE VIEW {t} AS {sql}")
    return con


def _parse(bbl: str):
    parts = bbl.split("-")
    if len(parts) != 3:
        return None
    try:
        b, bl, lot = (int(p) for p in parts)
    except ValueError:
        return None
    return (b, bl, lot) if 1 <= b <= 5 else None


def _geo(con, key):
    row = con.execute(
        "SELECT geographic_id, borough_name FROM geographic_area "
        "WHERE borough_code = ? AND block_code = ? AND lot_code = ?", list(key)
    ).fetchone()
    return row


def _window(col: str, start, end) -> tuple[str, list]:
    sql, params = "", []
    if start:
        sql += f" AND {col} >= CAST(? AS DATE)"
        params.append(start)
    if end:
        sql += f" AND {col} <= CAST(? AS DATE)"
        params.append(end)
    return sql, params


def summary(con, bbl: str, start=None, end=None):
    key = _parse(bbl)
    geo = _geo(con, key) if key else None
    if geo is None:
        return None
    gid, borough = geo
    w, wp = _window("sr.created_date", start, end)
    by_type = con.execute(
        "SELECT ct.complaint_type_name, count(*) AS n, "
        f"sum(CASE WHEN sr.status IN {ACTIVE} THEN 1 ELSE 0 END) AS a "
        "FROM service_request sr JOIN complaint_type ct USING (complaint_type_id) "
        f"WHERE sr.geographic_id = ?{w} GROUP BY 1 ORDER BY n DESC, 1",
        [gid, *wp]).fetchall()
    w, wp = _window("s.sale_date", start, end)
    sales = con.execute(
        "SELECT CAST(s.sale_price AS DOUBLE), strftime(s.sale_date, '%Y-%m-%d'), "
        "p.property_address FROM sale s JOIN property p USING (property_id) "
        f"WHERE p.geographic_id = ?{w} ORDER BY s.sale_date DESC, s.sale_id DESC",
        [gid, *wp]).fetchall()
    prices = [r[0] for r in sales]
    if prices:
        stats = {"min_price": min(prices), "max_price": max(prices),
                 "median_price": _median(prices)}
    else:
        stats = {"min_price": 0, "max_price": 0, "median_price": 0}
    return {
        "bbl": bbl,
        "borough_name": borough,
        "total_requests": sum(r[1] for r in by_type),
        "active_requests": sum(r[2] for r in by_type),
        "complaints_by_type": [{"type": t, "count": n, "active": a} for t, n, a in by_type],
        "sales": [{"price": p, "date": d, "address": a} for p, d, a in sales],
        "num_sales": len(sales),
        "sale_stats": stats,
    }


def _median(values: list[float]) -> float:
    v = sorted(values)
    pos = (len(v) - 1) / 2
    lo, hi = math.floor(pos), math.ceil(pos)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def trends(con, bbl: str, metric: str, start=DEFAULT_START, end=DEFAULT_END):
    key = _parse(bbl)
    geo = _geo(con, key) if key else None
    if geo is None:
        return None
    gid = geo[0]
    months = [r[0] for r in con.execute(
        "SELECT strftime(m, '%Y-%m') FROM generate_series("
        "date_trunc('month', CAST(? AS DATE)), date_trunc('month', CAST(? AS DATE)), "
        "INTERVAL 1 MONTH) t(m) ORDER BY 1", [start, end]).fetchall()]
    if metric == "sales":
        rows = con.execute(
            "SELECT strftime(s.sale_date, '%Y-%m'), CAST(s.sale_price AS DOUBLE) "
            "FROM sale s JOIN property p USING (property_id) "
            "WHERE p.geographic_id = ? AND s.sale_date BETWEEN CAST(? AS DATE) AND CAST(? AS DATE)",
            [gid, start, end]).fetchall()
        by_month: dict[str, list[float]] = {}
        for m, p in rows:
            by_month.setdefault(m, []).append(p)
        return [{"month": m,
                 "median_price": _median(by_month[m]) if m in by_month else None,
                 "count": len(by_month.get(m, []))} for m in months]
    counts = dict(con.execute(
        "SELECT strftime(created_date, '%Y-%m'), count(*) FROM service_request "
        "WHERE geographic_id = ? AND created_date BETWEEN CAST(? AS DATE) AND CAST(? AS DATE) "
        "GROUP BY 1", [gid, start, end]).fetchall())
    return [{"month": m, "count": counts.get(m, 0)} for m in months]


def analytics(con, bbl: str, start=DEFAULT_START, end=DEFAULT_END):
    data = summary(con, bbl, start, end)
    if data is None:
        return None
    by_type = data["complaints_by_type"]
    if len(by_type) > 5:
        rest = sum(r["count"] for r in by_type[5:])
        data["complaints_top5_other"] = by_type[:5] + [{"type": "Other", "count": rest, "active": None}]
    else:
        data["complaints_top5_other"] = by_type
    data["first_address"] = data["sales"][0]["address"] if data["sales"] else None
    return data


def bookmarks(con, bbls: list[str]):
    out = []
    for bbl in bbls:
        s = summary(con, bbl)
        if s is None:
            continue
        prices = [r["price"] for r in s["sales"]]
        out.append({
            "bbl": bbl,
            "borough_name": s["borough_name"],
            "total_requests": s["total_requests"],
            "active_requests": s["active_requests"],
            "num_sales": s["num_sales"],
            "median_price": _median(prices) if prices else None,
        })
    return out


def export(con, bbl: str, what: str) -> str:
    data = summary(con, bbl)
    if data is None:
        return ""
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    if what == "complaints":
        w.writerow(["Complaint Type", "Total Count", "Active Count"])
        for r in data["complaints_by_type"]:
            w.writerow([r["type"], r["count"], r["active"]])
    else:
        w.writerow(["Address", "Sale Price", "Sale Date"])
        for r in data["sales"]:
            w.writerow([r["address"], r["price"], r["date"]])
    return buf.getvalue().rstrip("\n")


def same(a, b, rel: float = 1e-9) -> bool:
    """Structural equality; floats within a relative tolerance (medians
    interpolate, and the two engines may round the last bit differently)."""
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-9)
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k], rel) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y, rel) for x, y in zip(a, b))
    return a == b


def answer(con, endpoint: str, args: dict):
    """Expected response for one recorded request."""
    if endpoint == "summary":
        return summary(con, args["bbl"])
    if endpoint == "trends":
        return trends(con, args["bbl"], args["metric"])
    if endpoint == "analytics":
        return analytics(con, args["bbl"])
    if endpoint == "bookmarks":
        return bookmarks(con, args["bbls"])
    if endpoint == "export":
        return export(con, args["bbl"], args["what"])
    raise ValueError(endpoint)
