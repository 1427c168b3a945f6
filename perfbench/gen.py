"""Deterministic input generators for the benchmark.

Everything here is a pure function of its seed and size arguments: numpy's
PCG64 stream drives every value, and files are written with pyarrow (no
Spark), so the same seed always yields byte-identical tables.

Two datasets:

- ``nyc_tables``: the reference's normalized NYC model (geographic_area,
  property, sale, service_request, complaint_type) with Zipf-skewed parcel
  popularity, so popular BBLs carry most facts and repeat in the request
  stream.
- ``tpch_tables``: the TPC-H-like star schema plus events, documents and
  embeddings that the registry's headline queries read.

Each writer records its parameters and row counts in ``manifest.json`` next
to the parquet files, so the working-set size of a run is stated.
"""

from __future__ import annotations

import json
import os
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

BOROUGHS = {1: "Manhattan", 2: "Bronx", 3: "Brooklyn", 4: "Queens", 5: "Staten Island"}
STATUSES = ("Open", "Pending", "In Progress", "Closed", "Cancelled")
AGENCIES = ("NYPD", "DOB", "DSNY", "HPD", "DOT", "DEP")
STREETS = ("BROADWAY", "MAIN ST", "PARK AVE", "OCEAN PKWY", "JAMAICA AVE",
           "GRAND CONCOURSE", "VICTORY BLVD", "5 AVENUE", "ATLANTIC AVE")

NYC_SIZES = {
    "parcels": 20_000,
    "properties": 30_000,
    "sales": 100_000,
    "service_requests": 150_000,
    "complaint_types": 40,
}
NYC_ZIPF = 0.8

# Dates of the NYC facts: the API's default window (2024) sits inside.
_NYC_DAY0 = date(2023, 1, 1)
_NYC_DAYS = 912  # through 2025-06-30

NYC_SCHEMAS = {
    "geographic_area": pa.schema([
        ("geographic_id", pa.int64()), ("borough_name", pa.string()),
        ("borough_code", pa.int32()), ("block_code", pa.int32()),
        ("lot_code", pa.int32()),
    ]),
    "property": pa.schema([
        ("property_id", pa.int32()), ("geographic_id", pa.int64()),
        ("property_address", pa.string()), ("apartment_number", pa.string()),
        ("year_built", pa.int32()), ("gross_sqft", pa.decimal128(10, 2)),
        ("land_sqft", pa.decimal128(10, 2)), ("residential_units", pa.int32()),
        ("commercial_units", pa.int32()),
    ]),
    "sale": pa.schema([
        ("sale_id", pa.int32()), ("property_id", pa.int32()),
        ("sale_price", pa.decimal128(12, 2)), ("sale_date", pa.date32()),
    ]),
    "service_request": pa.schema([
        ("service_request_id", pa.int32()), ("geographic_id", pa.int64()),
        ("resolution_id", pa.int32()), ("agency_code", pa.string()),
        ("complaint_type_id", pa.int32()), ("descriptor_id", pa.int32()),
        ("incident_address", pa.string()), ("created_date", pa.date32()),
        ("closed_date", pa.date32()), ("update_date", pa.date32()),
        ("status", pa.string()),
    ]),
    "complaint_type": pa.schema([
        ("complaint_type_id", pa.int32()), ("complaint_type_name", pa.string()),
    ]),
}


def zipf_weights(n: int, s: float, rng: np.random.Generator) -> np.ndarray:
    """Probability of each of n items under Zipf(s), with ranks assigned
    to items by a seeded permutation (so item 0 is not always the hottest)."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    w /= w.sum()
    return w[rng.permutation(n)]


def _cents_to_decimal(cents: np.ndarray, precision: int) -> pa.Array:
    return pa.array([f"{c // 100}.{c % 100:02d}" for c in cents.tolist()]).cast(
        pa.decimal128(precision, 2))


def _days(day0: date, offsets: np.ndarray) -> list[date]:
    return [day0 + timedelta(days=int(d)) for d in offsets]


def _with_nulls(values: list, mask: np.ndarray) -> list:
    return [None if m else v for v, m in zip(values, mask)]


def nyc_parcels(seed: int, parcels: int) -> dict[str, np.ndarray]:
    """Parcel natural keys, shared by the table writer and the request
    generators: (borough, block) is unique per parcel, so (b, block, lot)
    is a unique BBL."""
    rng = np.random.default_rng([seed, 1])
    slot = rng.permutation(parcels)
    return {
        "geographic_id": np.arange(1, parcels + 1, dtype=np.int64),
        "borough_code": (slot % 5 + 1).astype(np.int32),
        "block_code": (slot // 5 + 1).astype(np.int32),
        "lot_code": rng.integers(1, 100, parcels).astype(np.int32),
    }


def service_request_rows(rng: np.random.Generator, n: int, first_id: int,
                         parcel_p: np.ndarray, n_types: int) -> dict[str, list]:
    """Columns of n service requests, parcels drawn from parcel_p."""
    gid = rng.choice(len(parcel_p), size=n, p=parcel_p) + 1
    created = rng.integers(0, _NYC_DAYS, n)
    closed_after = rng.integers(0, 60, n)
    status_i = rng.integers(0, len(STATUSES), n)
    closed_mask = np.isin(status_i, (3, 4))
    type_p = zipf_weights(n_types, 0.8, rng)
    return {
        "service_request_id": list(range(first_id, first_id + n)),
        "geographic_id": gid.tolist(),
        "resolution_id": _with_nulls(rng.integers(1, 20, n).tolist(), ~closed_mask),
        "agency_code": [AGENCIES[i] for i in rng.integers(0, len(AGENCIES), n)],
        "complaint_type_id": (rng.choice(n_types, size=n, p=type_p) + 1).tolist(),
        "descriptor_id": _with_nulls(rng.integers(1, 50, n).tolist(), rng.random(n) < 0.3),
        "incident_address": _with_nulls(
            [f"{h} {STREETS[s]}" for h, s in zip(rng.integers(1, 999, n),
                                                  rng.integers(0, len(STREETS), n))],
            rng.random(n) < 0.2),
        "created_date": _days(_NYC_DAY0, created),
        "closed_date": _with_nulls(_days(_NYC_DAY0, created + closed_after), ~closed_mask),
        "update_date": _with_nulls(_days(_NYC_DAY0, created + closed_after // 2),
                                   rng.random(n) < 0.5),
        "status": [STATUSES[i] for i in status_i],
    }


def nyc_tables(seed: int, sizes: dict[str, int] | None = None,
               zipf_s: float = NYC_ZIPF) -> dict[str, pa.Table]:
    """The five NYC tables as arrow tables. Facts attach to parcels with
    Zipf(zipf_s) popularity."""
    sz = {**NYC_SIZES, **(sizes or {})}
    rng = np.random.default_rng([seed, 2])
    geo = nyc_parcels(seed, sz["parcels"])
    parcel_p = zipf_weights(sz["parcels"], zipf_s, np.random.default_rng([seed, 3]))
    out = {
        "geographic_area": pa.table({
            "geographic_id": geo["geographic_id"],
            "borough_name": [BOROUGHS[b] for b in geo["borough_code"]],
            "borough_code": geo["borough_code"],
            "block_code": geo["block_code"],
            "lot_code": geo["lot_code"],
        }, schema=NYC_SCHEMAS["geographic_area"]),
    }

    # One property on every parcel and the rest spread evenly, with sales
    # spread evenly over properties: nearly every parcel has a few sales,
    # while service requests follow parcel popularity.
    n_prop = max(sz["properties"], sz["parcels"])
    prop_gid = np.concatenate([
        np.arange(sz["parcels"]),
        rng.integers(0, sz["parcels"], n_prop - sz["parcels"]),
    ]) + 1
    out["property"] = pa.table({
        "property_id": np.arange(1, n_prop + 1, dtype=np.int32),
        "geographic_id": prop_gid.astype(np.int64),
        "property_address": [f"{h} {STREETS[s]}" for h, s in zip(
            rng.integers(1, 2000, n_prop), rng.integers(0, len(STREETS), n_prop))],
        "apartment_number": _with_nulls(
            [f"{f}{chr(65 + u)}" for f, u in zip(rng.integers(1, 30, n_prop),
                                                  rng.integers(0, 8, n_prop))],
            rng.random(n_prop) < 0.6),
        "year_built": rng.integers(1890, 2024, n_prop).astype(np.int32),
        "gross_sqft": _cents_to_decimal(rng.integers(50_000, 2_000_000, n_prop), 10),
        "land_sqft": _cents_to_decimal(rng.integers(50_000, 1_000_000, n_prop), 10),
        "residential_units": rng.integers(0, 40, n_prop).astype(np.int32),
        "commercial_units": rng.integers(0, 5, n_prop).astype(np.int32),
    }, schema=NYC_SCHEMAS["property"])

    n_sale = sz["sales"]
    out["sale"] = pa.table({
        "sale_id": np.arange(1, n_sale + 1, dtype=np.int32),
        "property_id": (rng.integers(0, n_prop, n_sale) + 1).astype(np.int32),
        "sale_price": _cents_to_decimal(rng.integers(10_000_000, 500_000_000, n_sale), 12),
        "sale_date": pa.array(_days(_NYC_DAY0, rng.integers(0, _NYC_DAYS, n_sale)),
                              pa.date32()),
    }, schema=NYC_SCHEMAS["sale"])

    out["service_request"] = pa.table(
        service_request_rows(rng, sz["service_requests"], 1, parcel_p,
                             sz["complaint_types"]),
        schema=NYC_SCHEMAS["service_request"])

    out["complaint_type"] = pa.table({
        "complaint_type_id": np.arange(1, sz["complaint_types"] + 1, dtype=np.int32),
        "complaint_type_name": [f"Complaint {i:02d}" for i in range(1, sz["complaint_types"] + 1)],
    }, schema=NYC_SCHEMAS["complaint_type"])
    return out


def csv_bytes(table: pa.Table) -> int:
    """Size of the rows as CSV text without a header: the user-data byte
    count that storage amplification is measured against (independent of
    any storage format the engine chooses)."""
    for i, f in enumerate(table.schema):
        if pa.types.is_list(f.type):  # CSV has no list type: write as text
            table = table.set_column(i, f.name, pa.array(
                [None if v is None else str(v) for v in table.column(i).to_pylist()]))
    sink = pa.BufferOutputStream()
    pacsv.write_csv(table, sink, pacsv.WriteOptions(include_header=False))
    return sink.getvalue().size


def write_tables(out_dir: str, tables: dict[str, pa.Table], params: dict) -> dict:
    """Write `<out_dir>/<name>.parquet` per table plus manifest.json with
    `params`, row counts and user bytes. Returns the manifest."""
    os.makedirs(out_dir, exist_ok=True)
    rows, user_bytes = {}, 0
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
        user_bytes += csv_bytes(t)
    manifest = {**params, "rows": rows, "user_bytes": user_bytes}
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


def write_nyc(out_dir: str, seed: int, sizes: dict[str, int] | None = None,
              zipf_s: float = NYC_ZIPF) -> dict:
    sz = {**NYC_SIZES, **(sizes or {})}
    return write_tables(out_dir, nyc_tables(seed, sz, zipf_s),
                        {"dataset": "nyc", "seed": seed, "sizes": sz, "zipf_s": zipf_s})


# --------------------------------------------------------------------------
# TPC-H-like tables for the registry's headline queries

# Row counts of TPC-H scale factor 0.1 and its companion tables; keys and
# values are drawn uniformly.
TPCH_SIZES = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "users": 1_500,
    "documents": 5_000,
    "embeddings": 2_000,
}

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_P_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
_P_ADJ = ("blue", "old", "red", "small", "new", "hot", "large", "cold")
_P_NOUN = ("ring", "gear", "widget", "gizmo", "bolt", "plate", "anvil", "rod")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_LANGS = ("en", "en", "en", "es", "zh", "de", "fr")
_VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "dup",
          "fast", "filter", "group", "hash", "join", "key", "line", "merge",
          "order", "part", "query", "row", "scan", "slow", "small", "sort",
          "spark", "stream", "table", "the", "value", "vector", "window")


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _midnights(day0: date, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(day0, "us")
    return pa.array(base + offsets.astype("timedelta64[D]").astype("timedelta64[us]"),
                    pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Word soup over a small vocabulary; about one doc in eight is a
    near-copy of an earlier one (a word or two changed), so the dedup
    queries have real candidate pairs."""
    docs: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.125:
            words = docs[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            words = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), int(rng.integers(10, 100)))]
        docs.append(" ".join(words))
    return docs


def tpch_tables(seed: int, sizes: dict[str, int] | None = None) -> dict[str, pa.Table]:
    sz = {**TPCH_SIZES, **(sizes or {})}
    rng = np.random.default_rng([seed, 10])
    n_c, n_s, n_p, n_o, n_l = (sz[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
            "c_acctbal": _round2(rng.uniform(-999.99, 9999.99, n_c)),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_c)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
            "s_acctbal": _round2(rng.uniform(-999.99, 9999.99, n_s)),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_p, dtype=np.int64),
            "p_name": [f"{_P_ADJ[a]} {_P_NOUN[b]}" for a, b in zip(
                rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_p)],
            "p_type": [_P_TYPES[i] for i in rng.integers(0, 6, n_p)],
            "p_size": rng.integers(1, 51, n_p).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) * 0.1, 1),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_o, dtype=np.int64),
            "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
            "o_orderstatus": [("P", "O", "F")[i] for i in rng.integers(0, 3, n_o)],
            "o_totalprice": _round2(rng.uniform(1000.0, 500000.0, n_o)),
            "o_orderdate": _midnights(date(1995, 1, 1), rng.integers(0, 2404, n_o)),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_o)],
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_o, n_l).astype(np.int64),
            "l_partkey": rng.integers(0, n_p, n_l).astype(np.int64),
            "l_suppkey": rng.integers(0, n_s, n_l).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": _round2(rng.uniform(900.0, 105000.0, n_l)),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_l)],
            "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_l)],
            "l_shipdate": _midnights(date(1995, 1, 2), rng.integers(0, 2498, n_l)),
        }),
    }

    n_e = sz["events"]
    ts_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_e))
    out["events"] = pa.table({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": pa.array(np.datetime64(datetime(2024, 1, 1), "us") + ts_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, sz["users"], n_e).astype(np.int64),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_e)],
        "value": _round2(rng.uniform(0.01, 490.0, n_e)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })

    n_d = sz["documents"]
    texts = _documents(rng, n_d)
    out["documents"] = pa.table({
        "doc_id": np.arange(n_d, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_d)],
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    n_v = sz["embeddings"]
    labels = rng.integers(0, 10, n_v)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_v, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_v, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out


def write_tpch(out_dir: str, seed: int, sizes: dict[str, int] | None = None) -> dict:
    sz = {**TPCH_SIZES, **(sizes or {})}
    return write_tables(out_dir, tpch_tables(seed, sz),
                        {"dataset": "tpch", "seed": seed, "sizes": sz})
