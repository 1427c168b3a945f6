"""Turns a finished run into the metric dictionaries of BENCHMARK.json."""

from __future__ import annotations

import sys
from collections import defaultdict

import stats
from analytics import QUERIES
from core import peak_rss_mb
from spans import LAYERS

API_ENDPOINTS = ("summary", "trends", "analytics", "bookmarks", "export", "miss")


def rss() -> float:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return peak_rss_mb(proc.pid if proc is not None else None)


def _read_times(ctx) -> list[float]:
    return [dt for _label, dt in ctx.reads]


def end_to_end(ctx, setup_s: float) -> dict:
    reads = _read_times(ctx)
    try:
        pct, tail = stats.tail(reads)
        tail_note = f"tail p{pct:.1f} = {tail * 1e3:.1f} ms"
    except ValueError:
        tail_note = "too few for a tail percentile above the median"
    print(f"perfbench: {len(reads)} reads; {tail_note}", file=sys.stderr)
    m = {
        "setup_s": (setup_s, "s"),
        "read_p50_ms": (stats.median(reads) * 1e3, "ms"),
        "reads_per_s": (ctx.read_rate or len(reads) / ctx.measured_s, "1/s"),
        "peak_rss_mb": (ctx.layer["peak_rss_mb"], "MB"),
        "storage_amp": (ctx.stored_bytes / ctx.user_bytes, "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _p50(values: list[float]) -> float:
    return stats.median(values) if values else 0.0


def per_layer(ctx) -> dict:
    tr = ctx.tracer
    c = tr.counters
    by_label = defaultdict(list)
    for label, dt in ctx.reads + ctx.writes:
        by_label[label].append(dt)
    jobs_by_label = defaultdict(list)
    for op in tr.ops:
        jobs_by_label[op["label"]].append(op["jobs"])
    n_ops = max(len(tr.ops), 1)
    m: dict[str, tuple[float, str]] = {
        "error_rate": (ctx.failed / max(ctx.attempted, 1), "ratio"),
        "write_p50_ms": (_p50([dt for _l, dt in ctx.writes]) * 1e3, "ms"),
        "trace.read_p50_ms": (_p50(_read_times(ctx)) * 1e3, "ms"),
        "trace.overhead_ms_per_op": (tr.overhead_s / n_ops * 1e3, "ms"),
        "session.start_s": (ctx.layer["session.start_s"], "s"),
        "layouts.build_s": (c["layouts.build_s"], "s"),
        "layouts.bytes": (ctx.layer["layouts.bytes"], "bytes"),
        "layouts.memo_entries": (c["layouts.memo_entries"], "count"),
        "catalog.load_calls": (c["catalog.load_calls"], "count"),
        "catalog.load_hits": (c["catalog.load_hits"], "count"),
        "spark.jobs_per_op": (sum(o["jobs"] for o in tr.ops) / n_ops, "count"),
        "spark.stages_per_op": (sum(o["stages"] for o in tr.ops) / n_ops, "count"),
        "spark.tasks_per_op": (sum(o["tasks"] for o in tr.ops) / n_ops, "count"),
        "spark.failed_tasks": (sum(o["failed_tasks"] for o in tr.ops), "count"),
    }
    for ep in API_ENDPOINTS:
        m[f"api.{ep}_ms"] = (_p50(by_label[ep]) * 1e3, "ms")
        jobs = jobs_by_label[ep]
        m[f"api.{ep}_jobs"] = (sum(jobs) / len(jobs) if jobs else 0.0, "count")
    m["queries.build_s"] = (sum(tr.durations("queries.build")), "s")
    m["queries.materialize_s"] = (sum(tr.durations("queries.materialize")), "s")
    for q in QUERIES:
        m[f"q.{q}_s"] = (_p50(by_label[q]), "s")
    etl = ctx.layer.get("etl", [])
    kept = sum(v for v, _r, _w in etl)
    seen = sum(v + r for v, r, _w in etl)
    m["etl.batch_s"] = (_p50(tr.durations("csv_etl.etl_csv_to_parquet")), "s")
    m["etl.valid_frac"] = (kept / seen if seen else 0.0, "ratio")
    m["txnlog.append_s"] = (_p50(tr.durations("txnlog.append")), "s")
    m["txnlog.delete_mor_s"] = (_p50(tr.durations("txnlog.delete_where_mor")), "s")
    m["txnlog.read_version_s"] = (_p50(tr.durations("txnlog.read_version")), "s")
    m["txnlog.snapshot_files"] = (ctx.layer.get("txnlog.snapshot_files", 0), "count")
    m["txnlog.delete_files"] = (ctx.layer.get("txnlog.delete_files", 0), "count")
    written = ctx.layer.get("write_bytes", 0)
    m["txnlog.bytes_written_per_user_byte"] = (written / ctx.user_bytes if written else 0.0, "ratio")
    m["verify.mismatches"] = (c["verify.mismatches"], "count")
    for layer, s in tr.self_times().items():
        if layer in LAYERS:
            m[f"self.{layer}_s"] = (s, "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
