"""Tests of the benchmark's own pieces (no Spark session is started).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import dashboard  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402
import stats  # noqa: E402
from core import Ctx  # noqa: E402
from spans import Tracer  # noqa: E402

SMALL_NYC = {"parcels": 300, "properties": 400, "sales": 800,
             "service_requests": 2000, "complaint_types": 7}
SMALL_TPCH = {"customer": 50, "supplier": 10, "part": 40, "orders": 200,
              "lineitem": 800, "events": 300, "documents": 40, "embeddings": 30}


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _dir_bytes(path: str) -> dict[str, bytes]:
    out = {}
    for f in sorted(os.listdir(path)):
        with open(os.path.join(path, f), "rb") as fh:
            out[f] = fh.read()
    return out


# ---- generator -----------------------------------------------------------

def test_nyc_generator_is_identical_for_the_same_seed(tmp_path):
    a = gen.write_nyc(str(tmp_path / "a"), 7, SMALL_NYC)
    b = gen.write_nyc(str(tmp_path / "b"), 7, SMALL_NYC)
    assert a == b
    assert _dir_bytes(str(tmp_path / "a")) == _dir_bytes(str(tmp_path / "b"))


def test_nyc_generator_differs_across_seeds():
    a = gen.nyc_tables(1, SMALL_NYC)["service_request"]
    b = gen.nyc_tables(2, SMALL_NYC)["service_request"]
    assert not a.equals(b)


def test_nyc_manifest_states_the_working_set(tmp_path):
    m = gen.write_nyc(str(tmp_path), 3, SMALL_NYC, zipf_s=0.9)
    assert m["seed"] == 3 and m["zipf_s"] == 0.9
    assert m["sizes"] == {**gen.NYC_SIZES, **SMALL_NYC}
    assert m["rows"]["service_request"] == SMALL_NYC["service_requests"]
    assert m["user_bytes"] > 0
    with open(tmp_path / "manifest.json") as fh:
        assert json.load(fh) == m


def test_nyc_natural_keys_are_unique_and_facts_reference_parcels():
    t = gen.nyc_tables(5, SMALL_NYC)
    geo = t["geographic_area"]
    keys = set(zip(*(geo.column(c).to_pylist() for c in ("borough_code", "block_code", "lot_code"))))
    assert len(keys) == geo.num_rows
    gids = set(geo.column("geographic_id").to_pylist())
    assert set(t["service_request"].column("geographic_id").to_pylist()) <= gids
    assert set(t["property"].column("geographic_id").to_pylist()) == gids


def test_tpch_generator_is_identical_for_the_same_seed(tmp_path):
    gen.write_tpch(str(tmp_path / "a"), 11, SMALL_TPCH)
    gen.write_tpch(str(tmp_path / "b"), 11, SMALL_TPCH)
    assert _dir_bytes(str(tmp_path / "a")) == _dir_bytes(str(tmp_path / "b"))


# ---- request stream --------------------------------------------------------

def test_dashboard_decks_hold_the_exact_mix():
    parcels = gen.nyc_parcels(1, 300)
    p = gen.zipf_weights(300, 0.8, np.random.default_rng([1, 3]))
    reqs = dashboard.Requests(1, 0, parcels, p)
    for _ in range(3):
        labels = [reqs.next()[0] for _ in range(dashboard.DECK)]
        assert sorted(labels) == sorted(k for k, n in dashboard.MIX for _ in range(n))
    again = dashboard.Requests(1, 0, parcels, p)
    first = dashboard.Requests(1, 0, parcels, p)
    assert [again.next() for _ in range(25)] == [first.next() for _ in range(25)]


def test_bookmark_keys_are_distinct():
    parcels = gen.nyc_parcels(2, 300)
    p = gen.zipf_weights(300, 0.8, np.random.default_rng([2, 3]))
    reqs = dashboard.Requests(2, 0, parcels, p)
    for _ in range(60):
        label, _ep, args = reqs.next()
        if label == "bookmarks":
            assert len(set(args["bbls"])) == 8


# ---- percentiles -----------------------------------------------------------

def test_tail_has_ten_samples_beyond_it():
    values = [float(i) for i in range(1, 30)]  # 29 samples
    pct, v = stats.tail(values)
    assert v == 19.0
    assert sum(x > v for x in values) == stats.TAIL_BEYOND
    assert pct == pytest.approx(100 * 19 / 29)


def test_tail_reaches_p95_at_200_samples():
    values = list(np.random.default_rng(0).permutation(200).astype(float))
    pct, v = stats.tail(values)
    assert pct == 95.0
    assert v == 189.0


def test_tail_refuses_when_it_would_not_exceed_the_median():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 20)
    stats.tail([1.0] * 21)


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    q1, q2, q3 = __import__("statistics").quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == pytest.approx((q3 - q1) / q2)


# ---- metric names ------------------------------------------------------------

def _ctx(trace: bool) -> Ctx:
    ctx = Ctx(spark=None, tracer=Tracer(trace), seed=1, seconds=1.0,
              run_dir="", data_dir="", user_bytes=100)
    ctx.reads = [("summary", 0.5), ("trends", 0.25), ("miss", 0.001)]
    ctx.writes = [("etl_commit", 1.0)]
    ctx.attempted, ctx.measured_s, ctx.stored_bytes = 4, 2.0, 30
    ctx.layer.update({"peak_rss_mb": 900.0, "session.start_s": 5.0, "layouts.bytes": 0})
    return ctx


def test_end_to_end_names_and_units_match_benchmark_json():
    out = report.end_to_end(_ctx(False), setup_s=12.0)
    declared = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert {k: v["unit"] for k, v in out.items()} == declared
    assert all(v["value"] > 0 for v in out.values())


def test_per_layer_names_and_units_match_benchmark_json():
    out = report.per_layer(_ctx(True))
    declared = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert {k: v["unit"] for k, v in out.items()} == declared


def test_layer_map_covers_every_per_layer_metric_once():
    with open(os.path.join(BENCH_DIR, "layer_map.json")) as fh:
        lm = json.load(fh)
    mapped = [m for layer in lm["layers"].values() for m in layer["metrics"]]
    assert sorted(mapped) == sorted(m["name"] for m in _bench()["per_layer"])


# ---- tracer ------------------------------------------------------------------

def test_self_time_subtracts_children():
    tr = Tracer(True)
    tr._local.op = 1
    with tr.span("outer", "api"):
        with tr.span("inner", "operators"):
            sum(range(20000))
    tr._local.op = 0
    st = tr.self_times()
    total = sum(t1 - t0 for *_x, t0, t1 in tr.spans if _x[3] == "outer")
    assert st["api"] + st["operators"] == pytest.approx(total)


def test_install_wraps_aliases_and_uninstall_restores():
    pkg = types.ModuleType("nyc_analytics_database_platform_spark")
    lay = types.ModuleType("nyc_analytics_database_platform_spark.layouts")
    user = types.ModuleType("nyc_analytics_database_platform_spark.queries.user")

    def is_fresh(marker, stamp):
        return False

    is_fresh.__module__ = lay.__name__
    lay.is_fresh = is_fresh
    user.is_fresh = is_fresh
    saved = {n: sys.modules.get(n) for n in (pkg.__name__, lay.__name__, user.__name__)}
    sys.modules.update({pkg.__name__: pkg, lay.__name__: lay, user.__name__: user})
    try:
        tr = Tracer(True)
        tr.install_modules({"layouts": [lay]})
        assert user.is_fresh is lay.is_fresh is not is_fresh
        assert user.is_fresh("m", "s") is False
        assert [s[3] for s in tr.spans] == ["layouts.is_fresh"]
        tr.uninstall()
        assert user.is_fresh is is_fresh and lay.is_fresh is is_fresh
    finally:
        for n, m in saved.items():
            if m is None:
                sys.modules.pop(n, None)
            else:
                sys.modules[n] = m


# ---- contract --------------------------------------------------------------

def test_fails_without_printing_when_only_the_benchmark_is_present(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    cmd = [*_bench()["command"], "--workload", "dashboard", "--seed", "1",
           "--seconds", "1", "--trace", "0"]
    out = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert out.stdout == ""
