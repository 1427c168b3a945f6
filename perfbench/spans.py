"""In-memory span tracer wrapped around the engine's public functions.

A traced run patches each layer's public functions (and every module-level
alias of them inside the engine package, since query modules import
operators by name) with a wrapper that records a span: name, layer, start,
end, parent span and the id of the benchmark operation it belongs to.
Spans stay in memory and are written out once, when the run ends.

Spark's scheduler is observed from outside the same way: each traced
operation runs under its own job group, and the status tracker is asked
afterwards for that group's jobs, stages and tasks.

An untraced run installs nothing; its only cost is the `op()` context
manager's thread-local check.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "nyc_analytics_database_platform_spark"

# layer -> modules whose public functions are wrapped. "operators" also
# covers plans/*; txnlog keeps its own layer so its spans are separable.
LAYER_MODULES = {
    "session": ["session"],
    "catalog": ["catalog"],
    "layouts": ["layouts"],
    "api": ["nyc.api"],
    "sources": ["sources.csv_etl"],
    "txnlog": ["operators.txnlog"],
    "verify": ["verify"],
}
# Layers whose self time inside measured operations is reported (session
# start and verify run before and after the measured region).
LAYERS = ("bench", "catalog", "queries", "operators", "layouts", "api",
          "sources", "txnlog")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []  # (id, op, parent, name, layer, t0, t1)
        self.ops: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple] = []
        self._layout_builds: dict[str, float] = {}
        self.overhead_s = 0.0

    # ---- spans -----------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else 0
        op = getattr(self._local, "op", 0)
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, op, parent, name, layer, t0, t1))
            self.overhead_s += time.perf_counter() - t1

    @contextmanager
    def op(self, spark, kind: str, label: str):
        """One benchmark operation (a request, a query, an ingest step).
        Traced runs give it an id, a root span and its own Spark job group;
        the scheduler counts are read back when it ends."""
        if not self.enabled:
            yield
            return
        op_id = next(self._ids)
        sc = spark.sparkContext
        group = f"perfbench-op-{op_id}"
        sc.setJobGroup(group, label)
        self._local.op = op_id
        try:
            with self.span(label, "bench"):
                yield
        finally:
            self._local.op = 0
            t = time.perf_counter()
            jobs, stages, tasks, failed = _scheduler_counts(sc, group)
            sc.setJobGroup("perfbench-idle", "idle")
            with self._lock:
                self.ops.append({"id": op_id, "kind": kind, "label": label,
                                 "jobs": jobs, "stages": stages,
                                 "tasks": tasks, "failed_tasks": failed})
            self.overhead_s += time.perf_counter() - t

    def count(self, key: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counters[key] += n

    # ---- patching --------------------------------------------------------
    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if name == "catalog.load":
                tracer._count_load(*args, **kwargs)
            elif name == "layouts.session_artifact":
                tracer._count_artifact(*args, **kwargs)
            with tracer.span(name, layer):
                result = fn(*args, **kwargs)
            tracer._observe(name, args, result)
            return result

        return wrapper

    def _count_load(self, spark, sf_dir, name, parallel=False, fresh=False):
        """catalog.load memoizes frames per session; a call whose key is
        already memoized (and not forced fresh) is a hit."""
        memo = getattr(spark, "_nadb_load_cache", None) or {}
        self.count("catalog.load_calls")
        if not fresh and (sf_dir, name, parallel) in memo:
            self.count("catalog.load_hits")

    def _count_artifact(self, spark, key, builder):
        """layouts.session_artifact memoizes built frames per session; a
        call whose key is absent adds a memo entry."""
        memo = getattr(spark, "_nadb_artifact_cache", None) or {}
        if key not in memo:
            self.count("layouts.memo_entries")

    def _observe(self, name: str, args, result) -> None:
        """Counts taken at a layer boundary from its arguments/results."""
        if name == "layouts.is_fresh" and result is False:
            self._layout_builds[args[0]] = time.perf_counter()
        elif name == "layouts.mark_fresh":
            t0 = self._layout_builds.pop(args[0], None)
            if t0 is not None:
                self.count("layouts.build_s", time.perf_counter() - t0)

    def install(self) -> None:
        """Patch every public function of the layer modules, plus each alias
        of it held by any loaded engine module."""
        if not self.enabled:
            return
        import importlib

        by_layer = {layer: [importlib.import_module(f"{PKG}.{m}") for m in mods]
                    for layer, mods in LAYER_MODULES.items()}
        by_layer["operators"] = [
            mod for name, mod in list(sys.modules.items())
            if name.startswith((f"{PKG}.operators.", f"{PKG}.plans."))
            and name != f"{PKG}.operators.txnlog"]
        self.install_modules(by_layer)

    def install_modules(self, by_layer: dict[str, list]) -> None:
        originals = {}
        for layer, mods in by_layer.items():
            for mod in mods:
                short = mod.__name__.split(".")[-1]
                for attr, fn in vars(mod).items():
                    if (attr.startswith("_") or not inspect.isfunction(fn)
                            or fn.__module__ != mod.__name__
                            or hasattr(fn, "evalType")):
                        continue
                    originals[id(fn)] = (fn, self._wrap(fn, f"{short}.{attr}", layer))
        for name, mod in list(sys.modules.items()):
            if not name.startswith(PKG) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self._patched.append((mod, attr, val))

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()

    # ---- reports ---------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Seconds per layer inside measured operations: each span's
        duration minus its direct children's (spans of one thread nest, so
        children never overlap)."""
        child = defaultdict(float)
        for sid, _op, parent, _n, _l, t0, t1 in self.spans:
            child[parent] += t1 - t0
        out = dict.fromkeys(LAYERS, 0.0)
        for sid, op, _parent, _n, layer, t0, t1 in self.spans:
            if op:
                out[layer] = out.get(layer, 0.0) + (t1 - t0) - child.get(sid, 0.0)
        return out

    def durations(self, name: str) -> list[float]:
        """Durations of the spans called `name` inside measured operations."""
        return [t1 - t0 for _s, op, _p, n, _l, t0, t1 in self.spans if n == name and op]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({
                "spans": [dict(zip(("id", "op", "parent", "name", "layer", "t0", "t1"), s))
                          for s in self.spans],
                "ops": self.ops,
                "counters": dict(self.counters),
            }, fh)


def _scheduler_counts(sc, group: str) -> tuple[int, int, int, int]:
    tracker = sc.statusTracker()
    jobs = stages = tasks = failed = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        jobs += 1
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None:
                continue
            stages += 1
            tasks += st.numTasks
            failed += st.numFailedTasks
    return jobs, stages, tasks, failed
