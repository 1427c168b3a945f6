"""`dashboard`: the reference's interactive traffic.

Two closed-loop client threads share one SparkSession and call the
`nyc.api` endpoints over the generated NYC tables. Parcels are drawn with
the same Zipf popularity the facts were generated with, so hot BBLs repeat.
Mix: summary 40%, trends 25% (half each metric), analytics 15%, bookmarks
10% (8 distinct keys), export 5%, miss path 5% (malformed or unknown BBL,
answered with None / "" / []).
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

import gen
import oracle

CLIENTS = 2
# Requests per 20-request deck; decks are dealt in seeded shuffled order to
# both clients, and a run measures whole decks, so every run sees the mix
# in exactly these proportions.
MIX = (("summary", 8), ("trends", 5), ("analytics", 3),
       ("bookmarks", 2), ("export", 1), ("miss", 1))
DECK = sum(n for _, n in MIX)
CHECKED = 40  # responses re-derived by the DuckDB oracle per run
MALFORMED = ("abc", "1-2", "7-100-1", "1-x-3", "", "0-5-5", "2--3")


class Requests:
    """Seeded request stream, shared by the clients."""

    def __init__(self, seed: int, stream: int, parcels: dict, parcel_p: np.ndarray):
        self.rng = np.random.default_rng([seed, 100, stream])
        self.keys = parcels
        self.cdf = np.cumsum(parcel_p)
        self.deck: list[str] = []
        self.lock = threading.Lock()

    def _bbl(self) -> str:
        i = min(int(np.searchsorted(self.cdf, self.rng.random())), len(self.cdf) - 1)
        k = self.keys
        return f"{k['borough_code'][i]}-{k['block_code'][i]}-{k['lot_code'][i]}"

    def _miss_bbl(self) -> str:
        if self.rng.random() < 0.5:
            return MALFORMED[int(self.rng.integers(0, len(MALFORMED)))]
        return f"{int(self.rng.integers(1, 6))}-{int(self.rng.integers(900_000, 999_999))}-1"

    def next(self) -> tuple[str, str, dict]:
        """(label, endpoint, args)."""
        with self.lock:
            return self._next()

    def _next(self) -> tuple[str, str, dict]:
        if not self.deck:
            self.deck = [k for k, n in MIX for _ in range(n)]
            self.rng.shuffle(self.deck)
        kind = self.deck.pop()
        if kind == "miss":
            ep = ("summary", "trends", "analytics", "export")[int(self.rng.integers(0, 4))]
            return "miss", ep, self._args(ep, self._miss_bbl())
        if kind == "bookmarks":
            keys: list[str] = []
            while len(keys) < 8:
                b = self._bbl()
                if b not in keys:
                    keys.append(b)
            return kind, kind, {"bbls": keys}
        return kind, kind, self._args(kind, self._bbl())

    def _args(self, ep: str, bbl: str) -> dict:
        if ep == "trends":
            return {"bbl": bbl, "metric": ("service_requests", "sales")[int(self.rng.integers(0, 2))]}
        if ep == "export":
            return {"bbl": bbl, "what": ("complaints", "sales")[int(self.rng.integers(0, 2))]}
        return {"bbl": bbl}


def call(api, spark, tables, ep: str, args: dict):
    if ep == "summary":
        return api.bbl_summary(spark, tables, args["bbl"])
    if ep == "trends":
        return api.bbl_trends(spark, tables, args["bbl"], metric=args["metric"])
    if ep == "analytics":
        return api.analytics(spark, tables, args["bbl"])
    if ep == "bookmarks":
        return api.bookmarks_summary(spark, tables, args["bbls"])
    if ep == "export":
        return api.export_rows(spark, tables, args["bbl"], what=args["what"])
    raise ValueError(ep)


class Dashboard:
    name = "dashboard"

    def generate(self, seed: int, data_dir: str) -> dict:
        manifest = gen.write_nyc(data_dir, seed)
        self.parcels = gen.nyc_parcels(seed, manifest["sizes"]["parcels"])
        self.parcel_p = gen.zipf_weights(manifest["sizes"]["parcels"], manifest["zipf_s"],
                                         np.random.default_rng([seed, 3]))
        return manifest

    def setup(self, ctx) -> None:
        from nyc_analytics_database_platform_spark.nyc import api

        self.api = api
        self.tables = {t: ctx.spark.read.parquet(os.path.join(ctx.data_dir, f"{t}.parquet"))
                       for t in oracle.NYC_TABLES}
        # Warm up on one deck of the same mix from a separate stream, so the
        # JIT has seen every endpoint path before timing starts.
        self._serve(ctx, Requests(ctx.seed, 99, self.parcels, self.parcel_p),
                    lambda started: started >= DECK, None)

    def _serve(self, ctx, reqs: Requests, stop, timed) -> list[float]:
        """Run CLIENTS closed-loop clients on `reqs` until stop(requests
        started) is true; with `timed`, book each request in ctx and log the
        answers. Returns each client's completion rate."""
        lock = threading.Lock()
        started = [0]
        rates = [0.0] * CLIENTS

        def client(i: int) -> None:
            done = 0
            while True:
                with lock:
                    if stop(started[0]):
                        break
                    started[0] += 1
                label, ep, args = reqs.next()
                if timed is None:
                    call(self.api, ctx.spark, self.tables, ep, args)
                    continue
                ok, resp = ctx.timed("read", label, call, self.api, ctx.spark,
                                     self.tables, ep, args)
                done += ok
                if ok:
                    with lock:
                        self.log.append((ep, args, resp))
            # closed loop: a client's rate is its completions over its own
            # busy time, which ends with its last reply
            rates[i] = done / (time.perf_counter() - t0)

        threads = [threading.Thread(target=client, args=(i,)) for i in range(CLIENTS)]
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return rates

    def run(self, ctx) -> None:
        self.log: list[tuple] = []  # (endpoint, args, response)
        t0 = time.perf_counter()
        deadline = t0 + ctx.seconds
        rates = self._serve(ctx, Requests(ctx.seed, 0, self.parcels, self.parcel_p),
                            lambda started: started % DECK == 0 and time.perf_counter() >= deadline,
                            True)
        ctx.measured_s = time.perf_counter() - t0
        ctx.read_rate = sum(rates)

    def check(self, ctx) -> None:
        ctx.stored_bytes = sum(os.path.getsize(os.path.join(ctx.data_dir, f"{t}.parquet"))
                               for t in oracle.NYC_TABLES)
        rng = np.random.default_rng([ctx.seed, 7])
        pick = sorted(rng.choice(len(self.log), size=min(CHECKED, len(self.log)), replace=False))
        con = oracle.connect(ctx.data_dir)
        try:
            for i in pick:
                ep, args, resp = self.log[i]
                want = oracle.answer(con, ep, args)
                if not oracle.same(resp, want):
                    ctx.fail(f"{ep}{args}: got {str(resp)[:300]} want {str(want)[:300]}")
        finally:
            con.close()
