"""`ingest`: CSV batches land beside reads on the same table.

One closed-loop client repeats a step: turn the next seed-generated CSV
batch of new service requests into parquet with
`sources.csv_etl.etl_csv_to_parquet` (about 3% of rows are malformed, so the
reject path runs), commit it with `txnlog.append`, then serve a few
`nyc.api` reads over `txnlog.read_version` at head, mostly for parcels in
the batch just written. Every TAKEDOWN_EVERY-th step, starting with the
first, also removes the requests of one parcel with
`txnlog.delete_where_mor`.

Set-up commits the first PREGROWN batches, with their takedowns, before
timing starts, so the measured steps read a head of many data files and
delete files, as a table that has taken writes for a while does; the file
list and the delete set keep growing during the run.
"""

from __future__ import annotations

import csv
import io
import os
import time
from collections import Counter

import numpy as np

import gen
import oracle
from core import dir_bytes

SIZES = {"parcels": 5_000, "properties": 7_500, "sales": 25_000,
         "service_requests": 30_000, "complaint_types": 40}
BATCH_ROWS = 1_000
BATCHES = 24
PREGROWN = 6  # batches committed during set-up
BAD_FRAC = 0.03
# Reads per step, in order: (endpoint, parcel from the batch just written?)
READS = (("summary", True), ("summary", False), ("trends", True), ("summary", True),
         ("summary", False), ("trends", False), ("summary", True), ("summary", True),
         ("trends", True), ("summary", False), ("summary", True), ("trends", True))
TAKEDOWN_EVERY = 2
CHECKED = 6  # reads re-derived by the DuckDB oracle per run
DIMS = ("geographic_area", "property", "sale", "complaint_type")
COLUMNS = list(gen.NYC_SCHEMAS["service_request"].names)


def _corrupt(row: list, kind: int) -> None:
    """Make one CSV row violate exactly one ETL check."""
    if kind == 0:
        row[COLUMNS.index("created_date")] = "not-a-date"
    elif kind == 1:
        row[COLUMNS.index("status")] = "Unknown"
    elif kind == 2:
        row[COLUMNS.index("geographic_id")] = "-7"
    else:
        row[COLUMNS.index("complaint_type_id")] = ""


def make_batches(seed: int, parcel_p: np.ndarray, first_id: int, n_types: int,
                 out_dir: str, count: int = BATCHES) -> list[dict]:
    """Write `count` CSV batches; return per batch its path, the geographic
    ids of its valid rows, and the CSV bytes of those rows."""
    rng = np.random.default_rng([seed, 30])
    os.makedirs(out_dir, exist_ok=True)
    batches = []
    next_id = first_id
    for b in range(count):
        cols = gen.service_request_rows(rng, BATCH_ROWS, next_id, parcel_p, n_types)
        next_id += BATCH_ROWS
        rows = [["" if v is None else str(v) for v in r] for r in zip(*(cols[c] for c in COLUMNS))]
        bad = rng.random(BATCH_ROWS) < BAD_FRAC
        kinds = rng.integers(0, 4, BATCH_ROWS)
        for i in np.flatnonzero(bad):
            _corrupt(rows[i], int(kinds[i]))
        valid_gids, valid_bytes = [], 0
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(COLUMNS)
        for i, r in enumerate(rows):
            start = buf.tell()
            w.writerow(r)
            if not bad[i]:
                valid_gids.append(cols["geographic_id"][i])
                valid_bytes += buf.tell() - start
        path = os.path.join(out_dir, f"batch{b:03d}.csv")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        batches.append({"path": path, "gids": valid_gids, "bytes": valid_bytes})
    return batches


class Ingest:
    name = "ingest"

    def generate(self, seed: int, data_dir: str) -> dict:
        tables = gen.nyc_tables(seed, SIZES)
        manifest = gen.write_tables(data_dir, tables,
                                    {"dataset": "nyc-ingest", "seed": seed, "sizes": SIZES,
                                     "zipf_s": gen.NYC_ZIPF, "batch_rows": BATCH_ROWS,
                                     "bad_frac": BAD_FRAC})
        parcel_p = gen.zipf_weights(SIZES["parcels"], gen.NYC_ZIPF,
                                    np.random.default_rng([seed, 3]))
        self.parcels = gen.nyc_parcels(seed, SIZES["parcels"])
        self.base_gids = tables["service_request"].column("geographic_id").to_pylist()
        self.base_bytes = gen.csv_bytes(tables["service_request"])
        self.batches = make_batches(seed, parcel_p, SIZES["service_requests"] + 1,
                                    SIZES["complaint_types"], os.path.join(data_dir, "csv"))
        return manifest

    def _bbl(self, gid: int) -> str:
        i = gid - 1
        k = self.parcels
        return f"{k['borough_code'][i]}-{k['block_code'][i]}-{k['lot_code'][i]}"

    def setup(self, ctx) -> None:
        from pyspark.sql import functions as F

        from nyc_analytics_database_platform_spark.functions import quality as Q
        from nyc_analytics_database_platform_spark.nyc import api
        from nyc_analytics_database_platform_spark.nyc.schema import SERVICE_REQUEST, STATUS_DOMAIN
        from nyc_analytics_database_platform_spark.operators import txnlog
        from nyc_analytics_database_platform_spark.sources import csv_etl

        self.api, self.txnlog, self.csv_etl, self.F = api, txnlog, csv_etl, F
        self.schema = SERVICE_REQUEST
        self.checks = {
            "id_positive": Q.positive("service_request_id"),
            "gid_positive": Q.positive("geographic_id"),
            "created_present": Q.not_null("created_date"),
            "type_present": Q.not_null("complaint_type_id"),
            "status_domain": Q.in_domain("status", list(STATUS_DOMAIN)),
        }
        spark = ctx.spark
        self.dims = {t: spark.read.parquet(os.path.join(ctx.data_dir, f"{t}.parquet")) for t in DIMS}
        self.root = os.path.join(ctx.run_dir, "table")
        self.staging = os.path.join(ctx.run_dir, "staging")
        base = spark.read.parquet(os.path.join(ctx.data_dir, "service_request.parquet"))
        txnlog.append(spark, self.root, base)
        self.live = Counter(self.base_gids)
        self.user_bytes = self.base_bytes
        self.etl = []  # (valid, rejected, expected_valid)
        for step in range(PREGROWN):
            self._writes(ctx, step, timed=False)
        # Warm the read path at the grown head; with two reads the timed
        # reads still ran on code the JIT was compiling.
        gids = self.batches[PREGROWN - 1]["gids"]
        for i, ep in enumerate(("summary", "trends") * 3):
            self._read(spark, self.root, ep, self._bbl(gids[i]))

    def _write(self, spark, csv_path: str, staged: str, root: str):
        valid, rejected = self.csv_etl.etl_csv_to_parquet(
            spark, csv_path, staged, self.schema, self.checks)
        self.txnlog.append(spark, root, spark.read.parquet(staged))
        return valid, rejected

    def _writes(self, ctx, step: int, timed: bool) -> None:
        """Commit batch `step`, and on takedown steps delete the requests of
        the batch's most frequent parcel; book both as writes if `timed`."""
        def do(label, fn, *args):
            if timed:
                return ctx.timed("write", label, fn, *args)
            return True, fn(*args)

        spark, batch = ctx.spark, self.batches[step]
        staged = os.path.join(self.staging, f"batch{step:03d}")
        ok, res = do("etl_commit", self._write, spark, batch["path"], staged, self.root)
        if ok:
            self.etl.append((*res, len(batch["gids"])))
            self.live.update(batch["gids"])
            self.user_bytes += batch["bytes"]
        if step % TAKEDOWN_EVERY == 0:
            gid = Counter(batch["gids"]).most_common(1)[0][0]
            ok, _ = do("takedown", self._delete, spark, self.root, gid)
            if ok:
                self.live[gid] = 0

    def _delete(self, spark, root: str, gid: int) -> int:
        return self.txnlog.delete_where_mor(
            spark, root, ["service_request_id"], self.F.col("geographic_id") == gid)

    def _read(self, spark, root: str, ep: str, bbl: str):
        tables = {**self.dims, "service_request": self.txnlog.read_version(spark, root)}
        if ep == "summary":
            return self.api.bbl_summary(spark, tables, bbl)
        return self.api.bbl_trends(spark, tables, bbl)

    def run(self, ctx) -> None:
        spark = ctx.spark
        rng = np.random.default_rng([ctx.seed, 31])
        self.read_log = []  # (version, ep, bbl, response)
        t0 = time.perf_counter()
        for step in range(PREGROWN, BATCHES):
            if time.perf_counter() - t0 >= ctx.seconds:
                break
            batch = self.batches[step]
            self._writes(ctx, step, timed=True)
            for ep, recent in READS:
                if recent:
                    gid = batch["gids"][int(rng.integers(0, len(batch["gids"])))]
                else:
                    gid = int(rng.integers(1, SIZES["parcels"] + 1))
                bbl = self._bbl(gid)
                version = self.txnlog.latest_version(self.root)
                ok, resp = ctx.timed("read", ep, self._read, spark, self.root, ep, bbl)
                if ok:
                    self.read_log.append((version, ep, bbl, resp))
        ctx.measured_s = time.perf_counter() - t0

    def check(self, ctx) -> None:
        for valid, rejected, want in self.etl:
            if valid != want or valid + rejected != BATCH_ROWS:
                ctx.fail(f"etl kept {valid}/{valid + rejected} rows, expected {want}/{BATCH_ROWS}")
        head = self.txnlog.read_version(ctx.spark, self.root).count()
        expected = sum(self.live.values())
        if head != expected:
            ctx.fail(f"head has {head} rows, expected {expected}")
        # Re-derive a seeded sample of reads from the version they saw.
        rng = np.random.default_rng([ctx.seed, 32])
        n = len(self.read_log)
        for i in sorted(rng.choice(n, size=min(CHECKED, n), replace=False)):
            version, ep, bbl, resp = self.read_log[i]
            entry = self.txnlog.read_entry(self.root, version)
            con = oracle.connect(ctx.data_dir, [os.path.join(self.root, f) for f in entry["files"]],
                                 [os.path.join(self.root, f) for f in entry.get("delete_files", [])])
            try:
                want = oracle.summary(con, bbl) if ep == "summary" else oracle.trends(con, bbl, "service_requests")
            finally:
                con.close()
            if not oracle.same(resp, want):
                ctx.fail(f"ingest {ep} {bbl}@v{version}: got {str(resp)[:200]} want {str(want)[:200]}")
        ctx.user_bytes = self.user_bytes
        ctx.layer["etl"] = self.etl
        ctx.stored_bytes = dir_bytes(self.root)
        ctx.layer["write_bytes"] = ctx.stored_bytes + dir_bytes(self.staging)
        entry = self.txnlog.read_entry(self.root, self.txnlog.latest_version(self.root))
        ctx.layer["txnlog.snapshot_files"] = len(entry["files"])
        ctx.layer["txnlog.delete_files"] = len(entry.get("delete_files", []))

