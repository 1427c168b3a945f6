"""Versioned transaction log over immutable parquet files: time travel,
CDC-from-the-log, copy-on-write deletes, optimistic concurrency, vacuum.

The reference mutates one current-state table in place (reference:
webserver/schema.sql:1-24 — a single `properties` heap; server.py has no
history, no snapshots, no concurrent-writer story). At 100 TB the opposite
design is mandatory and is exactly what every production table format
(Iceberg / Delta / Hudi) converges on:

- **Data files are immutable.** A write never edits a parquet file; it adds
  new files and/or stops referencing old ones.
- **A snapshot is a file list.** Each commit is a tiny JSON entry holding
  the COMPLETE list of files visible at that version (the Iceberg
  snapshot/manifest-list shape). Planning a read of ANY historical version
  is a single KB-scale metadata read — never a directory listing, never
  O(history) log replay.
- **Commits are atomic and optimistic.** A writer prepares files, then
  publishes entry `v{n}` with a create-exclusive link; losing a race raises
  `CommitConflict` and the writer revalidates against the new head and
  retries. Readers either see a fully-committed version or nothing —
  crashed writers leave unreferenced files (garbage for vacuum), never a
  half-visible snapshot.
- **Deletes are copy-on-write with file pruning.** A delete on a range
  predicate consults per-file footer min/max stats (driver-side metadata,
  reused from operators/compaction.manifest_rows) and rewrites ONLY the
  files whose range intersects the predicate; untouched files carry over
  by reference. At 100 TB a delete of one key range costs O(files touched),
  not O(table).
- **CDC comes from the log, not from snapshot diffing.** The change feed
  between two versions reads only the files ADDED and REMOVED between
  them, cancelling rows a copy-on-write rewrite merely carried over
  (exceptAll in both directions — exact multiset semantics). Contrast
  operators/diff.snapshot_diff, which must scan BOTH full snapshots; this
  reads O(changed files).
- **Vacuum is retention-scoped.** Files unreferenced by every retained
  version are deleted; the live snapshot is untouched by construction
  because its file list is never in the removable set.

Local /tmp directories stand in for an object store; `os.link`'s
create-exclusive semantics stand in for the conditional-PUT every object
store offers (If-None-Match) — the same primitive Delta's log store and
Iceberg's catalog swap use.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_analytics_database_platform_spark.catalog import footer_file_minmax


class CommitConflict(Exception):
    """Another writer published this version first. Re-read the head,
    revalidate the prepared write against it, and retry at head+1."""


def _log_dir(root: str) -> str:
    return os.path.join(root, "log")


def _entry_path(root: str, version: int) -> str:
    return os.path.join(_log_dir(root), f"v{version:05d}.json")


def latest_version(root: str) -> int:
    """Head version number, 0 if the table has no commits yet. O(log dir
    listing) — at 100 TB this is the catalog pointer read."""
    try:
        names = os.listdir(_log_dir(root))
    except OSError:
        return 0
    versions = [
        # Strip the ".json" suffix rather than slicing a fixed width, so
        # version numbers past 99999 (which f"v{v:05d}" silently widens)
        # round-trip instead of being read back truncated.
        int(n[1:-5]) for n in names if n.startswith("v") and n.endswith(".json")
    ]
    return max(versions, default=0)


def read_entry(root: str, version: int) -> dict:
    with open(_entry_path(root, version)) as fh:
        return json.load(fh)


def snapshot_files(root: str, version: int) -> list[str]:
    """Absolute paths of the data files visible at `version`."""
    return [os.path.join(root, f) for f in read_entry(root, version)["files"]]


def chain_intact(root: str, through: int | None = None) -> bool:
    """Adoption gate for a persisted chain: every commit entry up to
    `through` (default: head) exists and every file it references is still
    on disk. A tmp cleaner that removes data but leaves the log must force
    a rebuild, never a broken adopt (same discipline as layouts.is_fresh)."""
    head = latest_version(root)
    if head == 0:
        return False
    through = head if through is None else through
    for v in range(1, through + 1):
        try:
            entry = read_entry(root, v)
        except OSError:
            # Entry expired by vacuum: fine for every version but the head.
            if v == through:
                return False
            continue
        except ValueError:
            return False
        files = entry.get("files", []) + entry.get("delete_files", [])
        if not files and entry.get("op") not in ("empty", "catalog"):
            return False
        if not all(os.path.isfile(os.path.join(root, f)) for f in files):
            return False
    return True


def commit(root: str, parent: int, files: list[str], op: str,
           extra: dict | None = None) -> int:
    """Publish version `parent + 1` referencing `files` (root-relative).
    Atomic + optimistic: the entry is written to a temp name and LINKED to
    its final name — link fails with EEXIST if any other writer published
    the same version first, in which case the temp is discarded and
    CommitConflict raised. The caller revalidates and retries; data files
    already written stay usable (they are content, not log state).
    `extra` carries op-specific entry fields (delete_files, batch_id).

    The cumulative stream batch-id watermark (`batch_ids`) is carried
    forward from the PARENT entry here, inside commit() itself, rather
    than relying on every caller to thread _bid_extra: a raw commit()
    at the head (chain-building helpers, ad-hoc maintenance) must not
    drop the watermark, or a vacuum after it would silently lose
    exactly-once dedup state.

    Every referenced file is verified to exist BEFORE the entry links:
    a vacuum racing a writer may have collected files staged by
    _write_version_dir before this commit made them reachable, and
    publishing an entry that references missing bytes would be a silently
    broken snapshot. Failing loudly here lets the writer re-stage and
    retry; vacuum's grace window (grace_seconds) makes the race rare,
    this check makes it non-destructive."""
    version = parent + 1
    missing = [
        f for f in list(files) + list((extra or {}).get("delete_files", []))
        if not os.path.isfile(os.path.join(root, f))
    ]
    if missing:
        raise FileNotFoundError(
            f"commit v{version} references missing files (vacuumed while "
            f"staged?): {missing[:3]}"
        )
    os.makedirs(_log_dir(root), exist_ok=True)
    entry_extra = dict(extra or {})
    carried = set(entry_extra.get("batch_ids", []))
    if "batch_id" in entry_extra:
        carried.add(entry_extra["batch_id"])
    if parent:
        try:
            pent = read_entry(root, parent)
            carried |= set(pent.get("batch_ids", []))
            if "batch_id" in pent:
                carried.add(pent["batch_id"])
        except (OSError, ValueError):
            # OSError: parent expired by vacuum; ValueError (incl.
            # JSONDecodeError): parent entry truncated/corrupt on disk.
            # Either way the head's cumulative set already rode forward in
            # `extra`, so degrading to "no parent carry" is the same safe
            # behavior a vacuumed parent gets — not a chain-killing error.
            pass
    if carried:
        entry_extra["batch_ids"] = sorted(carried)
    final = _entry_path(root, version)
    tmp = final + f".tmp.{os.getpid()}.{id(files)}"
    with open(tmp, "w") as fh:
        json.dump({"version": version, "parent": parent, "op": op,
                   "files": sorted(files), **entry_extra}, fh)
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise CommitConflict(f"version {version} already committed") from None
    finally:
        os.unlink(tmp)
    return version


def _dv_extra(entry: dict) -> dict:
    """Delete-set fields a child commit must CARRY FORWARD from its file
    lineage: an append or partial rewrite that dropped the parent's
    delete_files would silently resurrect every MoR-deleted row (caught
    by the txnlog differential fuzzer before it could ship)."""
    dv = entry.get("delete_files", [])
    if not dv:
        return {}
    return {"delete_files": dv, "delete_key_cols": entry["delete_key_cols"]}


def _bid_extra(entry: dict) -> dict:
    """Stream batch-id watermark a child commit carries forward from its
    parent: the cumulative set of committed batch ids rides in EVERY head
    entry, so exactly-once dedup (committed_batch_ids) survives vacuum
    expiring the individual stream-append entries — without this, a
    Structured Streaming redelivery after retention kicked in would
    double-commit an old batch."""
    ids = set(entry.get("batch_ids", []))
    if "batch_id" in entry:
        ids.add(entry["batch_id"])
    return {"batch_ids": sorted(ids)} if ids else {}


def _rel_parquet_files(root: str, subdir: str) -> list[str]:
    out = []
    for fname in sorted(os.listdir(os.path.join(root, subdir))):
        if fname.endswith(".parquet"):
            out.append(os.path.join(subdir, fname))
    return out


def _write_version_dir(root: str, version: int, df: DataFrame,
                       range_col: str | None, n_files: int,
                       tag: str = "") -> list[str]:
    """Write `df` into a writer-private staging directory and return the
    new files root-relative. The directory name carries a per-writer token
    (pid + random) so two writers racing for the same version number never
    clobber each other's staged files — only the log link decides who wins.
    Range-clustering on `range_col` gives each file a disjoint stat range,
    so later predicate deletes/reads prune at file granularity (the reason
    table formats cluster on write). `tag` rides in the directory name the
    same way delete files carry `-dv-`: provenance that survives vacuum
    expiring the log entry that would otherwise record it (optimize
    rewrites stamp `-opt-` so delete-aware compaction can prove a file
    clean from the manifest alone)."""
    token = os.urandom(4).hex()
    subdir = os.path.join(
        "data", f"v{version:05d}-{os.getpid()}-{tag}{token}")
    if range_col is not None:
        df = df.repartitionByRange(n_files, range_col)
    elif n_files:
        df = df.repartition(n_files)
    df.write.mode("overwrite").parquet(os.path.join(root, subdir))
    return _rel_parquet_files(root, subdir)


def append(spark: SparkSession, root: str, df: DataFrame,
           range_col: str | None = None, n_files: int = 4,
           parent: int | None = None, base: int | None = None) -> int:
    """Append-commit: new files + everything the base referenced. Cost is
    O(delta) data + O(1) metadata regardless of table size. On conflict the
    already-written files are re-committed against the new head after
    revalidation (append never logically conflicts with append), so the
    retry re-runs NO Spark job — the cheap-retry property optimistic table
    formats rely on under concurrent ETL.

    `base` pins the FILE lineage independently of the version number:
    a write-audit-publish flow whose previous staging commit failed its
    audit appends on top of the last PUBLISHED version's files, not the
    rejected head — version numbers stay linear, the rejected files are
    simply never referenced again (vacuum collects them)."""
    head = latest_version(root) if parent is None else parent
    new_files = _write_version_dir(root, head + 1, df, range_col, n_files)
    while True:
        lineage = base if base is not None else head
        entry = read_entry(root, lineage) if lineage else {}
        files = entry.get("files", [])
        try:
            return commit(root, head, files + new_files, "append",
                          extra={**_dv_extra(entry), **_bid_extra(entry)})
        except CommitConflict:
            head = latest_version(root)


def delete_range_cow(spark: SparkSession, root: str, column: str,
                     lo, hi) -> tuple[int, dict]:
    """Copy-on-write delete of rows with lo <= column < hi. Files whose
    footer [min, max] does not intersect the range carry over BY REFERENCE
    (zero I/O); intersecting files are rewritten without the deleted rows.
    Returns (new_version, stats) where stats records how many files were
    pruned vs rewritten — the number that must stay O(matching files) at
    100 TB. Survivor rows are copied byte-for-byte, which is what lets the
    log-diff CDC cancel them exactly (changes_between)."""
    head = latest_version(root)
    entry = read_entry(root, head)
    parent_files = entry["files"]
    touched, kept = [], []
    for rel in parent_files:
        fmin, fmax = footer_file_minmax(os.path.join(root, rel), column)
        if fmin is None or (fmax >= lo and fmin < hi):
            touched.append(rel)
        else:
            kept.append(rel)
    stats = {"n_parent_files": len(parent_files), "n_rewritten": len(touched),
             "n_carried": len(kept)}
    if not touched:
        return commit(root, head, parent_files, "delete",
                      extra={**_dv_extra(entry), **_bid_extra(entry)}), stats
    survivors = spark.read.parquet(
        *[os.path.join(root, f) for f in touched]
    ).filter(~((F.col(column) >= F.lit(lo)) & (F.col(column) < F.lit(hi))))
    # Rows inside the touched files that an earlier MoR delete hid must
    # not be resurrected by the rewrite; the carried delete set still
    # applies to the kept files at read time.
    keys = _delete_keys(spark, root, entry)
    if keys is not None:
        survivors = survivors.join(keys, on=entry["delete_key_cols"],
                                   how="left_anti")
    new_files = _write_version_dir(
        root, head + 1, survivors, column, max(1, len(touched))
    )
    while True:
        try:
            return commit(root, head, kept + new_files, "delete",
                          extra={**_dv_extra(entry),
                                 **_bid_extra(entry)}), stats
        except CommitConflict:
            # A delete prepared against a stale head may have missed files
            # added since; the safe revalidation is to re-plan. Callers in
            # this repo serialize deletes, so surface the conflict.
            raise


def read_version(spark: SparkSession, root: str,
                 version: int | None = None,
                 merge_schema: bool = False) -> DataFrame:
    """Time-travel read: the table AS OF `version` (default head). One
    KB-scale log-entry read pins the exact file set; Spark plans directly
    over those files — filters and column pruning still push into each
    parquet scan as usual. If the version carries delete files
    (merge-on-read), they are applied as an anti-join on the key columns
    recorded in the entry — the Iceberg-v2 / Delta-DV read path: the scan
    stays file-pruned and the delete set joins in (AQE broadcasts it when
    small). `merge_schema=True` reconciles schema evolution across commits
    (files written before a column existed read it as NULL)."""
    v = latest_version(root) if version is None else version
    entry = read_entry(root, v)
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(*snapshot_files(root, v))
    dv = entry.get("delete_files", [])
    if dv:
        keys = spark.read.parquet(*[os.path.join(root, f) for f in dv])
        df = df.join(keys, on=entry["delete_key_cols"], how="left_anti")
    return df


def _delete_keys(spark: SparkSession, root: str, entry: dict) -> DataFrame | None:
    dv = entry.get("delete_files", [])
    if not dv:
        return None
    return spark.read.parquet(*[os.path.join(root, f) for f in dv])


def delete_where_mor(spark: SparkSession, root: str, key_cols: list[str],
                     predicate) -> int:
    """Merge-on-read delete: instead of rewriting data files (CoW), write
    only the KEYS of the matching rows as a delete file and commit it
    alongside the untouched data files — the equality-delete shape. Write
    cost is O(matching rows); the rewrite is deferred to purge_deletes
    (compaction's job), which is when the read-side anti-join cost is
    reclaimed. Keys accumulate across MoR commits (delete_files is a
    list)."""
    head = latest_version(root)
    entry = read_entry(root, head)
    if entry.get("delete_key_cols") not in (None, key_cols):
        raise ValueError("delete key columns must be stable per table")
    visible = read_version(spark, root, head)
    keys = visible.filter(predicate).select(*key_cols)
    subdir = os.path.join("data", f"v{head + 1:05d}-{os.getpid()}-dv-"
                          + os.urandom(4).hex())
    keys.coalesce(1).write.mode("overwrite").parquet(os.path.join(root, subdir))
    new_dv = _rel_parquet_files(root, subdir)
    return commit(
        root, head, entry["files"], "delete-mor",
        extra={"delete_files": sorted(entry.get("delete_files", []) + new_dv),
               "delete_key_cols": key_cols, **_bid_extra(entry)},
    )


def purge_deletes(spark: SparkSession, root: str,
                  stats_col: str) -> tuple[int, dict]:
    """Compact merge-on-read deletes back to a pure data snapshot: rewrite
    only the data files whose `stats_col` footer range intersects the
    delete-key range (metadata-level pruning — the delete file's own
    min/max bounds the blast radius), drop the delete files from the
    entry. Logically a NO-OP: the visible rows are identical before and
    after, which is exactly what the CDC feed asserts (a purge produces an
    EMPTY change feed) and what makes it safe to run opportunistically."""
    head = latest_version(root)
    entry = read_entry(root, head)
    dv = entry.get("delete_files", [])
    if not dv:
        return head, {"n_rewritten": 0, "n_carried": len(entry["files"])}
    key_cols = entry["delete_key_cols"]
    if stats_col not in key_cols:
        raise ValueError("purge prunes on a delete key column")
    klo = khi = None
    for rel in dv:
        lo, hi = footer_file_minmax(os.path.join(root, rel), stats_col)
        if lo is not None:
            klo = lo if klo is None or lo < klo else klo
            khi = hi if khi is None or hi > khi else khi
    touched, kept = [], []
    for rel in entry["files"]:
        fmin, fmax = footer_file_minmax(os.path.join(root, rel), stats_col)
        if fmin is None or klo is None or (fmax >= klo and fmin <= khi):
            touched.append(rel)
        else:
            kept.append(rel)
    stats = {"n_parent_files": len(entry["files"]),
             "n_rewritten": len(touched), "n_carried": len(kept)}
    if not touched:
        # Every key the delete set named was already rewritten away (e.g.
        # by a later CoW delete); dropping the set is the whole purge.
        return commit(root, head, kept, "purge",
                      extra=_bid_extra(entry)), stats
    keys = _delete_keys(spark, root, entry)
    survivors = spark.read.parquet(
        *[os.path.join(root, f) for f in touched]
    ).join(keys, on=key_cols, how="left_anti")
    new_files = _write_version_dir(root, head + 1, survivors, stats_col,
                                   max(1, len(touched)))
    return commit(root, head, kept + new_files, "purge",
                  extra=_bid_extra(entry)), stats


def changes_between(spark: SparkSession, root: str, v_from: int,
                    v_to: int, columns: list[str]) -> DataFrame:
    """Change feed from the commit log: rows inserted and deleted between
    two versions, projected to `columns`, with a `change_type` column.

    Reads ONLY the files added and removed between the versions (set diff
    of two file lists), plus — when merge-on-read delete files changed —
    the common files whose key-range footer stats intersect the changed
    keys. A copy-on-write rewrite lists survivor rows on both sides;
    exceptAll in both directions cancels them exactly (multiset
    semantics), leaving precisely the logical delta. Delete-file handling
    is symmetric: keys added to the delete set emit 'delete' rows from
    still-referenced files; keys leaving it without a file rewrite would
    emit 'insert' (resurrection) — and a PURGE, which rewrites the
    affected files while dropping their delete keys, cancels to an EMPTY
    feed, the assertion that makes purge safe to run opportunistically.
    At 100 TB this is O(changed files) I/O where full-snapshot diffing
    (operators/diff.snapshot_diff) is O(2 x table)."""
    e_from, e_to = read_entry(root, v_from), read_entry(root, v_to)
    from_files = set(e_from["files"])
    to_files = set(e_to["files"])
    added = sorted(to_files - from_files)
    removed = sorted(from_files - to_files)
    common = sorted(to_files & from_files)
    key_cols = e_to.get("delete_key_cols") or e_from.get("delete_key_cols")
    if key_cols and not set(key_cols) <= set(columns):
        raise ValueError("columns must include the delete key columns")

    def _empty() -> DataFrame:
        return read_version(spark, root, v_to).select(*columns).limit(0)

    def _visible(rels: list[str], entry: dict) -> DataFrame:
        """Logical rows of a file subset under a version's delete set."""
        if not rels:
            return _empty()
        df = spark.read.parquet(*[os.path.join(root, f) for f in rels])
        keys = _delete_keys(spark, root, entry)
        if keys is not None:
            df = df.join(keys, on=entry["delete_key_cols"], how="left_anti")
        return df.select(*columns)

    ins = _visible(added, e_to).exceptAll(_visible(removed, e_from))
    dels = _visible(removed, e_from).exceptAll(_visible(added, e_to))

    dv_from = _delete_keys(spark, root, e_from)
    dv_to = _delete_keys(spark, root, e_to)
    if (dv_from is not None or dv_to is not None) and common:

        def _keys(df: DataFrame | None) -> DataFrame:
            if df is None:
                return (dv_to if dv_to is not None else dv_from).limit(0)
            return df

        new_keys = _keys(dv_to).exceptAll(_keys(dv_from))
        gone_keys = _keys(dv_from).exceptAll(_keys(dv_to))

        def _common_rows(keys: DataFrame) -> DataFrame:
            # Footer-prune the common files by the changed keys' range
            # (single numeric key only — the metadata-level bound on how
            # much of the untouched table the feed must open).
            rels = common
            if len(key_cols) == 1:
                bounds = keys.agg(
                    F.min(key_cols[0]), F.max(key_cols[0])
                ).collect()[0]
                klo, khi = bounds[0], bounds[1]
                if klo is not None:
                    pruned = []
                    for rel in common:
                        fmin, fmax = footer_file_minmax(
                            os.path.join(root, rel), key_cols[0]
                        )
                        if fmin is None or (fmax >= klo and fmin <= khi):
                            pruned.append(rel)
                    rels = pruned
                else:
                    rels = []
            if not rels:
                return _empty()
            return spark.read.parquet(
                *[os.path.join(root, f) for f in rels]
            ).join(keys, on=key_cols, how="left_semi").select(*columns)

        dels = dels.unionByName(_common_rows(new_keys))
        ins = ins.unionByName(_common_rows(gone_keys))

    return ins.withColumn("change_type", F.lit("insert")).unionByName(
        dels.withColumn("change_type", F.lit("delete"))
    )


def optimize(spark: SparkSession, root: str, cluster_col,
             cluster_name: str, n_files: int = 8) -> int:
    """OPTIMIZE as a commit: rewrite the head's visible rows re-clustered
    on `cluster_col` (a Column — e.g. a z-value interleave for 2-D skip)
    and publish the rewritten file set. Any pending merge-on-read delete
    set is applied during the rewrite and dropped. Like purge, the commit
    is logically SILENT — the CDC feed across it is empty (survivor rows
    cancel), which is what lets a table service re-cluster data under
    running consumers. At 100 TB this runs per partition/file-group; the
    full-table rewrite here is the local-mode stand-in."""
    head = latest_version(root)
    entry = read_entry(root, head)
    df = read_version(spark, root, head)
    clustered = (
        df.withColumn("_ck", cluster_col)
        .repartitionByRange(n_files, "_ck")
        .sortWithinPartitions("_ck")
        .drop("_ck")
    )
    new_files = _write_version_dir(root, head + 1, clustered, None, 0)
    return commit(root, head, new_files, f"optimize:{cluster_name}",
                  extra=_bid_extra(entry))


def optimize_files(spark: SparkSession, root: str, rels: list[str],
                   range_col: str, n_files: int = 2) -> int:
    """Targeted OPTIMIZE: rewrite ONLY the given files (a compaction
    planner's selected set — see queries/parity_versioned.
    _compaction_manifest_plan) into `n_files` range-clustered files and
    publish head+1 referencing rewrite + every unselected file BY
    REFERENCE. The planner/executor split of every table service:
    selection is O(manifest) metadata arithmetic, execution is
    O(selected bytes) — healthy files are never opened. Pending
    merge-on-read delete keys hidden in the selected files are applied
    during the rewrite; the delete set itself carries forward (it may
    still hide rows in unselected files). Like optimize()/purge, the
    commit is logically SILENT: rewritten survivor rows cancel in the
    change feed."""
    head = latest_version(root)
    entry = read_entry(root, head)
    unknown = set(rels) - set(entry["files"])
    if unknown:
        raise ValueError(f"not in head snapshot: {sorted(unknown)[:3]}")
    kept = [f for f in entry["files"] if f not in set(rels)]
    df = spark.read.parquet(*[os.path.join(root, f) for f in rels])
    keys = _delete_keys(spark, root, entry)
    if keys is not None:
        df = df.join(keys, on=entry["delete_key_cols"], how="left_anti")
    # `-opt-` in the directory name marks these files as rewritten with
    # every delete key pending at version head+1 already applied — the
    # provenance delete-aware compaction needs to prove them clean without
    # reading log entries (which vacuum may have expired).
    new_files = _write_version_dir(root, head + 1, df, range_col, n_files,
                                   tag="opt-")
    return commit(root, head, kept + new_files, "optimize-files",
                  extra={**_dv_extra(entry), **_bid_extra(entry)})


def rewrite(spark: SparkSession, root: str, df: DataFrame, op: str,
            range_col: str | None = None, n_files: int = 4) -> int:
    """Full-content rewrite as ONE commit — the re-encode shape (a
    quantizer/codebook refresh re-assigning every row of an index table,
    a schema backfill, a re-scoring pass). Unlike optimize(), the commit
    is NOT logically silent: changes_between across it is exactly the
    rows whose values changed — unchanged rows cancel in the multiset
    diff — which is the explicit re-encode change feed downstream
    consumers replay instead of rescanning the table. Any pending
    merge-on-read delete set is consumed and NOT carried forward; the
    exactly-once batch-id watermark does carry, so streamed ingest
    replayed after a refresh still dedupes.

    Pending delete keys are ENFORCED, not assumed: they anti-join onto
    `df` before the write (a no-op when the caller already derived `df`
    from read_version — the normal shape — but a caller handing raw
    replacement content can no longer silently resurrect MoR-deleted
    rows, the hazard class _dv_extra guards on the append path). To
    deliberately restore deleted keys, purge_deletes first. A df missing
    the delete key columns cannot be checked and is refused loudly."""
    head = latest_version(root)
    entry = read_entry(root, head)
    keys = _delete_keys(spark, root, entry)
    if keys is not None:
        kcols = entry["delete_key_cols"]
        if not set(kcols) <= set(df.columns):
            raise ValueError(
                f"rewrite with pending deletes needs key cols {kcols} "
                f"in df (has {df.columns}); purge_deletes first to drop "
                "the pending set deliberately"
            )
        df = df.join(keys, on=kcols, how="left_anti")
    new_files = _write_version_dir(root, head + 1, df, range_col, n_files)
    return commit(root, head, new_files, op, extra=_bid_extra(entry))


def committed_batch_ids(root: str) -> set[int]:
    """Stream batch ids already durably committed — the dedup set behind
    exactly-once ingest. The head entry carries the cumulative set
    (`batch_ids`, maintained by _bid_extra through every commit path), so
    the common case is ONE KB-scale entry read and vacuum expiring old
    stream-append entries cannot lose dedup state. Surviving entries are
    still scanned and unioned in as a backstop for chains containing raw
    commit() calls that did not carry the watermark."""
    head = latest_version(root)
    ids: set[int] = set()
    for v in range(1, head + 1):
        try:
            entry = read_entry(root, v)
        except OSError:  # expired by vacuum; head's batch_ids covers it
            continue
        if "batch_id" in entry:
            ids.add(entry["batch_id"])
        if v == head:
            ids.update(entry.get("batch_ids", []))
    return ids


def commit_stream_batch(spark: SparkSession, root: str, batch_df: DataFrame,
                        batch_id: int, range_col: str | None = None,
                        n_files: int = 2) -> int | None:
    """Exactly-once foreachBatch sink: Structured Streaming re-delivers
    the in-flight batch after a restart (at-least-once), so the sink must
    make the commit idempotent per batch_id — the transactional-sink
    contract (same idempotence rule Delta's streaming writer keys on
    (checkpoint, batchId)). An already-committed id is skipped BEFORE any
    write; a lost commit race re-checks the id because the winner may
    have been another attempt of the same batch. Returns the committed
    version, or None if this batch was already in the log."""
    if batch_id in committed_batch_ids(root):
        return None
    head = latest_version(root)
    new_files = _write_version_dir(root, head + 1, batch_df, range_col,
                                   n_files)
    while True:
        entry = read_entry(root, head) if head else {}
        base = entry.get("files", [])
        watermark = _bid_extra({**entry, "batch_id": batch_id})
        try:
            return commit(root, head, base + new_files, "stream-append",
                          extra={"batch_id": batch_id, **watermark,
                                 **_dv_extra(entry)})
        except CommitConflict:
            if batch_id in committed_batch_ids(root):
                return None  # a concurrent attempt of THIS batch won
            head = latest_version(root)


def commit_stream_delete_batch(spark: SparkSession, root: str,
                               keys_df: DataFrame, batch_id: int,
                               key_cols: list[str]) -> int | None:
    """Exactly-once foreachBatch DELETE sink — the merge-on-read twin of
    commit_stream_batch (round 11, VERDICT r10 #6): each micro-batch of
    takedown KEYS becomes an equality-delete file appended to the head's
    delete set, idempotent per batch_id, so Structured Streaming's
    replay-after-restart cannot double-register (harmless for deletes'
    visibility, but it would grow the delete set and skew purge pruning)
    and a lost commit race re-checks before retrying. Data files are
    untouched — write cost is O(batch keys), the read side applies the
    set as an anti-join (read_version), and purge_deletes reclaims it.
    Returns the committed version, or None if this batch already
    committed."""
    if batch_id in committed_batch_ids(root):
        return None
    head = latest_version(root)
    if head == 0:
        raise ValueError(
            "cannot register stream deletes against an empty table: no "
            "snapshot exists for the delete set to apply to")
    entry = read_entry(root, head)
    if entry.get("delete_key_cols") not in (None, key_cols):
        raise ValueError("delete key columns must be stable per table")
    subdir = os.path.join("data", f"v{head + 1:05d}-{os.getpid()}-sdv-"
                          + os.urandom(4).hex())
    keys_df.select(*key_cols).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(root, subdir))
    new_dv = _rel_parquet_files(root, subdir)
    while True:
        watermark = _bid_extra({**entry, "batch_id": batch_id})
        dv = sorted(entry.get("delete_files", []) + new_dv)
        try:
            return commit(
                root, head, entry["files"], "stream-delete-mor",
                extra={"delete_files": dv, "delete_key_cols": key_cols,
                       "batch_id": batch_id, **watermark},
            )
        except CommitConflict:
            if batch_id in committed_batch_ids(root):
                return None  # a concurrent attempt of THIS batch won
            head = latest_version(root)
            entry = read_entry(root, head)
            # Re-validate against the WINNER's head: if the racing writer
            # committed MoR deletes keyed on different columns, silently
            # carrying its delete_files forward under OUR key schema would
            # make read_version's anti-join drop wrong rows.
            if entry.get("delete_key_cols") not in (None, key_cols):
                raise ValueError(
                    "delete key columns must be stable per table "
                    "(concurrent writer committed a different key set)")


def _branch_path(root: str, name: str) -> str:
    return os.path.join(_log_dir(root), f"branch-{name}.json")


def set_branch(root: str, name: str, version: int) -> None:
    """Point a named branch at a version. Branch moves are the PUBLISH
    primitive of write-audit-publish: staged commits extend the global
    chain but stay invisible to consumers who read the branch, until the
    pointer swings — one tiny atomic metadata write, the same
    pointer-swap an Iceberg branch fast-forward performs. Rollback is the
    identical operation pointed backwards."""
    if not os.path.isfile(_entry_path(root, version)):
        raise ValueError(f"cannot point branch at missing version {version}")
    tmp = _branch_path(root, name) + f".tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump({"branch": name, "version": version}, fh)
    os.replace(tmp, _branch_path(root, name))


def get_branch(root: str, name: str) -> int | None:
    try:
        with open(_branch_path(root, name)) as fh:
            return json.load(fh)["version"]
    except OSError:
        return None


def read_branch(spark: SparkSession, root: str, name: str,
                merge_schema: bool = False) -> DataFrame:
    """The table as the named branch's consumers see it."""
    v = get_branch(root, name)
    if v is None:
        raise ValueError(f"no such branch {name!r}")
    return read_version(spark, root, v, merge_schema=merge_schema)


def _branch_versions(root: str) -> set[int]:
    try:
        names = os.listdir(_log_dir(root))
    except OSError:
        return set()
    out = set()
    for n in names:
        if n.startswith("branch-") and n.endswith(".json"):
            v = get_branch(root, n[len("branch-"):-len(".json")])
            if v is not None:
                out.add(v)
    return out


def clone(src_root: str, dst_root: str, version: int | None = None) -> int:
    """Zero-copy shallow clone: a NEW table whose v1 references the source
    snapshot's bytes without copying them. Files are hard-linked into the
    clone's own data directory, so the clone owns its lifetime: the
    source vacuuming (or deleting) its files later cannot break the clone,
    and the clone's own commits/vacuum never touch the source — the
    isolation contract a table format's shallow clone provides, with
    link-count playing the role of the shared object store's refcount.
    Write cost is O(files) metadata regardless of data size."""
    v = latest_version(src_root) if version is None else version
    entry = read_entry(src_root, v)
    linked = []
    for key in ("files", "delete_files"):
        for rel in entry.get(key, []):
            dst_rel = os.path.join("data", "v00001-clone",
                                   rel.replace(os.sep, "_"))
            dst = os.path.join(dst_root, dst_rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.link(os.path.join(src_root, rel), dst)
            linked.append((key, dst_rel))
    files = [r for k, r in linked if k == "files"]
    dv = [r for k, r in linked if k == "delete_files"]
    extra = ({"delete_files": dv,
              "delete_key_cols": entry["delete_key_cols"]} if dv else {})
    return commit(dst_root, 0, files, f"clone:{src_root}@{v}", extra=extra)


def catalog_commit(catalog_root: str, pins: dict[str, int],
                   parent: int) -> int:
    """Multi-table atomic snapshot: one catalog entry pins a VERSION PER
    TABLE, published with the same create-exclusive link as a table
    commit. Readers resolve the catalog once and read every table at its
    pinned version — a cross-table join can never see table A's new
    commit paired with table B's old one (the consistency gap single-table
    logs leave open, closed the way an Iceberg REST catalog's multi-table
    transaction closes it). `pins` maps table name -> that table's log
    version; the tables' own roots live beside the catalog."""
    version = parent + 1
    os.makedirs(_log_dir(catalog_root), exist_ok=True)
    final = _entry_path(catalog_root, version)
    tmp = final + f".tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump({"version": version, "parent": parent, "op": "catalog",
                   "pins": pins, "files": []}, fh)
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise CommitConflict(
            f"catalog version {version} already committed") from None
    finally:
        os.unlink(tmp)
    return version


def catalog_snapshot(catalog_root: str,
                     version: int | None = None) -> dict[str, int]:
    """The table->version pin map at a catalog version (default head)."""
    v = latest_version(catalog_root) if version is None else version
    entry = read_entry(catalog_root, v)
    if entry.get("op") != "catalog":
        raise ValueError(f"catalog entry expected at version {v}")
    return entry["pins"]


def vacuum(root: str, keep_last: int = 1, grace_seconds: float = 0.0,
           extra_pins: set[int] | None = None) -> dict:
    """Remove data files unreferenced by the `keep_last` most recent
    versions, and the log entries of expired versions. The live file set
    is excluded by construction, so vacuum can never touch current data;
    versions PINNED BY A BRANCH are always retained (their entries and
    files survive regardless of keep_last — a published-or-rollback
    target must stay readable); time travel older than the retention
    window otherwise stops working — exactly the retention contract table
    formats expose. Returns counts.

    `grace_seconds` skips files whose mtime is within the window — the
    Delta-VACUUM-style guard for files a CONCURRENT writer has staged via
    _write_version_dir but not yet committed (they are unreferenced by any
    version until the commit links). In-repo callers serialize vacuum and
    pass 0; any deployment admitting concurrent writers must set this
    above the longest stage-to-commit latency. commit()'s existence check
    is the backstop if the window is mis-set.

    `extra_pins` retains additional version numbers — pass the versions a
    CATALOG snapshot pins for this table (catalog_snapshot values), which
    table-local retention cannot see on its own; vacuuming a catalogued
    table without them can expire a version a catalog reader will resolve.
    Stream-append entries need no such protection: the exactly-once dedup
    set rides forward in every head entry (_bid_extra), so expiring them
    loses no idempotence state."""
    import time

    head = latest_version(root)
    pinned = _branch_versions(root) | set(extra_pins or ())
    retained_versions = set(
        range(max(1, head - keep_last + 1), head + 1)
    ) | pinned
    referenced: set[str] = set()
    for v in sorted(retained_versions):
        try:
            entry = read_entry(root, v)
        except OSError:
            continue  # expired by an earlier, tighter-retention vacuum
        referenced.update(entry["files"])
        referenced.update(entry.get("delete_files", []))
    removed = 0
    cutoff = time.time() - grace_seconds
    data_root = os.path.join(root, "data")
    # Entry-only tables (e.g. a catalog root, whose commits carry files=[])
    # have no data directory at all — nothing to collect.
    subs = sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []
    for sub in subs:
        subdir = os.path.join(data_root, sub)
        for fname in os.listdir(subdir):
            rel = os.path.join("data", sub, fname)
            path = os.path.join(subdir, fname)
            if (fname.endswith(".parquet") and rel not in referenced
                    and os.path.getmtime(path) <= cutoff):
                os.unlink(path)
                removed += 1
        if not os.listdir(subdir):
            shutil.rmtree(subdir)
    expired = 0
    for v in range(1, max(1, head - keep_last + 1)):
        if v in pinned:
            continue
        try:
            os.unlink(_entry_path(root, v))
            expired += 1
        except OSError:
            pass
    return {"n_files_removed": removed, "n_versions_expired": expired,
            "head": head, "n_files_live": len(referenced)}
