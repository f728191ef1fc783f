"""Minimal Delta-style JSON commit log for plain-parquet lake tables.

The swap-based lake mutations in this repo (``sources/sink.py
compact_table``, ``streaming/jobs.py upsert_latest``) commit by renaming
directories — fine on one POSIX filesystem, but the rename pair is not a
single atomic step and readers must list the live directory.  This module
is the stand-in-free alternative: a table is a directory of immutable
versioned data snapshots plus an append-only log of JSON manifests, and
*readers resolve the latest manifest instead of listing data files* —
exactly the core mechanism of Delta Lake / Iceberg (a transaction log of
snapshot manifests; see the Delta Lake paper, Armbrust et al., VLDB 2020),
reduced to what plain files can guarantee:

    table_dir/
      _log/00000000000000000001.json   {"version": 1, "data_dir": "v_...",
                                        "op": "...", "ts_ms": ...}
      _log/00000000000000000002.json
      v_<uuid>/part-*.parquet          (immutable snapshot directories)

Commit protocol (crash-safe by construction, no recovery dance):
  1. write the new snapshot into a fresh ``v_<uuid>`` directory — invisible
     to readers (nothing references it yet);
  2. write the manifest JSON to a temp name, fsync, then ``os.link`` it to
     the next version number — ``link`` is atomic and fails with EEXIST if
     another committer claimed the version first (optimistic concurrency:
     bump and retry; readers never observe a partial manifest).
A crash before step 2 leaves an orphan snapshot directory that no manifest
references — invisible, reclaimed by :meth:`LoggedTable.vacuum`.  A crash
after step 2 is a completed commit.  There is no window where the table is
missing or mixed.

Scale note: manifests carry only {version, data_dir, op, row counts} — a
few hundred bytes regardless of table size — and resolving the latest
manifest is one directory listing of ``_log`` (O(versions), independent of
data file count).  On an object store, ``os.link`` becomes the store's
if-absent put; everything else is unchanged.

Reference parity: lab-etl has no lake/mutation surface at all (SURVEY.md
§2A — one parquet per instrument run); this is §2B lakehouse extension.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: subdirectory holding the manifest log
LOG_DIR = "_log"

#: delta-manifest consolidation cadence: a DML commit records a
#: files_delta against the prior version (bytes ∝ changed files) until
#: the replay chain would reach this depth, then writes the full list —
#: bounding both resolve cost (≤ this many small JSON reads) and
#: amortized manifest bytes (full list every Nth commit).
_MANIFEST_CHECKPOINT_EVERY = 16

#: past this file count, a FULL files list spills to a parquet sidecar
#: (`_log/files_<hex>.parquet`, pyarrow — no Spark needed at resolve
#: time) and the manifest carries only a `files_ref` — so even
#: checkpoint manifests stay KB-sized at millions of files, the
#: Delta/Iceberg checkpoint-parquet shape.  Snappy-compressed columnar
#: beats the inline JSON (2 KB bloom hex per file per column) by ~3-5x
#: on top of keeping the hot JSON path tiny.
_FILES_SIDECAR_THRESHOLD = 2048


def _write_files_sidecar(log_dir: str, files: list[dict]) -> str:
    """Spill a full per-file stats list to `files_<hex>.parquet` under
    the log dir; returns the basename for the manifest's `files_ref`.
    Named by uuid (not version) so a lost commit race cannot collide —
    orphans are reclaimed by vacuum's referenced-set sweep."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    name = f"files_{uuid.uuid4().hex[:12]}.parquet"
    tbl = pa.table(
        {
            "path": pa.array([f["path"] for f in files], pa.string()),
            "rows": pa.array(
                [f.get("rows") for f in files], pa.int64()
            ),
            "min_json": pa.array(
                [json.dumps(f.get("min", {})) for f in files], pa.string()
            ),
            "max_json": pa.array(
                [json.dumps(f.get("max", {})) for f in files], pa.string()
            ),
            "bloom_json": pa.array(
                [
                    json.dumps(f["bloom"]) if f.get("bloom") else None
                    for f in files
                ],
                pa.string(),
            ),
        }
    )
    tmp = os.path.join(log_dir, f".tmp.{name}")
    pq.write_table(tbl, tmp, compression="snappy")
    os.replace(tmp, os.path.join(log_dir, name))
    return name


def _read_files_sidecar(log_dir: str, name: str) -> list[dict]:
    """Load a `files_ref` sidecar back into the in-memory entry list."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(log_dir, name))
    out = []
    for path, rows, mn, mx, bl in zip(
        t["path"].to_pylist(),
        t["rows"].to_pylist(),
        t["min_json"].to_pylist(),
        t["max_json"].to_pylist(),
        t["bloom_json"].to_pylist(),
    ):
        e: dict = {"path": path, "rows": rows,
                   "min": json.loads(mn), "max": json.loads(mx)}
        if bl:
            e["bloom"] = json.loads(bl)
        out.append(e)
    return out

#: commitInfo operation marker for exported deletion-vector no-op versions
#: (merge-on-read state: files unchanged, delete materializes at the next
#: compaction commit) — prev_snapshot_rels walks past these on reconstruction
_DV_NOOP_OP = "PURGE DV (merge-on-read; materialized at a later commit)"


class CommitConflict(RuntimeError):
    """The table advanced between a read-modify-write's READ and its
    COMMIT: the inputs the new version was computed from are stale, and
    claiming the next slot anyway would silently DROP the intervening
    commit's changes (a purge_dv that unioned an outdated DV, a
    compaction of a superseded snapshot).  Callers retry the whole
    read-modify-write, exactly Delta/Iceberg optimistic concurrency.
    Blind appends (full-rewrite overwrites, where last-writer-wins IS
    the semantic) keep the plain bump-and-retry path by not passing
    ``expect_version``."""

#: zero-padded width of manifest filenames (lexicographic == numeric order)
_W = 20

#: DV rows under this bound broadcast in _apply_dv (a few hundred MB of
#: (string, long) pairs at the top end); a DV past it falls back to a
#: shuffled anti-join — the compact_dv signal.  The DV writers shard
#: their sidecar files on the same bound so no single write task ever
#: has to serialize a bulk-delete DV alone.
_DV_BROADCAST_ROWS = 5_000_000


def _manifest_schema(m: dict):
    """The widened StructType recorded by an additive schema-evolution
    commit (``upsert_dv``/``append_logged`` with a superset batch), or
    None when the snapshot's footers are uniform.  Readers apply it as
    the EXPLICIT scan schema: files written before the evolution
    NULL-backfill the new columns per file — no mergeSchema footer
    sweep, which at 100 TB would read every footer just to plan."""
    s = m.get("schema")
    if s is None:
        return None
    from pyspark.sql import types as T

    return T.StructType.fromJson(json.loads(s))


def _snapshot_read(spark: SparkSession, m: dict):
    """DataFrameReader for one manifest's snapshot — explicit schema
    when the manifest records an evolved one, footer-resolved
    otherwise."""
    reader = spark.read
    sch = _manifest_schema(m)
    return reader.schema(sch) if sch is not None else reader


def _dv_file_expr(data_rel: str):
    """Deletion-vector file key: the path RELATIVE to the snapshot dir,
    not the basename — one partitioned write job reuses the SAME
    part-file basename in every partition directory (part-00000-<job
    uuid> under p=0/ and p=1/), so basename keying would conflate rows
    across partitions and delete innocents.  ``data_rel`` is the
    manifest's ``v_<hex>`` name — regex-inert by construction for
    internally-generated names, and near-inert for caller-supplied ones
    by ``commit()``'s ``[A-Za-z0-9_.-]+`` validation; ``.`` is the one
    allowed character that IS a live metachar in the interpolated Java
    pattern (a dotted name like ``v.1`` would also match ``v=1``, letting
    the greedy ``.*`` anchor past the snapshot root and mis-key DV rows),
    so it is escaped here.  The greedy ``.*`` then anchors on the LAST
    occurrence, so a same-named segment earlier in the absolute path
    cannot mis-key."""
    return F.regexp_replace(
        F.col("_metadata.file_path"),
        ".*/{}/".format(data_rel.replace(".", "[.]")),
        "",
    )


class LoggedTable:
    """A plain-parquet table with a Delta-style manifest log."""

    def __init__(self, table_dir: str):
        self.table_dir = table_dir
        self.log_dir = os.path.join(table_dir, LOG_DIR)
        # version -> (files, stats_temporal, depth) memo for resolved
        # incremental manifests (see _resolve_manifest)
        self._files_cache: dict[int, tuple[list, list, int]] = {}

    # -- log primitives ----------------------------------------------------

    def versions(self) -> list[int]:
        try:
            names = os.listdir(self.log_dir)
        except FileNotFoundError:
            return []
        out = []
        for n in names:
            stem, ext = os.path.splitext(n)
            if ext == ".json" and len(stem) == _W and stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def manifest(self, version: int) -> dict:
        with open(
            os.path.join(self.log_dir, f"{version:0{_W}d}.json")
        ) as f:
            return self._resolve_manifest(json.load(f))

    def _resolve_manifest(self, m: dict) -> dict:
        """Resolve an INCREMENTAL manifest into the full per-file view.

        A DML commit on a stats-bearing table records ``files_delta:
        {base, add, remove}`` against the prior version instead of
        rewriting the whole ``files`` list — manifest bytes per commit
        scale with the CHANGED files, not the table's file count (the
        same add/remove vocabulary ``export_delta_log`` speaks).  Every
        manifest dict this class hands out is resolved: ``m["files"]``
        is reconstructed by replaying the delta chain back to the
        nearest full manifest (chain length bounded by
        ``_MANIFEST_CHECKPOINT_EVERY`` — writers consolidate past it),
        memoized per instance, and ``m["_files_depth"]`` records the
        chain position so writers know when to checkpoint.  Inherited
        entries stay valid verbatim across linked snapshots because
        file paths are snapshot-RELATIVE and assembly preserves them."""
        d = m.get("files_delta")
        ref = m.get("files_ref")
        if d is None and ref is None:
            m["_files_depth"] = 0
            return m
        v = m["version"]
        cached = self._files_cache.get(v)
        if cached is None:
            if ref is not None:
                # sidecar-backed full list: a checkpoint, depth 0
                cached = (
                    _read_files_sidecar(self.log_dir, ref),
                    m.get("stats_temporal", []),
                    0,
                )
            else:
                base = self.manifest(d["base"])
                removed = set(d.get("remove", []))
                files = [
                    f
                    for f in base.get("files", [])
                    if f["path"] not in removed
                ] + list(d.get("add", []))
                temporal = sorted(
                    set(base.get("stats_temporal", []))
                    | set(m.get("stats_temporal", []))
                )
                cached = (
                    files, temporal, base.get("_files_depth", 0) + 1
                )
            self._files_cache[v] = cached
            # bound the memo for LONG-LIVED instances (the streaming CDC
            # sink holds one table across every micro-batch): old
            # versions' resolved lists are dead weight once vacuum drops
            # them — keep the newest few chains' worth
            if len(self._files_cache) > 4 * _MANIFEST_CHECKPOINT_EVERY:
                for old_v in sorted(self._files_cache)[
                    : -2 * _MANIFEST_CHECKPOINT_EVERY
                ]:
                    del self._files_cache[old_v]
        m["files"], m["stats_temporal"], m["_files_depth"] = cached
        return m

    def latest(self) -> dict | None:
        vs = self.versions()
        return self.manifest(vs[-1]) if vs else None

    # -- read / write ------------------------------------------------------

    def read(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """Scan ONLY the snapshot directory of one manifest — the latest by
        default, or an explicit ``version`` (time travel: every manifest
        still in the log resolves to an immutable snapshot, so historical
        reads cost the same one-manifest lookup as current ones).

        The returned plan is pinned to that snapshot: later commits write
        new directories and never touch this one, so a lazy reader
        collected mid-compaction still sees a consistent version (until
        :meth:`vacuum` reclaims it).
        """
        if version is None:
            m = self.latest()
            if m is None:
                raise FileNotFoundError(f"no commits in {self.log_dir}")
        else:
            m = self.manifest(version)
        df = _snapshot_read(spark, m).parquet(
            os.path.join(self.table_dir, m["data_dir"])
        )
        return self._apply_dv(spark, df, m)

    def _apply_dv(
        self, spark: SparkSession, df: DataFrame, m: dict
    ) -> DataFrame:
        """Merge-on-read: subtract the manifest's deletion vector (if any)
        from a snapshot scan — an anti-join on (file basename, row index
        within file), both exposed by Spark's parquet ``_metadata``
        struct, so deleted rows vanish from EVERY reader that resolves
        the manifest without any data file having been rewritten.

        The DV side is broadcast when small (its row count is recorded in
        the manifest at commit time — no extra job to decide), which
        keeps the subtraction a map-side hash anti-join: zero shuffle of
        the table.  A DV grown past broadcast size falls back to a
        shuffled anti-join — the signal that :func:`compact_dv` is due.
        """
        dv_rel = m.get("dv_dir")
        if not dv_rel:
            return df
        if "_dv_file" in df.columns or "_dv_pos" in df.columns:
            # withColumns would silently OVERWRITE a user column of the
            # same name and drop it after the join — data loss; refuse
            raise ValueError(
                "table columns _dv_file/_dv_pos collide with the "
                "deletion-vector reader's internal names"
            )
        dv = spark.read.parquet(os.path.join(self.table_dir, dv_rel))
        if m.get("dv_rows", 0) <= _DV_BROADCAST_ROWS:
            dv = F.broadcast(dv)
        src = df.withColumns(
            {
                "_dv_file": _dv_file_expr(m["data_dir"]),
                "_dv_pos": F.col("_metadata.row_index"),
            }
        )
        return (
            src.join(
                dv,
                (src["_dv_file"] == dv["file"])
                & (src["_dv_pos"] == dv["pos"]),
                "left_anti",
            )
            .drop("_dv_file", "_dv_pos")
        )

    def read_pruned(
        self,
        spark: SparkSession,
        intervals: dict[str, tuple],
        version: int | None = None,
    ) -> DataFrame:
        """Scan only the snapshot files whose manifest stats ranges overlap
        every ``{col: (lo, hi)}`` interval (inclusive bounds; pass None for
        an open end).  Falls back to the full snapshot when the manifest
        carries no stats.

        This is file-level data skipping resolved from the MANIFEST — no
        directory listing, no parquet footer reads for skipped files — the
        read-side half of Delta/Iceberg stats pruning.  Callers must still
        apply the exact row-level predicate on the returned frame: stats
        only bound which files may contain matches (min/max overlap is
        necessary, not sufficient).  Bounds compare with the same ordering
        the stats were stored in (numerics natively; temporal types as ISO
        strings, whose lexicographic order is chronological).
        """
        m = (
            self.latest() if version is None else self.manifest(version)
        )
        if m is None:
            raise FileNotFoundError(f"no commits in {self.log_dir}")
        files = m.get("files")
        base = os.path.join(self.table_dir, m["data_dir"])
        if not files:
            return self._apply_dv(
                spark, _snapshot_read(spark, m).parquet(base), m
            )
        # manifests written since stats were typed carry the list of
        # temporal stats columns; older manifests (None) fall back to
        # ISO-sniffing every string, the legacy behavior
        temporal = m.get("stats_temporal")
        keep = []
        for f in files:
            ok = True
            for col, (lo, hi) in intervals.items():
                is_temporal = col in temporal if temporal is not None else None
                fmin = _canon_stat(f["min"].get(col), is_temporal)
                fmax = _canon_stat(f["max"].get(col), is_temporal)
                lo_c = _canon_stat(lo, is_temporal)
                hi_c = _canon_stat(hi, is_temporal)
                if fmin is None or fmax is None:
                    continue  # no stats for this column: cannot skip
                if (hi_c is not None and fmin > hi_c) or (
                    lo_c is not None and fmax < lo_c
                ):
                    ok = False
                    break
            if ok:
                keep.append(os.path.join(base, f["path"]))
        if not keep:
            # schema-stable empty frame: footer-only scan of the snapshot
            return _snapshot_read(spark, m).parquet(base).filter("1 = 0")
        # basePath keeps partition-directory columns (p=0/...) visible
        # when scanning an explicit file subset
        return self._apply_dv(
            spark,
            _snapshot_read(spark, m).option("basePath", base).parquet(*keep),
            m,
        )

    def commit(
        self,
        write_fn: Callable[[str], None] | None,
        op: str = "overwrite",
        meta: dict | None = None,
        spark: SparkSession | None = None,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        data_dir: str | None = None,
        expect_version: int | None = None,
    ) -> dict:
        """Run ``write_fn(new_snapshot_dir)`` and atomically publish it.

        ``write_fn`` receives an absolute path that does not exist yet and
        must leave a readable parquet directory there (any writer works:
        ``df.write.parquet``, ``operators/zorder.write_zordered``, a
        compaction job, ...).  Returns the committed manifest.

        With ``spark`` + ``stats_cols``, the manifest additionally records
        per-file MIN/MAX for those columns (Delta-style data-skipping
        stats): one footer-cheap aggregate over ``_metadata.file_path``
        after the write, a few hundred bytes per file in the manifest.
        Readers then call :meth:`read_pruned` to skip whole files whose
        stats range cannot satisfy an interval predicate — skipping
        happens at MANIFEST level, before any parquet footer is opened.

        ``data_dir`` (relative, with ``write_fn=None``) publishes a
        manifest REUSING an existing snapshot directory instead of
        writing one — the metadata-only commit deletion vectors need
        (:func:`purge_dv`: same immutable data files, new sidecar), and
        the commit shape of :func:`compact_dv` (whose data dir was
        assembled out-of-band from hardlinks + rewritten files).

        ``expect_version`` declares a READ-MODIFY-WRITE: the caller
        computed this commit from the table as of version
        ``expect_version - 1`` and must land exactly at
        ``expect_version``; if the table advanced in between, the claim
        raises :class:`CommitConflict` instead of silently publishing a
        version that drops the intervening commit's changes.  Omit it
        for blind full-rewrite appends, where bump-and-retry
        (last-writer-wins) is the intended semantic.
        """
        if data_dir is not None:
            # The relative name is later interpolated into the DV file-key
            # regex (_dv_file_expr) and joined under table_dir; restrict it
            # to a single regex-inert path segment so a caller-supplied
            # name can neither mis-key DV rows (metachars, or a segment
            # that also appears earlier in the absolute path) nor escape
            # the table directory.
            if not re.fullmatch(r"[A-Za-z0-9_.-]+", data_dir) or (
                data_dir in (".", "..")
            ):
                raise ValueError(
                    f"data_dir {data_dir!r} must be a single relative "
                    f"path segment matching [A-Za-z0-9_.-]+ (it is "
                    f"interpolated into the deletion-vector file-key "
                    f"regex and must stay regex-inert)"
                )
            data_rel = data_dir
        else:
            data_rel = f"v_{uuid.uuid4().hex[:12]}"
            abs_dir = os.path.join(self.table_dir, data_rel)
            write_fn(abs_dir)
        if data_dir is None and spark is not None and (
            stats_cols or bloom_cols
        ):
            files, temporal = _file_stats(spark, abs_dir, stats_cols or [])
            if bloom_cols:
                blooms = _file_blooms(spark, abs_dir, bloom_cols)
                for f in files:
                    f["bloom"] = blooms.get(f["path"], {})
            # record which stats columns are date/timestamp-typed so
            # read_pruned canonicalizes exactly those — sniffing
            # ISO-parsability of arbitrary strings at read time
            # misclassifies genuinely string-typed stats (e.g. an
            # '2024-01-15'-shaped id) and then raises on comparison
            meta = {**(meta or {}), "files": files,
                    "stats_temporal": sorted(temporal)}
        os.makedirs(self.log_dir, exist_ok=True)
        while True:
            version = (self.versions() or [0])[-1] + 1
            if expect_version is not None and version != expect_version:
                raise CommitConflict(
                    f"read-modify-write computed from version "
                    f"{expect_version - 1} but the table is now at "
                    f"{version - 1}: recompute from the current latest "
                    f"(landing anyway would drop the intervening "
                    f"commit's changes)"
                )
            m = {
                "version": version,
                "data_dir": data_rel,
                "op": op,
                "ts_ms": int(time.time() * 1000),
                **(meta or {}),
            }
            if (
                len(m.get("files") or ()) > _FILES_SIDECAR_THRESHOLD
            ):
                m["files_ref"] = _write_files_sidecar(
                    self.log_dir, m.pop("files")
                )
            tmp = os.path.join(
                self.log_dir, f".tmp.{uuid.uuid4().hex[:8]}.json"
            )
            with open(tmp, "w") as f:
                json.dump(m, f)
                f.flush()
                os.fsync(f.fileno())
            final = os.path.join(self.log_dir, f"{version:0{_W}d}.json")
            try:
                os.link(tmp, final)  # atomic claim; EEXIST => lost the race
                os.unlink(tmp)
                # hand back the RESOLVED view (files_delta replayed into
                # files) so callers see the same shape manifest() returns
                return self._resolve_manifest(m)
            except FileExistsError:
                os.unlink(tmp)  # another committer won this version: retry

    # -- maintenance -------------------------------------------------------

    def vacuum(self, keep: int = 2) -> list[str]:
        """Drop snapshot dirs not referenced by the newest ``keep``
        manifests (plus orphans from crashed commits), and their manifests.

        ``keep >= 1``; keeping >1 version gives in-flight lazy readers a
        grace window, the file-based analogue of Delta's retention period.
        Returns the removed directory names.
        """
        vs = self.versions()
        keep = max(keep, 1)
        live: set[str] = set()
        for v in vs[-keep:]:
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                continue  # concurrent vacuum with a smaller keep
                # unlinked it between versions() and here
            live.add(m["data_dir"])
            if m.get("dv_dir"):
                live.add(m["dv_dir"])
        removed = []
        now = time.time()
        referenced: set[str] = set()
        for v in vs:
            try:
                mm = self.manifest(v)
            except FileNotFoundError:
                continue  # concurrent vacuum unlinked it; its dirs just
                # fall back to the 2h un-manifested grace below
            referenced.add(mm["data_dir"])
            if mm.get("dv_dir"):
                referenced.add(mm["dv_dir"])
        for name in os.listdir(self.table_dir):
            path = os.path.join(self.table_dir, name)
            if (
                name.startswith(("v_", "dv_"))
                and name not in live
                and os.path.isdir(path)
            ):
                # a dir referenced by NO manifest at all is either a
                # crashed commit's orphan or — the hazard — a CONCURRENT
                # writer's fully-assembled snapshot/sidecar in the gap
                # between assembly and its commit() claim; only age can
                # tell them apart, so un-manifested dirs get the same 2h
                # grace as stage_* dirs.  Dirs referenced by a DROPPED
                # manifest were committed history and reclaim instantly.
                if name not in referenced and (
                    now - os.path.getmtime(path) <= 7200.0
                ):
                    continue
                shutil.rmtree(path, ignore_errors=True)
                removed.append(name)
            elif name.startswith("stage_") or name.startswith(
                (".dv.", ".upsert.", ".compact.")
            ):
                # crashed-operation staging (visible "stage_*" since
                # round 12; the dot-prefixed spellings are legacy): never
                # referenced by any manifest, but a CONCURRENT writer's
                # in-flight staging looks identical — reclaim only past
                # a 2h horizon (no single DML operation legitimately
                # stages that long)
                try:
                    if os.path.isdir(path) and (
                        now - os.path.getmtime(path) > 7200.0
                    ):
                        shutil.rmtree(path, ignore_errors=True)
                        removed.append(name)
                except FileNotFoundError:
                    pass  # a concurrent vacuum reclaimed it after listdir
        if len(vs) > keep:
            # CONSOLIDATE before unlinking: the oldest KEPT manifest may
            # be an incremental delta whose replay chain runs through
            # the manifests about to be dropped.  Delta bases are always
            # version-1 (expect_version pins DML commits contiguous), so
            # rewriting just vs[-keep] with its resolved full files list
            # makes every kept chain self-contained.  os.replace is
            # atomic; a reader sees either the delta (chain still
            # intact — this runs BEFORE the unlinks) or the identical
            # resolved view.
            v0 = vs[-keep]
            p0 = os.path.join(self.log_dir, f"{v0:0{_W}d}.json")
            try:
                with open(p0) as f:
                    raw = json.load(f)
            except (OSError, ValueError):
                raw = None
            if raw is not None and "files_delta" in raw:
                resolved = self._resolve_manifest(dict(raw))
                full = resolved["files"]
                if len(full) > _FILES_SIDECAR_THRESHOLD:
                    raw["files_ref"] = _write_files_sidecar(
                        self.log_dir, full
                    )
                else:
                    raw["files"] = full
                raw["stats_temporal"] = resolved.get("stats_temporal", [])
                raw.pop("files_delta", None)
                tmp = p0 + f".tmp{uuid.uuid4().hex[:8]}"
                with open(tmp, "w") as f:
                    json.dump(raw, f)
                    f.flush()
                    os.fsync(f.fileno())
                os.replace(tmp, p0)
                # the consolidated version's depth changed: drop memos
                # so later resolves re-anchor on the new checkpoint
                self._files_cache.clear()
            for v in vs[:-keep]:
                try:
                    os.unlink(
                        os.path.join(self.log_dir, f"{v:0{_W}d}.json")
                    )
                except FileNotFoundError:
                    pass  # a concurrent vacuum unlinked it first
            # sweep files_* sidecars no surviving manifest references —
            # with the same 2h age grace as un-manifested snapshot dirs
            # (a CONCURRENT commit writes its sidecar BEFORE claiming
            # the manifest link, and must not lose it mid-gap)
            live_refs = set()
            for v in self.versions():
                try:
                    with open(
                        os.path.join(self.log_dir, f"{v:0{_W}d}.json")
                    ) as f:
                        r = json.load(f).get("files_ref")
                    if r:
                        live_refs.add(r)
                except FileNotFoundError:
                    pass  # vacuumed concurrently since versions() listed it
            for name in os.listdir(self.log_dir):
                if not (
                    name.startswith(("files_", ".tmp.files_"))
                    and name.endswith(".parquet")
                ):
                    continue
                if name in live_refs:
                    continue
                sp = os.path.join(self.log_dir, name)
                try:
                    if now - os.path.getmtime(sp) > 7200.0:
                        os.unlink(sp)
                        removed.append(name)
                except FileNotFoundError:
                    pass  # a concurrent vacuum reclaimed it after listdir
        return removed


def purge_logged(
    spark: SparkSession,
    table: LoggedTable,
    predicate,
) -> dict:
    """Right-to-be-forgotten rewrite as a log commit: materialize a new
    snapshot EXCLUDING rows matching ``predicate`` (a Column), publish it
    by manifest append, and record how many rows were dropped.

    Readers pinned to earlier versions still see the purged rows until
    :meth:`LoggedTable.vacuum` reclaims those snapshots — which is the
    actual deletion step for compliance purposes, exactly as in Delta's
    DELETE + VACUUM two-phase story.  At 100 TB the rewrite is one
    filtered scan-and-write (no shuffle), and with a partitioned/z-ordered
    layout only files whose min/max overlap the predicate would need
    rewriting."""
    from pyspark.sql import functions as F

    m0 = table.latest()
    if m0 is None:
        raise FileNotFoundError(f"no commits in {table.log_dir}")
    df = table.read(spark, version=m0["version"])
    # SQL DELETE semantics: drop only rows where the predicate is TRUE —
    # a NULL evaluation (e.g. a NULL key under an equality predicate)
    # must SURVIVE, matching purge_dv and every engine's DELETE; a bare
    # where(~predicate) would silently drop NULL rows too (three-valued
    # logic: NOT NULL is NULL, and where() keeps only TRUE)
    keep = ~F.coalesce(predicate, F.lit(False))
    counts = df.groupBy().agg(
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(predicate, 1)).alias("purged"),
    ).collect()[0]
    m = table.commit(
        lambda d: df.where(keep).write.parquet(d),
        op="purge",
        meta={
            "rows_before": counts["total"],
            "rows_purged": counts["purged"],
        },
        # read-modify-write: the filtered rewrite was computed from
        # m0 — landing later would drop an intervening commit
        expect_version=m0["version"] + 1,
    )
    return m


#: caps on the Python-side bloom candidate computation: distinct probe
#: values, and (value x file) big-int AND operations (~1-2 s at the cap)
_BLOOM_PROBE_VALUE_CAP = 10_000
_BLOOM_PROBE_PAIR_CAP = 2_000_000


def _bloom_probe_type_safe(df: DataFrame, col: str) -> bool:
    """True when Python's str(value) is guaranteed to equal Spark's
    CAST(col AS STRING) — the parity the bloom probe positions depend
    on.  Only integral and string types qualify; timestamps (Python
    microsecond suffix), floats (scientific-notation thresholds), and
    decimals (scale rendering) all diverge, and a diverged probe does
    not degrade gracefully — it reports the true file as a
    NON-candidate, so a DV probe would silently strand the old row.
    Unsafe types simply skip pruning (full scan = always correct)."""
    try:
        dt = df.schema[col].dataType
    except KeyError:
        return False
    return dt.typeName() in {"byte", "short", "integer", "long", "string"}


def _bloom_candidates(
    m: dict, col: str, values: list
) -> tuple[list[str], int] | None:
    """Manifest-level candidate files for a point-set probe on ``col``:
    files whose recorded bloom passes for AT LEAST one value, plus every
    file without a bloom for the column (appended by an upsert, or
    committed before blooms — cannot skip).  Returns ``(paths, total)``,
    or None when the manifest carries no blooms for the column or the
    probe exceeds the Python-side caps (a probe that large touches most
    files anyway).  No false negatives: a value present in a file was
    recorded in its bloom at commit time."""
    files_meta = m.get("files")
    if not files_meta or not any(
        f.get("bloom", {}).get(col) for f in files_meta
    ):
        return None
    if (
        len(values) > _BLOOM_PROBE_VALUE_CAP
        or len(values) * len(files_meta) > _BLOOM_PROBE_PAIR_CAP
    ):
        return None
    masks = []
    for v in values:
        mk = 0
        for p in _fbloom_positions(v):
            mk |= 1 << p
        masks.append(mk)
    keep = []
    for f in files_meta:
        hexmap = f.get("bloom", {}).get(col)
        if hexmap is None:
            keep.append(f["path"])
            continue
        b = 0
        for i in range(len(hexmap) // 16):
            b |= int(hexmap[i * 16 : (i + 1) * 16], 16) << (64 * i)
        if any((b & mk) == mk for mk in masks):
            keep.append(f["path"])
    return keep, len(files_meta)


def _write_dv(
    spark: SparkSession, table_dir: str, matches: DataFrame
) -> tuple[str, str, int]:
    """Write a deletion-vector sidecar with a row-count-aware shard
    count and return ``(dv_rel, dv_abs, dv_rows)``.

    The matches join runs ONCE, into a staging dir with its natural task
    parallelism (no coalesce(1) choke: a bulk-delete DV must not
    serialize through one write task).  The staged files are then
    footer-counted (metadata-only — no second evaluation of the join)
    and re-sharded to ``ceil(rows / _DV_BROADCAST_ROWS)`` files: one
    file for the common compliance-delete-sized DV (a single broadcast
    build on the read side), N balanced files for a bulk delete that
    outgrows the broadcast bound — whose read side falls back to the
    shuffled anti-join anyway, and which is exactly the compact_dv
    trigger.  Re-shard bytes are ∝ DV size, never ∝ table size."""
    # staging name is VISIBLE (no leading dot): Spark's file index
    # ignores hidden roots, which silently empties reads of a dot-named
    # staging dir when the batch wrote zero visible part files; vacuum
    # reclaims crashed "stage_" dirs past its 2h horizon
    tmp = os.path.join(table_dir, f"stage_dv_{uuid.uuid4().hex[:8]}")
    matches.write.parquet(tmp)
    staged = spark.read.parquet(tmp)
    dv_rows = staged.count()  # parquet footer count: no recompute
    shards = max(1, -(-dv_rows // _DV_BROADCAST_ROWS))
    n_files = sum(
        1
        for n in os.listdir(tmp)
        if n.endswith(".parquet") and not n.startswith(("_", "."))
    )
    dv_rel = f"dv_{uuid.uuid4().hex[:12]}"
    dv_abs = os.path.join(table_dir, dv_rel)
    if n_files == shards:
        os.rename(tmp, dv_abs)
    else:
        # repartition (not coalesce) so bulk shards balance; the input
        # is the just-written sidecar, so the extra pass moves DV bytes
        # only
        staged.repartition(shards).write.parquet(dv_abs)
        shutil.rmtree(tmp, ignore_errors=True)
    return dv_rel, dv_abs, dv_rows


def purge_dv(
    spark: SparkSession,
    table: LoggedTable,
    predicate=None,
    point: tuple | None = None,
) -> dict:
    """Row-level delete WITHOUT rewriting the table: a deletion-vector
    commit (Delta deletion vectors / Iceberg position deletes — the
    merge-on-read half of DELETE).

    :func:`purge_logged` implements right-to-be-forgotten as a filtered
    full-snapshot rewrite — at 100 TB a single-user purge rewriting the
    whole table is the scale-killer of compliance ops.  This commits only
    METADATA-plus-matches instead:

      1. one filtered scan finds the matching rows' (file basename,
         row index) via the parquet ``_metadata`` struct — the predicate
         pushes down, so only matching row groups' pages are decoded and
         only the tiny match set moves;
      2. the positions (unioned with any existing DV — deletes
         accumulate) are written as a parquet sidecar ``dv_*`` dir,
         bytes ∝ deleted rows, never ∝ table size;
      3. the manifest commit REUSES the previous snapshot's immutable
         ``data_dir`` and records ``dv_dir``/``dv_rows`` — every reader
         (:meth:`LoggedTable.read`, :meth:`read_pruned`) then subtracts
         the DV via a broadcast anti-join at scan time.

    Readers pinned to earlier versions still see the rows, and the BYTES
    remain in the data files until :func:`compact_dv` rewrites the
    affected files and :meth:`LoggedTable.vacuum` reclaims the old
    snapshot — the same DELETE → REWRITE → VACUUM compliance ladder as
    Delta's, with the expensive rung now optional and lazy.

    ``point=(col, value)`` declares the compliance shape ("delete THIS
    user"): when the manifest carries membership blooms for ``col``,
    the probe scans only candidate files instead of the whole table
    (:func:`_bloom_candidates` — no false negatives; the predicate
    still applies exactly, so bloom false positives only cost an extra
    file scan).  The manifest records probe_files_scanned/total.

    Because the bloom prune only covers files that may contain
    ``col == value``, a caller ``predicate`` broader than the point
    would silently strand rows outside the candidate set.  The
    effective predicate is therefore CONFINED to the point by
    construction: ``col == value`` when ``predicate`` is omitted, else
    ``(col == value) AND predicate`` — a broader predicate narrows to
    its point-scoped subset rather than silently missing rows."""
    if predicate is None and point is None:
        raise ValueError("purge_dv needs a predicate, a point, or both")
    if point is not None:
        point_pred = F.col(point[0]) == F.lit(point[1])
        predicate = (
            point_pred if predicate is None else point_pred & predicate
        )
    for _attempt in range(5):
        m = table.latest()
        if m is None:
            raise FileNotFoundError(f"no commits in {table.log_dir}")
        base = os.path.join(table.table_dir, m["data_dir"])
        scan, probe_files = _snapshot_read(spark, m).parquet(base), None
        if point is not None and _bloom_probe_type_safe(scan, point[0]):
            cand = _bloom_candidates(m, point[0], [point[1]])
            if cand is not None:
                keep, total = cand
                probe_files = (len(keep), total)
                if not keep:
                    scan = scan.filter("1 = 0")
                elif len(keep) < total:
                    scan = _snapshot_read(spark, m).option(
                        "basePath", base
                    ).parquet(*[os.path.join(base, p) for p in keep])
        matches = scan.filter(predicate).select(
            _dv_file_expr(m["data_dir"]).alias("file"),
            F.col("_metadata.row_index").alias("pos"),
        )
        old_rows = int(m.get("dv_rows", 0))
        if m.get("dv_dir"):
            old_dv = spark.read.parquet(
                os.path.join(table.table_dir, m["dv_dir"])
            )
            matches = matches.unionByName(old_dv).distinct()
        dv_rel, dv_abs, dv_rows = _write_dv(spark, table.table_dir, matches)
        meta: dict = {
            "probe_files_scanned": probe_files[0],
            "probe_files_total": probe_files[1],
        } if probe_files is not None else {}
        meta |= {
            "dv_dir": dv_rel,
            "dv_rows": dv_rows,
            "rows_purged": dv_rows - old_rows,
        }
        # inherit the snapshot's per-file skipping stats/blooms: the data
        # files are unchanged, so their min/max remain (conservative)
        # bounds — read_pruned keeps skipping files under merge-on-read
        # instead of degrading to a full scan after every purge.  The
        # inheritance is an EMPTY delta (same files, same snapshot dir)
        # until the checkpoint cadence, so a purge's manifest bytes are
        # O(1), not O(table file count)
        if "files" in m:
            if m.get("_files_depth", 0) + 1 < _MANIFEST_CHECKPOINT_EVERY:
                meta["files_delta"] = {
                    "base": m["version"], "add": [], "remove": [],
                }
            else:
                meta["files"] = m["files"]
            meta["stats_temporal"] = m.get("stats_temporal", [])
        if m.get("schema"):
            meta["schema"] = m["schema"]
        try:
            # read-modify-write: the DV was UNIONED with version
            # m.version's DV over m.version's files — landing on any
            # later version would drop a concurrent commit's changes
            return table.commit(
                None,
                op="purge_dv",
                meta=meta,
                data_dir=m["data_dir"],
                expect_version=m["version"] + 1,
            )
        except CommitConflict:
            # a concurrent commit won: drop this attempt's sidecar and
            # recompute against the new latest
            shutil.rmtree(dv_abs, ignore_errors=True)
    raise CommitConflict(
        f"purge_dv lost the commit race 5 times in {table.log_dir}"
    )


def compact_dv(spark: SparkSession, table: LoggedTable) -> dict:
    """Lazy materialization of accumulated deletion vectors: rewrite ONLY
    the files the DV touches, hardlink every untouched file into the new
    snapshot, and commit a DV-free manifest.

    Bytes rewritten scale with AFFECTED FILES, not table size (pinned by
    tests/test_commitlog.py: untouched files keep their inode — zero
    bytes copied; on an object store the hardlink step becomes the new
    manifest referencing the old objects, as Delta/Iceberg manifests
    do).  After this commit the purged rows' bytes still exist in the
    OLD snapshot's affected files until :meth:`LoggedTable.vacuum`
    drops it — vacuum remains the actual compliance deletion."""
    m = table.latest()
    if m is None:
        raise FileNotFoundError(f"no commits in {table.log_dir}")
    dv_rel = m.get("dv_dir")
    if not dv_rel:
        return m  # nothing to materialize
    base = os.path.join(table.table_dir, m["data_dir"])
    dv = spark.read.parquet(os.path.join(table.table_dir, dv_rel))
    from urllib.parse import unquote

    affected = {
        unquote(r["file"])
        for r in dv.select("file").distinct().collect()
    }  # one snapshot-relative path per affected FILE — manifest-sized.
    # unquote: DV keys come from the _metadata.file_path URI (a space in
    # a partition value arrives as %20), while the walk below compares
    # RAW filesystem paths — without decoding, the affected file would be
    # hardlinked as "untouched" and the purged rows RESURRECTED (or the
    # rewrite would crash PATH_NOT_FOUND joining the encoded rel)
    new_rel = f"v_{uuid.uuid4().hex[:12]}"
    new_abs = os.path.join(table.table_dir, new_rel)
    os.makedirs(new_abs)
    linked_rels: set[str] = set()
    for root, _dirs, names in os.walk(base):
        for n in sorted(names):
            if not n.endswith(".parquet") or n.startswith(("_", ".")):
                continue
            rel = os.path.relpath(os.path.join(root, n), base)
            if rel not in affected:
                # zero-copy carry-over: same inode, no bytes moved (the
                # POSIX analogue of a manifest referencing existing
                # objects); partition subdirs are preserved
                dst = os.path.join(new_abs, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.link(os.path.join(root, n), dst)
                linked_rels.add(rel)
    linked = len(linked_rels)
    # rewrite grouped by partition DIRECTORY: each affected dir's
    # survivors are written back INTO that dir (partition-dir columns
    # dropped from the data — they stay dir-encoded, so the compacted
    # snapshot reads identically to the original layout).  Deletes
    # usually touch few partitions, so few jobs.
    by_dir: dict[str, list[str]] = {}
    for rel in sorted(affected):
        by_dir.setdefault(os.path.dirname(rel), []).append(rel)
    for d, rels in sorted(by_dir.items()):
        src = _snapshot_read(spark, m).option("basePath", base).parquet(
            *[os.path.join(base, r) for r in rels]
        )
        kept = table._apply_dv(spark, src, m)
        part_cols = [
            seg.split("=", 1)[0]
            for seg in (d.split(os.sep) if d else [])
            if "=" in seg
        ]
        if part_cols:
            kept = kept.drop(*part_cols)
        tmp = os.path.join(
            table.table_dir, f"stage_compact_{uuid.uuid4().hex[:8]}"
        )
        kept.write.parquet(tmp)
        dest = os.path.join(new_abs, d) if d else new_abs
        os.makedirs(dest, exist_ok=True)
        for n in os.listdir(tmp):
            if n.endswith(".parquet") and not n.startswith(("_", ".")):
                # fresh write-job UUIDs cannot collide with linked names
                os.rename(os.path.join(tmp, n), os.path.join(dest, n))
        shutil.rmtree(tmp, ignore_errors=True)
    rewrite = sorted(affected)
    meta: dict = {"files_rewritten": len(rewrite), "files_linked": linked}
    if m.get("schema"):
        # linked (un-rewritten) files may predate an additive evolution;
        # the widened schema must keep resolving for them
        meta["schema"] = m["schema"]
    if m.get("files"):
        # A stats-bearing table must not silently lose read_pruned /
        # read_point_pruned skipping across materialization (results
        # would stay correct but every scan would touch every file).
        # Refresh stats/blooms for the REWRITTEN files only and inherit
        # the linked files' entries verbatim — a linked file keeps its
        # snapshot-relative path and its content (same inode), so its
        # min/max/bloom are bit-identical; recomputing them would make
        # the materialization's metadata cost ∝ table footers instead of
        # ∝ affected files (round-13, the incremental-manifest
        # economics).  union over ALL files, not files[0]: a
        # first-sorted file whose bloom dict is empty (e.g. all-NULL
        # keys) would otherwise drop the whole table's bloom coverage
        stats_cols = sorted(
            {c for f in m["files"] for c in f.get("min", {})}
        )
        bloom_cols = sorted(
            {c for f in m["files"] for c in f.get("bloom", {})}
        )
        by_path = {f["path"]: f for f in m["files"]}
        new_rels = []
        for root, _dirs, names in os.walk(new_abs):
            for n in sorted(names):
                if n.endswith(".parquet") and not n.startswith(("_", ".")):
                    r = os.path.relpath(os.path.join(root, n), new_abs)
                    if r not in linked_rels:
                        new_rels.append(r)
        if linked_rels <= set(by_path):
            fresh: list[dict] = []
            temporal: set[str] = set()
            if new_rels:
                fresh, temporal = _file_stats(
                    spark, new_abs, stats_cols, paths=new_rels
                )
                if bloom_cols:
                    blooms = _file_blooms(
                        spark, new_abs, bloom_cols, paths=new_rels
                    )
                    for f in fresh:
                        f["bloom"] = blooms.get(f["path"], {})
            temporal = set(m.get("stats_temporal", [])) | temporal
            # the manifest too is ∝ affected: a delta removes the
            # rewritten files' old entries and adds the fresh ones —
            # linked entries inherit through the base (valid verbatim:
            # same relative path, same inode) — consolidating at the
            # usual checkpoint cadence
            if m.get("_files_depth", 0) + 1 < _MANIFEST_CHECKPOINT_EVERY:
                meta["files_delta"] = {
                    "base": m["version"],
                    "add": fresh,
                    "remove": sorted(r for r in by_path if r in affected),
                }
            else:
                inherited = [by_path[r] for r in sorted(linked_rels)]
                meta["files"] = sorted(
                    inherited + fresh, key=lambda f: f["path"]
                )
            meta["stats_temporal"] = sorted(temporal)
        else:
            # a linked file the prior manifest never recorded (legacy
            # partial-stats manifests): fall back to the full recompute
            files, temporal = _file_stats(spark, new_abs, stats_cols)
            if bloom_cols:
                blooms = _file_blooms(spark, new_abs, bloom_cols)
                for f in files:
                    f["bloom"] = blooms.get(f["path"], {})
            meta.update(files=files, stats_temporal=sorted(temporal))
    try:
        # read-modify-write: the new snapshot materializes version
        # m.version's DV over m.version's files
        return table.commit(
            None,
            op="compact_dv",
            meta=meta,
            data_dir=new_rel,
            expect_version=m["version"] + 1,
        )
    except CommitConflict:
        # a concurrent commit superseded the snapshot this compaction
        # was computed from — publishing it would drop those changes.
        # Remove the assembled directory and let the caller retry
        # against the new latest.
        shutil.rmtree(new_abs, ignore_errors=True)
        raise


def _snapshot_layout(base: str) -> tuple[list[str], list[str]]:
    """(snapshot-relative parquet paths, hive partition columns) of a
    snapshot directory — empty column list means flat."""
    rels: list[str] = []
    for root, _dirs, names in os.walk(base):
        for n in sorted(names):
            if n.endswith(".parquet") and not n.startswith(("_", ".")):
                rels.append(os.path.relpath(os.path.join(root, n), base))
    # prefix a dummy snapshot segment: the decoder skips [0]
    part_cols, _vals = _hive_partition_values(
        [os.path.join("x", r) for r in rels]
    )
    return rels, part_cols


def _gate_batch_schema(
    snap: DataFrame, batch: DataFrame, part_cols: list[str], data_rel: str
) -> list:
    """Gate a DML batch's schema against the snapshot BEFORE any write.

    Spark's default parquet read resolves the table schema from ONE
    footer, so a divergent batch would not error — it would silently
    drop its extra columns and read its missing ones as NULL for every
    landed row (measured).  Two outcomes:

    * **divergent** (a snapshot column missing from the batch, or a
      type mismatch): refuse with a descriptive ValueError.  Name->type
      equality is nullability-erased recursively, relaxed ONLY for
      integral-family pairs on PARTITION columns: discovery re-infers
      "p=1" as int whatever integral width wrote it, and every integral
      stringifies to the same path segment, so the round-trip is
      lossless there and nowhere else.
    * **additive** (batch = superset: every snapshot column present and
      type-equal, plus NEW columns): ACCEPT and return the added
      StructFields — the caller records the widened schema in the
      manifest so readers resolve it explicitly (old files NULL-backfill
      the new columns per file, no footer merge at scan time).

    Returns ``[]`` for an exactly-matching batch."""
    want = {f.name: f.dataType for f in snap.schema.fields}
    got = {f.name: f.dataType for f in batch.schema.fields}
    integral = {"byte", "short", "integer", "long"}

    def _ok(c: str) -> bool:
        if c not in want or c not in got:
            return False
        # simpleString erases nullability RECURSIVELY — DataType equality
        # would reject a batch differing only in a struct/array/map
        # element's nullability, breaking the "nullability aside" promise
        if want[c].simpleString() == got[c].simpleString():
            return True
        return (
            c in part_cols
            and want[c].typeName() in integral
            and got[c].typeName() in integral
        )

    if set(want) - set(got) or not all(_ok(c) for c in want):
        raise ValueError(
            f"batch schema diverges from snapshot {data_rel}: missing "
            f"{sorted(set(want) - set(got))}, type-mismatched "
            f"{sorted(c for c in set(want) & set(got) if not _ok(c))}"
            f" — a divergent batch would silently read back as "
            f"NULLs/dropped columns; align the batch (or evolve the "
            f"schema through a rewrite commit) first"
        )
    from pyspark.sql import types as T

    return [
        T.StructField(f.name, f.dataType, True)  # NULL-backfilled on read
        for f in batch.schema.fields
        if f.name not in want
    ]


def _record_schema(meta: dict, m: dict, snap: DataFrame, added) -> None:
    """Carry the table's read schema through a DML commit: when the gate
    reported ADDED columns, record the widened StructType (snapshot
    schema + new nullable fields) so every reader resolves it
    explicitly; otherwise inherit any previously recorded evolution
    verbatim."""
    if added:
        from pyspark.sql import types as T

        meta["schema"] = T.StructType(
            list(snap.schema.fields) + list(added)
        ).json()
    elif m.get("schema"):
        meta["schema"] = m["schema"]


def _assemble_linked_snapshot(
    spark: SparkSession,
    table: LoggedTable,
    m: dict,
    batch: DataFrame,
    snap_rels: list[str],
    part_cols: list[str],
    staging: str,
) -> tuple[str, str, dict]:
    """Assemble a new snapshot dir = hardlinks of every existing file
    (zero data bytes; RELATIVE paths preserved so snapshot-relative DV
    keys stay valid verbatim) + the batch landed as fresh part files
    (``partitionBy`` the snapshot's columns when partitioned, so the
    files join matching or new key=value dirs).  Returns ``(new_rel,
    new_abs, meta_patch)`` where meta_patch carries files_appended and,
    when the prior manifest bore stats, the extended ``files`` /
    ``stats_temporal`` entries.  Bytes written are ∝ the batch."""
    base = os.path.join(table.table_dir, m["data_dir"])
    new_rel = f"v_{uuid.uuid4().hex[:12]}"
    new_abs = os.path.join(table.table_dir, new_rel)
    os.makedirs(new_abs)
    for rel in snap_rels:
        dst = os.path.join(new_abs, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.link(os.path.join(base, rel), dst)
    tmp = os.path.join(
        table.table_dir, f"stage_{staging}_{uuid.uuid4().hex[:8]}"
    )
    if part_cols:
        batch.write.partitionBy(*part_cols).parquet(tmp)
    else:
        batch.write.parquet(tmp)
    patch: dict = {}
    if "files" in m:
        stats_cols = sorted(
            {c for f in m["files"] for c in f.get("min", {})}
        )
        new_files, temporal = _file_stats(spark, tmp, stats_cols)
        # keep bloom coverage from decaying across append/upsert chains:
        # a batch file without a bloom is unprunable forever (until the
        # next compact_dv), so when the table bears blooms the batch's
        # files get theirs at landing time — one batch-sized aggregate
        bloom_cols = sorted(
            {c for f in m["files"] for c in f.get("bloom", {})}
        )
        if bloom_cols:
            blooms = _file_blooms(spark, tmp, bloom_cols)
            for f in new_files:
                f["bloom"] = blooms.get(f["path"], {})
        # incremental manifest: record only the batch's files as a delta
        # against the prior version (manifest bytes ∝ batch, not table
        # file count); consolidate to a full list at the checkpoint
        # cadence so resolve chains stay bounded
        if m.get("_files_depth", 0) + 1 < _MANIFEST_CHECKPOINT_EVERY:
            patch["files_delta"] = {
                "base": m["version"],
                "add": new_files,
                "remove": [],
            }
        else:
            patch["files"] = m["files"] + new_files
        patch["stats_temporal"] = sorted(
            set(m.get("stats_temporal", [])) | temporal
        )
    moved = 0
    for root, _dirs, names in os.walk(tmp):
        for n in sorted(names):
            if n.endswith(".parquet") and not n.startswith(("_", ".")):
                rel = os.path.relpath(os.path.join(root, n), tmp)
                dst = os.path.join(new_abs, rel)
                # fresh write-job UUIDs cannot collide with linked
                # names; partition subdirs may be new
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(os.path.join(root, n), dst)
                moved += 1
    shutil.rmtree(tmp, ignore_errors=True)
    patch["files_appended"] = moved
    return new_rel, new_abs, patch


def upsert_dv(
    spark: SparkSession,
    table: LoggedTable,
    updates: DataFrame,
    key: str,
) -> dict:
    """MERGE-on-read UPSERT: supersede rows whose ``key`` appears in
    ``updates`` and append the update batch — WITHOUT rewriting a single
    existing data file.  Completes the no-rewrite DML trio
    (:func:`purge_dv` DELETE, this UPDATE/INSERT, :func:`compact_dv`
    the lazy materializer).

      1. one broadcast semi-join records matched rows' (file, row_index)
         into the cumulative deletion vector — the update batch is
         CDC-sized, so the probe side broadcasts;
      2. the new snapshot directory is assembled from HARDLINKS of every
         existing data file (metadata-only, zero data bytes — the POSIX
         analogue of Delta add-actions referencing existing objects;
         O(file count) namespace ops is the honest cost of the
         dir-per-snapshot model) plus the update batch written as fresh
         part files;
      3. the manifest commit carries the grown DV (link-preserved
         relative paths keep its keys valid) and lands with
         ``expect_version`` conflict detection, retrying the whole
         read-modify-write on a lost race.

    Readers resolve the manifest as always: scan (old files + update
    files), subtract the DV — old versions of updated keys vanish, the
    batch's rows appear.  Bytes written scale with the UPDATE BATCH,
    never the table.

    Hive-partitioned snapshots upsert the same way: every existing file
    is hardlinked PRESERVING its partition subpath (the DV's
    snapshot-relative keys stay valid verbatim), and the update batch
    is written ``partitionBy`` the same columns so its files land in
    matching (or new) ``key=value`` directories — partition discovery
    sees one consistent tree.  The batch must carry every partition
    column (raises descriptively otherwise).  A key whose update moves
    it to a DIFFERENT partition is still handled: the DV probe scans
    the whole table, so the old row is superseded wherever it lives.

    Inherited per-file skipping stats stay valid for linked files; the
    update files join the manifest's ``files`` list with freshly
    computed stats when the snapshot carries stats at all, so
    ``read_pruned`` keeps skipping and cannot drop the new rows."""
    updates = updates.persist()
    try:
        for _attempt in range(5):
            m = table.latest()
            if m is None:
                raise FileNotFoundError(f"no commits in {table.log_dir}")
            base = os.path.join(table.table_dir, m["data_dir"])
            snap = _snapshot_read(spark, m).parquet(base)
            snap_rels, part_cols = _snapshot_layout(base)
            added_cols = _gate_batch_schema(
                snap, updates, part_cols, m["data_dir"]
            )
            # DV-probe source: when the manifest carries membership
            # blooms for the key column, skip files that cannot contain
            # ANY batch key (no false negatives: a key present in a file
            # was recorded in its bloom at commit time; files appended
            # by earlier upserts carry no bloom and are kept
            # unconditionally).  At 100 TB this turns the per-batch
            # probe from a full table scan into candidate files only —
            # the difference between CDC merges costing the batch and
            # costing the table.  Python-side probing is capped at
            # ~2M (key x file) big-int AND ops (~1-2 s); a batch past
            # the cap touches most files anyway, so it full-scans.
            probe, probe_files = snap, None
            if (
                m.get("files")
                and _bloom_probe_type_safe(snap, key)
                and any(f.get("bloom", {}).get(key) for f in m["files"])
            ):
                key_rows = (
                    updates.select(key)
                    .distinct()
                    .limit(_BLOOM_PROBE_VALUE_CAP + 1)
                    .collect()
                )
                cand = _bloom_candidates(
                    m, key, [r[key] for r in key_rows]
                )
                if cand is not None:
                    keep, total = cand
                    probe_files = (len(keep), total)
                    if not keep:
                        probe = snap.filter("1 = 0")
                    elif len(keep) < total:
                        probe = _snapshot_read(spark, m).option(
                            "basePath", base
                        ).parquet(
                            *[os.path.join(base, p) for p in keep]
                        )
            # hidden _metadata columns resolve only on the scan relation:
            # project them BEFORE the join, not after
            scan = probe.select(
                F.col(key),
                _dv_file_expr(m["data_dir"]).alias("file"),
                F.col("_metadata.row_index").alias("pos"),
            )
            matches = scan.join(
                F.broadcast(updates.select(key).distinct()), key, "left_semi"
            ).select("file", "pos")
            old_rows = int(m.get("dv_rows", 0))
            if m.get("dv_dir"):
                old_dv = spark.read.parquet(
                    os.path.join(table.table_dir, m["dv_dir"])
                )
                matches = matches.unionByName(old_dv).distinct()
            dv_rel, dv_abs, dv_rows = _write_dv(
                spark, table.table_dir, matches
            )

            new_rel, new_abs, patch = _assemble_linked_snapshot(
                spark, table, m, updates, snap_rels, part_cols, "upsert"
            )
            meta: dict = {
                "dv_dir": dv_rel,
                "dv_rows": dv_rows,
                "rows_matched": dv_rows - old_rows,
                **patch,
            }
            _record_schema(meta, m, snap, added_cols)
            if probe_files is not None:
                # observability: how much of the table the bloom-pruned
                # DV probe actually scanned (candidates, total)
                meta["probe_files_scanned"], meta["probe_files_total"] = (
                    probe_files
                )
            try:
                return table.commit(
                    None,
                    op="upsert_dv",
                    meta=meta,
                    data_dir=new_rel,
                    expect_version=m["version"] + 1,
                )
            except CommitConflict:
                shutil.rmtree(dv_abs, ignore_errors=True)
                shutil.rmtree(new_abs, ignore_errors=True)
        raise CommitConflict(
            f"upsert_dv lost the commit race 5 times in {table.log_dir}"
        )
    finally:
        updates.unpersist()


def append_logged(
    spark: SparkSession,
    table: LoggedTable,
    batch: DataFrame,
) -> dict:
    """Pure APPEND — the most common lake mutation at 100 TB — without
    rewriting or even probing the table: every existing file hardlinks
    into the new snapshot (zero data bytes, partition subpaths
    preserved) and the batch lands as fresh part files (``partitionBy``
    the snapshot's columns when partitioned).  No deletion vector, no
    key probe: unlike :func:`upsert_dv` there is nothing to supersede,
    so the only Spark job is the batch write — bytes AND compute ∝ the
    batch.

    Any accumulated DV carries over by reference (link-preserved
    relative paths keep its keys valid; the batch's fresh files have no
    DV entries by construction).  Per-file skipping stats extend with
    the batch's files when the table bears stats.  The commit is a
    read-modify-write (``expect_version``) so a concurrent mutation
    can't be dropped; a lost race re-derives from the new latest and
    retries — an append composes with any intervening commit.

    CDF: :func:`table_changes` resolves an append through the LINK fast
    path as pure inserts (the appended files), no table shuffle.
    :func:`export_delta_log` surfaces appended rows at the next
    materializing commit when a DV is in flight, immediately otherwise.
    """
    batch = batch.persist()
    try:
        for _attempt in range(5):
            m = table.latest()
            if m is None:
                raise FileNotFoundError(f"no commits in {table.log_dir}")
            base = os.path.join(table.table_dir, m["data_dir"])
            snap = _snapshot_read(spark, m).parquet(base)
            snap_rels, part_cols = _snapshot_layout(base)
            added_cols = _gate_batch_schema(
                snap, batch, part_cols, m["data_dir"]
            )
            new_rel, new_abs, patch = _assemble_linked_snapshot(
                spark, table, m, batch, snap_rels, part_cols, "append"
            )
            meta: dict = dict(patch)
            _record_schema(meta, m, snap, added_cols)
            for k in ("dv_dir", "dv_rows"):
                if k in m:
                    meta[k] = m[k]
            try:
                return table.commit(
                    None,
                    op="append",
                    meta=meta,
                    data_dir=new_rel,
                    expect_version=m["version"] + 1,
                )
            except CommitConflict:
                shutil.rmtree(new_abs, ignore_errors=True)
        raise CommitConflict(
            f"append_logged lost the commit race 5 times in "
            f"{table.log_dir}"
        )
    finally:
        batch.unpersist()


def _snapshot_inodes(base: str) -> dict[str, int]:
    """{snapshot-relative path: inode} for every parquet file — the
    mechanical containment evidence the CDF link fast path keys on."""
    out: dict[str, int] = {}
    for root, _dirs, names in os.walk(base):
        for n in names:
            if n.endswith(".parquet") and not n.startswith(("_", ".")):
                p = os.path.join(root, n)
                out[os.path.relpath(p, base)] = os.stat(p).st_ino
    return out


def _linked_superset_changes(
    spark: SparkSession, table: LoggedTable, m_from: dict, m_to: dict
) -> DataFrame | None:
    """CDF link fast path (see :func:`table_changes`): None when the
    snapshots aren't link-related or a DV outgrew the broadcast bound —
    the caller then falls back to the general exceptAll diff."""
    if (
        int(m_from.get("dv_rows", 0)) > _DV_BROADCAST_ROWS
        or int(m_to.get("dv_rows", 0)) > _DV_BROADCAST_ROWS
    ):
        return None
    base_from = os.path.join(table.table_dir, m_from["data_dir"])
    base_to = os.path.join(table.table_dir, m_to["data_dir"])
    if not (os.path.isdir(base_from) and os.path.isdir(base_to)):
        return None  # vacuumed endpoint: only the general path can try
    f_from = _snapshot_inodes(base_from)
    f_to = _snapshot_inodes(base_to)
    if not all(f_to.get(rel) == ino for rel, ino in f_from.items()):
        return None  # not a pure link carry-over: rewrite happened
    added = sorted(set(f_to) - set(f_from))

    def _tagged_empty() -> DataFrame:
        return (
            table.read(spark, version=m_to["version"])
            .filter("1 = 0")
            .withColumn("_change_type", F.lit("delete"))
        )

    new_dv = None
    if m_to.get("dv_dir") and m_to["dv_dir"] != m_from.get("dv_dir"):
        # same dv_dir string = same immutable sidecar (append commits
        # carry the reference verbatim): the window's DV delta is
        # provably empty, so skip the whole deletes branch — without
        # this, a pure-append window would semi-join the ENTIRE from-
        # snapshot against an empty broadcast just to find nothing
        new_dv = spark.read.parquet(
            os.path.join(table.table_dir, m_to["dv_dir"])
        )
        if m_from.get("dv_dir"):
            dv_from = spark.read.parquet(
                os.path.join(table.table_dir, m_from["dv_dir"])
            )
            # DVs accumulate, so to-minus-from = deletions in the window;
            # files appended WITHIN the window can only appear here (they
            # didn't exist at v_from), so one delta serves both branches
            new_dv = new_dv.join(dv_from, ["file", "pos"], "left_anti")
        new_dv = F.broadcast(new_dv)
    out = _tagged_empty()
    if new_dv is not None:
        # deletes: new DV positions over the SHARED files — the from-
        # snapshot scan holds exactly those, and entries referencing
        # appended files simply never match it
        # m_to's schema (the widened one, when evolution happened inside
        # the window) reads BOTH sides: old files NULL-backfill, so the
        # delete/insert unionByName below always aligns
        scan = _snapshot_read(spark, m_to).parquet(base_from).withColumns(
            {
                "_dv_file": _dv_file_expr(m_from["data_dir"]),
                "_dv_pos": F.col("_metadata.row_index"),
            }
        )
        deleted = (
            scan.join(
                new_dv,
                (scan["_dv_file"] == new_dv["file"])
                & (scan["_dv_pos"] == new_dv["pos"]),
                "left_semi",
            )
            .drop("_dv_file", "_dv_pos")
            .withColumn("_change_type", F.lit("delete"))
        )
        out = out.unionByName(deleted)
    if added:
        # inserts: the appended files' rows, minus any window-DV entry
        # already covering them (insert-then-delete nets out); basePath
        # keeps hive partition columns materialized
        ins = _snapshot_read(spark, m_to).option(
            "basePath", base_to
        ).parquet(*[os.path.join(base_to, r) for r in added])
        if new_dv is not None:
            ins = ins.withColumns(
                {
                    "_dv_file": _dv_file_expr(m_to["data_dir"]),
                    "_dv_pos": F.col("_metadata.row_index"),
                }
            )
            ins = ins.join(
                new_dv,
                (ins["_dv_file"] == new_dv["file"])
                & (ins["_dv_pos"] == new_dv["pos"]),
                "left_anti",
            ).drop("_dv_file", "_dv_pos")
        out = out.unionByName(
            ins.withColumn("_change_type", F.lit("insert"))
        )
    return out


def table_changes(
    spark: SparkSession,
    table: LoggedTable,
    v_from: int,
    v_to: int,
) -> DataFrame:
    """Row-level changes between two committed versions — the Delta
    change-data-feed shape: data columns plus ``_change_type`` in
    {'delete', 'insert'} describing how to advance a consumer from
    ``v_from`` to ``v_to``.  An updated row appears as delete+insert.

    FAST PATH: when both versions share a ``data_dir`` (everything in
    between was deletion-vector commits), the changes are EXACTLY the
    DV positions added since ``v_from`` — one broadcast semi-join pulls
    those rows' content out of the shared files.  Cost scales with
    DELETED ROWS, not table size: this is why incremental consumers at
    100 TB want DV commits — the nightly "what changed" query costs
    kilobytes of metadata instead of a two-sided table diff.

    LINK FAST PATH: when ``v_to``'s snapshot CONTAINS ``v_from``'s files
    verbatim (same relative path, same inode — the hardlink carry-over
    :func:`upsert_dv` performs), the diff is still DV-and-appends-sized:
    deletes are the new DV positions pulled from the SHARED files,
    inserts are the APPENDED files' rows minus any DV entry already
    covering them (an insert-then-delete inside the window nets out).
    The inode check makes the containment exact on the POSIX lake —
    rewritten files always get fresh write-job UUID names, so a name
    collision with different content is impossible, but the inode
    equality asserts it mechanically.  Falls back whenever either DV is
    past the broadcast bound (compact_dv territory).

    GENERAL PATH (rewrite commits): two ``exceptAll`` diffs.  Honest
    cost: each is a full shuffle of both snapshots — unavoidable when a
    rewrite may have changed anything, and the reason the fast path
    exists."""
    m_from = table.manifest(v_from)
    m_to = table.manifest(v_to)
    if m_to["data_dir"] != m_from["data_dir"]:
        linked = _linked_superset_changes(spark, table, m_from, m_to)
        if linked is not None:
            return linked
    if m_to["data_dir"] == m_from["data_dir"]:
        base = os.path.join(table.table_dir, m_to["data_dir"])
        dv_to_rel = m_to.get("dv_dir")
        if not dv_to_rel or m_to.get("dv_rows", 0) == int(
            m_from.get("dv_rows", 0)
        ):
            # identical files, identical (or absent) DV: no changes —
            # schema-stable empty frame with the tag column
            return (
                table.read(spark, version=v_to)
                .filter("1 = 0")
                .withColumn("_change_type", F.lit("delete"))
            )
        dv_to = spark.read.parquet(os.path.join(table.table_dir, dv_to_rel))
        if m_from.get("dv_dir"):
            dv_from = spark.read.parquet(
                os.path.join(table.table_dir, m_from["dv_dir"])
            )
            # DVs accumulate (purge_dv unions), so to-minus-from is the
            # positions deleted in (v_from, v_to]
            dv_to = dv_to.join(dv_from, ["file", "pos"], "left_anti")
        if int(m_to.get("dv_rows", 0)) <= _DV_BROADCAST_ROWS:
            # same bound as _apply_dv: past it, forcing the hint would
            # build a multi-GB hash relation on every executor — let
            # size-based planning pick the join (compact_dv territory)
            dv_to = F.broadcast(dv_to)
        scan = _snapshot_read(spark, m_to).parquet(base).withColumns(
            {
                "_dv_file": _dv_file_expr(m_to["data_dir"]),
                "_dv_pos": F.col("_metadata.row_index"),
            }
        )
        deleted = scan.join(
            dv_to,
            (scan["_dv_file"] == dv_to["file"])
            & (scan["_dv_pos"] == dv_to["pos"]),
            "left_semi",
        ).drop("_dv_file", "_dv_pos")
        return deleted.withColumn("_change_type", F.lit("delete"))
    a = table.read(spark, version=v_from)
    b = table.read(spark, version=v_to)
    # an additive schema evolution inside a REWRITE window (the link
    # fast path bails on rewrites) leaves v_from without the widened
    # columns — NULL-backfill them with v_to's types, exactly what the
    # explicit read schema does for pre-evolution files, so the diff
    # compares like with like instead of failing on arity
    for f in b.schema.fields:
        if f.name not in a.columns:
            a = a.withColumn(f.name, F.lit(None).cast(f.dataType))
    a = a.select(*b.columns)
    return (
        a.exceptAll(b)
        .withColumn("_change_type", F.lit("delete"))
        .unionByName(
            b.exceptAll(a).withColumn("_change_type", F.lit("insert"))
        )
    )


def compact_logged(
    spark: SparkSession,
    table: LoggedTable,
    target_bytes: int = 128 << 20,
    partition_cols: list[str] | None = None,
    stats_cols: list[str] | None = None,
    keep_versions: int | None = None,
    row_group_bytes: int | None = None,
) -> dict:
    """Compaction as a log commit: the same single-shuffle salted rewrite
    plan as ``sources/sink.py compact_table`` (shared via its
    ``compaction_plan``), but published by manifest append — readers of
    the previous version are undisturbed (no directory swap, no rename
    window), which is what makes compaction safe to run behind live
    queries at 100 TB (pinned by tests/test_commitlog.py::
    test_lazy_reader_survives_compaction_and_sees_old_snapshot).

    Pass ``stats_cols`` to refresh per-file min/max skipping stats on the
    compacted layout (compaction is exactly when stats tighten), and
    ``keep_versions`` to vacuum old snapshots after the commit (in-flight
    lazy readers need a grace window, so never keep fewer than 2).
    Returns the committed manifest."""
    from ..sources.sink import compaction_plan

    m0 = table.latest()
    if m0 is None:
        raise FileNotFoundError(f"no commits in {table.log_dir}")
    if m0.get("dv_dir"):
        # compaction_plan reads the RAW snapshot directory, where
        # DV-deleted rows still physically exist — materialize the DV
        # first so the layout rewrite cannot resurrect them
        compact_dv(spark, table)
        m0 = table.latest()
    snap = os.path.join(table.table_dir, m0["data_dir"])
    staged, files_before, total_bytes = compaction_plan(
        spark, snap, target_bytes, partition_cols,
        schema=_manifest_schema(m0),
    )
    if staged is None:
        # row-empty snapshot: Spark writes no files for an empty frame,
        # so a rewrite commit would publish an unreadable snapshot —
        # keep the current (zero-row but schema-bearing) layout
        return m0

    def _write(d: str) -> None:
        from ..sources.sink import ROW_GROUP_BYTES

        # same tunable bound as sink.compact_table's row_group_bytes so
        # the two compaction paths cannot diverge on writer discipline
        w = staged.write.mode("overwrite").option(
            "parquet.block.size",
            ROW_GROUP_BYTES if row_group_bytes is None else row_group_bytes,
        )
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(d)

    # inherit skipping metadata by default: a maintenance rewrite must
    # not silently drop a stats/bloom-bearing table's read_pruned /
    # point-probe coverage (the same invariant compact_dv enforces) —
    # explicit stats_cols still override, and a table that never carried
    # stats stays stats-free
    if stats_cols is None and m0.get("files"):
        stats_cols = sorted(
            {c for f in m0["files"] for c in f.get("min", {})}
        ) or None
    bloom_cols = sorted(
        {c for f in m0.get("files", []) for c in f.get("bloom", {})}
    ) or None
    m = table.commit(
        _write,
        op="compact",
        meta={"files_before": files_before, "bytes": total_bytes},
        spark=spark if (stats_cols or bloom_cols) else None,
        stats_cols=stats_cols,
        bloom_cols=bloom_cols,
        # read-modify-write: the staged plan reads m0's snapshot dir
        expect_version=m0["version"] + 1,
    )
    if keep_versions is not None:
        table.vacuum(keep=keep_versions)
    return m


def zorder_logged(
    spark: SparkSession,
    table: LoggedTable,
    cols: list[str],
    n_files: int = 32,
    bits: int | None = None,
    keep_versions: int | None = None,
) -> dict:
    """Re-cluster the latest snapshot along the z-curve of ``cols`` and
    publish it as a new version WITH refreshed per-file min/max stats on
    those columns — the OPTIMIZE ZORDER BY shape: z-ordering is pointless
    unless the skipping stats are rebuilt on the new layout, and the
    manifest commit is what lets the rewrite run behind live readers.
    Returns the committed manifest (its ``files`` entries carry the
    tightened stats that :meth:`LoggedTable.read_pruned` consumes)."""
    from ..operators.zorder import DEFAULT_BITS, write_zordered

    m0 = table.latest()
    if m0 is None:
        raise FileNotFoundError(f"no commits in {table.log_dir}")
    df = table.read(spark, version=m0["version"])
    # z-ordering refreshes stats on the clustering columns (that is its
    # point) UNIONED with whatever the prior manifest carried, and
    # carries bloom coverage forward — a layout rewrite must not
    # silently drop the table's point-probe skipping
    prior_stats = {
        c for f in m0.get("files", []) for c in f.get("min", {})
    }
    bloom_cols = sorted(
        {c for f in m0.get("files", []) for c in f.get("bloom", {})}
    ) or None
    m = table.commit(
        lambda d: write_zordered(
            df, d, cols, n_files=n_files, bits=bits or DEFAULT_BITS
        ),
        op="zorder",
        spark=spark,
        stats_cols=sorted(set(cols) | prior_stats),
        bloom_cols=bloom_cols,
        # read-modify-write: the re-clustered layout is computed from m0
        expect_version=m0["version"] + 1,
    )
    if keep_versions is not None:
        table.vacuum(keep=keep_versions)
    return m


def _rel_path(fp: str, snapshot_dir: str) -> str:
    """Snapshot-relative FILESYSTEM path of a ``_metadata.file_path`` URI.

    PRESERVES partition subdirectories (``p=0/part-....parquet``) — a bare
    basename would resolve to a nonexistent path under the snapshot root
    for partitioned layouts, breaking pruned reads.

    PERCENT-DECODES the URI form: ``_metadata.file_path`` is a Hadoop
    Path URI, so a partition dir like ``region=North America`` arrives
    as ``region=North%20America`` — joining THAT onto the snapshot root
    raises PATH_NOT_FOUND on every pruned read (measured), and any
    encoded-vs-raw set comparison silently misclassifies the file.
    ``unquote`` touches only %XX escapes (never '+'), so raw names that
    happen to contain '+' or literal '%XX' written by Spark's own
    escapePathName round-trip correctly (Spark encodes '%' itself, so
    its escapes arrive double-encoded and decode back to one level)."""
    from urllib.parse import unquote

    p = fp
    if p.startswith("file:"):
        p = p[5:]
        while p.startswith("//"):
            p = p[1:]
    p = unquote(p)
    try:
        return os.path.relpath(p, os.path.abspath(snapshot_dir))
    except ValueError:
        return os.path.basename(p)


def _canon_stat(v, is_temporal: bool | None = None):
    """Canonicalize one side of a stats-pruning comparison.

    Manifest stats store temporal values as ``str(value)`` (a DATE column
    becomes ``'1995-01-01'``, a TIMESTAMP ``'1995-01-01 00:00:00'``), while
    callers may pass ``date``/``datetime`` objects or either string form.
    Comparing those representations lexicographically silently skips a
    file whose max equals a boundary date when the bound carries a time
    part, so both sides are mapped onto one axis: temporal values become
    naive ``datetime`` (dates at midnight); everything else passes through
    unchanged.  A genuinely mismatched pair (e.g. a string stat vs a
    datetime bound) then raises ``TypeError`` at the comparison instead of
    mispruning silently.

    ``is_temporal`` is the column's logical type recorded in the manifest
    at ``_file_stats`` time: ``True`` parses strings as ISO datetimes,
    ``False`` leaves strings alone (a string-typed column whose values
    merely LOOK like dates — ``'2024-01-15'`` ids — must compare
    lexicographically, and one-sided sniffing would raise TypeError),
    and ``None`` (a pre-typing manifest) falls back to sniffing
    ISO-parsability, the legacy behavior.
    """
    if isinstance(v, datetime.datetime):
        return v
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day)
    if isinstance(v, str) and is_temporal is not False:
        try:
            return datetime.datetime.fromisoformat(v)
        except ValueError:
            if is_temporal:
                raise ValueError(
                    f"temporal stats column carries a non-ISO value: {v!r}"
                )
            return v
    return v


def _file_stats(
    spark: SparkSession,
    snapshot_dir: str,
    stats_cols: list[str],
    paths: list[str] | None = None,
) -> tuple[list[dict], set[str]]:
    """Per-file MIN/MAX/row-count for ``stats_cols`` over a just-written
    snapshot, keyed by the hidden ``_metadata.file_path`` column — one
    aggregate shuffle whose cardinality is the FILE count, not the row
    count.  Values are JSON-encoded natively when numeric/string and as
    ``str(value)`` otherwise (timestamps/dates serialize to ISO strings,
    whose lexicographic order matches their chronological order, so
    interval pruning keeps working without type round-trips).

    Also returns the subset of ``stats_cols`` that are DATE/TIMESTAMP
    typed, recorded in the manifest so ``read_pruned`` knows which stats
    to canonicalize back to datetimes (instead of sniffing arbitrary
    strings for ISO-parsability at read time)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # `paths` (snapshot-relative) restricts the aggregate to a file
    # SUBSET — compact_dv's affected-only stats refresh; basePath keeps
    # _metadata.file_path resolving under the snapshot root either way
    if paths is not None:
        snap = spark.read.option("basePath", snapshot_dir).parquet(
            *[os.path.join(snapshot_dir, p) for p in paths]
        )
    else:
        snap = spark.read.parquet(snapshot_dir)
    temporal = {
        f.name
        for f in snap.schema.fields
        if f.name in stats_cols
        and isinstance(
            f.dataType, (T.DateType, T.TimestampType, T.TimestampNTZType)
        )
    }
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in stats_cols:
        aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
    rows = (
        snap.groupBy(F.col("_metadata.file_path").alias("_fp"))
        .agg(*aggs)
        .collect()
    )

    def enc(v):
        return v if isinstance(v, (int, float, str, type(None))) else str(v)

    out = []
    for r in rows:
        out.append(
            {
                "path": _rel_path(r["_fp"], snapshot_dir),
                "rows": r["_rows"],
                "min": {c: enc(r[f"_min_{c}"]) for c in stats_cols},
                "max": {c: enc(r[f"_max_{c}"]) for c in stats_cols},
            }
        )
    return sorted(out, key=lambda f: f["path"]), temporal


#: per-file membership bloom recorded in manifests: 8192 bits (128 64-bit
#: words, 2 KB hex per file per column), 3 md5-derived probe positions —
#: at ~600 distinct keys per file the false-positive rate is ~0.8%, so a
#: point lookup over a HASH-distributed layout (where MIN/MAX stats can
#: never prune) reads ~1 file instead of all of them.
_FBLOOM_BITS = 8192
_FBLOOM_WORDS = _FBLOOM_BITS // 64
_FBLOOM_K = 3


def _fbloom_positions(value) -> list[int]:
    """Python twin of the Spark-side probe-position expression — same md5,
    same slice, same modulus, applied to the value's string form (matching
    Spark's CAST(col AS STRING) for integer keys)."""
    import hashlib as _hl

    return [
        int(
            _hl.md5(f"fbloom{i}:{value}".encode()).hexdigest()[:8], 16
        ) % _FBLOOM_BITS
        for i in range(_FBLOOM_K)
    ]


def _file_blooms(
    spark: SparkSession,
    snapshot_dir: str,
    bloom_cols: list[str],
    paths: list[str] | None = None,
) -> dict[str, dict[str, str]]:
    """{file -> {col -> 2048-char hex bitset}}: one aggregate per column
    whose output cardinality is files × occupied words (≤ 128), built with
    the same explode + bit_or shape as the Bloom-join sketch."""
    from pyspark.sql import functions as F

    if paths is not None:
        df = spark.read.option("basePath", snapshot_dir).parquet(
            *[os.path.join(snapshot_dir, p) for p in paths]
        )
    else:
        df = spark.read.parquet(snapshot_dir)
    out: dict[str, dict[str, str]] = {}
    for col in bloom_cols:
        pos_exprs = [
            f"CAST(CONV(SUBSTRING(MD5(CONCAT('fbloom{i}:',"
            f" CAST({col} AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            f" % {_FBLOOM_BITS}"
            for i in range(_FBLOOM_K)
        ]
        rows = (
            df.select(
                F.col("_metadata.file_path").alias("_fp"),
                F.explode(
                    F.array(*[F.expr(p) for p in pos_exprs])
                ).alias("_pos"),
            )
            # NULL keys probe to NULL positions (MD5(CONCAT(..., NULL))
            # is NULL) and would crash the driver-side word indexing; a
            # NULL key can never match an equi-probe, so it needs no bits
            .filter(F.col("_pos").isNotNull())
            .groupBy(
                "_fp", (F.col("_pos") / 64).cast("long").alias("_word")
            )
            .agg(
                F.expr(
                    "bit_or(shiftleft(1L, CAST(_pos % 64 AS INT)))"
                ).alias("_bits")
            )
            .collect()
        )
        words: dict[str, list[int]] = {}
        for r in rows:
            f = _rel_path(r["_fp"], snapshot_dir)
            words.setdefault(f, [0] * _FBLOOM_WORDS)[r["_word"]] = r["_bits"]
        for f, ws in words.items():
            out.setdefault(f, {})[col] = "".join(
                f"{w & 0xFFFFFFFFFFFFFFFF:016x}" for w in ws
            )
    return out


def read_point_pruned(
    spark: SparkSession,
    table: "LoggedTable",
    col: str,
    value,
    version: int | None = None,
) -> DataFrame:
    """Point-lookup file skipping from manifest blooms: keep only snapshot
    files whose bloom has ALL probe bits set for ``value`` — the
    hash-layout complement of :meth:`LoggedTable.read_pruned` (min/max
    intervals cannot prune a hash-distributed file set; membership blooms
    can).  False positives only cost an extra file scan; the caller's
    exact row predicate keeps the answer precise.  Falls back to the full
    snapshot when blooms are absent or the column's type lacks the
    str()/CAST-AS-STRING parity the probe depends on (a diverged probe
    would silently MISS the true file).  Delegates to the shared
    single-decoder :func:`read_points_pruned` with a one-value set."""
    return read_points_pruned(spark, table, col, [value], version=version)


def read_points_pruned(
    spark: SparkSession,
    table: "LoggedTable",
    col: str,
    values: list,
    version: int | None = None,
) -> DataFrame:
    """:func:`read_point_pruned` for a value SET — candidate files are
    those whose bloom passes for at least one value
    (:func:`_bloom_candidates`), the CDC-batch shape: "the current rows
    of THESE keys".  Falls back to the full snapshot when blooms are
    absent or the set exceeds the probe caps.  The caller's exact
    key predicate/join keeps the answer precise; merge-on-read DVs are
    subtracted either way."""
    m = table.latest() if version is None else table.manifest(version)
    if m is None:
        raise FileNotFoundError(f"no commits in {table.log_dir}")
    base = os.path.join(table.table_dir, m["data_dir"])
    full = _snapshot_read(spark, m).parquet(base)
    if not _bloom_probe_type_safe(full, col):
        return table._apply_dv(spark, full, m)
    cand = _bloom_candidates(m, col, values)
    if cand is None:
        return table._apply_dv(spark, full, m)
    keep, total = cand
    if not keep:
        return full.filter("1 = 0")
    if len(keep) == total:
        return table._apply_dv(spark, full, m)
    return table._apply_dv(
        spark,
        _snapshot_read(spark, m).option("basePath", base).parquet(
            *[os.path.join(base, p) for p in keep]
        ),
        m,
    )


# -- Delta-protocol export -----------------------------------------------------

#: Delta transaction-log directory name (fixed by the protocol)
DELTA_LOG_DIR = "_delta_log"

#: Hive's directory name for a NULL partition value (Spark writes it too)
_HIVE_NULL_PART = "__HIVE_DEFAULT_PARTITION__"


def _hive_partition_values(
    rels: list[str],
) -> tuple[list[str], dict[str, dict[str, str | None]]]:
    """Decode hive-style ``key=value`` path components of snapshot-relative
    parquet paths (``v_*/k=3/part-...parquet``) into Delta's partition
    wire format: the ordered partition-column list plus a per-file
    ``partitionValues`` map (values percent-decoded the way Spark encoded
    them; ``__HIVE_DEFAULT_PARTITION__`` → null).  Raises when files
    disagree on the column sequence — such a directory is not one
    hive-partitioned table and no correct metaData exists for it."""
    from urllib.parse import unquote

    cols: list[str] | None = None
    vals: dict[str, dict[str, str | None]] = {}
    for rel in rels:
        parts = [
            c.partition("=") for c in rel.split(os.sep)[1:-1] if "=" in c
        ]
        # Spark's escapePathName escapes the KEY as well as the value
        # (a partition column named "a=b" writes as "a%3Db=..."), so the
        # key must be decoded too or the partitionColumns entry would
        # mismatch the schemaString column name.
        keys = [unquote(k) for k, _eq, _v in parts]
        if cols is None:
            cols = keys
        elif keys != cols:
            raise ValueError(
                f"inconsistent hive partitioning within one snapshot: "
                f"{rel} has columns {keys}, earlier files {cols}"
            )
        vals[rel] = {
            unquote(k): (None if v == _HIVE_NULL_PART else unquote(v))
            for k, _eq, v in parts
        }
    return cols or [], vals


def export_delta_log(
    table: LoggedTable, spark: SparkSession, table_id: str | None = None
) -> list[str]:
    """Export the commit log as a Delta-protocol ``_delta_log`` so any
    off-the-shelf Delta reader (delta-rs, DuckDB's delta extension,
    Spark + delta-lake jars, Trino) can read the table directly —
    ecosystem interop for the lake surface, one JSON mapping pass.

    The mapping is exact because both logs share the same model (an
    append-only log of snapshot manifests — the Delta Lake paper's core
    mechanism, Armbrust et al., VLDB 2020):

      * commit-log version ``v`` → ``_delta_log/{v-1:020d}.json``
        (our log starts at 1, Delta's at 0);
      * every snapshot here is a FULL REWRITE (each manifest references a
        complete ``v_*`` directory), so commit N's Delta actions are
        ``remove`` for every file of snapshot N-1 plus ``add`` for every
        file of snapshot N — the Delta encoding of replace-table;
      * version 0 additionally carries ``protocol`` (reader 1 / writer 2,
        the minimum: no invariants, no column mapping) and ``metaData``
        whose ``schemaString`` is the Spark StructType JSON — Delta's
        schema wire format IS Spark's (hive-partitioned snapshots get
        their ``key=value`` path components decoded into
        ``partitionColumns`` / per-file ``partitionValues``, matching the
        partition column Spark's basePath read infers into the schema);
      * per-file ``stats`` carry numRecords from the parquet footers
        (pyarrow, no Spark job), so Delta readers get the same file-count
        /row-count planning facts :meth:`LoggedTable.read_pruned` uses.

    Incremental and idempotent: existing ``_delta_log`` entries are never
    rewritten, only missing versions are appended — re-export after new
    commits emits just the new tail.  ``protocol``/``metaData`` are
    emitted ONLY into Delta version 0, and the ``remove`` set for a
    version whose predecessor manifest was vacuumed after a prior export
    is reconstructed from the predecessor's already-exported ``add``
    actions (every snapshot is a full rewrite, so delta N-1's adds ARE
    snapshot N-1's files).  Raises when the earliest missing Delta
    version's manifest has been vacuumed away with no prior export (the
    Delta log must be contiguous from 0; export before vacuuming, or
    keep more versions), and when a snapshot's partitioning contradicts
    the exported ``metaData`` (Delta partition columns are table-level).

    Returns the list of delta-log file names written.
    """
    import pyarrow.parquet as pq

    versions = table.versions()
    if not versions:
        raise FileNotFoundError(f"no commits in {table.log_dir}")
    if table.manifest(versions[-1]).get("dv_dir"):
        # checked BEFORE any delta file is written (atomic refusal): the
        # CURRENT version's data files still contain DV-deleted rows, so
        # exporting would hand every external reader a table that
        # resurrects them — the Delta protocol's own answer (DV tables
        # demand reader v3; older readers must refuse)
        raise ValueError(
            f"version {versions[-1]} (current) carries a deletion vector "
            f"(merge-on-read state); run compact_dv before "
            f"export_delta_log so the exported snapshot's files no "
            f"longer hold deleted rows"
        )
    if 1 in versions and table.manifest(1).get("dv_dir"):
        # also atomic-refused up front: a first commit can never be
        # merge-on-read state through the supported purge_dv/upsert_dv
        # paths (both require an existing snapshot), but commit(
        # data_dir=..., meta=...) is public — exporting such a manifest
        # through the DV no-op branch would emit Delta version 0 as a
        # commitInfo-only file with no protocol/metaData, an invalid log
        # off-the-shelf readers reject with an opaque error
        raise ValueError(
            "version 1 carries a deletion vector (dv_dir); a first "
            "commit cannot be merge-on-read state, and Delta version 0 "
            "must carry protocol/metaData — rebuild the table through "
            "purge_dv/upsert_dv"
        )
    delta_dir = os.path.join(table.table_dir, DELTA_LOG_DIR)
    os.makedirs(delta_dir, exist_ok=True)

    def delta_name(v: int) -> str:
        return f"{v - 1:020d}.json"

    def snapshot_files(m: dict) -> list[tuple[str, str]]:
        """(relative path, absolute path) of every parquet file in the
        manifest's snapshot directory, sorted for deterministic output.
        A manifest whose directory is GONE (a crash between vacuum's
        dir-removal and manifest-unlink) must fail loudly — os.walk on a
        missing dir yields nothing, which would silently export the
        version as an empty snapshot (removes-only), corrupting the
        external live set."""
        base = os.path.join(table.table_dir, m["data_dir"])
        if not os.path.isdir(base):
            raise FileNotFoundError(
                f"manifest {m['version']} references snapshot "
                f"{m['data_dir']} but the directory is missing "
                f"(interrupted vacuum?) — cannot export its adds; "
                f"vacuum the orphaned manifest or restore the snapshot"
            )
        out = []
        for root, _dirs, names in os.walk(base):
            for n in sorted(names):
                if n.endswith(".parquet") and not n.startswith(
                    ("_", ".")
                ):
                    # same hidden/metadata filter as every other walker
                    # in this module and Spark's own reads — exporting a
                    # dot-file would add rows external readers see but
                    # table.read never does
                    ap = os.path.join(root, n)
                    out.append((os.path.relpath(ap, table.table_dir), ap))
        return sorted(out)

    def exported_actions(v: int) -> list[dict]:
        with open(os.path.join(delta_dir, delta_name(v))) as f:
            return [json.loads(line) for line in f if line.strip()]

    def prev_snapshot_rels(v: int) -> list[str]:
        """Relative paths the EXPORTED log holds live before version v —
        reconstructed from the already-exported delta files' add actions
        (full-rewrite snapshots: adds = files), walking past DV no-op
        versions (no adds).  Always the exported log, never the native
        manifest: a merge-on-read upsert/append commit CHANGES data_dir
        while exporting as a no-op, so the native predecessor manifest's
        (new-prefix) paths diverge from what the exported log actually
        has live — removes keyed on the manifest would strand the older
        adds forever and external readers would fold duplicate rows
        (caught by test_delta_export_of_partitioned_dml_chain).
        Contiguity (checked above, and ascending emission within this
        run) guarantees delta v-1 is on disk by the time v is emitted."""
        w = v - 1
        while w >= 1:
            prior = os.path.join(delta_dir, delta_name(w))
            if not os.path.exists(prior):
                raise FileNotFoundError(
                    f"cannot emit removes for Delta version {w}: snapshot "
                    f"{w} is neither in {table.log_dir} (vacuumed?) nor "
                    f"already exported to {delta_dir}"
                )
            acts = exported_actions(w)
            adds = sorted(a["add"]["path"] for a in acts if "add" in a)
            if adds:
                return adds
            if any(
                a.get("commitInfo", {}).get("operation") == _DV_NOOP_OP
                for a in acts
            ):
                w -= 1  # merge-on-read no-op: same files as ITS predecessor
                continue
            return []  # genuinely empty snapshot (removes-only)
        return []

    missing = [
        v for v in versions
        if not os.path.exists(os.path.join(delta_dir, delta_name(v)))
    ]
    if not missing:
        return []
    # contiguity: everything below the first missing version must already
    # be exported (Delta readers replay 0..N; a hole is unreadable)
    for v in range(1, missing[0]):
        if not os.path.exists(os.path.join(delta_dir, delta_name(v))):
            raise FileNotFoundError(
                f"cannot export a contiguous Delta log: version {v} is "
                f"neither in {table.log_dir} (vacuumed?) nor already "
                f"exported to {delta_dir}"
            )

    # table-level partition columns: from the already-exported metaData if
    # Delta version 0 exists, else decided by the first version written
    part_cols: list[str] | None = None
    if os.path.exists(os.path.join(delta_dir, delta_name(1))):
        for a in exported_actions(1):
            if "metaData" in a:
                part_cols = list(a["metaData"]["partitionColumns"])
                break

    # schema currency: an additive evolution records a widened schema in
    # the native manifest; external Delta readers plan from the LATEST
    # exported metaData, so the evolving version must re-emit one or
    # every reader silently drops the new columns.  Seed from the newest
    # already-exported metaData (id must stay stable across re-emits —
    # Delta treats a changed id as a different table).
    meta_id: str | None = None
    cur_schema: dict | None = None
    for prior_v in range(missing[0] - 1, 0, -1):
        found = False
        for a in exported_actions(prior_v):
            if "metaData" in a:
                meta_id = a["metaData"]["id"]
                cur_schema = json.loads(a["metaData"]["schemaString"])
                found = True
        if found:
            break

    written = []
    for v in missing:
        m = table.manifest(v)
        if m.get("dv_dir"):
            # (a v==1 DV manifest cannot reach here: the up-front gate
            # raised before any file was written — missing ⊆ versions)
            # A HISTORICAL DV manifest (the up-front gate guarantees a
            # later commit — compact_dv / purge_logged / compaction —
            # already materialized it) exports as a marked no-op
            # version: same files as its predecessor, the delete
            # becomes visible to external readers at the materializing
            # commit.  Merge-on-read state is engine-private by nature;
            # the export documents that honestly instead of lying about
            # the bytes.
            path = os.path.join(delta_dir, delta_name(v))
            with open(path, "w") as f:
                f.write(json.dumps({"commitInfo": {
                    "operation": _DV_NOOP_OP,
                    "timestamp": m["ts_ms"],
                }}) + "\n")
            written.append(delta_name(v))
            continue
        files = snapshot_files(m)
        snap_cols, part_vals = _hive_partition_values(
            [rel for rel, _ap in files]
        )
        # an EMPTY snapshot (overwrite with zero rows writes no part
        # files) carries no partition evidence: its Delta encoding is
        # removes-only, so it neither decides nor contradicts the
        # table-level partition columns
        if files:
            if part_cols is None:
                part_cols = snap_cols
            elif snap_cols != part_cols:
                raise ValueError(
                    f"snapshot {v} is partitioned by {snap_cols} but the "
                    f"exported Delta metaData declares {part_cols}; Delta "
                    f"partition columns are table-level — re-export to a "
                    f"fresh _delta_log or re-partition the snapshot"
                )
        actions: list[dict] = []
        if v == 1:
            if not files:
                # an empty FIRST snapshot has no parquet to infer the
                # schemaString from — table.read would die in Spark's
                # opaque unable-to-infer-schema error; fail descriptively
                # instead (mid-log empty snapshots are fine: removes-only)
                raise ValueError(
                    f"cannot export Delta version 0: snapshot 1 of "
                    f"{table.table_dir} is empty (zero part files), so no "
                    f"schemaString can be derived for metaData — export "
                    f"after the first non-empty commit"
                )
            schema_json = table.read(spark, version=v).schema.json()
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
            meta_id = table_id or uuid.uuid4().hex
            cur_schema = json.loads(schema_json)
            actions.append(
                {
                    "metaData": {
                        "id": meta_id,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_json,
                        "partitionColumns": part_cols or [],
                        "configuration": {},
                        "createdTime": m["ts_ms"],
                    }
                }
            )
        else:
            if m.get("schema") and (
                cur_schema is None
                or json.loads(m["schema"]) != cur_schema
            ):
                # additive evolution reached this exported version (for
                # merge-on-read evolutions the inherited schema surfaces
                # here, at the same commit whose files do) — re-emit
                # metaData with the SAME id and the widened schemaString
                cur_schema = json.loads(m["schema"])
                actions.append(
                    {
                        "metaData": {
                            "id": meta_id or table_id or uuid.uuid4().hex,
                            "format": {
                                "provider": "parquet", "options": {}
                            },
                            "schemaString": m["schema"],
                            "partitionColumns": part_cols or [],
                            "configuration": {},
                            "createdTime": m["ts_ms"],
                        }
                    }
                )
            for rel in prev_snapshot_rels(v):
                actions.append(
                    {
                        "remove": {
                            "path": rel,
                            "deletionTimestamp": m["ts_ms"],
                            "dataChange": True,
                        }
                    }
                )
        for rel, ap in files:
            st = os.stat(ap)
            n_rows = pq.ParquetFile(ap).metadata.num_rows
            actions.append(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": part_vals[rel],
                        "size": st.st_size,
                        "modificationTime": int(st.st_mtime * 1000),
                        "dataChange": True,
                        "stats": json.dumps({"numRecords": n_rows}),
                    }
                }
            )
        # same atomic-claim discipline as the native log: temp + fsync +
        # link (a concurrent exporter of the same version loses cleanly)
        tmp = os.path.join(delta_dir, f".tmp.{uuid.uuid4().hex[:8]}.json")
        with open(tmp, "w") as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")
            f.flush()
            os.fsync(f.fileno())
        final = os.path.join(delta_dir, delta_name(v))
        try:
            os.link(tmp, final)
            os.unlink(tmp)
            written.append(delta_name(v))
        except FileExistsError:
            os.unlink(tmp)
    return written
