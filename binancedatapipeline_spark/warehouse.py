"""Parquet-backed warehouse with PK-upsert, snapshot reads and an
incremental ledger.

Replaces the reference's two storage backends (DuckDB upsert pair,
crypto_data_pipeline_duckdb.py:1546-1594; ClickHouse
ReplacingMergeTree + OPTIMIZE FINAL,
crypto_data_pipline_clickhouse.py:1757-1793) with one distributed
layout:

- every table lives at ``<root>/<name>/`` as parquet, fact tables
  hive-partitioned by a derived ``ds`` date column (from the spec's
  ``partition_date_source``);
- upsert is **partition-scoped**: only the ``ds`` partitions present
  in the update batch are read, anti-joined and rewritten — at
  100 TB an hourly micro-batch touches 1-2 partitions, not the
  table;
- the incremental watermark (reference: ``SELECT MAX(time_col)``,
  duckdb:1523-1544) scans only the last date partition when the
  partition source IS the time column (manifest-pruned).

This is MERGE-ON-READ-free: readers see plain parquet with unique
PKs, no dedup view needed.

Write-audit-publish with MANIFEST-COMMITTED SNAPSHOT READS (round 6 —
closes round 5's two documented reader windows): data files are
IMMUTABLE — every transaction writes its output under
``<root>/_staging/<name>/<tx>`` first, records a ``_PLAN.json`` once
the stage is completely written, then MOVES each staged file into the
live partition directories under a tx-unique name and finally
replaces ``_MANIFEST.json`` (one atomic ``os.replace``). The manifest
lists the exact data files of the current table version; readers pin
their file listing to it:

- **Reader contract (manifest readers, i.e. ``Warehouse.read``)**:
  full snapshot isolation per read. The manifest replace is the one
  commit point, so a reader never observes a mixed old/new state
  across partitions and never observes a partition mid-swap absent —
  the two windows the round-5 rename-swap protocol left open. A
  superseded version's files survive one further publish cycle
  (``_MANIFEST.prev.json`` grace) before ``vacuum`` removes them, so
  an in-flight reader holding the previous manifest keeps its files.
- **Raw-path readers** (``spark.read.parquet(<table dir>)`` without
  the manifest) see current ∪ grace files — i.e. duplicates of
  partitions rewritten by the latest transaction — and are no longer
  a blessed interface; run ``vacuum(name, full=True)`` first if one
  is unavoidable.
- **Crash atomicity**: the plan file (atomic create) is the writer
  commit point and carries everything needed to finish: the file
  moves, the full next manifest, and the manifest it supersedes.
  Crash before the plan exists → the live table and manifest were
  never touched; ``recover`` discards the stage. Crash anywhere after
  → ``recover`` (run automatically at the start of every mutation and
  every read) replays the plan idempotently: each move either still
  has its staged source (do it) or already happened (skip); the
  manifest writes are deterministic replaces.
- **Writer contract**: one writer per table, now ENFORCED by a lease
  (``_locks/<name>.lock``, O_EXCL create): a second concurrent writer
  raises :class:`ConcurrentWriterError` instead of corrupting. Each
  acquisition takes a monotonically increasing fence number (persisted
  in ``_locks/<name>.fence``) which the commit path checks against
  the live manifest: a zombie writer whose expired lease was stolen
  fails at commit with :class:`FencedWriterError` rather than
  overwriting the thief's published state. (Without a storage-side
  CAS the zombie check is best-effort — the check-then-publish window
  is microseconds of driver code — but every SINGLE-writer crash
  interleaving is exact; the reference relied on its one-process
  scheduler for the same contract, scheduler_clickhouse.py:120-133.)
- Renames are ``os.rename``/``os.replace`` (atomic on local disk /
  NFS / anything POSIX; HDFS renames are atomic too via the
  FileSystem API). Object stores without atomic rename need a table
  format (Delta/Iceberg) instead.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid
from contextlib import ExitStack, contextmanager
from datetime import date, datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binancedatapipeline_spark.catalog import TableSpec
from binancedatapipeline_spark.operators.dedup import dedup_keep_last

DS_COL = "ds"
MANIFEST = "_MANIFEST.json"
MANIFEST_PREV = "_MANIFEST.prev.json"


class ConcurrentWriterError(RuntimeError):
    """A second writer attempted a mutation while another holds the
    table's lease."""


class FencedWriterError(RuntimeError):
    """A writer whose lease was stolen (fence superseded) attempted to
    commit; the table was not modified."""


class Warehouse:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        writer_id: str | None = None,
        lease_ttl: float = 900.0,
    ):
        self.spark = spark
        self.root = root
        self.writer_id = writer_id or uuid.uuid4().hex[:12]
        self.lease_ttl = lease_ttl
        self._held: dict[str, int] = {}  # table -> fence (re-entrancy)
        self._txn: "_Transaction | None" = None
        os.makedirs(root, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        if os.path.exists(self._manifest_path(name)):
            return True
        p = self.path(name)  # legacy (pre-manifest) table
        return os.path.isdir(p) and any(
            not entry.startswith((".", "_")) for entry in os.listdir(p)
        )

    # -------------------------------------------------------- manifest

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.path(name), MANIFEST)

    def _load_manifest(self, name: str) -> dict | None:
        try:
            with open(self._manifest_path(name)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def _synthesize_manifest(self, name: str) -> dict:
        """Manifest for a legacy (pre-manifest) table from a directory
        walk — run once at the first post-upgrade mutation; from then
        on the manifest is carried forward transactionally."""
        files: dict[str, list[str]] = {}
        p = self.path(name)
        if os.path.isdir(p):
            for entry in sorted(os.listdir(p)):
                full = os.path.join(p, entry)
                if entry.startswith((".", "_")):
                    continue
                if os.path.isdir(full) and entry.startswith(f"{DS_COL}="):
                    ds = entry.split("=", 1)[1]
                    files[ds] = sorted(
                        f"{entry}/{f}"
                        for f in os.listdir(full)
                        if not f.startswith((".", "_"))
                    )
                elif os.path.isfile(full):
                    files.setdefault("", []).append(entry)
        return {"version": "legacy", "fence": 0, "files": files}

    def _current_manifest(self, name: str) -> dict:
        return self._load_manifest(name) or self._synthesize_manifest(name)

    def _write_json_atomic(self, path: str, payload: dict) -> None:
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, path)

    def _manifest_files(self, name: str, manifest: dict) -> list[str]:
        base = self.path(name)
        return [
            os.path.join(base, rel)
            for rels in manifest["files"].values()
            for rel in rels
        ]

    # ------------------------------------------------- file statistics

    def _staged_file_stats(
        self, stage: str, moves: list, columns: tuple[str, ...]
    ) -> dict[str, dict[str, dict]]:
        """Per-column, per-file min/max for every staged data file —
        ``{column: {final_rel_path: {"min":…, "max":…}}}`` — recorded
        into the manifest so the watermark and value-bounded reads can
        prune files driver-side, before Spark lists anything. ALL
        requested columns are extracted in ONE footer pass per file
        (a ledger commit records time + flag bounds; re-opening the
        metadata per column would scale footer IO with column count).

        Read from the parquet footers (metadata only — no data pages;
        the files were just written by this driver, so the footer read
        is a few KB of warm page cache each). A file whose every row
        group carries stats gets ``{"min":…, "max":…}`` (None/None for
        a file with no non-null values); a file with ANY stat-less row
        group gets NO entry for that column, which readers treat as
        unprunable. (On an object store at 100 TB you would collect
        the same bounds from the write tasks instead; the manifest
        format is the contract, not the footer walk.)"""
        import pyarrow.parquet as pq

        out: dict[str, dict[str, dict]] = {c: {} for c in columns}
        for src_rel, dst_rel in moves:
            src = os.path.join(stage, src_rel)
            if not src.endswith(".parquet") or not os.path.isfile(src):
                continue
            try:
                md = pq.ParquetFile(src).metadata
            except Exception:
                continue
            if md.num_row_groups == 0:
                for c in columns:
                    out[c][dst_rel] = {"min": None, "max": None}
                continue
            idx: dict[str, int] = {}
            for i in range(md.num_columns):
                name = md.row_group(0).column(i).path_in_schema
                if name in out:
                    idx[name] = i
            for column in columns:
                if column not in idx:
                    continue  # column absent → unprunable
                mn = mx = None
                ok = True
                for rg in range(md.num_row_groups):
                    col = md.row_group(rg).column(idx[column])
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        if col.num_values == 0:
                            continue  # all-null row group: no bounds needed
                        ok = False
                        break
                    lo, hi = _stat_to_naive(st.min), _stat_to_naive(st.max)
                    mn = lo if mn is None or lo < mn else mn
                    mx = hi if mx is None or hi > mx else mx
                if ok:
                    out[column][dst_rel] = {
                        "min": _stat_to_json(mn),
                        "max": _stat_to_json(mx),
                    }
        return out

    # ------------------------------------------------------------- lease

    def _locks_dir(self) -> str:
        d = os.path.join(self.root, "_locks")
        os.makedirs(d, exist_ok=True)
        return d

    def _lock_path(self, name: str) -> str:
        return os.path.join(self._locks_dir(), f"{name}.lock")

    def _next_fence(self, name: str) -> int:
        """Monotone fence counter, bumped under the exclusive lock."""
        fp = os.path.join(self._locks_dir(), f"{name}.fence")
        try:
            with open(fp) as f:
                n = int(f.read().strip() or 0)
        except (OSError, ValueError):
            n = 0
        tmp = fp + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(str(n + 1))
        os.replace(tmp, fp)
        return n + 1

    @contextmanager
    def _writer_lock(self, name: str):
        """Acquire the table's writer lease (re-entrant within this
        instance). Raises :class:`ConcurrentWriterError` if another
        live writer holds it; a lease older than ``lease_ttl`` seconds
        is presumed dead and stolen (atomically — one stealer wins the
        tombstone rename)."""
        if name in self._held:
            yield self._held[name]
            return
        lock = self._lock_path(name)
        for _ in range(2):  # second try after a successful steal
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                try:
                    age = datetime.now().timestamp() - os.path.getmtime(lock)
                    with open(lock) as f:
                        holder = json.load(f)
                except (OSError, ValueError):
                    continue  # holder released between our checks; retry
                if age <= self.lease_ttl:
                    raise ConcurrentWriterError(
                        f"table {name!r} is locked by writer "
                        f"{holder.get('holder')!r} (fence "
                        f"{holder.get('fence')}, age {age:.0f}s ≤ ttl "
                        f"{self.lease_ttl:.0f}s)"
                    )
                # expired: steal via atomic tombstone rename — exactly
                # one stealer succeeds, the rest loop and re-contend
                try:
                    os.rename(lock, lock + f".stale-{uuid.uuid4().hex[:8]}")
                except FileNotFoundError:
                    pass
        else:
            raise ConcurrentWriterError(f"could not acquire lease on {name!r}")
        fence = self._next_fence(name)
        with os.fdopen(fd, "w") as f:
            json.dump(
                {
                    "holder": self.writer_id,
                    "fence": fence,
                    "acquired": datetime.now().isoformat(),
                },
                f,
            )
        self._held[name] = fence
        # Lease HEARTBEAT: staleness is judged by the lock's mtime, and
        # a legitimate writer can easily out-live the TTL mid-stage (a
        # big maintain/migrate Spark write). Refresh the mtime from a
        # daemon thread every ttl/3 so a LIVE writer is never stolen;
        # a crashed one stops heartbeating and ages out as before.
        stop = threading.Event()

        def _beat() -> None:
            while not stop.wait(max(self.lease_ttl / 3.0, 0.05)):
                try:
                    # verify the lock is still OURS before refreshing:
                    # a zombie writer resuming after a steal would
                    # otherwise keep the THIEF's lease eternally fresh
                    # (if the thief then crashed, no writer could ever
                    # age it out). The read-then-utime window can touch
                    # a just-stolen lock at most once — a fresh lock's
                    # mtime is ~now anyway — after which the fence
                    # mismatch stops the beater for good.
                    with open(lock) as f:
                        if json.load(f).get("fence") != fence:
                            return  # stolen: not ours to refresh
                    os.utime(lock)
                except (OSError, ValueError):
                    return  # lock gone: released or stolen; stop quietly
        beater = threading.Thread(target=_beat, daemon=True)
        beater.start()
        try:
            yield fence
        finally:
            stop.set()
            beater.join(timeout=5)
            del self._held[name]
            # Release only OUR lock. A plain read-then-unlink is
            # check-then-act on the contended path (a steal landing in
            # between makes the zombie delete the THIEF's live lock) —
            # so claim the path with one atomic rename to a private
            # tombstone first, inspect that, and put a stolen lock
            # back if it wasn't ours. The restore window (thief's lock
            # briefly absent) is microseconds and backstopped by
            # commit-time fencing.
            tomb = lock + f".rel-{uuid.uuid4().hex[:8]}"
            try:
                os.rename(lock, tomb)
            except FileNotFoundError:
                pass
            else:
                ours = False
                try:
                    with open(tomb) as f:
                        ours = json.load(f).get("fence") == fence
                except (OSError, ValueError):
                    pass
                if not ours:
                    try:
                        # no-clobber restore: hard-link fails EEXIST if
                        # someone re-created the lock meanwhile — never
                        # overwrite a newer writer's lease
                        os.link(tomb, lock)
                    except OSError:
                        pass
                try:
                    os.unlink(tomb)
                except FileNotFoundError:
                    pass

    def _check_fence(self, name: str, fence: int | None) -> None:
        """Commit-time fencing: refuse to commit below the fence of
        the live manifest (a thief already published past us)."""
        if fence is None:
            return
        current = self._load_manifest(name)
        if current and current.get("fence", 0) > fence:
            raise FencedWriterError(
                f"writer fence {fence} superseded by manifest fence "
                f"{current['fence']} on table {name!r}; lease was stolen"
            )

    # ------------------------------------------------------------- read

    def _read_schema(self, spec: TableSpec):
        """The explicit schema every snapshot read passes to the
        parquet reader: the spec's declared columns (+ the derived
        ``ds`` partition column). This is the ADDITIVE SCHEMA
        EVOLUTION mechanism: a column added to the spec is requested
        from every file, and parquet fills it with NULL where an
        older file predates it — deterministic (no file-order-
        dependent inference) and free (no mergeSchema footer sweep
        over millions of files). Type changes and renames are NOT
        supported this way; rewrite the table for those."""
        from pyspark.sql import types as T

        fields = list(spec.schema.fields)
        if spec.partition_date_source is not None:
            fields = fields + [T.StructField(DS_COL, T.DateType())]
        return T.StructType(fields)

    def _reader(self, spec: TableSpec | None):
        r = self.spark.read
        return r if spec is None else r.schema(self._read_schema(spec))

    def _read_live(
        self,
        name: str,
        ds_values: list | None = None,
        spec: TableSpec | None = None,
    ) -> DataFrame | None:
        """A DataFrame pinned to the CURRENT manifest's files — the
        snapshot read. ``ds_values`` (date objects or iso strings)
        prunes to those partitions in Python, before Spark ever lists
        a file. ``spec`` pins the read schema (see ``_read_schema``);
        without it the reader infers from footers (legacy callers).
        Returns None for a table with no data files."""
        manifest = self._load_manifest(name)
        if manifest is None:
            if not self.exists(name):
                return None
            df = self._reader(spec).parquet(self.path(name))  # legacy table
            if ds_values is not None:
                df = df.filter(F.col(DS_COL).isin(list(ds_values)))
            return df
        files = manifest["files"]
        if ds_values is not None:
            keys = {_ds_key(v) for v in ds_values}
            picked = {k: v for k, v in files.items() if k in keys}
        else:
            picked = files
        paths = [
            os.path.join(self.path(name), rel)
            for rels in picked.values()
            for rel in rels
        ]
        if not paths:
            all_paths = self._manifest_files(name, manifest)
            if not all_paths:
                return None
            # schema-preserving empty frame over the pruned-out table
            return (
                self._reader(spec).option("basePath", self.path(name))
                .parquet(*all_paths)
                .filter(F.lit(False))
            )
        return (
            self._reader(spec)
            .option("basePath", self.path(name))
            .parquet(*paths)
        )

    def read(self, spec: TableSpec) -> DataFrame:
        """Read a table (without the internal ds partition column) as
        one consistent snapshot: the file listing is pinned to the
        manifest committed by a single atomic rename, so concurrent
        publishes can never yield a mixed or partially-visible state.

        Rolls forward any committed-but-unpublished transaction first
        (a writer that died between the plan commit and the manifest
        replace would otherwise leave its update invisible until the
        NEXT mutation — the exact window where the pipeline being
        down is likeliest)."""
        self.recover(spec.name, rollback_uncommitted=False)
        df = self._read_live(spec.name, spec=spec)
        if df is None:
            return spec.empty(self.spark)
        return df.select(*spec.columns)

    def register_views(self, *specs: TableSpec, suffix: str = "") -> list[str]:
        """Register each table as a session TEMP VIEW named after it
        (plus ``suffix``), so the whole warehouse is queryable with
        plain ``spark.sql`` — the surface the reference's users
        already write. Returns the view names.

        Each view is SNAPSHOT-PINNED: its file listing resolves from
        the manifest at registration time (the same guarantee
        :meth:`read` gives one query), so the view keeps returning
        that version across concurrent publishes — but only for as
        long as the pinned files live. Replaced files survive exactly
        one grace cycle: after the SECOND subsequent publish of a
        table, ``_vacuum_unreferenced`` deletes them, and a view still
        pinned to the old version fails (or partially reads)
        mid-query. Re-run ``register_views`` to advance to the latest
        commits — routinely in any session that outlives a publish
        cycle, not just when fresher data is wanted. Tables not yet
        initialized
        register as their empty declared schema, so SQL over a fresh
        warehouse resolves instead of 404ing. With no specs, registers
        EVERY table in the catalog registry — one call puts the whole
        warehouse behind SQL."""
        if not specs:
            from binancedatapipeline_spark import catalog

            specs = tuple(catalog.TABLES.values())
        names = []
        for spec in specs:
            name = f"{spec.name}{suffix}"
            self.read(spec).createOrReplaceTempView(name)
            names.append(name)
        return names

    def migrate(self, spec: TableSpec) -> int:
        """One-shot rewrite of a table to the spec's CURRENT schema —
        the non-additive evolution path (type widening, dropped
        columns; additive columns need no migration, see
        ``_read_schema``). Reads the stored files with merged footer
        inference (the one place inference is correct: the point is
        to accept whatever epochs are on disk), aligns to the spec
        (null-pad + cast + reorder), and republishes through the
        normal staged commit — crash-safe, snapshot-visible, grace
        files kept for in-flight readers. Returns the row count."""
        with self._writer_lock(spec.name) as fence:
            self.recover(spec.name)
            if not self.exists(spec.name):
                return 0
            manifest = self._current_manifest(spec.name)
            paths = self._manifest_files(spec.name, manifest)
            if not paths:
                return 0
            raw = (
                self.spark.read.option("mergeSchema", "true")
                .option("basePath", self.path(spec.name))
                .parquet(*paths)
            )
            out = self._with_ds(spec, spec.align(raw))
            n = out.count()
            stage = self._new_stage(spec.name)
            data = os.path.join(stage, "data")
            writer = self._data_writer(out, spec)
            if spec.partition_date_source:
                writer = writer.partitionBy(DS_COL)
            writer.parquet(data)
            moves, staged = self._staged_moves(spec.name, stage)
            self._commit(spec.name, stage, staged, moves, None, fence,
                         stats_column=spec.time_column,
                         extra_stats=spec.stats_columns)
            return n

    def snapshot(self, *specs: TableSpec) -> dict:
        """Pin a CROSS-TABLE snapshot: capture every listed table's
        current manifest in one pass, so a multi-table computation
        (premium = perp ⋈ spot, a backfill audit, a report) reads ONE
        consistent version of each table even while ingestion keeps
        publishing — the cross-table analog of the per-read isolation
        ``read`` already has, and the parity point for the reference's
        engine-level transactions (duckdb:1546-1594).

        Validity window: a pinned version's files survive exactly one
        further publish per table (the ``_MANIFEST.prev.json`` grace
        cycle) before ``vacuum`` may remove them — consume the
        snapshot within that horizon, same contract as
        :meth:`read_prev`. The capture itself is not atomic across
        tables (no global lock), but each hourly tick publishes each
        table once, so a snapshot taken between ticks is exact; taken
        mid-tick it is at worst one tick stale on the tables already
        republished — never torn within a table."""
        out = {}
        for spec in specs:
            self.recover(spec.name, rollback_uncommitted=False)
            out[spec.name] = self._load_manifest(spec.name)
        return out

    def read_snapshot(self, spec: TableSpec, snap: dict) -> DataFrame:
        """Read ``spec`` pinned to the version captured by
        :meth:`snapshot` — concurrent publishes after the capture are
        invisible. Legacy tables (no manifest at capture) fall back to
        a live read."""
        manifest = snap[spec.name]
        if manifest is None:
            return self.read(spec)
        paths = self._manifest_files(spec.name, manifest)
        if not paths:
            return spec.empty(self.spark)
        return (
            self._reader(spec)
            .option("basePath", self.path(spec.name))
            .parquet(*paths)
            .select(*spec.columns)
        )

    def read_prev(self, spec: TableSpec) -> DataFrame:
        """Read the PREVIOUS committed snapshot (one version of time
        travel) — the grace manifest whose files `vacuum` keeps for
        exactly one publish cycle. The natural uses: diffing a
        publish's effect (`read` vs `read_prev`), and giving a
        long-running report a stable base while ingestion continues.
        Raises if no previous version exists (first write, or after
        ``vacuum(full=True)``)."""
        prev_path = os.path.join(self.path(spec.name), MANIFEST_PREV)
        try:
            with open(prev_path) as f:
                manifest = json.load(f)
        except (OSError, ValueError):
            raise FileNotFoundError(
                f"no previous snapshot for table {spec.name!r} (first "
                "write, legacy table, or vacuumed with full=True)"
            ) from None
        paths = self._manifest_files(spec.name, manifest)
        if not paths:
            return spec.empty(self.spark)
        return (
            self._reader(spec).option("basePath", self.path(spec.name))
            .parquet(*paths)
            .select(*spec.columns)
        )

    def rollback(self, spec: TableSpec | str) -> None:
        """Atomically restore the PREVIOUS committed snapshot as the
        current version — the bad-publish undo (Delta's RESTORE, one
        version deep). Runs through the standard plan/publish protocol
        with ZERO file moves: data files are immutable, so rolling
        back is one staged plan whose manifest is the grace manifest
        re-stamped with a fresh version and this writer's fence, then
        one atomic manifest replace. Crash-safe like any commit
        (recover replays it), fenced like any commit (a zombie's
        rollback cannot clobber a newer writer).

        After a rollback the superseded (bad) version sits in the
        grace slot: ``read_prev`` diffs what was undone, a second
        ``rollback`` is the undo of the undo, and its files survive
        one further publish cycle before vacuum. Raises
        FileNotFoundError when no previous version exists (first
        write, legacy table, or ``vacuum(full=True)`` — full vacuum
        voids the grace guarantee, and any grace file already removed
        fails the restore BEFORE anything is published)."""
        name = spec if isinstance(spec, str) else spec.name
        if self._txn is not None:
            raise RuntimeError(
                "rollback is not transactional — run it outside a "
                "transaction"
            )
        with self._writer_lock(name) as fence:
            self.recover(name)
            prev_path = os.path.join(self.path(name), MANIFEST_PREV)
            try:
                with open(prev_path) as f:
                    prev = json.load(f)
            except (OSError, ValueError):
                raise FileNotFoundError(
                    f"no previous snapshot for table {name!r} (first "
                    "write, legacy table, or vacuumed with full=True)"
                ) from None
            live = self._current_manifest(name)
            stage = self._new_stage(name)
            manifest = dict(prev)
            manifest["version"] = os.path.basename(stage)
            manifest["fence"] = fence
            missing = [
                p
                for p in self._manifest_files(name, manifest)
                if not os.path.exists(p)
            ]
            if missing:
                shutil.rmtree(stage, ignore_errors=True)
                raise FileNotFoundError(
                    f"cannot roll back {name!r}: {len(missing)} grace "
                    f"file(s) already vacuumed (first: {missing[0]})"
                )
            self._check_fence(name, fence)
            plan = {"moves": [], "manifest": manifest, "prev_manifest": live}
            self._write_plan(stage, plan)
            self._publish(name, stage)

    def read_between(
        self, spec: TableSpec, since=None, until=None, column: str | None = None
    ) -> DataFrame:
        """Snapshot read restricted to ``since <= time_column <=
        until`` (either bound optional), with FILE-LEVEL pruning off
        the manifest's recorded min/max bounds: files whose recorded
        range cannot intersect the window are dropped from the listing
        driver-side, before Spark lists, footers or schedules anything
        — at 100 TB a one-hour incremental window touches a handful of
        files out of millions. Files without a stats entry (legacy
        data) are always included; the row-level filter below makes
        the result exact either way, so pruning is a pure scan
        reduction, never a semantics change.

        Note this prunes on the TIME column directly, which Hive-style
        partition pruning cannot do (the partition column is the
        derived ``ds`` date; a filter on the raw timestamp doesn't
        fold to it) — this is the Iceberg/Delta data-skipping idea
        expressed on the plain-parquet manifest.

        ``column`` bounds a NON-time column instead, pruning off the
        manifest's ``stats_extra`` bounds (recorded for the spec's
        ``stats_columns``). The alert loop's unsent re-send scan is
        the motivating case: ``read_between(alerts, column="notified",
        since=False, until=False)`` lists only files whose recorded
        bounds admit an undelivered row — after a healthy tick, zero
        files. A column with no recorded bounds degrades to the
        unpruned snapshot + exact row filter."""
        col = column if column is not None else spec.time_column
        if col is None:
            raise ValueError(f"table {spec.name!r} has no time column")
        # a plain date bound cannot compare against the datetime file
        # stats (Python raises on date<->datetime) — widen it to the
        # day boundary matching the side it bounds
        if isinstance(since, date) and not isinstance(since, datetime):
            since = datetime.combine(since, datetime.min.time())
        if isinstance(until, date) and not isinstance(until, datetime):
            until = datetime.combine(until, datetime.max.time())
        self.recover(spec.name, rollback_uncommitted=False)
        if not self.exists(spec.name):
            # a table not yet created is an EMPTY window, not a reason
            # to route through the unpruned-snapshot fallback (the
            # alert loop's first ticks window-read tables its own
            # transaction is about to create)
            return spec.empty(self.spark)
        manifest = self._load_manifest(spec.name)
        stats = None
        if manifest is not None:
            if manifest.get("stats_column") == col:
                stats = manifest.get("stats", {})
            elif col in manifest.get("stats_extra", {}):
                stats = manifest["stats_extra"][col]
        df = None
        if stats is not None:
            base = self.path(spec.name)
            keep = []
            for rels in manifest["files"].values():
                for rel in rels:
                    s = stats.get(rel)
                    if s is None:
                        keep.append(rel)  # no bounds recorded → must read
                        continue
                    if s["max"] is None:  # file has no non-null values
                        if since is None and until is None:
                            keep.append(rel)
                        continue
                    mn, mx = _stat_value(s["min"]), _stat_value(s["max"])
                    if since is not None and mx < since:
                        continue
                    if until is not None and mn > until:
                        continue
                    keep.append(rel)
            if not keep:
                df = spec.empty(self.spark)
            else:
                df = (
                    self._reader(spec).option("basePath", base)
                    .parquet(*[os.path.join(base, r) for r in keep])
                    .select(*spec.columns)
                )
        if df is None:  # legacy table or no stats: unpruned snapshot
            df = self.read(spec)
        if since is not None:
            df = df.filter(F.col(col) >= F.lit(since))
        if until is not None:
            df = df.filter(F.col(col) <= F.lit(until))
        return df

    def latest_timestamp(self, spec: TableSpec):
        """The incremental watermark: MAX(time_column), or None.

        Fast path: when the manifest carries complete per-file
        min/max stats for the time column (every post-round-6 write
        does), the watermark is the max of the recorded file bounds —
        answered from the manifest alone, ZERO Spark jobs (the
        reference's ``SELECT MAX`` was a metadata-speed ClickHouse
        lookup; this restores that cost profile). Any file without a
        stats entry (legacy data) falls back to the scan below.

        Scan fallback: when the partition source IS the time column,
        ``ds`` is a monotone function of it, so the max lives in the
        lexicographically-last partition — the manifest prunes the
        scan to just that partition's files (at 100 TB: one partition
        of thousands)."""
        if spec.time_column is None or not self.exists(spec.name):
            return None
        manifest = self._load_manifest(spec.name)
        if manifest is not None and manifest.get("stats_column") == spec.time_column:
            stats = manifest.get("stats", {})
            rels = [r for rs in manifest["files"].values() for r in rs]
            if rels and all(r in stats for r in rels):
                maxes = [
                    _stat_value(stats[r]["max"])
                    for r in rels
                    if stats[r]["max"] is not None
                ]
                return max(maxes) if maxes else None
        ds_values = None
        if (
            manifest is not None
            and spec.partition_date_source == spec.time_column
        ):
            keys = [k for k in manifest["files"] if k]
            if keys:
                ds_values = [max(keys)]
        df = self._read_live(spec.name, ds_values=ds_values, spec=spec)
        if df is None:
            return None
        row = df.agg(F.max(spec.time_column).alias("m")).first()
        return row["m"]

    def incremental_start(self, spec: TableSpec, now: datetime) -> datetime | None:
        """start = watermark − lookback (the reference's late-data
        re-fetch buffer, duckdb:1612-1629); None → full backfill."""
        from binancedatapipeline_spark.functions.timeutils import parse_duration

        latest = self.latest_timestamp(spec)
        if latest is None:
            return None
        delta = parse_duration(spec.lookback)
        if delta is None:
            raise ValueError(
                f"table {spec.name!r} lookback {spec.lookback!r} is not a "
                "fixed-length duration (weeks/days/hours/minutes/seconds)"
            )
        return latest - delta

    # ----------------------------------------------- transaction plumbing

    def _staging_root(self, name: str) -> str:
        return os.path.join(self.root, "_staging", name)

    def _new_stage(self, name: str) -> str:
        tx = datetime.now().strftime("%Y%m%d%H%M%S%f") + "-" + uuid.uuid4().hex[:8]
        stage = os.path.join(self._staging_root(name), tx)
        os.makedirs(stage)
        return stage

    def _rename(self, src: str, dst: str) -> None:
        """Single-call seam for every publish-step rename — tests
        inject crashes here to exercise recovery."""
        os.rename(src, dst)

    def _write_plan(self, stage: str, plan: dict) -> None:
        """The writer commit point: the plan file appears atomically
        (write-then-replace), and its presence means the staged data
        is complete and the transaction WILL be published (rolled
        forward by ``recover`` if this process dies first)."""
        tmp = os.path.join(stage, "_PLAN.json.tmp")
        with open(tmp, "w") as f:
            json.dump(plan, f)
        os.replace(tmp, os.path.join(stage, "_PLAN.json"))

    def _staged_moves(self, name: str, stage: str) -> tuple[list, dict]:
        """(moves, staged_files): each staged data file's move into
        the live tree under a tx-unique immutable name, plus the
        per-partition map of resulting live relative paths."""
        tx = os.path.basename(stage)
        data = os.path.join(stage, "data")
        moves: list[list[str]] = []
        staged: dict[str, list[str]] = {}
        if not os.path.isdir(data):
            return moves, staged
        for entry in sorted(os.listdir(data)):
            full = os.path.join(data, entry)
            if entry.startswith((".", "_")):
                continue
            if os.path.isdir(full) and entry.startswith(f"{DS_COL}="):
                ds = entry.split("=", 1)[1]
                for fn in sorted(os.listdir(full)):
                    if fn.startswith((".", "_")):
                        continue
                    rel = f"{entry}/{tx}-{fn}"
                    moves.append([f"data/{entry}/{fn}", rel])
                    staged.setdefault(ds, []).append(rel)
            elif os.path.isfile(full):
                rel = f"{tx}-{entry}"
                moves.append([f"data/{entry}", rel])
                staged.setdefault("", []).append(rel)
        return moves, staged

    def _commit(
        self,
        name: str,
        stage: str,
        staged_files: dict[str, list[str]],
        moves: list,
        replaced_ds: set[str] | None,
        fence: int | None,
        stats_column: str | None = None,
        extra_stats: tuple[str, ...] = (),
    ) -> None:
        """Build the next manifest, commit the plan, publish.

        ``replaced_ds=None`` → whole-table replace (the next manifest
        lists only the staged files); otherwise the named partitions
        (iso strings) are replaced/dropped and the rest carried over
        from the current manifest.

        ``stats_column`` (the spec's time column) records per-file
        min/max bounds into the manifest: new files from their staged
        footers, retained files carried forward from the previous
        manifest — so the stats map stays complete across
        partition-scoped upserts without re-reading anything.

        ``extra_stats`` (the spec's ``stats_columns``) records the
        same per-file bounds for additional columns under
        ``stats_extra`` — value-bounded reads
        (:meth:`read_between` with ``column=``) prune on them."""
        self._check_fence(name, fence)
        prev = self._current_manifest(name) if self.exists(name) else None
        if replaced_ds is None:
            files = dict(staged_files)
        else:
            files = {
                k: v
                for k, v in (prev["files"] if prev else {}).items()
                if k not in replaced_ds
            }
            files.update(staged_files)
        manifest = {
            "version": os.path.basename(stage),
            "fence": fence if fence is not None else (prev or {}).get("fence", 0),
            "files": files,
        }
        if stats_column is not None or extra_stats:
            live = {rel for rels in files.values() for rel in rels}
            wanted = tuple(
                dict.fromkeys(
                    ([stats_column] if stats_column is not None else [])
                    + list(extra_stats)
                )
            )
            staged_all = self._staged_file_stats(stage, moves, wanted)

            def _bounds(column: str, carried: dict) -> dict:
                stats = {rel: s for rel, s in carried.items() if rel in live}
                stats.update(
                    {
                        r: s
                        for r, s in staged_all.get(column, {}).items()
                        if r in live
                    }
                )
                return stats

            if stats_column is not None:
                carried = (
                    (prev or {}).get("stats", {})
                    if (prev or {}).get("stats_column") == stats_column
                    else {}
                )
                manifest["stats_column"] = stats_column
                manifest["stats"] = _bounds(stats_column, carried)
            if extra_stats:
                prev_extra = (prev or {}).get("stats_extra", {})
                manifest["stats_extra"] = {
                    c: _bounds(c, prev_extra.get(c, {})) for c in extra_stats
                }
        plan = {"moves": moves, "manifest": manifest, "prev_manifest": prev}
        if self._txn is not None:
            # cross-table transaction: the plan is staged but NOT yet
            # committed — a group plan counts as committed only once
            # the transaction's commit record exists (see transaction())
            if name not in self._txn.owned:
                raise RuntimeError(
                    "mutations inside a transaction must go through the "
                    "transaction handle (tx.upsert/tx.overwrite)"
                )
            if any(n == name for n, _ in self._txn.stages):
                raise ValueError(
                    f"table {name!r} already mutated in this transaction; "
                    "one mutation per table per transaction (a second "
                    "mutation would not see the first's staged rows)"
                )
            plan["group"] = self._txn.group
            self._write_plan(stage, plan)
            self._txn.stages.append((name, stage))
            return
        self._write_plan(stage, plan)
        self._publish(name, stage)

    def _publish(self, name: str, stage: str) -> None:
        """Execute (or re-execute) a committed plan. Idempotent: every
        file move checks whether it already happened (and tolerates
        FileNotFoundError from a concurrent recoverer winning the
        race), and the manifest writes are deterministic replaces of
        content carried in the plan itself."""
        plan_path = os.path.join(stage, "_PLAN.json")
        try:
            with open(plan_path) as f:
                plan = json.load(f)
        except FileNotFoundError:
            if not os.path.isdir(stage):
                return  # a concurrent recover published + cleaned it all
            raise
        base = self.path(name)
        for src_rel, dst_rel in plan["moves"]:
            src = os.path.join(stage, src_rel)
            dst = os.path.join(base, dst_rel)
            if os.path.exists(src) and not os.path.exists(dst):
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                try:
                    self._rename(src, dst)
                except FileNotFoundError:
                    pass  # the concurrent publisher won the race; done
        os.makedirs(base, exist_ok=True)
        # Commit-point guard: a replayer (reader-side recover) may have
        # stalled after opening the plan while the winning publisher
        # executed it AND committed newer transactions. Replaying the
        # stale manifest here would REGRESS the table and the vacuum
        # below would then delete the newer commit's files — committed
        # data loss. The fence is monotone per table (bumped under the
        # writer lock) and the version is a sortable tx timestamp, so
        # "live strictly newer than plan" ⇒ this plan was already
        # published (recover runs before every new mutation) ⇒ skip
        # the manifest replace and the vacuum; just clear the stage.
        live = self._load_manifest(name)
        plan_m = plan["manifest"]
        if live is not None and (
            live.get("fence", 0),
            str(live.get("version", "")),
        ) > (plan_m.get("fence", 0), str(plan_m.get("version", ""))):
            shutil.rmtree(stage, ignore_errors=True)
            return
        if plan.get("prev_manifest"):
            self._write_json_atomic(
                os.path.join(base, MANIFEST_PREV), plan["prev_manifest"]
            )
        # THE reader commit point: one atomic replace
        self._write_json_atomic(self._manifest_path(name), plan_m)
        self._vacuum_unreferenced(name, extra_manifests=[plan_m])
        shutil.rmtree(stage, ignore_errors=True)

    def recover(self, name: str, rollback_uncommitted: bool = True) -> int:
        """Repair unfinished transactions for a table: committed plans
        (plan file present ⇒ stage fully written) roll FORWARD to
        their final state; uncommitted stages roll BACK (discarded —
        the live table was never touched). Called automatically at the
        start of every mutation, so after a crash the next pipeline
        run self-heals; ``read`` calls it too with
        ``rollback_uncommitted=False`` — a plan-less stage there may
        be a LIVE writer mid-stage, and only the writer path (which
        holds the lease) may discard one. Returns the number of
        transactions repaired.

        GROUP plans (cross-table transactions) are committed only
        once the group's commit record exists in ``_txlog`` — a group
        plan without its record is an aborted/in-flight transaction
        and is treated exactly like a plan-less stage (rolled back
        under the writer path, left alone under the reader path;
        stages of THIS instance's live transaction are never
        touched)."""
        sroot = self._staging_root(name)
        if not os.path.isdir(sroot):
            return 0
        n = 0
        for tx in sorted(os.listdir(sroot)):
            stage = os.path.join(sroot, tx)
            if not os.path.isdir(stage):
                continue
            group = None
            committed = os.path.exists(os.path.join(stage, "_PLAN.json"))
            if committed:
                try:
                    with open(os.path.join(stage, "_PLAN.json")) as f:
                        group = json.load(f).get("group")
                except (OSError, ValueError):
                    continue  # concurrently published+cleaned; skip
            if group is not None:
                if self._txn is not None and group == self._txn.group:
                    continue  # this instance's live transaction
                committed = os.path.exists(self._txcommit_path(group))
            if committed:
                self._publish(name, stage)
            elif rollback_uncommitted:
                shutil.rmtree(stage, ignore_errors=True)
            else:
                continue
            n += 1
        return n

    # ----------------------------------------- cross-table transactions

    def _txlog_dir(self) -> str:
        d = os.path.join(self.root, "_txlog")
        os.makedirs(d, exist_ok=True)
        return d

    def _txcommit_path(self, group: str) -> str:
        return os.path.join(self._txlog_dir(), f"{group}.json")

    @contextmanager
    def transaction(self):
        """Cross-table ATOMIC publish (the one granularity the
        per-table protocol lacks — e.g. the premium upsert and its
        alert-ledger write landing as one unit):

            with wh.transaction() as tx:
                tx.upsert(premium_spec, batch)
                tx.upsert(alerts_spec, events)

        Every mutation inside the block stages normally but its plan
        carries a GROUP id and does not count as committed until the
        group's commit record lands in ``_txlog`` (one atomic
        write-then-replace — THE commit point). On exit: record, then
        publish each member; on exception: every staged member is
        discarded and nothing was ever visible. Crash anywhere:
        before the record ⇒ all members roll back; after ⇒ recover()
        rolls every member forward (each table's next read or
        mutation self-heals it).

        Guarantees and limits, stated precisely: this is atomic
        DURABILITY (never a partially-committed group on disk), with
        per-table writer leases held for the whole block (acquired at
        first touch, sorted acquisition is the caller's concern if
        two transactions touch overlapping table sets in opposite
        order — each acquisition fails fast with
        ConcurrentWriterError rather than deadlocking). It is NOT a
        serializable multi-table READ: a live reader interleaving
        single-table reads between two member publishes can still see
        (new A, old B) — pin ``snapshot()`` for consistent cross-table
        reads. One mutation per table per transaction (a second would
        not see the first's staged rows; enforced). The reference has
        no cross-statement transaction at all (per-statement
        ClickHouse/DuckDB inserts, scheduler_clickhouse.py:66-117) —
        this is beyond-parity, built because the alert loop's
        ledger+notify pairing wants it."""
        if self._txn is not None:
            raise RuntimeError("transactions do not nest")
        txn = _Transaction(self)
        self._txn = txn
        try:
            yield txn
        except BaseException:
            self._txn = None
            for _, stage in txn.stages:
                shutil.rmtree(stage, ignore_errors=True)
            txn.stack.close()
            raise
        self._txn = None
        try:
            if txn.stages:
                # Pre-record verification: a writer suspended past its
                # lease TTL (heartbeat thread paused with it) can have
                # a member stage swept by a thief's recover and/or its
                # fence superseded. Committing then would publish the
                # SURVIVING members only — a partially-committed group.
                # Verify every member's stage+plan still exists and no
                # table's fence is superseded, IMMEDIATELY before the
                # commit record; on any failure abort the whole group
                # (the remaining stages roll back, nothing was ever
                # visible). The residual window between this check and
                # the record write is the same microsecond class as the
                # single-table fence check.
                try:
                    for name, stage in txn.stages:
                        self._check_fence(name, self._held.get(name))
                        if not os.path.exists(
                            os.path.join(stage, "_PLAN.json")
                        ):
                            raise FencedWriterError(
                                f"transaction {txn.group} aborted: staged "
                                f"member for table {name!r} disappeared "
                                "(lease stolen while suspended); no member "
                                "was published"
                            )
                except FencedWriterError:
                    for _, s in txn.stages:
                        shutil.rmtree(s, ignore_errors=True)
                    raise
                record = {
                    "group": txn.group,
                    "stages": [
                        [n, os.path.basename(s)] for n, s in txn.stages
                    ],
                }
                # THE commit point: one atomic replace
                self._write_json_atomic(self._txcommit_path(txn.group), record)
                for name, stage in txn.stages:
                    self._publish(name, stage)
                try:
                    os.unlink(self._txcommit_path(txn.group))
                except FileNotFoundError:
                    pass
        finally:
            txn.stack.close()

    def _gc_txlog(self) -> int:
        """Drop commit records whose member stages are all gone (a
        crash between the last member publish and the record unlink
        leaves one behind). Records with surviving stages are kept —
        they are what recover() rolls forward. Cold path (vacuum)."""
        d = self._txlog_dir()
        removed = 0
        for fn in os.listdir(d):
            try:
                with open(os.path.join(d, fn)) as f:
                    rec = json.load(f)
                live = any(
                    os.path.isdir(os.path.join(self._staging_root(n), tx))
                    for n, tx in rec.get("stages", [])
                )
            except (OSError, ValueError):
                continue
            if not live:
                try:
                    os.unlink(os.path.join(d, fn))
                    removed += 1
                except FileNotFoundError:
                    pass
        return removed

    # ----------------------------------------------------------- vacuum

    def _referenced(self, name: str, extra_manifests: list[dict]) -> set[str]:
        refs: set[str] = set()
        for m in [self._load_manifest(name), *extra_manifests]:
            if m:
                for rels in m["files"].values():
                    refs.update(rels)
        prev_path = os.path.join(self.path(name), MANIFEST_PREV)
        try:
            with open(prev_path) as f:
                for rels in json.load(f)["files"].values():
                    refs.update(rels)
        except (OSError, ValueError):
            pass
        # files promised by any committed-but-unpublished plan
        sroot = self._staging_root(name)
        if os.path.isdir(sroot):
            for tx in os.listdir(sroot):
                try:
                    with open(os.path.join(sroot, tx, "_PLAN.json")) as f:
                        p = json.load(f)
                    for rels in p["manifest"]["files"].values():
                        refs.update(rels)
                except (OSError, ValueError, KeyError):
                    continue
        return refs

    def _vacuum_unreferenced(
        self, name: str, extra_manifests: list[dict] | None = None, full: bool = False
    ) -> int:
        """Delete data files referenced by neither the current nor the
        grace (prev) manifest nor any pending committed plan. With
        ``full=True`` the grace manifest is dropped first (so its
        files lose their reference) — for handing the directory to a
        raw-path reader. Pending committed-plan references are kept in
        EVERY mode: a plan on disk is a committed transaction whose
        files recover() will publish, and deleting them (the round-6
        ``vacuum --full`` after a crash mid-publish) breaks all
        subsequent reads of the table. Returns the number of files
        removed."""
        base = self.path(name)
        if not os.path.isdir(base) or self._load_manifest(name) is None:
            return 0
        if full:
            try:
                os.unlink(os.path.join(base, MANIFEST_PREV))
            except FileNotFoundError:
                pass
        refs = self._referenced(name, extra_manifests or [])
        removed = 0
        for dirpath, dirnames, filenames in os.walk(base, topdown=False):
            for fn in filenames:
                if fn.startswith((".", "_")):
                    continue
                rel = os.path.relpath(os.path.join(dirpath, fn), base)
                if rel not in refs:
                    try:
                        os.unlink(os.path.join(dirpath, fn))
                        removed += 1
                    except FileNotFoundError:
                        pass
            if dirpath != base and not os.listdir(dirpath):
                try:
                    os.rmdir(dirpath)
                except OSError:
                    pass
        return removed

    def vacuum(self, name: str, full: bool = False) -> int:
        """Public GC entry point (see :meth:`_vacuum_unreferenced`).

        Rolls committed-but-unpublished plans FORWARD first (without
        touching plan-less stages — those may belong to a live writer
        mid-stage), so a vacuum run right after a crash mid-publish
        never sees a half-applied transaction."""
        self.recover(name, rollback_uncommitted=False)
        self._gc_txlog()
        return self._vacuum_unreferenced(name, full=full)

    def prune_orphans(
        self,
        spec: TableSpec,
        live_keys: DataFrame,
        min_orphan_frac: float = 0.1,
    ) -> dict:
        """Row-level GC for derived state tables (round 6): drop rows
        whose key no longer appears in ``live_keys`` once orphans
        exceed ``min_orphan_frac`` of the table.

        The motivating consumer is the incremental-dedup band index
        (L37/L38): its documented staleness window — ids deleted from
        the docs table (curation drops, retention deletes) leave band
        rows live, and future look-alikes of the deleted content are
        suppressed against phantom state — shrinks exactly at
        compaction. Same shape serves the semantic-dedup vector store
        (L43) and any (state keyed by entity id) table.

        The threshold makes this a MAINTENANCE op, not a per-batch
        one: below it the scan stops at two counts (column-pruned key
        scan + semi-join count), above it the rewrite goes through
        the snapshot-committed :meth:`overwrite`, so concurrent
        readers still see one consistent version. ``live_keys``
        columns name the join key (e.g. a single ``id`` column).
        Returns a stats dict."""
        key_cols = list(live_keys.columns)
        cur = self.read(spec)
        total = cur.count()
        if total == 0:
            return {"total": 0, "orphans": 0, "pruned": False}
        kept = cur.join(live_keys, on=key_cols, how="left_semi")
        n_kept = kept.count()
        orphans = total - n_kept
        if orphans == 0 or orphans / total < min_orphan_frac:
            return {"total": total, "orphans": orphans, "pruned": False}
        self.overwrite(spec, kept)
        return {"total": total, "orphans": orphans, "pruned": True}

    # ------------------------------------------------------------ write

    def _with_ds(self, spec: TableSpec, df: DataFrame) -> DataFrame:
        src = spec.partition_date_source
        if src is None:
            return df
        return df.withColumn(DS_COL, F.to_date(F.col(src)))

    def _data_writer(self, df: DataFrame, spec: TableSpec):
        """``df.write`` carrying the spec's declared parquet BLOOM
        FILTERS (``TableSpec.bloom_filters``: column → expected
        distinct values per row group). Every table-data write goes
        through here so point-read row-group skipping holds across
        overwrite / upsert / maintain / migrate — a freshly-upserted
        unclustered partition is exactly where footer min/max can't
        prune and the bloom still can."""
        writer = df.write
        for col, ndv in (spec.bloom_filters or {}).items():
            writer = (
                writer.option(f"parquet.bloom.filter.enabled#{col}", "true")
                .option(f"parquet.bloom.filter.expected.ndv#{col}", str(int(ndv)))
            )
        return writer

    def init_table(self, spec: TableSpec) -> None:
        """CREATE TABLE IF NOT EXISTS (duckdb:1499-1521): write an
        empty dataset + manifest so readers never 404."""
        if not self.exists(spec.name):
            self.overwrite(spec, spec.empty(self.spark))

    def overwrite(self, spec: TableSpec, df: DataFrame) -> None:
        """Full refresh (dimension tables, needs_incremental=False).
        Staged, then committed as ONE manifest replace — a reader mid-
        refresh sees the complete old snapshot or the complete new
        one, never Spark's delete-then-write window."""
        with self._writer_lock(spec.name) as fence:
            self.recover(spec.name)
            out = self._with_ds(spec, spec.align(df))
            stage = self._new_stage(spec.name)
            data = os.path.join(stage, "data")
            writer = self._data_writer(out, spec)
            if spec.partition_date_source:
                writer = writer.partitionBy(DS_COL)
            writer.parquet(data)
            moves, staged = self._staged_moves(spec.name, stage)
            self._commit(spec.name, stage, staged, moves, None, fence,
                         stats_column=spec.time_column,
                         extra_stats=spec.stats_columns)

    def write_bucketed(
        self,
        spec: TableSpec,
        df: DataFrame,
        n_buckets: int = 8,
        bucket_cols: list[str] | None = None,
    ) -> str:
        """Materialize a table bucketed (and sorted) by its leading
        primary-key column(s) for co-located joins: two tables
        bucketed the same way join WITHOUT a shuffle — at 100 TB the
        perp⋈spot premium join is the workload's dominant shuffle,
        and bucketing removes it from every hourly run. Registers
        ``<name>_bucketed`` in the session catalog and returns it.
        (Bucketed tables are Spark-catalog-managed; the manifest
        protocol does not apply.)"""
        cols = bucket_cols or [spec.primary_keys[0]]
        table = f"{spec.name}_bucketed"
        self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        (
            self._data_writer(spec.align(df), spec)
            .mode("overwrite")
            .bucketBy(n_buckets, *cols)
            .sortBy(*cols)
            .option("path", self.path(table))
            .saveAsTable(table)
        )
        return table

    def upsert(self, spec: TableSpec, updates: DataFrame, order_col: str | None = None) -> int:
        """PK-upsert restricted to the date partitions the batch
        touches. Replay-idempotent (T3/T4); crash-atomic and
        snapshot-visible via the stage-plan-manifest protocol (module
        docstring). Returns the batch rows upserted, counted after the
        keep-last dedup; an empty batch leaves the table untouched.

        Plan: dedup batch keep-last → one ``groupBy(ds).count()``
        collect gives both the batch size (broadcast choice) and the
        touched partitions → read ONLY those partitions of the target
        (manifest-pruned file list) → anti-join out superseded rows →
        union → stage the rewritten partitions → publish by immutable
        file moves + one manifest replace (plus explicit drops for
        touched partitions whose every row moved elsewhere). The
        batch is evaluated twice (the aggregate, then the write):
        cache an expensive source before calling."""
        with self._writer_lock(spec.name) as fence:
            return self._upsert_locked(spec, updates, order_col, fence)

    def _upsert_locked(
        self, spec: TableSpec, updates: DataFrame, order_col: str | None, fence: int
    ) -> int:
        self.recover(spec.name)
        # dedup before align: the ordering column may be auxiliary
        # (e.g. a batch sequence number) and not part of the schema
        if order_col is not None:
            updates = dedup_keep_last(updates, spec.primary_keys, order_col)
        else:
            updates = updates.dropDuplicates(list(spec.primary_keys))
        updates = spec.align(updates)

        if not self.exists(spec.name):
            n = updates.count()
            if n:
                self.overwrite(spec, updates)
            return n

        # broadcast the batch keys into the anti-join only when the
        # batch is genuinely small — an hourly tick is, a backfill is
        # not, and force-broadcasting a backfill OOMs real executors.
        if spec.partition_date_source is None:
            n = updates.count()
        else:
            per_ds = self._with_ds(spec, updates).groupBy(DS_COL).count().collect()
            n = sum(r["count"] for r in per_ds)
            touched = {r[DS_COL] for r in per_ds}
        if not n:
            return 0
        keys = updates.select(*spec.primary_keys)
        anti_build = F.broadcast(keys) if n <= 1_000_000 else keys

        if spec.partition_date_source is None:
            live = self._read_live(spec.name, spec=spec)
            base = live.select(*spec.columns) if live is not None else spec.empty(self.spark)
            merged = base.join(
                anti_build, on=list(spec.primary_keys), how="left_anti"
            ).unionByName(updates)
            stage = self._new_stage(spec.name)
            self._data_writer(self._with_ds(spec, merged), spec).parquet(
                os.path.join(stage, "data"))
            moves, staged = self._staged_moves(spec.name, stage)
            self._commit(spec.name, stage, staged, moves, None, fence,
                         stats_column=spec.time_column,
                         extra_stats=spec.stats_columns)
            return n

        # When the partition source column is NOT part of the PK (e.g.
        # bn_option_symbols_exercised: PK (symbol, exchange),
        # partitioned by expiryDate), an update that moves a row's
        # partition value would strand the superseded row in its old
        # partition, breaking the unique-PK read contract. Locate every
        # partition holding a matched PK (a column-pruned scan of just
        # PK+ds) and fold it into the rewrite set. When the source IS a
        # PK column, a PK match implies the same ds — skip the scan.
        if spec.partition_date_source not in spec.primary_keys:
            full = self._read_live(spec.name, spec=spec)
            if full is not None:
                stranded = (
                    full.select(DS_COL, *spec.primary_keys)
                    .join(anti_build, on=list(spec.primary_keys), how="left_semi")
                    .select(DS_COL)
                    .distinct()
                    .collect()
                )
                touched |= {r[DS_COL] for r in stranded}
        touched = sorted(touched)

        target = self._read_live(spec.name, ds_values=touched, spec=spec)
        kept = (
            target.join(anti_build, on=list(spec.primary_keys), how="left_anti")
            .select(*spec.columns)
            if target is not None
            else spec.empty(self.spark)
        )
        merged = self._with_ds(spec, kept.unionByName(updates))

        # stage the rewritten partitions, commit the plan, publish.
        # A touched partition whose every row was superseded (moved to
        # another date) is absent from the staged output and simply
        # leaves the next manifest — its files become unreferenced and
        # are vacuumed after the grace cycle.
        stage = self._new_stage(spec.name)
        data = os.path.join(stage, "data")
        self._data_writer(merged, spec).partitionBy(DS_COL).parquet(data)
        moves, staged = self._staged_moves(spec.name, stage)
        replaced = {_ds_key(ds) for ds in touched} | set(staged)
        self._commit(spec.name, stage, staged, moves, replaced, fence,
                     stats_column=spec.time_column,
                     extra_stats=spec.stats_columns)
        return n

    # ------------------------------------------------------ maintenance

    def _hadoop_fs(self, path: str):
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        return jpath.getFileSystem(self.spark._jsc.hadoopConfiguration()), jpath

    def partition_files(self, name: str) -> dict[str | None, tuple[int, int]]:
        """Per-``ds`` partition (or ``None`` for an unpartitioned
        table): (file_count, bytes) — counted over the CURRENT
        manifest's live files (grace/orphan files excluded), falling
        back to a directory listing for legacy tables."""
        manifest = self._load_manifest(name)
        base = self.path(name)
        out: dict[str | None, tuple[int, int]] = {}
        if manifest is not None:
            for ds, rels in manifest["files"].items():
                n = b = 0
                for rel in rels:
                    try:
                        b += os.path.getsize(os.path.join(base, rel))
                        n += 1
                    except OSError:
                        n += 1
                out[ds or None] = (n, b)
            return out
        fs, root = self._hadoop_fs(base)
        for st in fs.listStatus(root):
            bn = st.getPath().getName()
            if st.isDirectory() and bn.startswith(f"{DS_COL}="):
                n = b = 0
                for f in fs.listStatus(st.getPath()):
                    if not f.getPath().getName().startswith((".", "_")):
                        n += 1
                        b += f.getLen()
                out[bn.split("=", 1)[1]] = (n, b)
            elif not st.isDirectory() and not bn.startswith((".", "_")):
                cnt, tot = out.get(None, (0, 0))
                out[None] = (cnt + 1, tot + st.getLen())
        return out

    def maintain(
        self,
        spec: TableSpec,
        target_mb: int = 256,
        max_files_per_partition: int = 4,
    ) -> dict:
        """Background-merge parity with the reference's ClickHouse
        ReplacingMergeTree + ``OPTIMIZE FINAL`` (ch:1757–1793): hourly
        PK-upserts leave each hot date partition with one more file
        per tick, and scan cost decays accordingly. ``maintain``
        rewrites only the fragmented partitions (> ``max_files_per_
        partition`` files), compacting toward ``target_mb`` files and
        re-clustering rows by primary key (sortWithinPartitions), so
        parquet min/max stats stay selective on the PK — the
        file-layout analog of the merge-tree's clustered key.

        Partition-scoped like :meth:`upsert`: untouched partitions are
        never read or rewritten. Returns a stats dict."""
        import math

        with self._writer_lock(spec.name) as fence:
            self.recover(spec.name)
            if not self.exists(spec.name):
                return {"partitions_compacted": 0, "files_before": 0, "files_after": 0}
            stats = self.partition_files(spec.name)
            pk = list(spec.primary_keys)

            if spec.partition_date_source is None:
                n_files, n_bytes = stats.get(None, (0, 0))
                target = max(1, math.ceil(n_bytes / (target_mb << 20)))
                if n_files <= max(target, max_files_per_partition):
                    return {"partitions_compacted": 0, "files_before": n_files,
                            "files_after": n_files}
                merged = (
                    self._read_live(spec.name, spec=spec)
                    .coalesce(target)
                    .sortWithinPartitions(*pk)
                )
                stage = self._new_stage(spec.name)
                self._data_writer(merged, spec).parquet(os.path.join(stage, "data"))
                moves, staged = self._staged_moves(spec.name, stage)
                self._commit(spec.name, stage, staged, moves, None, fence,
                         stats_column=spec.time_column,
                         extra_stats=spec.stats_columns)
                return {"partitions_compacted": 1, "files_before": n_files,
                        "files_after": target}

            fragmented = {
                ds: (n, b)
                for ds, (n, b) in stats.items()
                if ds is not None and n > max_files_per_partition
            }
            files_before = sum(n for n, _ in fragmented.values())
            if not fragmented:
                return {"partitions_compacted": 0, "files_before": 0, "files_after": 0}
            total_target = sum(
                max(1, math.ceil(b / (target_mb << 20)))
                for _, b in fragmented.values()
            )
            touched = [date.fromisoformat(ds) for ds in fragmented]
            merged = (
                self._read_live(spec.name, ds_values=touched, spec=spec)
                # range-partition on (ds, pk): each ds owns contiguous
                # output partitions sized by its byte share, and rows
                # land PK-clustered within them
                .repartitionByRange(total_target, DS_COL, *pk)
                .sortWithinPartitions(DS_COL, *pk)
            )
            stage = self._new_stage(spec.name)
            self._data_writer(merged, spec).partitionBy(DS_COL).parquet(
                os.path.join(stage, "data"))
            moves, staged = self._staged_moves(spec.name, stage)
            self._commit(
                spec.name, stage, staged, moves, set(fragmented) | set(staged),
                fence, stats_column=spec.time_column,
                extra_stats=spec.stats_columns,
            )
            after = self.partition_files(spec.name)
            files_after = sum(after.get(ds, (0, 0))[0] for ds in fragmented)
            return {
                "partitions_compacted": len(fragmented),
                "files_before": files_before,
                "files_after": files_after,
            }


class _Transaction:
    """Handle yielded by :meth:`Warehouse.transaction`: routes
    mutations so they stage under one atomic group commit, holding
    each touched table's writer lease from first touch to publish."""

    def __init__(self, wh: Warehouse):
        self.wh = wh
        self.group = (
            datetime.now().strftime("%Y%m%d%H%M%S%f")
            + "-"
            + uuid.uuid4().hex[:8]
        )
        self.stages: list[tuple[str, str]] = []
        self.owned: set[str] = set()
        self.stack = ExitStack()

    def _own(self, name: str) -> None:
        if name not in self.owned:
            self.stack.enter_context(self.wh._writer_lock(name))
            self.owned.add(name)

    def upsert(self, spec: TableSpec, updates: DataFrame, order_col: str | None = None) -> int:
        self._own(spec.name)
        return self.wh.upsert(spec, updates, order_col)

    def overwrite(self, spec: TableSpec, df: DataFrame) -> None:
        self._own(spec.name)
        self.wh.overwrite(spec, df)


def _ds_key(v) -> str:
    """Canonical manifest key for a ds value (iso string)."""
    if isinstance(v, str):
        return v
    return v.isoformat()


def _stat_to_naive(v):
    """Footer stat → the storage convention (tz-naive UTC).

    pyarrow surfaces TIMESTAMP_MICROS(isAdjustedToUTC=true) stats as
    tz-aware UTC datetimes; the tables store tz-naive UTC (session
    pinned to UTC), so strip the tzinfo after normalizing."""
    from datetime import timezone as _tz

    if isinstance(v, datetime) and v.tzinfo is not None:
        return v.astimezone(_tz.utc).replace(tzinfo=None)
    return v


def _stat_to_json(v):
    """Manifest (JSON) encoding of a stat bound."""
    if isinstance(v, datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    raise TypeError(f"unsupported stat type {type(v).__name__}")


def _stat_value(v):
    """Inverse of :func:`_stat_to_json` for comparison purposes."""
    if isinstance(v, str):
        try:
            return datetime.fromisoformat(v)
        except ValueError:
            return v  # a genuinely-string time column: ISO-lexicographic
    return v
