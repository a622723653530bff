"""Iceberg-lite warehouse: parquet table dirs + atomic commit manifests +
per-stage lineage, giving the checkpoint/resume semantics BASELINE.json
north_star mandates ("checkpoints to Iceberg so a killed job resumes from
the last committed stage") without the Iceberg runtime jar (not present in
the sandbox; the table layout is identical either way — SURVEY.md §7.0).

Commit protocol: a table is COMMITTED iff `_MANIFEST.json` exists inside its
directory. Spark writes the parquet dir first; the manifest (with row count,
schema, stage name, lineage rollup) is written last, fsync'd, as the commit
marker. A job killed mid-write leaves no manifest -> the stage re-runs and
overwrites. On a real cluster the same protocol maps 1:1 onto Iceberg
snapshot commits.

Lineage (north_star: "per-partition lineage rows (partition id, doc count,
posting bytes, content sha256 rollup)") is an append-only parquet table
`lineage` with one row per (stage, partition).
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import shutil
import socket
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_MANIFEST.json"
LOCKFILE = "_LOCK.json"

# Bump when any stored-table layout changes: build_index treats committed
# stages whose manifest carries an older version as NOT committed (rebuild
# instead of resuming into a stale layout).
# v3: analyzed.positions flattened to array<int> (per-doc term-major).
# v4: postings block-max metadata stored as avgdl-independent
#     (max_tf int, min_dl int) instead of a precomputed block_max_tf
#     float.  (v4 also wrote a shard-partitioned doc_lens table, which
#     nothing read; builds no longer write it, and an earlier v4
#     warehouse simply keeps that directory unread.)
FORMAT_VERSION = 4

LINEAGE_SCHEMA = (
    "stage string, partition_id int, doc_count long, posting_bytes long, "
    "sha256_rollup string, committed_at double"
)


class WarehouseLockedError(RuntimeError):
    """Another maintenance job holds this warehouse's writer lock."""


def atomic_write_json(path: str, payload: dict) -> None:
    """THE commit primitive for every JSON marker in this package
    (manifests, _TXN journals, IVF index meta): write to a sibling tmp,
    fsync, os.replace.  One implementation so a future durability fix
    (e.g. fsyncing the parent dir) lands everywhere at once."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=2)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


# re-entrancy bookkeeping, keyed by realpath: the maintenance entry points
# nest (incremental_build -> segment_tail -> compact_segments, delete_docs
# -> incremental_build_stable), and only the OUTERMOST frame owns the file.
# THREAD-LOCAL: the nesting it models is strictly same-call-stack — a
# second thread of the same process must contend on the file like any
# other writer (it then sees a live same-pid holder and fails fast).
_LOCK_LOCAL = threading.local()


def _lock_depths() -> dict[str, int]:
    d = getattr(_LOCK_LOCAL, "depths", None)
    if d is None:
        d = _LOCK_LOCAL.depths = {}
    return d


@contextlib.contextmanager
def warehouse_lock(root: str, op: str, stale_after: float = 6 * 3600.0):
    """Single-writer mutual exclusion for warehouse maintenance.

    Two concurrent builds/compactions over one warehouse would interleave
    staging drops, partition moves, and _TXN journals into a corrupt mix;
    the commit protocol makes each op kill-safe, not concurrent-safe.
    Acquisition is an O_EXCL create of ``_LOCK.json`` (atomic on POSIX
    local FS and on HDFS-style stores' create-no-overwrite).  Readers
    never take it — queries stay lock-free.

    A lock left by a crashed job is reclaimed when its pid is gone (same
    host) or its timestamp exceeds ``stale_after`` (cross-host, where pid
    liveness is unobservable — at cluster scale the ts is refreshed only
    at acquisition, so size stale_after above the longest expected op).
    """
    os.makedirs(root, exist_ok=True)
    key = os.path.realpath(root)
    depths = _lock_depths()
    if depths.get(key, 0) > 0:
        depths[key] += 1
        try:
            yield
        finally:
            depths[key] -= 1
        return
    path = os.path.join(root, LOCKFILE)
    payload = json.dumps(
        {"pid": os.getpid(), "host": socket.gethostname(), "op": op,
         "ts": time.time(), "token": uuid.uuid4().hex}
    )
    for attempt in (0, 1):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as f:
                f.write(payload)
                f.flush()
                os.fsync(f.fileno())
            break
        except FileExistsError:
            try:
                with open(path) as f:
                    holder = json.load(f)
            except (OSError, ValueError):
                holder = {}
            # liveness: pid observable only for same-host holders; the
            # timestamp fallback applies ONLY when liveness is
            # unobservable — a provably-alive holder is never broken,
            # however long its op runs
            stale = False
            alive_known = False
            if (
                holder.get("host") == socket.gethostname()
                and isinstance(holder.get("pid"), int)
            ):
                try:
                    os.kill(holder["pid"], 0)
                    alive_known = True
                except ProcessLookupError:
                    stale = True
                except PermissionError:
                    alive_known = True  # pid exists under another uid
            if (
                not stale
                and not alive_known
                and time.time() - float(holder.get("ts") or 0) > stale_after
            ):
                stale = True
            if stale and attempt == 0:
                # reclaim via atomic RENAME, not unlink: of N racing
                # reclaimers exactly one wins the rename (the others see
                # FileNotFoundError and fall through to the O_EXCL
                # create, where again exactly one wins) — an unlink here
                # could delete a FRESH lock another reclaimer just
                # created
                grave = f"{path}.stale.{os.getpid()}.{uuid.uuid4().hex[:8]}"
                try:
                    os.rename(path, grave)
                except FileNotFoundError:
                    pass  # another reclaimer got it first
                else:
                    with contextlib.suppress(FileNotFoundError):
                        os.unlink(grave)
                continue
            raise WarehouseLockedError(
                f"warehouse {root} is locked by {holder or 'an unreadable holder'} "
                f"({LOCKFILE}); remove it if that job is gone"
            ) from None
    depths[key] = 1
    try:
        yield
    finally:
        depths[key] = 0
        # ownership-verified release: if an op outlived stale_after, a
        # cross-host peer may have legitimately reclaimed this lock and
        # re-acquired it — blindly unlinking would delete the NEW
        # holder's lock file and admit a THIRD writer.  Delete only a
        # file that still carries OUR payload (the uuid token makes the
        # match exact); a mismatch means the lock was stolen, which we
        # surface loudly — the op that just finished ran concurrently
        # with the thief and the warehouse should be inspected.
        try:
            with open(path) as f:
                current = f.read()
        except OSError:
            current = None
        if current == payload:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(path)
        elif current is not None:
            import warnings

            warnings.warn(
                f"warehouse lock at {path} was reclaimed by another writer "
                f"while op {op!r} was running (op exceeded stale_after="
                f"{stale_after}s?); leaving the new holder's lock in place — "
                "verify warehouse integrity",
                RuntimeWarning,
                stacklevel=2,
            )


def locked(op: str, param: str):
    """Decorator: run ``fn`` under the warehouse writer lock, resolving
    the warehouse root from argument ``param`` (a path or Warehouse).
    The lock wraps the WHOLE call — including the Warehouse construction
    inside, so a path-passed call replays any crash journal under the
    lock, not racing a live writer."""

    def deco(fn):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            target = sig.bind(*args, **kwargs).arguments[param]
            root = target.root if isinstance(target, Warehouse) else target
            with warehouse_lock(root, op):
                return fn(*args, **kwargs)

        return wrapper

    return deco


class Warehouse:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        # heal a partition-swap journal left by a killed stable-mode
        # incremental (see recover_txn) — centralizing here means EVERY
        # entry point (build, incremental, search, CLI) sees either the
        # old warehouse or the fully-swapped new one, never a mix.
        # ORPHANED journals only: a journal whose writer is still alive
        # is that writer's to finish — replaying it lock-free from a
        # reader would race the writer's own replay (both run the moves
        # loop; the reader's rmtree(dst) can destroy a partition the
        # writer just renamed into place).
        self.recover_orphaned_txn()

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def is_committed(self, name: str) -> bool:
        return os.path.exists(os.path.join(self.path(name), MANIFEST))

    def manifest(self, name: str) -> dict:
        with open(os.path.join(self.path(name), MANIFEST)) as f:
            return json.load(f)

    def drop(self, name: str) -> None:
        shutil.rmtree(self.path(name), ignore_errors=True)

    def write(
        self,
        df: DataFrame,
        name: str,
        stage: str,
        partition_by: list[str] | None = None,
        sort_by: list[str] | None = None,
        meta: dict | None = None,
        meta_fn=None,
    ) -> None:
        """Write table + commit manifest. Overwrites any uncommitted or
        stale previous attempt.

        ``meta_fn`` (if given) is called AFTER the data write and its dict
        is merged into the manifest before the manifest is created — so
        rollups computed during the write job (accumulators, observations)
        land in the SAME atomic commit.  A stage is therefore committed
        with all its rollup keys or not at all (no resume wedge from a
        kill between data write and a later metadata update)."""
        p = self.path(name)
        shutil.rmtree(p, ignore_errors=True)
        if sort_by:
            df = df.sortWithinPartitions(*sort_by)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(p)
        man = {
            "table": name,
            "stage": stage,
            "format_version": FORMAT_VERSION,
            "schema": df.schema.json(),
            "partition_by": partition_by or [],
            "committed_at": time.time(),
            **(meta or {}),
            **(meta_fn() if meta_fn is not None else {}),
        }
        atomic_write_json(os.path.join(p, MANIFEST), man)

    def write_local(
        self, rows: list[dict], columns: dict, name: str, stage: str, meta: dict | None = None
    ) -> None:
        """Driver-side parquet write for tiny tables (e.g. the one-row
        corpus_stats): no Spark job at all.  ``columns`` maps column name
        -> pyarrow type.  Readable via the normal spark.read path."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        p = self.path(name)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p, exist_ok=True)
        table = pa.table(
            {c: pa.array([r[c] for r in rows], type=t) for c, t in columns.items()}
        )
        pq.write_table(table, os.path.join(p, "part-00000.parquet"))
        man = {
            "table": name,
            "stage": stage,
            "format_version": FORMAT_VERSION,
            "schema": str(table.schema),
            "partition_by": [],
            "committed_at": time.time(),
            **(meta or {}),
        }
        atomic_write_json(os.path.join(p, MANIFEST), man)

    def promote(self, src: str, dst: str) -> None:
        """Atomically-enough replace committed table ``dst`` with
        committed table ``src`` (a directory rename).  The crash window
        between the rmtree and the rename is recoverable: ``src`` still
        exists WITH its manifest, so a caller that finds a committed
        ``src`` can simply finish the promote — used by
        incremental_build so a kill mid-refresh never destroys the only
        copy of the previous index."""
        if not self.is_committed(src):
            raise FileNotFoundError(f"cannot promote uncommitted table {src}")
        shutil.rmtree(self.path(dst), ignore_errors=True)
        os.rename(self.path(src), self.path(dst))

    # ---- partition-swap transactions (stable-id incremental) -----------
    # A shard-scoped incremental rebuild replaces only the touched shard
    # partitions of analyzed/doc_stats/postings plus the whole
    # (small) term_stats/corpus_stats tables.  All new data is staged into
    # committed *_delta / *_next tables FIRST; then a single fsync'd
    # _TXN.json journal records every partition move, promote, and final
    # manifest; recover_txn() replays it idempotently.  A kill at any
    # point therefore leaves either the old warehouse (journal absent) or
    # — after the next entry point calls recover_txn() — the new one.
    # On Iceberg proper this whole protocol is one snapshot commit with
    # partition-level overwrite.

    def _txn_path(self) -> str:
        return os.path.join(self.root, "_TXN.json")

    def begin_txn(self, plan: dict) -> None:
        """Durably record the swap plan.  plan = {
          "swaps": [{"table", "delta", "moves": [shard...],
                     "deletes": [shard...]}],
          "promotes": [[src, dst], ...],
          "manifests": {table: full manifest dict}}.
        Every staged source must be committed BEFORE this is called."""
        atomic_write_json(self._txn_path(), plan)

    def recover_orphaned_txn(self, wait_s: float = 15.0) -> bool:
        """Reader-safe journal recovery: replay a pending _TXN journal
        ONLY under the warehouse writer lock.  If a provably-live writer
        holds the lock, its journal is in-flight, not orphaned — that
        writer's own commit path will finish it, so we skip (replaying
        lock-free here would interleave two recover_txn moves loops; the
        reader's rmtree(dst) can delete a partition the writer just
        renamed into place, wedging the commit).  A journal whose writer
        crashed is reclaimed through the lock's normal dead-pid/stale-ts
        path and replayed here.  Returns True iff a journal was applied.

        Writers already inside a locked op re-enter the lock (depth
        bookkeeping) and replay immediately, same as before.

        When a LIVE holder owns the lock, we cannot serve yet either —
        the holder may be mid-moves-loop, and reading now would see the
        old/new mix this method exists to prevent.  A pending journal is
        short-lived by construction (begin_txn is immediately followed
        by recover_txn inside the same locked op), so we POLL briefly:
        journal gone -> healed by the holder, proceed; lock freed ->
        acquire and replay ourselves.  Still locked with a journal after
        the wait means the holder is wedged mid-commit — surfacing that
        loudly beats silently serving a half-swapped warehouse."""
        deadline = time.time() + wait_s
        while True:
            if not os.path.exists(self._txn_path()):
                return False
            try:
                with warehouse_lock(self.root, "txn-recover"):
                    return self.recover_txn()
            except WarehouseLockedError:
                if time.time() >= deadline:
                    raise RuntimeError(
                        f"warehouse {self.root} has a pending _TXN journal and a "
                        f"live writer lock that did not clear within {wait_s}s — "
                        "the writer appears wedged mid-commit; inspect/remove "
                        f"{LOCKFILE} and re-open to replay the journal"
                    )
                time.sleep(0.25)

    def recover_txn(self) -> bool:
        """Apply (or finish applying) a pending swap journal.  Every step
        is idempotent: a move whose source is gone was already applied, a
        promote whose source is no longer committed already happened, and
        manifest rewrites are last-writer-wins from the journal's frozen
        dicts.  Returns True if a journal was applied.

        Call-side contract: writer paths that already hold the warehouse
        lock call this directly; lock-free callers (readers) must go
        through recover_orphaned_txn instead."""
        p = self._txn_path()
        if not os.path.exists(p):
            return False
        with open(p) as f:
            plan = json.load(f)
        for s in plan.get("swaps", []):
            droot = self.path(s["delta"])
            troot = self.path(s["table"])
            for sh in s.get("deletes", []):
                shutil.rmtree(os.path.join(troot, f"shard={sh}"), ignore_errors=True)
            for sh in s.get("moves", []):
                src = os.path.join(droot, f"shard={sh}")
                if os.path.exists(src):
                    dst = os.path.join(troot, f"shard={sh}")
                    shutil.rmtree(dst, ignore_errors=True)
                    os.rename(src, dst)
        for src, dst in plan.get("promotes", []):
            if self.is_committed(src):
                self.promote(src, dst)
        for name in plan.get("drops", []):
            shutil.rmtree(self.path(name), ignore_errors=True)
        for name, man in plan.get("manifests", {}).items():
            atomic_write_json(os.path.join(self.path(name), MANIFEST), man)
        for s in plan.get("swaps", []):
            shutil.rmtree(self.path(s["delta"]), ignore_errors=True)
        os.remove(p)
        return True

    def expire_stale_staging(self, ttl_seconds: float = 3600.0) -> list[str]:
        """S8 — the reference's 1-hour TTL on staged image data
        (image-api image_controller.go:37, ``pipeline.Expire(imageKey,
        1h)``) as warehouse maintenance: delete any table directory that
        has NO commit manifest and whose newest file is older than the
        TTL — an abandoned write from a killed job (a LIVE writer's
        files are necessarily younger than the TTL, so it is never
        swept).  Committed tables and the lineage log are never touched;
        on Iceberg proper this maps to snapshot/orphan-file expiry.
        Returns the removed table names.

        Runs under the writer lock: the TTL alone protects a live
        writer's staging only while the writer keeps touching files —
        a build stalled longer than the TTL (a long Spark stage writes
        nothing until task commit) would otherwise get its staging
        swept from under it."""
        with warehouse_lock(self.root, "expire"):
            return self._expire_stale_staging_locked(ttl_seconds)

    def _expire_stale_staging_locked(self, ttl_seconds: float) -> list[str]:
        removed: list[str] = []
        now = time.time()
        for name in sorted(os.listdir(self.root)):
            p = self.path(name)
            if not os.path.isdir(p) or name == "lineage":
                continue
            if os.path.exists(os.path.join(p, MANIFEST)):
                continue
            newest = max(
                (
                    os.path.getmtime(os.path.join(dp, f))
                    for dp, _dn, fs in os.walk(p)
                    for f in fs
                ),
                default=os.path.getmtime(p),
            )
            if now - newest > ttl_seconds:
                shutil.rmtree(p, ignore_errors=True)
                removed.append(name)
        return removed

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        """Root-path read of a committed table (writers, tools, ad-hoc).

        Historical note: this used to call refreshByPath() to stop a
        fresh SearchEngine from being served a PREVIOUS engine's cached
        plan (root-path plans canonicalize equal across partition swaps,
        so the cache manager aliased them).  That was treating the
        symptom: refreshByPath RE-CACHES every plan touching the path —
        including a live engine's pinned snapshot, whose explicit file
        list then points at swapped-away files (observed FAILED_READ
        mid-serve).  Engines now read via read_snapshot (explicit file
        lists, canonically distinct per commit), which removes the
        aliasing at the source; root-path reads are never persisted, so
        there is nothing left to invalidate."""
        if not self.is_committed(name):
            raise FileNotFoundError(f"table {name} not committed in {self.root}")
        # read with the schema recorded at commit time: a legitimately
        # EMPTY table (e.g. an empty-corpus build) has no parquet files
        # to infer from, and schema-by-manifest also keeps reads stable
        # if file-level schema evolution ever diverges
        schema_json = self.manifest(name).get("schema", "")
        if schema_json.startswith("{"):
            try:
                from pyspark.sql.types import StructType

                st = StructType.fromJson(json.loads(schema_json))
                return spark.read.schema(st).parquet(self.path(name))
            except Exception:
                pass  # unparseable/legacy manifest -> fall back to inference
        return spark.read.parquet(self.path(name))

    def read_snapshot(self, spark: SparkSession, name: str) -> DataFrame:
        """Read a committed table by its EXPLICIT current file list — the
        isolation primitive behind SearchEngine's pinned caches.

        A root-path read canonicalizes by path, so two reads of the same
        table across a partition swap produce CANONICALLY EQUAL plans:
        Spark's CacheManager then aliases a re-opened engine's persist()
        onto the previous engine's cache entry (serving the OLD snapshot,
        and dropping the shared entry when either unpersists), and
        read()'s refreshByPath re-caches the old engine's plans over the
        NEW files mid-serve.  Enumerating the concrete part files makes
        every commit's plan canonically distinct — snapshots alias only
        when they ARE the same files — and freezes the read set even if
        the directory is swapped later.  ``basePath`` keeps partition
        columns (shard=N dirs) working.  Listing cost is the same
        enumeration Spark's InMemoryFileIndex performs anyway; on object
        stores, drive this from the table manifest instead."""
        if not self.is_committed(name):
            raise FileNotFoundError(f"table {name} not committed in {self.root}")
        root = self.path(name)
        files = []
        for dirpath, _dirnames, filenames in os.walk(root):
            files.extend(
                os.path.join(dirpath, fn)
                for fn in filenames
                if fn.endswith(".parquet")
            )
        if not files:
            return self.read(spark, name)  # legitimately empty table
        files.sort()
        reader = spark.read.option("basePath", root)
        schema_json = self.manifest(name).get("schema", "")
        if schema_json.startswith("{"):
            try:
                from pyspark.sql.types import StructType

                reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
            except Exception:
                pass
        return reader.parquet(*files)

    # ---- lineage -------------------------------------------------------
    def append_lineage_rows(self, stage: str, rows: list[dict]) -> None:
        """Append per-partition lineage rows, written driver-side with
        pyarrow into a UNIQUE file per call — zero Spark jobs, and no
        shared Hadoop _temporary staging dir, so concurrent stage branches
        can append without racing each other's commit/cleanup.

        rows: dicts with partition_id, doc_count, posting_bytes,
        sha256_rollup (collected via task accumulators or parquet
        footers — a handful of rows, trivially driver-sized)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        p = self.path("lineage")
        os.makedirs(p, exist_ok=True)
        now = time.time()
        table = pa.table(
            {
                "stage": pa.array([stage] * len(rows), type=pa.string()),
                "partition_id": pa.array(
                    [int(r["partition_id"]) for r in rows], type=pa.int32()
                ),
                "doc_count": pa.array(
                    [int(r["doc_count"]) for r in rows], type=pa.int64()
                ),
                "posting_bytes": pa.array(
                    [int(r.get("posting_bytes", 0)) for r in rows], type=pa.int64()
                ),
                "sha256_rollup": pa.array(
                    [str(r.get("sha256_rollup", "")) for r in rows], type=pa.string()
                ),
                "committed_at": pa.array([now] * len(rows), type=pa.float64()),
            }
        )
        pq.write_table(table, os.path.join(p, f"{stage}-{uuid.uuid4().hex}.parquet"))

    def footer_lineage_rows(self, name: str) -> list[dict]:
        """Per-file lineage rows derived from parquet footers (row counts +
        byte sizes) — metadata-only reads on the driver, no Spark job and
        no data scanned.  Used for stages whose lineage needs no content
        sha rollup."""
        import pyarrow.parquet as pq

        rows: list[dict] = []
        root = self.path(name)
        files = []
        for dirpath, _dirnames, filenames in os.walk(root):
            for fn in filenames:
                if fn.endswith(".parquet"):
                    files.append(os.path.join(dirpath, fn))
        for i, f in enumerate(sorted(files)):
            md = pq.ParquetFile(f).metadata
            rows.append(
                {
                    "partition_id": i,
                    "doc_count": md.num_rows,
                    "posting_bytes": os.path.getsize(f),
                    "sha256_rollup": "",
                }
            )
        return rows

    def lineage(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(LINEAGE_SCHEMA).parquet(self.path("lineage"))


