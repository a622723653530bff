"""Index build: docs -> analyzed -> doc_stats/corpus_stats/term_stats ->
compressed postings, with per-stage commits and lineage.

Pipeline (SURVEY.md §3.2 rebuild; north_star stage list):

  stage 1 `analyzed`   — deterministic dense doc_id assignment (two-pass
                         range-sort + partition offsets: scalable, no
                         single-partition window) + tokenize once via
                         mapInPandas (Arrow-batched; the analyzer is the
                         frozen pure function in analyzer.py). One row per
                         doc: (doc_id, meta, sha256, shard, doc_len,
                         terms[], tfs[], flat positions[]).
  stage 2 `doc_stats`  — metadata projection (reference `metadata`
                         collection, services/indexer/models/metadata.py:8-15),
                         incl. per-doc top-k terms map (MAX_INDEX_WORDS
                         semantics, services/indexer/main.py:165-166).
  stage 3 `term_stats` — df(t) via explicit two-phase salted aggregation
                         (salt = hash(key) % NSALT, then merge) — the
                         skew-defusal the north_star mandates; replaces the
                         reference's O(V) per-term count_documents scans
                         (services/tfidf/data/mongo_client.py:86-93).
  stage 4 `corpus_stats` — (n_docs, sum_dl, n_terms); avgdl = sum_dl/n_docs
                         derived as float64 at use sites (exact int inputs
                         -> deterministic across cluster sizes).
  stage 5 `postings`   — ZERO-SHUFFLE block encode: the shard-partitioned
                         analyzed parquet is scanned with a tuned split
                         size and each scan partition's docs are encoded
                         in place (vectorized mapInPandas) into
                         delta+varint doc_ids/tfs/dls/positions 128-doc
                         blocks with per-block (max_tf, min_dl) block-max
                         metadata (avgdl-independent upper bounds).  Document-sharding bounds any hot
                         term's per-group postings to the shard size —
                         skew is structurally defused.

Each stage commits via Warehouse.write (manifest = commit marker, with all
rollup keys computed DURING the write job via task accumulators /
observations so the commit is atomic) and appends lineage rows
(driver-side pyarrow, one unique file per stage — no concurrent-append
races between parallel stage branches); build_index() skips committed
stages on re-run, which is the kill/resume semantics (tested in
tests/test_build.py::test_resume_skips_committed_stages).

Lineage rollups ride on task ACCUMULATORS keyed by partition id with
overwrite-merge, so a re-executed task replaces (not double-counts) its
partition's entry — idempotent under retries/speculation.

Shards are contiguous doc_id ranges: shard = (doc_id - 1) // shard_size.
A query scores shards independently (every query term's postings for the
shard are local) and merges per-shard top-k — the standard
document-partitioned search architecture; this is what keeps scaling
efficiency high from N to 4N executors (no cross-shard traffic except the
k-row merge).
"""

from __future__ import annotations

import hashlib
import math
import os
import time
import uuid
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from itertools import count, repeat

import numpy as np
import pandas as pd
from pyspark import StorageLevel, TaskContext
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import codec
from .analyzer import term_freqs_positions
from .tables import FORMAT_VERSION, Warehouse, locked

BLOCK_SIZE = 128
KEYS = ["repo", "path", "commit"]
# the staleness gate: a doc whose key, lang and content sha all match a
# committed row is reused verbatim (lang too, or a lang-only change would
# keep its stale lang in doc_stats forever)
GATE = KEYS + ["lang", "content_sha256"]
MAX_INDEX_WORDS = 1000  # reference MAX_INDEX_WORDS, services/indexer/utils/constants.py:23
NSALT = 16
# Constant encode-group target, independent of the session's parallelism:
# the postings scan's split size is tuned so ~this many equal-byte scan
# partitions encode concurrently — identical plan and work at N and 4N
# cores, no hash-assignment skew.
TARGET_ENCODE_GROUPS = 128


class _LineageAccParam(AccumulatorParam):
    """Dict accumulator keyed by partition id; merge OVERWRITES same-key
    entries, so a retried/speculated task replaces rather than
    double-counts its partition's rollup."""

    def zero(self, value):
        return {}

    def addInPlace(self, v1, v2):
        v1.update(v2)
        return v1

# positions is the per-doc FLAT concatenation of each term's position list
# (term-major, aligned with terms/tfs: term i's positions are the tfs[i]
# ints after sum(tfs[:i])).  Flat int arrays move through Arrow and the
# shuffle far cheaper than nested array<array<int>>, and the block encoder
# re-slices them with offset arithmetic instead of per-posting objects.
ANALYZED_SCHEMA = (
    "doc_id long, repo string, path string, commit string, lang string, "
    "content_sha256 string, shard int, doc_len int, "
    "terms array<string>, tfs array<int>, positions array<int>"
)
ANALYZED_COLS = [f.split()[0] for f in ANALYZED_SCHEMA.split(", ")]


def analyzed_schema(cols: list[str]) -> str:
    """The DDL of the ``cols`` subset of ANALYZED_SCHEMA."""
    return ", ".join(f for f in ANALYZED_SCHEMA.split(", ") if f.split()[0] in cols)


def _analyze_fn(acc, cols: list[str], ids=None):
    """The one tokenize body: a mapInPandas function over
    (repo, path, commit, lang, content[, shard]) rows that runs the
    analyzer, content sha256 and doc_len per row and adds one lineage
    row per partition (doc_count, posting_bytes = summed doc_len,
    sha256_rollup over the sorted shas) to ``acc``.

    ``ids(pid)``, when given, returns partition ``pid``'s doc_id rule: a
    callable from the input row's shard (None when the input has no
    shard column) to its (doc_id, shard).  Without it, an input shard
    passes through.  ``cols`` picks the emitted ANALYZED_COLS."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        rule = ids(pid) if ids is not None else None
        shas: list[str] = []
        dl_sum = 0
        for pdf in batches:
            out = {c: [] for c in cols}
            shards = pdf["shard"] if "shard" in pdf.columns else repeat(None)
            for repo, path, commit, lang, content, shard in zip(
                pdf["repo"], pdf["path"], pdf["commit"], pdf["lang"],
                pdf["content"], shards,
            ):
                content = content or ""
                tfp = term_freqs_positions(content)
                terms = sorted(tfp)
                sha = hashlib.sha256(content.encode("utf-8")).hexdigest()
                dl = sum(t[0] for t in tfp.values())
                shas.append(sha)
                dl_sum += dl
                doc_id = None
                if rule is not None:
                    doc_id, shard = rule(shard)
                row = {
                    "doc_id": doc_id, "repo": repo, "path": path,
                    "commit": commit, "lang": lang, "content_sha256": sha,
                    "shard": None if shard is None else int(shard),
                    "doc_len": dl, "terms": terms,
                    "tfs": [tfp[t][0] for t in terms],
                    "positions": [p for t in terms for p in tfp[t][1]],
                }
                for c in cols:
                    out[c].append(row[c])
            yield pd.DataFrame(out, columns=cols)
        _add_lineage(acc, pid, shas, dl_sum)

    return run


def _assign_fn(acc, ids):
    """The id-assign body: a mapInPandas function over already-analyzed
    rows (ANALYZED_COLS minus doc_id/shard) that takes each row's
    (doc_id, shard) from ``ids(pid)``, as _analyze_fn does, and adds the
    same lineage row — nothing is re-tokenized."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        rule = ids(pid)
        shas: list[str] = []
        dl_sum = 0
        for pdf in batches:
            id_shard = np.array([rule(None) for _ in range(len(pdf))], dtype=np.int64)
            id_shard = id_shard.reshape(-1, 2)
            shas.extend(pdf["content_sha256"])
            dl_sum += int(pdf["doc_len"].sum())
            out = pdf.assign(doc_id=id_shard[:, 0], shard=id_shard[:, 1].astype(np.int32))
            yield out[ANALYZED_COLS]
        _add_lineage(acc, pid, shas, dl_sum)

    return run


def _add_lineage(acc, pid: int, shas: list[str], dl_sum: int) -> None:
    """Partition ``pid``'s lineage row: doc_count, posting_bytes = summed
    doc_len, sha256_rollup over the sorted content shas."""
    rollup = hashlib.sha256(",".join(sorted(shas)).encode()).hexdigest()
    acc.add(
        {pid: {"partition_id": pid, "doc_count": len(shas),
               "posting_bytes": dl_sum, "sha256_rollup": rollup}}
    )


# dls = varint doc lengths inline per block (impact-index style norms):
# query-time scoring needs (tf, dl) per posting, so keeping dl beside tf
# makes a posting block self-contained — no per-query join/cogroup with a
# doc-length table (measured: the cogroup shuffle dominated query latency).
# max_tf/min_dl replace the old precomputed block_max_tf float: the BM25
# tf-part is monotone increasing in tf and decreasing in dl, so
# bm25_tfpart(max_tf, min_dl, avgdl) is a valid per-block upper bound
# under ANY avgdl — which lets an incremental rebuild shift the corpus
# avgdl without invalidating the block-max metadata of untouched shards
# (a stored tfpart bound would silently under-estimate once avgdl grew,
# breaking WAND's exactness).
POSTINGS_SCHEMA = (
    "shard int, term string, block_id int, n_docs int, first_doc long, "
    "last_doc long, doc_ids binary, tfs binary, positions binary, "
    "dls binary, pos_ints int, max_tf int, min_dl int"
)

DOWNSTREAM_STAGES = ["doc_stats", "term_stats", "corpus_stats", "postings"]


def _sha_col():
    return F.sha2(F.encode(F.coalesce(F.col("content"), F.lit("")), "utf-8"), 256)


def _analyzed_build_id(wh: Warehouse) -> str:
    """Identity token of the committed analyzed table.  Every downstream
    stage records it as ``analyzed_ref`` in its own manifest, so a
    downstream table built from a DIFFERENT analyzed (stale after an
    interrupted incremental promote, or a crash between promote and the
    downstream rebuild) is detectably out of date instead of being
    silently resumed into.  Falls back to committed_at for manifests
    written before build_id existed (those downstream refs then mismatch
    once and rebuild — the safe direction)."""
    man = wh.manifest("analyzed")
    return str(man.get("build_id") or man.get("committed_at"))


def _downstream_current(wh: Warehouse, name: str) -> bool:
    return (
        wh.is_committed(name)
        and wh.manifest(name).get("format_version") == FORMAT_VERSION
        and wh.manifest(name).get("analyzed_ref") == _analyzed_build_id(wh)
    )


@dataclass
class BuildInfo:
    n_docs: int
    n_shards: int
    shard_size: int
    stages_run: list[str]
    stages_skipped: list[str]
    stage_secs: dict | None = None  # wall-clock per stage (branches overlap)


def default_shards(n_docs: int) -> int:
    return int(min(4096, max(8, math.ceil(n_docs / 2048))))


@locked("build_index", "warehouse")
def build_index(
    spark: SparkSession,
    docs: DataFrame,
    warehouse: str | Warehouse,
    n_shards: int | None = None,
    force: bool = False,
    doc_id_mode: str = "rank",
) -> BuildInfo:
    """Run all stages, skipping any already committed (resume).

    After `analyzed` commits, the remaining stages only depend on it (plus
    corpus_stats on term_stats), so they are submitted as CONCURRENT Spark
    jobs: the scheduler interleaves their tasks, hiding each job's
    scheduling/commit latency behind the others' compute.  Works
    identically on a cluster (FIFO scheduler backfills idle executors);
    per-stage commit/resume semantics are unchanged because each stage
    writes its own table + manifest atomically.

    ``doc_id_mode``:
      "rank"   — doc_id = global (repo, path, commit) sorted rank
                 (deterministic, oracle-friendly; incremental rebuilds
                 recompute downstream tables over the whole corpus).
      "stable" — doc_id = shard * STRIDE + within-shard rank, shard
                 pinned by key hash (stable.py): churn perturbs only its
                 own shards, enabling the O(churn) shard-scoped
                 incremental path (incremental_build dispatches to it).
    A committed analyzed whose stored mode differs from the requested one
    is treated as not committed (full rebuild) — the two id spaces are
    incompatible."""
    if doc_id_mode not in ("rank", "stable"):
        raise ValueError(f"doc_id_mode={doc_id_mode!r} must be 'rank' or 'stable'")
    wh = warehouse if isinstance(warehouse, Warehouse) else Warehouse(warehouse)
    # finish a promote interrupted by a crash (see incremental_build): a
    # committed analyzed_next is always the newer corpus — healing it HERE
    # too means every entry point recovers, and the analyzed_ref check
    # below then rebuilds the (now stale) downstream stages instead of
    # resuming into a warehouse whose postings disagree with analyzed.
    if wh.is_committed("analyzed_next"):
        wh.promote("analyzed_next", "analyzed")
    run: list[str] = []
    skip: list[str] = []
    stage_secs: dict[str, float] = {}

    def stage(name: str, fn) -> None:
        committed = (
            not force
            and wh.is_committed(name)
            and wh.manifest(name).get("format_version") == FORMAT_VERSION
        )
        if committed and name == "analyzed":
            committed = (
                wh.manifest(name).get("doc_id_mode", "rank") == doc_id_mode
            )
        if committed and name != "analyzed":
            # downstream tables must have been built from THIS analyzed
            committed = wh.manifest(name).get("analyzed_ref") == _analyzed_build_id(wh)
        if committed:
            skip.append(name)
            return
        t0 = time.time()
        fn()
        stage_secs[name] = round(time.time() - t0, 2)
        run.append(name)

    if doc_id_mode == "stable":
        from .stable import _stage_analyzed_stable

        stage(
            "analyzed",
            lambda: _stage_analyzed_stable(spark, docs, wh, n_shards),
        )
    else:
        stage("analyzed", lambda: _write_ranked(
            spark, wh, docs, n_shards,
            lambda acc, ids: _analyze_fn(acc, ANALYZED_COLS, ids),
        ))
    analyzed = wh.read(spark, "analyzed")
    man = wh.manifest("analyzed")
    n_docs, shards, shard_size = man["n_docs"], man["n_shards"], man["shard_size"]

    def _term_then_corpus() -> None:
        stage("term_stats", lambda: _stage_term_stats(analyzed, wh))
        stage("corpus_stats", lambda: _write_corpus_stats(
            wh, n_docs, int(man["sum_dl"]), int(wh.manifest("term_stats")["n_terms"]),
            _analyzed_build_id(wh),
        ))

    # postings first (the Python-UDF-heavy branch), paired with the pure-JVM
    # branches; two-way concurrency overlaps scheduling gaps without
    # oversubscribing Python workers (4 concurrent pandas-UDF jobs x 32
    # workers each thrashes at scale).
    branches = [
        lambda: stage("postings", lambda: _stage_postings(spark, wh)),
        lambda: stage("doc_stats", lambda: _stage_doc_stats(spark, analyzed, wh)),
        _term_then_corpus,
    ]
    # Tune the file-scan split size for the zero-shuffle postings encode
    # BEFORE any branch launches and restore only after all finish: every
    # branch plans against one consistent value (no mid-flight session-conf
    # race).  Other branches' analyzed scans simply inherit the split —
    # harmless (at sandbox sizes a few extra tasks; at real scale
    # table_bytes/TARGET exceeds the 128 MB default anyway).
    # NOTE this is a SESSION-WIDE setting for the duration of the build:
    # unrelated jobs planned concurrently on the same SparkSession will
    # also see the tuned split.  Run builds on a dedicated session (or
    # accept the temporarily coarser/finer splits) — restored on exit,
    # via unset if the key was never explicitly set.
    total_bytes = 0
    for dirpath, _dn, filenames in os.walk(wh.path("analyzed")):
        for fn in filenames:
            if fn.endswith(".parquet"):
                total_bytes += os.path.getsize(os.path.join(dirpath, fn))
    target = max(4 << 20, total_bytes // TARGET_ENCODE_GROUPS)
    conf = spark.conf
    old_mpb = conf.get("spark.sql.files.maxPartitionBytes", None)
    old_open = conf.get("spark.sql.files.openCostInBytes", None)
    conf.set("spark.sql.files.maxPartitionBytes", str(target))
    conf.set("spark.sql.files.openCostInBytes", str(max(65536, target // 8)))

    def _restore(key: str, old: str | None) -> None:
        if old is None:
            conf.unset(key)
        else:
            conf.set(key, old)
    try:
        with ThreadPoolExecutor(max_workers=2) as ex:
            for f in [ex.submit(b) for b in branches]:
                f.result()
    finally:
        _restore("spark.sql.files.maxPartitionBytes", old_mpb)
        _restore("spark.sql.files.openCostInBytes", old_open)
    order = ["analyzed", *DOWNSTREAM_STAGES]
    run.sort(key=order.index)
    skip.sort(key=order.index)
    return BuildInfo(n_docs, shards, shard_size, run, skip, stage_secs)


@locked("incremental_build", "warehouse")
def incremental_build(
    spark: SparkSession,
    docs: DataFrame,
    warehouse: str | Warehouse,
    n_shards: int | None = None,
    mode: str = "full",
    strategy: str = "shards",
    auto_compact_ratio: float | None = None,
    maintenance: str = "compact",
    doc_id_mode: str = "rank",
    deletes: DataFrame | None = None,
) -> BuildInfo:
    """Staleness-gated re-index — the reference's ``last_crawled`` gate
    (services/indexer/main.py:140-143) over content identity: a doc whose
    (repo, path, commit, content_sha256) already exists in the committed
    ``analyzed`` table is NOT re-tokenized; its analyzed row (terms, tfs,
    positions, doc_len) is reused verbatim.  Only new/changed docs run
    the Python analyzer — at a daily 10%-churn cadence that is 10% of the
    dominant build cost.  The sha gate itself is pure JVM
    (sha2 over the incoming content — cheap relative to tokenize).

    ``mode="full"``   — the incoming frame IS the corpus: docs absent
                        from it are dropped.  The result is IDENTICAL to
                        a from-scratch build_index over the same input
                        (doc_ids are the global (repo, path, commit)
                        sorted rank either way; asserted byte-equivalent
                        in tests/test_incremental.py).
    ``mode="upsert"`` — queue-drain semantics (the foreachBatch bridge):
                        corpus = committed ∪ incoming, incoming winning
                        per key; nothing is dropped.

    Downstream stages (df, postings, …) recompute — global doc_ids and
    df shift, and that work is the vectorized/JVM part of the build; the
    gated cost is the tokenizer.  Tokenizer lineage lands under stage
    ``incremental_tokenize`` so the gate is auditable (doc_count there ==
    changed docs only)."""
    if mode not in ("full", "upsert"):
        raise ValueError(f"mode={mode!r} must be 'full' or 'upsert'")
    wh = warehouse if isinstance(warehouse, Warehouse) else Warehouse(warehouse)
    # finish a promote interrupted by a crash: a committed analyzed_next
    # is always the newer state (it only exists mid-swap)
    if wh.is_committed("analyzed_next"):
        wh.promote("analyzed_next", "analyzed")
    if not (
        wh.is_committed("analyzed")
        and wh.manifest("analyzed").get("format_version") == FORMAT_VERSION
    ):
        if deletes is not None:
            raise ValueError("deletes requires a committed index")
        if mode == "upsert" and wh.is_committed("analyzed"):
            # the fallback rebuilds from ``docs`` — with a committed-but-
            # stale-format index and a partial upsert batch that would
            # silently replace the index with the batch's contents
            raise ValueError(
                "committed index has format_version != current; an upsert "
                "batch cannot heal it — re-run with mode='full' and the "
                "complete corpus (or build_index force=True)"
            )
        # cold path (no committed index): doc_id_mode picks the id scheme
        # of the FIRST build; later calls route on the committed manifest
        return build_index(spark, docs, wh, n_shards=n_shards, doc_id_mode=doc_id_mode)
    if wh.manifest("analyzed").get("doc_id_mode", "rank") == "stable":
        # stable-id warehouse: the shard-scoped O(churn) path owns it
        from .stable import incremental_build_stable

        return incremental_build_stable(
            spark, docs, wh, mode=mode, strategy=strategy,
            auto_compact_ratio=auto_compact_ratio, maintenance=maintenance,
            deletes=deletes,
        )
    if deletes is not None:
        raise ValueError(
            "deletes requires a stable-id warehouse (doc_id_mode='stable'); "
            "rank-mode warehouses express deletions via mode='full' with "
            "the reduced snapshot"
        )

    t0 = time.time()
    carry = ["lang", "content_sha256", "doc_len", "terms", "tfs", "positions"]
    old = wh.read(spark, "analyzed").select(*KEYS, *carry)
    incoming = docs.withColumn("content_sha256", _sha_col())
    # changed = new key OR same key with different content/lang
    changed = incoming.join(old.select(*GATE), GATE, "left_anti")
    if mode == "full":
        reused = old.join(incoming.select(*GATE), GATE, "left_semi")
    else:
        reused = old.join(changed.select(*KEYS), KEYS, "left_anti")

    # TRUE NO-OP short-circuit (the daily-cron case): nothing changed,
    # nothing added, and — in full mode — nothing removed, so the
    # committed warehouse is already the answer; skip the doc_id
    # reassignment AND the downstream stage rebuilds entirely.  Three
    # cheap JVM count jobs decide it.
    n_changed = changed.count()
    if n_changed == 0:
        n_old = old.count()
        unchanged_corpus = (
            mode == "upsert"
            or (incoming.count() == n_old and reused.count() == n_old)
        )
        if unchanged_corpus:
            # the no-op claim is only honest if the DOWNSTREAM tables are
            # actually present, current-format, and built from THIS
            # analyzed (a prior run killed during the downstream rebuild
            # or between promote and the drop loop leaves them missing or
            # stale) — otherwise heal via build_index, which rebuilds
            # exactly the non-current stages.
            if all(_downstream_current(wh, t) for t in DOWNSTREAM_STAGES):
                man = wh.manifest("analyzed")
                return BuildInfo(
                    man["n_docs"], man["n_shards"], man["shard_size"],
                    stages_run=[],
                    stages_skipped=["analyzed"] + DOWNSTREAM_STAGES,
                    stage_secs={},
                )
            return build_index(spark, docs, wh, n_shards=n_shards)

    tok_acc = spark.sparkContext.accumulator({}, _LineageAccParam())
    analyzed_new = changed.select(*KEYS, "lang", "content").mapInPandas(
        _analyze_fn(tok_acc, KEYS + carry), analyzed_schema(KEYS + carry)
    )
    # persist BEFORE the range repartition: repartitionByRange runs a
    # separate range-boundary sampling job over its input, which would
    # otherwise re-execute the tokenizer (and the sha anti-joins) a
    # second time — doubling exactly the cost the gate exists to save
    pre = reused.unionByName(analyzed_new).persist(StorageLevel.DISK_ONLY)
    # the SAME rank-id writer as build_index, with the id-assign body
    # in place of the tokenizer: what makes the output bit-equal to
    # from-scratch.  It writes analyzed_next, then promotes: Warehouse.write
    # rmtree's its target first, so writing `analyzed` in place would
    # destroy the only copy of the committed corpus while the job that
    # REBUILDS it is still reading from caches of it — a kill (or
    # cache-block loss) mid-write would lose the index.  The promote is a
    # directory rename; an interrupted promote is finished at the next
    # incremental_build (committed analyzed_next wins).
    _write_ranked(spark, wh, pre, n_shards, _assign_fn, dst="analyzed_next")
    pre.unpersist()
    wh.append_lineage_rows("incremental_tokenize", list(tok_acc.value.values()))
    t_analyzed = round(time.time() - t0, 2)

    # downstream stages rebuild from the fresh analyzed table via the
    # normal machinery (analyzed is committed -> skipped; the dropped
    # tables re-run with identical plans + commit semantics)
    for t in DOWNSTREAM_STAGES:
        wh.drop(t)
    info = build_index(spark, docs, wh, n_shards=n_shards)
    info.stages_run = ["analyzed"] + info.stages_run
    info.stages_skipped = [s for s in info.stages_skipped if s != "analyzed"]
    info.stage_secs = {"analyzed": t_analyzed, **(info.stage_secs or {})}
    return info


# ---------------------------------------------------------------------------


def _write_ranked(
    spark: SparkSession, wh: Warehouse, rows: DataFrame, n_shards: int | None,
    body, dst: str = "analyzed",
) -> None:
    """The rank-id analyzed writer: doc_id = global (repo, path, commit)
    sorted rank, in two passes (range sort, per-partition counts ->
    offsets), then ``body(acc, ids)`` — _analyze_fn to tokenize, or
    _assign_fn over already-analyzed rows — writes ``dst`` and its
    lineage.  A ``dst`` other than analyzed is promoted over it."""
    sc = spark.sparkContext
    par = sc.defaultParallelism
    # 4x partitions per core: smoother task waves (a straggler costs
    # 1/(4*cores) of a wave, not 1/cores) — Python workers are reused, so
    # the extra task count is nearly free.  DISK_ONLY persist: the sorted
    # corpus is re-read once by the body pass; keeping it off-heap
    # (page cache) avoids competing with UDF/shuffle memory and GC.
    srt = (
        rows.repartitionByRange(4 * par, *KEYS)
        .sortWithinPartitions(*KEYS)
        .persist(StorageLevel.DISK_ONLY)
    )
    # pass 1: per-partition counts -> deterministic global offsets.
    # (Range-boundary sampling may place rows differently run to run, but
    # doc_id = offset + local position == global sorted rank either way.)
    counts = (
        srt.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .count()
        .collect()
    )
    by_pid = {r["pid"]: r["count"] for r in counts}
    n_docs = int(sum(by_pid.values()))
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(by_pid):
        offsets[pid] = acc
        acc += by_pid[pid]
    shards = n_shards or default_shards(n_docs)
    shard_size = math.ceil(n_docs / shards) if n_docs else 1
    b_off = sc.broadcast(offsets)
    # lineage rollup rides on an accumulator filled by the SAME tasks that
    # run the body and write — no read-back scan job afterwards.
    lin_acc = sc.accumulator({}, _LineageAccParam())

    def ids(pid: int):
        next_id = count(b_off.value.get(pid, 0) + 1)  # doc_ids are 1-based

        def rule(_shard):
            doc_id = next(next_id)
            return doc_id, (doc_id - 1) // shard_size

        return rule

    # sum_dl is in the accumulator once the data write finishes, so the
    # manifest (the commit marker) carries it atomically — a kill can
    # never leave a committed-but-rollup-less stage behind.
    wh.write(
        srt.mapInPandas(body(lin_acc, ids), ANALYZED_SCHEMA),
        dst,
        stage="analyzed",
        partition_by=["shard"],
        meta={"n_docs": n_docs, "n_shards": shards, "shard_size": shard_size,
              "build_id": uuid.uuid4().hex},
        meta_fn=lambda: {
            "sum_dl": int(sum(r["posting_bytes"] for r in lin_acc.value.values()))
        },
    )
    srt.unpersist()
    if dst != "analyzed":
        wh.promote(dst, "analyzed")
    wh.append_lineage_rows("analyzed", list(lin_acc.value.values()))


def _stage_doc_stats(
    spark: SparkSession, analyzed: DataFrame, wh: Warehouse, dst: str = "doc_stats"
) -> None:
    # top_terms: per-doc top MAX_INDEX_WORDS terms by tf (reference A2,
    # services/indexer/main.py:165-166) as map<string,int>.  The sort
    # comparator is expensive per-row, and truncation only matters for
    # docs with > MAX_INDEX_WORDS distinct terms — skip it otherwise
    # (map key order is semantically irrelevant).
    z = F.arrays_zip("terms", "tfs")
    topk = F.when(F.size("terms") <= MAX_INDEX_WORDS, z).otherwise(
        F.slice(
            F.array_sort(
                z,
                lambda a, b: F.when(a["tfs"] > b["tfs"], -1)
                .when(a["tfs"] < b["tfs"], 1)
                .when(a["terms"] < b["terms"], -1)
                .when(a["terms"] > b["terms"], 1)
                .otherwise(0),
            ),
            1,
            MAX_INDEX_WORDS,
        )
    )
    ds = analyzed.select(
        "doc_id", "repo", "path", "commit", "lang", "doc_len", "content_sha256", "shard",
        F.map_from_entries(
            F.transform(topk, lambda e: F.struct(e["terms"].alias("key"), e["tfs"].alias("value")))
        ).alias("top_terms"),
    )
    wh.write(ds, dst, stage="doc_stats", partition_by=["shard"], sort_by=["doc_id"],
             meta={"analyzed_ref": _analyzed_build_id(wh)})
    # lineage from parquet footers: per-file row counts + bytes, metadata
    # reads only — no read-back scan job (the doc-content sha rollup lives
    # on the `analyzed` stage's lineage, written by the tokenize tasks).
    wh.append_lineage_rows(dst, wh.footer_lineage_rows(dst))


def _term_counts(rows: DataFrame, out: str = "df") -> DataFrame:
    """df(t) over ``rows`` (terms[] is per-doc-distinct, so df = rows per
    term) as column ``out``.  Explicit two-phase salted aggregation
    (north_star skew mandate): a hot term's rows first collapse within
    each of NSALT salt groups (map-side + salted shuffle), then the
    <=NSALT partials merge.  The salt is a key hash, so rows without a
    doc_id (a delta before ranking) count the same way."""
    exploded = rows.select(
        F.explode("terms").alias("term"),
        F.pmod(F.xxhash64(*KEYS), F.lit(NSALT)).alias("salt"),
    )
    partial = exploded.groupBy("term", "salt").agg(F.count(F.lit(1)).alias("c"))
    return partial.groupBy("term").agg(F.sum("c").cast("long").alias(out))


def _write_term_stats(wh: Warehouse, df_t: DataFrame, ref: str, dst: str = "term_stats") -> int:
    """Write (term, df) rows as ``dst`` and return its n_terms, counted by
    an Observation on the write job itself (no second scan) and folded
    into the manifest atomically by meta_fn."""
    obs = Observation(dst)
    wh.write(
        df_t.observe(obs, F.count(F.lit(1)).alias("n_terms")),
        dst,
        stage="term_stats",
        sort_by=["term"],
        meta={"analyzed_ref": ref},
        meta_fn=lambda: {"n_terms": int(obs.get["n_terms"])},
    )
    return int(wh.manifest(dst)["n_terms"])


def _stage_term_stats(analyzed: DataFrame, wh: Warehouse) -> None:
    _write_term_stats(wh, _term_counts(analyzed), _analyzed_build_id(wh))
    wh.append_lineage_rows("term_stats", wh.footer_lineage_rows("term_stats"))


def _write_corpus_stats(
    wh: Warehouse, n_docs: int, sum_dl: int, n_terms: int, ref: str,
    dst: str = "corpus_stats",
) -> None:
    """The one-row corpus scalars table.  All three were rolled up during
    earlier writes (manifest metadata), so it is written locally with
    pyarrow (Warehouse.write_local): zero Spark jobs."""
    import pyarrow as pa

    wh.write_local(
        [{"n_docs": int(n_docs), "sum_dl": int(sum_dl), "n_terms": int(n_terms)}],
        {"n_docs": pa.int64(), "sum_dl": pa.int64(), "n_terms": pa.int64()},
        dst,
        stage="corpus_stats",
        meta={"analyzed_ref": ref},
    )


def _stage_postings(
    spark: SparkSession, wh: Warehouse, src: str = "analyzed", dst: str = "postings"
) -> None:
    man = wh.manifest(src)
    n_docs = man["n_docs"]

    cols = ["shard", "term", "block_id", "n_docs", "first_doc", "last_doc",
            "doc_ids", "tfs", "positions", "dls", "pos_ints", "max_tf", "min_dl"]

    def encode_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        """One encode group's docs -> its full posting-block set.

        The flatten/sort happens HERE in numpy, not as an exploded Spark
        shuffle: shuffling doc rows (same bytes, ~300x fewer rows than
        per-posting rows) and ordering postings locally is ~3x faster
        end-to-end.  Everything is vectorized ACROSS blocks: the group's
        doc-id deltas / tfs / dls / position streams are varint-packed in
        ONE codec call each (with per-value byte widths), and per-block
        byte ranges are carved out of those streams with offset
        arithmetic — no per-posting or per-block Python in the heavy
        path (the per-block work that remains is slicing bytes objects).
        Sort key is (term_rank, doc_id) where term_rank comes from a hash
        factorize + a sort of the (small) distinct-term set — no
        O(n log n) Python string comparisons on the full posting array."""
        shard = int(pdf["shard"].iloc[0])
        n_per_doc = pdf["terms"].map(len).to_numpy(dtype=np.int64)
        if int(n_per_doc.sum()) == 0:
            return pd.DataFrame(columns=cols)
        # int32 for tfs/dls/positions: all three are bounded by doc_len
        # (< 2^31 by construction), and halving the element width halves
        # the memory traffic of every downstream gather/cumsum/pack —
        # the encode path is bandwidth-bound on a many-core single box.
        # doc_ids stay int64 (10^12-file scale).
        doc_ids = np.repeat(pdf["doc_id"].to_numpy(dtype=np.int64), n_per_doc)
        dls = np.repeat(pdf["doc_len"].to_numpy(dtype=np.int32), n_per_doc)
        terms = np.concatenate([np.asarray(t, dtype=object) for t in pdf["terms"]])
        tfs = np.concatenate([np.asarray(t, dtype=np.int32) for t in pdf["tfs"]])
        # per-doc FLAT position arrays -> one flat stream, doc-major
        # (posting i owns the tfs[i] ints at doc-major offset po[i])
        pos_doc_major = np.concatenate(
            [np.asarray(p, dtype=np.int32) for p in pdf["positions"]]
        )
        codes, uniques = pd.factorize(terms)
        uorder = np.argsort(uniques, kind="mergesort")
        rank = np.empty(uorder.size, dtype=np.int64)
        rank[uorder] = np.arange(uorder.size)
        order = np.lexsort((doc_ids, rank[codes]))
        terms_s = terms[order]
        doc_ids = doc_ids[order]
        dls = dls[order]
        tf_dm = tfs  # doc-major tfs, needed for the position gather
        tfs = tfs[order]
        n_post = terms_s.size

        # ---- gather positions into sorted-posting order (ragged gather).
        # One fused repeat: repeat(po[order] - out_off[:-1]) + arange ==
        # repeat(po[order]) + (arange - repeat(out_off[:-1])) — the old
        # form materialized TWO total_pos-sized repeats.
        po = np.zeros(n_post, dtype=np.int64)
        np.cumsum(tf_dm[:-1], out=po[1:])
        out_off = np.zeros(n_post + 1, dtype=np.int64)
        np.cumsum(tfs, out=out_off[1:])
        total_pos = int(out_off[-1])
        gather = np.repeat(po[order] - out_off[:-1], tfs)
        gather += np.arange(total_pos)
        pos_s = pos_doc_major[gather]

        # ---- block segmentation (vectorized over terms)
        bounds = np.flatnonzero(terms_s[1:] != terms_s[:-1]) + 1
        tstarts = np.concatenate(([0], bounds))
        tends = np.concatenate((bounds, [n_post]))
        tlens = tends - tstarts
        nb = (tlens + BLOCK_SIZE - 1) // BLOCK_SIZE
        total_blocks = int(nb.sum())
        nb_off = np.zeros(nb.size + 1, dtype=np.int64)
        np.cumsum(nb, out=nb_off[1:])
        block_ids = np.arange(total_blocks) - np.repeat(nb_off[:-1], nb)
        bstarts = np.repeat(tstarts, nb) + block_ids * BLOCK_SIZE
        bends = np.minimum(bstarts + BLOCK_SIZE, np.repeat(tends, nb))

        # ---- doc-id deltas with absolute restarts at every block start
        deltas = np.empty_like(doc_ids)
        deltas[0] = doc_ids[0]
        np.subtract(doc_ids[1:], doc_ids[:-1], out=deltas[1:])
        deltas[bstarts] = doc_ids[bstarts]
        id_bytes, id_w = codec.varint_encode_with_lens(deltas)
        id_off = np.zeros(n_post + 1, dtype=np.int64)
        np.cumsum(id_w, out=id_off[1:])
        tf_bytes, tf_w = codec.varint_encode_with_lens(tfs)
        tf_off = np.zeros(n_post + 1, dtype=np.int64)
        np.cumsum(tf_w, out=tf_off[1:])
        dl_bytes, dl_w = codec.varint_encode_with_lens(dls)
        dl_off = np.zeros(n_post + 1, dtype=np.int64)
        np.cumsum(dl_w, out=dl_off[1:])

        # ---- positions stream: per posting [tf, delta(pos)...], one pack
        pdelta = np.empty_like(pos_s)
        if total_pos:
            pdelta[0] = pos_s[0]
            np.subtract(pos_s[1:], pos_s[:-1], out=pdelta[1:])
            pdelta[out_off[:-1]] = pos_s[out_off[:-1]]
        stream_len = n_post + total_pos
        stream = np.empty(stream_len, dtype=np.int32)
        len_slots = np.arange(n_post) + out_off[:-1]
        stream[len_slots] = tfs
        mask = np.ones(stream_len, dtype=bool)
        mask[len_slots] = False
        stream[mask] = pdelta
        pos_bytes_all, pos_w = codec.varint_encode_with_lens(stream)
        pos_boff = np.zeros(stream_len + 1, dtype=np.int64)
        np.cumsum(pos_w, out=pos_boff[1:])
        # byte range of block b: start of its first posting's len slot ->
        # end of its last posting's delta run
        blk_pos_b0 = pos_boff[len_slots[bstarts]]
        last = bends - 1
        blk_pos_b1 = pos_boff[len_slots[last] + 1 + tfs[last]]

        # ---- per-block stats (blocks tile postings exactly); block tf
        # totals come from the int64 prefix sums already computed for the
        # position layout (exact, no int32-overflow risk, no reduceat)
        bmax_tf = np.maximum.reduceat(tfs, bstarts)
        bmin_dl = np.minimum.reduceat(dls, bstarts)
        btf_sum = out_off[bends] - out_off[bstarts]
        nd = bends - bstarts

        mv_id = memoryview(id_bytes)
        mv_tf = memoryview(tf_bytes)
        mv_dl = memoryview(dl_bytes)
        mv_po = memoryview(pos_bytes_all)
        return pd.DataFrame(
            {
                "shard": np.full(total_blocks, shard, dtype=np.int32),
                "term": terms_s[bstarts],
                "block_id": block_ids.astype(np.int32),
                "n_docs": nd.astype(np.int32),
                "first_doc": doc_ids[bstarts],
                "last_doc": doc_ids[last],
                "doc_ids": [
                    bytes(mv_id[id_off[s]:id_off[e]]) for s, e in zip(bstarts, bends)
                ],
                "tfs": [
                    bytes(mv_tf[tf_off[s]:tf_off[e]]) for s, e in zip(bstarts, bends)
                ],
                "positions": [
                    bytes(mv_po[a:b]) for a, b in zip(blk_pos_b0, blk_pos_b1)
                ],
                "dls": [
                    bytes(mv_dl[dl_off[s]:dl_off[e]]) for s, e in zip(bstarts, bends)
                ],
                "pos_ints": (nd + btf_sum).astype(np.int32),
                "max_tf": bmax_tf.astype(np.int32),
                "min_dl": bmin_dl.astype(np.int32),
            },
            columns=cols,
        )

    # ZERO-SHUFFLE encode: the analyzed table is already written
    # partitioned by shard, and doc_ids are contiguous within each file,
    # so the encoder consumes the parquet SCAN partitioning directly —
    # each scan partition groups its rows by shard and emits that
    # sub-range's blocks.  A (term, shard) whose docs span several scan
    # partitions simply yields several block RUNS (each internally
    # doc-sorted) — scoring semantics are unchanged (every posting is in
    # exactly one block; per-doc accumulation is one contribution per
    # term regardless of run structure), and WAND treats runs as ordinary
    # blocks.  maxPartitionBytes is tuned (by build_index, around all
    # branches) so the group count lands near TARGET_ENCODE_GROUPS at
    # every parallelism level — constant: identical work at N and 4N.
    sc = spark.sparkContext
    lin_acc = sc.accumulator({}, _LineageAccParam())
    py_acc = sc.accumulator({}, _LineageAccParam())

    def encode_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        t_py = 0.0
        pdfs = [b for b in batches if len(b)]
        n_blocks = 0
        n_bytes = 0
        if pdfs:
            part = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
            for _, g in part.groupby("shard", sort=True):
                t0 = time.perf_counter()
                out = encode_shard(g.reset_index(drop=True))
                t_py += time.perf_counter() - t0
                if len(out):
                    n_blocks += len(out)
                    n_bytes += int(
                        sum(len(b) for b in out["doc_ids"])
                        + sum(len(b) for b in out["tfs"])
                        + sum(len(b) for b in out["positions"])
                    )
                    yield out
        py_acc.add({pid: {"encode_ms": t_py * 1000.0}})
        lin_acc.add(
            {pid: {"partition_id": pid, "doc_count": n_blocks,
                   "posting_bytes": n_bytes, "sha256_rollup": ""}}
        )

    # (the scan split size is tuned by build_index around ALL branches —
    # one consistent session value, no mid-flight conf race)
    base = wh.read(spark, src).select(
        "shard", "doc_id", "doc_len", "terms", "tfs", "positions"
    )
    postings = base.mapInPandas(encode_partition, POSTINGS_SCHEMA)
    wh.write(
        postings,
        dst,
        stage="postings",
        partition_by=["shard"],
        sort_by=["term", "block_id"],
        meta={"n_docs": n_docs, "block_size": BLOCK_SIZE,
              "analyzed_ref": _analyzed_build_id(wh)},
        # pure-Python encode seconds summed over tasks: recorded in
        # the manifest as scaling evidence (identical input => any
        # growth with parallelism measures the host's memory-bandwidth
        # contention, not job work)
        meta_fn=lambda: {
            "encode_python_sec": round(
                sum(r["encode_ms"] for r in py_acc.value.values()) / 1000.0, 1
            )
        },
    )
    wh.append_lineage_rows(dst, list(lin_acc.value.values()))
