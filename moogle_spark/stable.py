"""Stable-doc_id mode: shard-scoped incremental rebuilds (O(churn), not
O(corpus)).

Rank mode (the default) assigns doc_id = global (repo, path, commit)
sorted rank — deterministic and oracle-friendly, but any insert shifts
every subsequent id, so its incremental path must rebuild all downstream
tables over the whole corpus.  Stable mode pins a doc to a shard by key
hash and ranks only WITHIN the shard:

    shard  = pmod(xxhash64(repo, path, commit), n_shards)   (frozen)
    doc_id = shard * STRIDE + within-shard rank             (rank 1-based)

A churned doc perturbs only its own shard's ranks, so a daily 10%-churn
incremental re-tokenizes only the changed docs (the same sha gate as
rank mode) AND re-encodes only the touched shards' postings/doc_stats
partitions — the reference's per-doc staleness-gate semantics
(services/indexer/main.py:140-143) at Spark scale.  Every per-shard
invariant the scorers rely on survives: doc_ids stay contiguous within
a shard (dense accumulation spans), and the postings block-max metadata
is avgdl-independent (build.py POSTINGS_SCHEMA), so untouched shards'
WAND bounds remain exact when the corpus avgdl moves.

(A raw xxhash64 doc_id — the obvious alternative — would both collide at
10^12 docs (63-bit birthday bound) and destroy the dense per-shard id
ranges the vectorized scorers depend on; hashing only the SHARD choice
and ranking within it gives the same O(churn) incrementality with zero
collision risk.)

n_shards is chosen at the first build and FROZEN in the analyzed
manifest — at 100 TB pick it so a shard's analyzed rows fit an executor
(e.g. 100k shards for 10^12 docs); re-sharding is an explicit
force-rebuild.

Commit protocol: every stable-id write path (this shard swap, and the
segment upsert, merge and compaction in segments.py) commits through
commit_delta: staged *_delta / *_next tables, then ONE journaled swap,
so a kill at any moment leaves either the old index or the new one.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .build import (
    ANALYZED_COLS,
    ANALYZED_SCHEMA,
    DOWNSTREAM_STAGES,
    GATE,
    KEYS,
    BuildInfo,
    _analyze_fn,
    _downstream_current,
    _LineageAccParam,
    _sha_col,
    _stage_doc_stats,
    _stage_postings,
    _term_counts,
    _write_corpus_stats,
    _write_term_stats,
    analyzed_schema,
    default_shards,
)
from .tables import Warehouse, locked

# doc_id = shard * STRIDE + rank: 2^33 docs per shard headroom; with the
# 4096-shard default cap doc_ids stay < 2^45 (int64-safe, and far below
# the phrase scorer's composite-key overflow guard).
STRIDE = 1 << 33

NO_ID = ANALYZED_COLS[1:]  # an analyzed row before commit_delta ranks it
_DELTA_TABLES = [
    ("analyzed", "analyzed_delta"),
    ("doc_stats", "doc_stats_delta"),
    ("postings", "postings_delta"),
]
_STAGING = [d for _, d in _DELTA_TABLES] + [
    "term_stats_next", "corpus_stats_next", "tombstones_next",
]
# "auto" strategy: take the segment path once this fraction of shards is
# touched — below it, the shard-swap's downstream cost (∝ touched-shard
# bytes) beats the segment path's query-time overhead accumulation;
# above it, shard-swap degenerates toward a full rebuild (BENCH.md
# round-4 uniform-churn row) while the segment path stays O(churn).
SEG_AUTO_FRAC = 0.25


def stable_shard_col(n_shards: int):
    return F.pmod(F.xxhash64(*KEYS), F.lit(n_shards)).cast("int")


def _stable_ids(pid: int):
    """doc_id rule of the one-pass stable build (build._analyze_fn):
    rows arrive sorted by (shard, repo, path, commit) with every shard
    wholly inside one partition (_shard_grouped), so within-shard rank
    is a running per-shard counter — no global offset pass, no window.
    The delta paths assign the identical ranks in commit_delta."""
    stride = STRIDE
    next_rank: dict[int, int] = {}

    def rule(shard):
        shard = int(shard)
        rank = next_rank.get(shard, 0) + 1
        next_rank[shard] = rank
        _check_stride(rank, stride)
        return shard * stride + rank, shard

    return rule


def _check_stride(max_rank, stride: int) -> None:
    if int(max_rank or 0) >= stride:
        raise OverflowError(
            f"a shard exceeds STRIDE={stride} docs; nothing was committed — "
            "rebuild with more shards"
        )


def _shard_grouped(df: DataFrame, n_shards: int) -> DataFrame:
    """Repartition so every shard's rows are wholly inside one partition,
    sorted by (shard, repo, path, commit) — the precondition for local
    within-shard rank assignment.  Hash partitioning on the shard COLUMN
    guarantees colocation at any partition count; shards are hash-
    balanced so skew is bounded by the shard-size distribution."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    nparts = max(par, min(n_shards, 4 * par))
    return df.repartition(nparts, "shard").sortWithinPartitions("shard", *KEYS)


def _delta_term_stats(
    spark: SparkSession,
    wh: Warehouse,
    changed_an: DataFrame,
    gone: DataFrame,
    new_build_id: str,
) -> int:
    """term_stats delta: df' = df + count(new docs' terms)
                                   - count(removed/replaced docs' terms)
    (unchanged docs — even in touched shards — contribute no df change.)
    Same two-phase salted count as the full build for hot-term hygiene.
    Writes ``term_stats_next`` (committed) and returns its n_terms."""
    ts = wh.read(spark, "term_stats")
    merged = (
        ts.join(_term_counts(changed_an, "cn"), "term", "full")
        .join(_term_counts(gone, "cg"), "term", "full")
        .select(
            "term",
            (
                F.coalesce(F.col("df"), F.lit(0))
                + F.coalesce(F.col("cn"), F.lit(0))
                - F.coalesce(F.col("cg"), F.lit(0))
            ).cast("long").alias("df"),
        )
        .filter(F.col("df") > 0)
    )
    return _write_term_stats(wh, merged, new_build_id, dst="term_stats_next")


def _shard_parts(root: str) -> list[int]:
    """Sorted ``shard=`` partition values under a table directory."""
    if not os.path.isdir(root):
        return []
    return sorted(
        int(d.split("=", 1)[1]) for d in os.listdir(root) if d.startswith("shard=")
    )


def commit_delta(
    spark: SparkSession,
    wh: Warehouse,
    rows: DataFrame | None,
    stage_secs: dict,
    *,
    drop_parts=lambda present, existing: [],
    tombs: DataFrame | str | None = None,
    stats: tuple[DataFrame, DataFrame] | None = None,
    n_docs: int | None = None,
    sum_dl: int | None = None,
    gen: int | None = None,
    max_gen: int | None = None,
) -> BuildInfo:
    """Commit one delta over a stable-id warehouse: the shared tail of the
    shard swap (incremental_build_stable), the segment upsert/delete
    (segments.segment_tail), merge_generations and compact_segments.

    ``rows`` are the delta's analyzed rows (doc_id is ignored) whose
    ``shard`` column names the partition they replace or add, or None
    when the delta has none.  Sequence:

      1. rank: doc_id = shard * STRIDE + row_number over (shard | KEYS)
         — pure JVM, and exactly the ids a from-scratch build assigns
         (same shard, same key order); kept rows' term arrays never
         round-trip through Python.  An Observation guards STRIDE;
      2. write ``analyzed_delta`` and append its lineage;
      3. ``stats`` = (added, removed) analyzed frames: delta-maintain
         term_stats df and the corpus scalars into *_next tables
         (otherwise both are only restamped — they are already exact);
      4. write the doc_stats/postings deltas from analyzed_delta
         (skipped, with the generation bump, when the delta has no rows);
      5. ``tombs``: a frame is staged as the new tombstones table,
         "drop" drops the table, None keeps the committed one;
      6. swap plan: every ``shard=`` partition of each delta moves in;
         ``drop_parts(present, existing)`` names the table's partitions
         to delete (existing = its committed partitions);
      7. final manifests: analyzed gets ``n_docs``/``sum_dl`` (default:
         unchanged), a new build_id, and ``max_gen`` = ``gen`` if the
         delta has rows, else ``max_gen`` if given; every downstream
         table is stamped with the new build_id;
      8. one _TXN journal (begin_txn) records it all and recover_txn
         applies it — a kill anywhere leaves the old index or the new.

    Staged tables are all committed before the journal is written, so an
    OverflowError or any failure before step 8 leaves the committed
    index untouched."""
    for t in _STAGING:
        wh.drop(t)
    man = wh.manifest("analyzed")
    n_docs = int(man["n_docs"]) if n_docs is None else n_docs
    sum_dl = int(man["sum_dl"]) if sum_dl is None else sum_dl
    build_id = uuid.uuid4().hex
    run: list[str] = []
    n_rows = 0
    if rows is not None:
        t1 = time.time()
        obs = Observation("delta_rank_guard")
        wnd = Window.partitionBy("shard").orderBy(*KEYS)
        doc_id = F.col("shard").cast("long") * F.lit(STRIDE) + F.col("rank")
        ranked = (
            rows.select(*NO_ID)
            .withColumn("rank", F.row_number().over(wnd))
            .observe(obs, F.max("rank").alias("max_rank"), F.count(F.lit(1)).alias("n"))
            .select(doc_id.alias("doc_id"), *NO_ID)
        )
        wh.write(
            ranked,
            "analyzed_delta",
            stage="analyzed",
            partition_by=["shard"],
            meta={
                "n_docs": n_docs,
                "sum_dl": sum_dl,
                "n_shards": int(man["n_shards"]),
                "shard_size": STRIDE,
                "doc_id_mode": "stable",
                "build_id": build_id,
            },
        )
        _check_stride(obs.get["max_rank"], STRIDE)
        n_rows = int(obs.get["n"])
        wh.append_lineage_rows("analyzed", wh.footer_lineage_rows("analyzed_delta"))
        stage_secs["analyzed"] = round(time.time() - t1, 2)
        run.append("analyzed")

    promotes: list[list[str]] = []
    if stats is not None:
        t1 = time.time()
        n_terms = _delta_term_stats(spark, wh, *stats, build_id)
        stage_secs["term_stats"] = round(time.time() - t1, 2)
        _write_corpus_stats(wh, n_docs, sum_dl, n_terms, build_id, dst="corpus_stats_next")
        promotes += [["term_stats_next", "term_stats"],
                     ["corpus_stats_next", "corpus_stats"]]
        run += ["term_stats", "corpus_stats"]

    if n_rows:
        delta_df = wh.read(spark, "analyzed_delta")
        for stage, write in [
            ("doc_stats", lambda: _stage_doc_stats(
                spark, delta_df, wh, dst="doc_stats_delta")),
            ("postings", lambda: _stage_postings(
                spark, wh, src="analyzed_delta", dst="postings_delta")),
        ]:
            t1 = time.time()
            write()
            stage_secs[stage] = round(time.time() - t1, 2)
            run.append(stage)

    drops: list[str] = []
    if isinstance(tombs, DataFrame):
        t1 = time.time()
        tomb_obs = Observation("tombstones_next")
        wh.write(
            tombs.observe(tomb_obs, F.count(F.lit(1)).alias("n")),
            "tombstones_next",
            stage="tombstones",
            sort_by=["shard", "doc_id"],
            meta={"analyzed_ref": build_id},
            meta_fn=lambda: {"n_tombs": int(tomb_obs.get["n"])},
        )
        promotes.append(["tombstones_next", "tombstones"])
        stage_secs["tombstones"] = round(time.time() - t1, 2)
        run.append("tombstones")
    elif tombs == "drop":
        drops.append("tombstones")

    now = time.time()
    swaps = []
    for table, delta in _DELTA_TABLES:
        present = _shard_parts(wh.path(delta))
        swaps.append({
            "table": table,
            "delta": delta,
            "moves": present,
            "deletes": drop_parts(present, _shard_parts(wh.path(table))),
        })
    am = dict(man, n_docs=n_docs, sum_dl=sum_dl, build_id=build_id, committed_at=now)
    if gen is not None and n_rows:
        am["max_gen"] = gen
    elif max_gen is not None:
        am["max_gen"] = max_gen
    manifests = {"analyzed": am}
    restamp = ["doc_stats", "postings"]
    if stats is None:
        restamp += ["term_stats", "corpus_stats"]
    for t in restamp:
        manifests[t] = dict(wh.manifest(t), analyzed_ref=build_id, committed_at=now)
    manifests["postings"]["n_docs"] = n_docs
    for src, dst in promotes:
        manifests[dst] = dict(wh.manifest(src), table=dst)
    wh.begin_txn(
        {"swaps": swaps, "promotes": promotes, "drops": drops, "manifests": manifests}
    )
    wh.recover_txn()
    stage_secs["swap"] = round(time.time() - now, 2)

    order = ["analyzed", *DOWNSTREAM_STAGES, "tombstones"]
    return BuildInfo(
        n_docs,
        int(man["n_shards"]),
        STRIDE,
        stages_run=sorted(run, key=order.index),
        stages_skipped=[s for s in ["analyzed", *DOWNSTREAM_STAGES] if s not in run],
        stage_secs=stage_secs,
    )


def _stage_analyzed_stable(
    spark: SparkSession,
    docs: DataFrame,
    wh: Warehouse,
    n_shards: int | None,
    dst: str = "analyzed",
) -> None:
    """Stable-mode analyzed stage: ONE pass tokenizes and assigns
    (shard, within-shard rank) doc_ids — no global count pass and no
    range-boundary sampling job (contrast build._write_ranked's two-pass
    rank protocol), because ranks are local to each hash-pinned shard."""
    if n_shards is None:
        n_shards = default_shards(docs.count())
    sc = spark.sparkContext
    lin_acc = sc.accumulator({}, _LineageAccParam())
    src = docs.select(*KEYS, "lang", "content").withColumn(
        "shard", stable_shard_col(n_shards)
    )
    analyzed = _shard_grouped(src, n_shards).mapInPandas(
        _analyze_fn(lin_acc, ANALYZED_COLS, _stable_ids), ANALYZED_SCHEMA
    )
    wh.write(
        analyzed,
        dst,
        stage="analyzed",
        partition_by=["shard"],
        meta={
            "n_shards": int(n_shards),
            "shard_size": STRIDE,
            "doc_id_mode": "stable",
            "build_id": uuid.uuid4().hex,
        },
        meta_fn=lambda: {
            "n_docs": int(sum(r["doc_count"] for r in lin_acc.value.values())),
            "sum_dl": int(sum(r["posting_bytes"] for r in lin_acc.value.values())),
        },
    )
    wh.append_lineage_rows(dst, list(lin_acc.value.values()))


def _segmented(wh: Warehouse) -> bool:
    """True if the warehouse carries Lucene-style segments/tombstones
    (segments.py) on top of the base stable index."""
    if int(wh.manifest("analyzed").get("max_gen", 0)) > 0:
        return True
    return (
        wh.is_committed("tombstones")
        and int(wh.manifest("tombstones").get("n_tombs", 0)) > 0
    )


@locked("incremental_build", "wh")
def incremental_build_stable(
    spark: SparkSession,
    docs: DataFrame,
    wh: str | Warehouse,
    mode: str = "full",
    strategy: str = "shards",
    auto_compact_ratio: float | None = None,
    maintenance: str = "compact",
    deletes: DataFrame | None = None,
) -> BuildInfo:
    """Shard-scoped incremental over a stable-id warehouse: tokenizes only
    changed docs (sha+lang gate), rebuilds only the shards containing a
    changed/removed doc, delta-updates term_stats df and the corpus
    scalars, and swaps it all in via one recoverable _TXN journal.

    The result is bit-identical to a from-scratch stable build over the
    same corpus (ranks within a shard depend only on that shard's final
    membership) — asserted in tests/test_stable_incremental.py.

    ``strategy`` picks the downstream-update shape:
      "shards"  — replace every TOUCHED shard's partitions (this module).
                  Cost ∝ touched-shard bytes: ideal for clustered churn,
                  degenerates to a full downstream rebuild when churn is
                  uniform (every shard touched).
      "segment" — write the changed docs as a new GENERATION plus
                  tombstones (segments.py, the Lucene segment model):
                  cost O(churn) for ANY churn distribution; query-time
                  overhead accumulates until compact_segments().
      "auto"    — "segment" when the warehouse already has segments or
                  > SEG_AUTO_FRAC of shards are touched, else "shards".
    A warehouse that already carries segments stays on the segment path
    unless strategy="shards", which compacts first (the shard-swap
    machinery is only sound on a segment-free base).
    ``auto_compact_ratio``: after a segment run, run maintenance when
    tombstones exceed this fraction of live docs (None = never).
    ``maintenance`` picks what that trigger runs:
      "compact" — full compact_segments (bit-identical base, but after
                  uniform churn that rewrites every dirty base shard);
      "tiered"  — merge_generations (O(segment rows), caps the
                  generation count at 1) then
                  compact_segments(max_shards=K) with K chosen as the
                  fewest dirtiest families whose fold brings the mask
                  back under HALF the trigger ratio (hysteresis, so the
                  trigger doesn't re-fire every run) — the maintenance
                  window stays bounded at any churn shape.
    ``deletes`` (upsert mode only): a frame carrying (repo, path, commit)
    keys to REMOVE in the same batch — queue-drain semantics where the
    batch's final state is "upserts applied, listed keys absent".  A key
    appearing in both ``docs`` and ``deletes`` is an upsert (the doc
    wins); deleting an absent key is a no-op.  Full mode rejects it: a
    full snapshot already expresses deletions by absence."""
    if mode not in ("full", "upsert"):
        raise ValueError(f"mode={mode!r} must be 'full' or 'upsert'")
    if deletes is not None and mode != "upsert":
        raise ValueError(
            "deletes requires mode='upsert' — a full snapshot expresses "
            "deletions by absence from the snapshot"
        )
    if strategy not in ("shards", "segment", "auto"):
        raise ValueError(
            f"strategy={strategy!r} must be 'shards', 'segment' or 'auto'"
        )
    if maintenance not in ("compact", "tiered"):
        raise ValueError(
            f"maintenance={maintenance!r} must be 'compact' or 'tiered'"
        )
    wh = wh if isinstance(wh, Warehouse) else Warehouse(wh)
    from .build import FORMAT_VERSION, build_index

    # apply any pending partition-swap journal FIRST: until it is replayed
    # the on-disk tables are a committed old/new mix and every manifest
    # read below would see pre-swap state
    wh.recover_txn()
    if not (
        wh.is_committed("analyzed")
        and wh.manifest("analyzed").get("format_version") == FORMAT_VERSION
        and wh.manifest("analyzed").get("doc_id_mode", "rank") == "stable"
    ):
        # the fallback REBUILDS FROM ``docs`` — only sound when docs is
        # the whole corpus.  A deletes batch or an upsert batch against a
        # previously-committed index (old format / rank mode) must never
        # silently replace that index with the batch's contents.
        if deletes is not None:
            raise ValueError(
                "deletes requires a committed current-format stable index; "
                "this warehouse needs a full rebuild first"
            )
        if mode == "upsert" and wh.is_committed("analyzed"):
            raise ValueError(
                "committed index is not a current-format stable warehouse; "
                "an upsert batch cannot heal it — re-run with mode='full' "
                "and the complete corpus (or build_index force=True)"
            )
        return build_index(spark, docs, wh, doc_id_mode="stable")
    segmented = _segmented(wh)
    # delta swaps graft new shard partitions onto the COMMITTED downstream
    # tables — that is only sound if those tables are present, current-
    # format, and built from THIS analyzed.  Heal any gap first (skips the
    # committed analyzed, rebuilds exactly the non-current stages) — but
    # NOT on a segmented warehouse: build_index's stage plans aggregate
    # the raw analyzed table, which still holds tombstoned rows, so its
    # term_stats/corpus_stats would count dead docs.  There the safe
    # direction is a full from-scratch rebuild of the incoming corpus.
    if not all(_downstream_current(wh, t) for t in DOWNSTREAM_STAGES):
        if segmented:
            if mode == "upsert":
                # the only sound heal here is a from-scratch rebuild of
                # the whole corpus, and an upsert batch is NOT the corpus
                raise RuntimeError(
                    "segmented warehouse has stale downstream tables; "
                    "re-run with mode='full' and the full corpus to heal"
                )
            for t in ["analyzed", "tombstones", *DOWNSTREAM_STAGES]:
                wh.drop(t)
            return build_index(spark, docs, wh, doc_id_mode="stable")
        build_index(spark, docs, wh, doc_id_mode="stable")
    if segmented and strategy == "shards":
        # shard-swap assumes a segment-free base (its per-shard re-rank
        # would collide with live segment rows of the same base shard)
        from .segments import compact_segments

        compact_segments(spark, wh)
        segmented = False
    man = wh.manifest("analyzed")
    n_shards = int(man["n_shards"])
    t0 = time.time()
    stage_secs: dict[str, float] = {}

    old = wh.read(spark, "analyzed")
    if segmented:
        # the gate must see the LIVE corpus: physical analyzed rows minus
        # tombstoned doc_ids (a dead row's key/sha must not mask a re-add)
        from .segments import live_analyzed

        old = live_analyzed(spark, wh)
    incoming = docs.withColumn("content_sha256", _sha_col())
    del_keys = None
    if deletes is not None:
        # a key appearing in BOTH docs and deletes is an upsert (the doc
        # wins), so subtract incoming keys from the delete set first
        del_keys = (
            deletes.select(*KEYS).distinct()
            .join(incoming.select(*KEYS), KEYS, "left_anti")
        )
    if mode == "upsert":
        # shard is a pure function of the key, so every GATE/KEYS join
        # partner of this batch lives in the batch keys' shards: prune
        # the committed side to those partitions (analyzed is written
        # partitionBy("shard")) and the gate reads O(batch-shard bytes),
        # not O(corpus).  Full mode must scan everything anyway — absence
        # from the snapshot means deletion.
        sh = incoming.select(stable_shard_col(n_shards).alias("shard"))
        if deletes is not None:
            sh = sh.unionByName(
                deletes.select(stable_shard_col(n_shards).alias("shard"))
            )
        batch_shards = sorted({int(r["shard"]) for r in sh.distinct().collect()})
        # match every GENERATION of the batch families, not just the base
        # shard value: segment generations store shard = gen*n_shards +
        # base (segments.py), and a gen-resident doc must still be
        # visible to the gate — a base-only filter would miss it (silent
        # duplicate on re-upsert, silent no-op on delete).  The physical
        # ids are enumerated explicitly because a plain isin on the
        # partition column is what Spark provably turns into
        # PartitionFilters (an equivalent pmod() predicate is not pruned).
        max_gen = int(man.get("max_gen", 0))
        phys = [
            g * n_shards + s
            for s in batch_shards
            for g in range(max_gen + 1)
        ]
        old_batch = old.filter(F.col("shard").isin(phys))
    else:
        old_batch = old
    changed = incoming.join(old_batch.select(*GATE), GATE, "left_anti").withColumn(
        "shard", stable_shard_col(n_shards)
    )
    if mode == "full":
        gone = old.join(incoming.select(*GATE), GATE, "left_anti")
    else:
        gone_keys = changed.select(*KEYS)
        if del_keys is not None:
            gone_keys = gone_keys.unionByName(del_keys)
        gone = old_batch.join(gone_keys, KEYS, "left_semi")
    gone = gone.persist(StorageLevel.DISK_ONLY)

    # tokenize ONLY the changed docs (the staleness gate); lineage under
    # incremental_tokenize proves the gate (doc_count == changed docs)
    tok_acc = spark.sparkContext.accumulator({}, _LineageAccParam())
    changed_an = (
        changed.select(*KEYS, "lang", "content", "shard")
        .mapInPandas(_analyze_fn(tok_acc, NO_ID), analyzed_schema(NO_ID))
        .persist(StorageLevel.DISK_ONLY)
    )

    ch = changed_an.agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("doc_len"), F.lit(0)).alias("dl")
    ).collect()[0]
    gn = gone.agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("doc_len"), F.lit(0)).alias("dl")
    ).collect()[0]
    n_changed, n_gone = int(ch["n"]), int(gn["n"])
    stage_secs["gate"] = round(time.time() - t0, 2)

    try:
        if n_changed == 0 and n_gone == 0:
            if all(_downstream_current(wh, t) for t in DOWNSTREAM_STAGES):
                return BuildInfo(
                    int(man["n_docs"]), n_shards, STRIDE,
                    stages_run=[],
                    stages_skipped=["analyzed"] + DOWNSTREAM_STAGES,
                    stage_secs={},
                )
            # downstream missing/stale: heal via the full-build resume path
            # (skips the committed analyzed, rebuilds only non-current stages)
            return build_index(spark, docs, wh, doc_id_mode="stable")

        wh.append_lineage_rows("incremental_tokenize", list(tok_acc.value.values()))
        live = {
            "n_docs": int(man["n_docs"]) - n_gone + n_changed,
            "sum_dl": int(man["sum_dl"]) - int(gn["dl"]) + int(ch["dl"]),
        }

        def _to_segment() -> BuildInfo:
            from .segments import segment_tail

            return segment_tail(
                spark, wh, changed_an, gone, n_changed, n_gone, live,
                stage_secs, auto_compact_ratio, maintenance,
            )

        if segmented or strategy == "segment":
            # a segmented warehouse stays segmented (shard-swap would collide
            # with live segment rows); explicit "segment" skips the touched-
            # shard census entirely
            return _to_segment()

        touched = sorted(
            {int(r["shard"]) for r in changed_an.select("shard").distinct().collect()}
            | {int(r["shard"]) for r in gone.select("shard").distinct().collect()}
        )
        if strategy == "auto" and len(touched) >= SEG_AUTO_FRAC * n_shards:
            return _to_segment()

        # ---- the touched shards' FULL new membership (reused rows keep
        # their committed terms verbatim), re-ranked by commit_delta.  The
        # JVM rank matters most under uniform churn (all shards touched):
        # measured at 200k docs, the old tokenize=False mapInPandas pass
        # alone cost 25.4 s (tools/incremental_bench.py).
        old_t = old.filter(F.col("shard").isin(touched))
        if mode == "full":
            kept = old_t.join(incoming.select(*GATE), GATE, "left_semi")
        else:
            # anti-join on gone's keys (= replaced ∪ deleted): covers the
            # deletes batch too; brand-new keys aren't in old_t either way
            kept = old_t.join(gone.select(*KEYS), KEYS, "left_anti")
        return commit_delta(
            spark, wh, kept.select(*NO_ID).unionByName(changed_an.select(*NO_ID)),
            stage_secs,
            drop_parts=lambda present, _existing: sorted(set(touched) - set(present)),
            stats=(changed_an, gone),
            **live,
        )
    finally:
        changed_an.unpersist()
        gone.unpersist()


@locked("delete_docs", "wh")
def delete_docs(
    spark: SparkSession,
    keys: DataFrame,
    wh: str | Warehouse,
    strategy: str = "auto",
    auto_compact_ratio: float | None = None,
    maintenance: str = "compact",
) -> BuildInfo:
    """Remove documents by (repo, path, commit) key WITHOUT re-supplying
    any corpus content — the takedown/GDPR-style operation a 100 TB
    operator cannot express as a full-snapshot rebuild.

    Cost is O(deleted): the gate reads only the deleted keys' shard
    partitions (see the upsert-mode pruning in incremental_build_stable),
    nothing is tokenized, term_stats df is delta-decremented from the
    removed rows' term sets, and the downstream update is either a
    tombstone-only segment run (segmented / "auto" at scale) or a
    touched-shard rewrite.  Deleting keys not present in the index is a
    no-op.  Stable-id warehouses only — rank-mode doc_ids shift on any
    removal, so there the supported path is a mode="full" incremental
    with the reduced snapshot."""
    wh = wh if isinstance(wh, Warehouse) else Warehouse(wh)
    from .build import FORMAT_VERSION

    if not wh.is_committed("analyzed"):
        raise ValueError("delete_docs requires a committed index")
    man = wh.manifest("analyzed")
    if man.get("format_version") != FORMAT_VERSION:
        raise ValueError(
            f"warehouse format_version={man.get('format_version')!r} != "
            f"{FORMAT_VERSION}; rebuild the index before deleting from it"
        )
    if man.get("doc_id_mode", "rank") != "stable":
        raise ValueError(
            "delete_docs requires a stable-id warehouse "
            "(build with doc_id_mode='stable'); rank-mode warehouses must "
            "re-run incremental_build(mode='full') with the reduced corpus"
        )
    empty_docs = spark.createDataFrame(
        [], "repo string, path string, commit string, lang string, content string"
    )
    return incremental_build_stable(
        spark, empty_docs, wh, mode="upsert", strategy=strategy,
        auto_compact_ratio=auto_compact_ratio, maintenance=maintenance,
        deletes=keys,
    )
