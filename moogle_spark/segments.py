"""Lucene-segment-style incremental index: O(churn) for ANY churn shape.

The shard-scoped path (stable.py) re-encodes every TOUCHED shard, so
uniform churn — every shard touched — degenerates to a full downstream
rebuild (BENCH.md round-4 measured exactly that cliff).  Segments remove
it, following the standard Lucene segment model (public knowledge: an
immutable base plus small delta segments plus a deleted-docs mask),
re-expressed as Spark table partitions:

  * an incremental run writes the changed docs as a NEW GENERATION —
    extra partitions of the SAME analyzed/doc_stats/postings tables under
        shard  = gen * n_shards + base_shard        (base_shard from the
                                                     frozen key hash)
        doc_id = shard * STRIDE + within-shard rank
    which collides with no earlier generation by construction, and
  * the replaced/removed docs' doc_ids land in a per-shard `tombstones`
    table (shard = the dead row's physical shard, so the mask colocates
    with the postings it masks).

Nothing in the committed base is rewritten: a run costs O(corpus)
sha-gate (pure JVM anti-join) + O(churn) tokenize + O(churn) encode +
O(churn terms) term_stats delta — independent of how the churn is
distributed over shards.

Query-time exactness: the engine folds tombstones into its cached
postings as per-shard mask rows under the reserved term TOMB ("\\x00tomb"
— sorts before every analyzer token and can never equal one, since
analyzer tokens are lowercase alphanumeric).  Every scorer drops masked
doc_ids BEFORE top-k/threshold maintenance, so block-max WAND stays
exact: a dead doc's contribution to a block's (max_tf, min_dl) bound can
only RAISE the bound, which is still a valid upper bound for the live
docs in the block.  BM25 stats stay exact because term_stats df and the
corpus n_docs/sum_dl are delta-maintained to the LIVE corpus
(stable._delta_term_stats) — idf and avgdl are identical to a
from-scratch build of the live corpus, so scores are identical
(tests/test_segments.py asserts result parity at the key level).

compact_segments() folds every generation + the tombstones back into the
base: live analyzed rows of the touched BASE shards are re-ranked (pure
JVM — no re-tokenize) and their partitions swapped, segment partitions
deleted, tombstones dropped.  Cost is O(touched base shards) — the same
bound as the shard-scoped path — and it bounds the query-time overhead
(mask decode + extra partitions).  incremental_build_stable's
``auto_compact_ratio`` triggers it once tombstones exceed a fraction of
the live corpus.

Commit protocol: every write here goes through stable.commit_delta, the
one staged-then-journaled swap all stable-id write paths share; each
function below only picks its delta rows, partition deletes, tombstone
frame and manifest overrides.

Reference parity: the staleness-gate semantics are the reference's
(services/indexer/main.py:140-143 — skip unchanged docs entirely); the
reference has no deletion story at all (Mongo upserts in place), so the
segment/tombstone machinery is the scale-path generalization the
north_star's 10^12-file incremental cadence requires.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import codec
from .build import DOWNSTREAM_STAGES, POSTINGS_SCHEMA, BuildInfo
from .stable import STRIDE, _shard_parts, commit_delta
from .tables import Warehouse, locked

# Reserved mask term: sorts before every real token ("\x00" < "0"), and
# the analyzer only ever emits lowercase-alphanumeric tokens, so no query
# or document term can collide with it.
TOMB = "\x00tomb"

# one mask row per this many dead ids (keeps any single Arrow binary cell
# small even if a shard accumulates millions of tombstones)
_TOMB_CHUNK = 1 << 20

TOMBSTONES_SCHEMA = "shard int, doc_id long"


def _has_tombstones(wh: Warehouse) -> bool:
    return (
        wh.is_committed("tombstones")
        and int(wh.manifest("tombstones").get("n_tombs", 0)) > 0
    )


def live_analyzed(spark: SparkSession, wh: Warehouse) -> DataFrame:
    """The LIVE corpus view: physical analyzed rows minus tombstoned
    doc_ids.  This is what the staleness gate and compaction read — a
    dead row's (key, sha) must not mask the re-add of the same doc.
    (The anti-join shuffles only the tombstone id set against analyzed;
    compaction bounds its size, and at cluster scale AQE picks a
    broadcast anti-join while the set is small.)"""
    an = wh.read(spark, "analyzed")
    if _has_tombstones(wh):
        an = an.join(
            wh.read(spark, "tombstones").select("doc_id"), "doc_id", "left_anti"
        )
    return an


def tombstone_mask_rows(
    spark: SparkSession, wh: Warehouse, tomb: DataFrame | None = None
) -> DataFrame:
    """Tombstones encoded as POSTINGS_SCHEMA mask rows (term = TOMB, ids
    delta+varint like any posting block, empty tf/pos/dl payloads).  The
    engine unions these into its cached postings so every shard group's
    scorer receives its own dead-id mask with ZERO extra per-query work —
    no broadcast, no driver-side set, colocation for free (the mask rows
    carry the shard column and ride the same repartition+cache)."""

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        ids = np.unique(pdf["doc_id"].to_numpy(dtype=np.int64))
        rows = []
        for b, s in enumerate(range(0, ids.size, _TOMB_CHUNK)):
            chunk = ids[s:s + _TOMB_CHUNK]
            rows.append(
                {
                    "shard": shard,
                    "term": TOMB,
                    "block_id": b,
                    "n_docs": int(chunk.size),
                    "first_doc": int(chunk[0]),
                    "last_doc": int(chunk[-1]),
                    "doc_ids": codec.encode_doc_ids(chunk),
                    "tfs": b"",
                    "positions": b"",
                    "dls": b"",
                    "pos_ints": 0,
                    "max_tf": 0,
                    "min_dl": 0,
                }
            )
        return pd.DataFrame(rows)

    if tomb is None:
        tomb = wh.read(spark, "tombstones")
    return tomb.groupBy("shard").applyInPandas(enc, POSTINGS_SCHEMA)


# ---------------------------------------------------------------------------


def segment_tail(
    spark: SparkSession,
    wh: Warehouse,
    changed_an: DataFrame,
    gone: DataFrame,
    n_changed: int,
    n_gone: int,
    live: dict,
    stage_secs: dict,
    auto_compact_ratio: float | None = None,
    maintenance: str = "compact",
) -> BuildInfo:
    """The segment-strategy tail of incremental_build_stable: the gate
    has already run (changed_an = tokenized changed docs with their BASE
    shard column; gone = the live analyzed rows being replaced/removed,
    carrying their physical shard + doc_id; live = the new n_docs and
    sum_dl).  Commits generation max_gen+1 (only when there are changed
    docs — a pure delete adds tombstones and no generation) plus the
    tombstones, then runs the ``auto_compact_ratio`` maintenance."""
    man = wh.manifest("analyzed")
    n_shards = int(man["n_shards"])
    new_gen = int(man.get("max_gen", 0)) + 1
    seg = None
    if n_changed:
        seg = changed_an.withColumn(
            "shard", (F.lit(new_gen * n_shards) + F.col("shard")).cast("int")
        )
    # tombstones = committed tombstones ∪ the replaced/removed docs' ids.
    # `gone` rows come from the LIVE view, so an id is never tombstoned
    # twice; their shard column is the dead row's PHYSICAL shard (a doc
    # added in gen 1 and changed in gen 2 masks its gen-1 id).
    dead = gone.select(F.col("shard").cast("int").alias("shard"), "doc_id")
    n_tombs = n_gone
    if _has_tombstones(wh):
        dead = wh.read(spark, "tombstones").unionByName(dead)
        n_tombs += int(wh.manifest("tombstones")["n_tombs"])
    info = commit_delta(
        spark, wh, seg, stage_secs,
        tombs=dead, stats=(changed_an, gone), gen=new_gen, **live,
    )
    if (
        auto_compact_ratio is not None
        and info.n_docs > 0
        and n_tombs / info.n_docs > auto_compact_ratio
    ):
        t1 = time.time()
        if maintenance == "tiered":
            # bound the window: merge caps generations at 1 for O(segment
            # rows); then fold only the fewest dirtiest families needed to
            # bring the mask under HALF the trigger ratio (hysteresis —
            # without it the trigger re-fires every run and each run pays
            # a compact).  Family ranking mirrors compact_segments'
            # max_shards order (tombstones first).
            merge_generations(spark, wh)
            _seg, tomb_counts = _family_census(spark, wh, n_shards)
            target = auto_compact_ratio * info.n_docs / 2
            remaining = sum(tomb_counts.values())
            k = 0
            for _b, n in sorted(tomb_counts.items(), key=lambda kv: -kv[1]):
                if remaining <= target:
                    break
                remaining -= n
                k += 1
            if k:
                compact_segments(spark, wh, max_shards=k)
            stage_secs["maintenance"] = round(time.time() - t1, 2)
            info.stages_run.append("maintenance")
        else:
            compact_segments(spark, wh)
            stage_secs["compact"] = round(time.time() - t1, 2)
            info.stages_run.append("compact")
    return info


# ---------------------------------------------------------------------------


def _family_census(
    spark: SparkSession, wh: Warehouse, n_shards: int
) -> tuple[dict[int, int], dict[int, int]]:
    """Per BASE FAMILY (shard % n_shards): physical segment-row count and
    tombstone count.  Two cheap aggregations — the dirtiness signal that
    drives partial-compaction selection."""
    fam = F.pmod("shard", F.lit(n_shards)).cast("int").alias("b")
    seg = {
        int(r["b"]): int(r["n"])
        for r in wh.read(spark, "analyzed")
        .filter(F.col("shard") >= n_shards)
        .groupBy(fam)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    tomb = {}
    if _has_tombstones(wh):
        tomb = {
            int(r["b"]): int(r["n"])
            for r in wh.read(spark, "tombstones")
            .groupBy(fam)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    return seg, tomb


@locked("compact_segments", "wh")
def compact_segments(
    spark: SparkSession,
    wh: str | Warehouse,
    shards: list[int] | None = None,
    max_shards: int | None = None,
) -> BuildInfo:
    """Fold generations + tombstones back into the base index.

    Pure JVM over committed analyzed rows (no re-tokenize): the live rows
    of each selected base FAMILY (a base shard plus its generation
    partitions ``gen*n_shards + b``) become a commit_delta under their
    base shard, which also deletes the family's generation partitions
    and its tombstones.  term_stats/corpus_stats are already exact for
    the live corpus, so commit_delta only restamps them.

    Selection (the tiered-maintenance knob — at 100 TB a full compaction
    after uniform churn rewrites every base shard, so bound each
    maintenance window instead):
      * default — compact EVERY dirty family (the round-4 behavior); the
        result is bit-identical to a from-scratch stable build of the
        live corpus (tests/test_segments.py).
      * ``shards=[b, ...]`` — compact exactly these base families.
      * ``max_shards=K`` — compact the K dirtiest families, ranked by
        tombstone count then segment-row count (tombstones are the
        query-time mask overhead; segment rows the extra partitions).
    Partial compaction leaves the other families' segments/tombstones in
    place — queries stay exact throughout (the mask machinery is
    unchanged) and repeated ``max_shards=K`` calls converge to the full
    compact."""
    if shards is not None and max_shards is not None:
        raise ValueError("pass at most one of shards= / max_shards=")
    wh = wh if isinstance(wh, Warehouse) else Warehouse(wh)
    wh.recover_txn()
    man = wh.manifest("analyzed")
    if man.get("doc_id_mode", "rank") != "stable":
        raise ValueError("compact_segments requires a stable-id warehouse")
    n_shards = int(man["n_shards"])
    noop = BuildInfo(
        int(man["n_docs"]), n_shards, STRIDE,
        stages_run=[],
        stages_skipped=["analyzed", *DOWNSTREAM_STAGES],
        stage_secs={},
    )
    if int(man.get("max_gen", 0)) == 0 and not _has_tombstones(wh):
        return noop
    # dirty base families: any family owning a segment row or a
    # tombstoned row (tombstone shard is the dead row's physical shard,
    # whose base family is shard % n_shards)
    seg_counts, tomb_counts = _family_census(spark, wh, n_shards)
    dirty = sorted(seg_counts.keys() | tomb_counts.keys())
    if shards is not None:
        bad = sorted(set(shards) - set(range(n_shards)))
        if bad:
            raise ValueError(f"not base shards (n_shards={n_shards}): {bad}")
        sel = set(shards) & set(dirty)
    elif max_shards is not None:
        by_dirt = sorted(
            dirty,
            key=lambda b: (tomb_counts.get(b, 0), seg_counts.get(b, 0), -b),
            reverse=True,
        )
        sel = set(by_dirt[: max(0, max_shards)])
    else:
        sel = set(dirty)
    if not sel:
        return noop

    fam = F.pmod("shard", F.lit(n_shards)).cast("int")
    rows = live_analyzed(spark, wh).withColumn("shard", fam).filter(
        F.col("shard").isin(sorted(sel))
    )
    # a selected family's masks are realized by the fold; the others stay
    tombs = None
    if tomb_counts:
        tombs = "drop"
        if tomb_counts.keys() - sel:
            tombs = wh.read(spark, "tombstones").filter(~fam.isin(sorted(sel)))
    # max_gen: the highest generation an un-selected family still holds
    gens = [
        v // n_shards
        for v in _shard_parts(wh.path("analyzed"))
        if v >= n_shards and v % n_shards not in sel
    ]
    return commit_delta(
        spark, wh, rows, {},
        drop_parts=lambda present, existing: sorted(sel - set(present)) + [
            v for v in existing if v >= n_shards and v % n_shards in sel
        ],
        tombs=tombs,
        max_gen=max(gens, default=0),
    )


@locked("merge_generations", "wh")
def merge_generations(spark: SparkSession, wh: str | Warehouse) -> BuildInfo:
    """Tiered merge: fold ALL generations into a single generation
    without touching any base partition.

    The Lucene tiered-merge move, re-expressed over table partitions:
    repeated segment-strategy incrementals stack generations (query-time
    partition count grows per run) and their tombstones.  A full
    compaction bounds both but costs O(touched base shards) — after
    uniform churn, the whole base.  This merge costs **O(total segment
    rows)** instead: the LIVE rows of every generation become a
    commit_delta under generation-1 shards (``n_shards + base_family``)
    that replaces every older generation partition and drops the
    tombstones that masked GENERATION rows.  Base partitions and
    base-masking tombstones are byte-untouched; term_stats/corpus_stats
    are already live-exact and only restamped.

    Maintenance policy at scale: merge often (cheap, bounds generation
    count), partially compact the dirtiest families on a cadence
    (``compact_segments(max_shards=K)``), fully compact rarely."""
    wh = wh if isinstance(wh, Warehouse) else Warehouse(wh)
    wh.recover_txn()
    man = wh.manifest("analyzed")
    if man.get("doc_id_mode", "rank") != "stable":
        raise ValueError("merge_generations requires a stable-id warehouse")
    n_shards = int(man["n_shards"])
    max_gen = int(man.get("max_gen", 0))
    gen_tombs = base_tombs = 0
    if _has_tombstones(wh):
        gen_tombs = wh.read(spark, "tombstones").filter(
            F.col("shard") >= n_shards
        ).count()
        base_tombs = int(wh.manifest("tombstones")["n_tombs"]) - gen_tombs
    if max_gen == 0 or (max_gen == 1 and gen_tombs == 0):
        return BuildInfo(
            int(man["n_docs"]), n_shards, STRIDE,
            stages_run=[],
            stages_skipped=["analyzed", *DOWNSTREAM_STAGES],
            stage_secs={},
        )
    rows = live_analyzed(spark, wh).filter(F.col("shard") >= n_shards).withColumn(
        "shard", (F.lit(n_shards) + F.pmod("shard", F.lit(n_shards))).cast("int")
    )
    # base-masking tombstones survive; generation masks are realized
    tombs = None
    if gen_tombs or base_tombs:
        tombs = "drop"
        if base_tombs:
            tombs = wh.read(spark, "tombstones").filter(F.col("shard") < n_shards)
    return commit_delta(
        spark, wh, rows, {},
        drop_parts=lambda present, existing: [
            v for v in existing if v >= n_shards and v not in present
        ],
        tombs=tombs,
        gen=1,
        max_gen=0,
    )
