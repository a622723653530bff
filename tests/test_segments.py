"""Lucene-segment-style incremental (segments.py): O(churn) for ANY
churn shape, exact query results via tombstone masks.

The shard-scoped path (test_stable_incremental.py) re-encodes touched
shards, so uniform churn degenerates to a full downstream rebuild.  The
segment path writes churn as a new GENERATION (extra shard partitions)
plus per-shard tombstones, leaving every base partition byte-untouched.
These tests prove:
  * segmented search results (bmw, exhaustive, search_many, phrase) are
    identical to a from-scratch stable build of the live corpus,
  * the base partitions are NOT rewritten — O(churn) regardless of how
    the churn spreads over shards,
  * deletes take effect (a fully-dead term returns nothing and has no
    term_stats row) and a deleted doc can be re-added (the staleness
    gate reads the LIVE corpus, not the physical rows),
  * multi-generation stacking works, including tombstoning a doc that
    itself lives in an earlier generation,
  * compact_segments folds everything back bit-identically to a
    from-scratch stable build of the live corpus,
  * strategy="auto" picks segments for uniform churn and shard-swap for
    clustered churn; auto_compact_ratio triggers compaction,
  * the single _TXN journal makes the segment swap kill-safe.

To keep suite time sane the expensive from-scratch builds are shared:
the v1 base is built once and copied per test (byte-valid — the
warehouse is a plain directory), the v2 scratch is a module fixture.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F
from test_stable_incremental import (
    N_DOCS,
    N_SHARDS,
    _decoded_postings_fp,
    _docs_v1,
    _docs_v2,
    _snapshot_files,
    _table_rows_fp,
)

QUERIES = [
    "hotterm0 hotterm1",
    "def return import",
    "uniqdoc7x",
    "freshchurntoken",          # exists only in the churned docs
    "brandnew zephyr",          # exists only in the 20 new docs
]


@pytest.fixture(scope="module")
def base_v1(spark, tmp_path_factory):
    """From-scratch stable build of docs_v1, built ONCE; tests copytree
    it before mutating.  Doubles as the v1 parity target."""
    from moogle_spark.build import build_index

    wh = str(tmp_path_factory.mktemp("segbase") / "v1")
    build_index(spark, _docs_v1(spark), wh, n_shards=N_SHARDS, doc_id_mode="stable")
    return wh


@pytest.fixture(scope="module")
def scratch_v2(spark, tmp_path_factory):
    """From-scratch stable build of docs_v2 — the parity target."""
    from moogle_spark.build import build_index

    wh = str(tmp_path_factory.mktemp("segscr") / "v2")
    build_index(spark, _docs_v2(spark), wh, n_shards=N_SHARDS, doc_id_mode="stable")
    return wh


def _clone(base: str, tmp_path, name: str) -> str:
    dst = str(tmp_path / name)
    shutil.copytree(base, dst)
    return dst


def _result_keys(eng, q, k=N_DOCS + 40, mode="bmw"):
    return {
        (r["repo"], r["path"], round(r["score"], 9), r["match_count"])
        for r in eng.search(q, k=k, mode=mode, enrich=True).collect()
    }


def _phrase_keys(eng, q, k=N_DOCS + 40):
    return {
        (r["repo"], r["path"], round(r["score"], 9), r["match_count"])
        for r in eng.search_phrase(q, k=k, enrich=True).collect()
    }


def _assert_engines_agree(spark, wh_seg, wh_scr):
    from moogle_spark.query import SearchEngine

    es = SearchEngine(spark, wh_seg, cache=True)   # cached path: mask rows
    ec = SearchEngine(spark, wh_scr, cache=False)  # ride the shard persist
    assert es.n_docs == ec.n_docs and es.sum_dl == ec.sum_dl
    for q in QUERIES:
        assert _result_keys(es, q) == _result_keys(ec, q), q
    # exhaustive-mode spot check (bmw == exhaustive is pinned elsewhere)
    q = QUERIES[0]
    assert _result_keys(es, q, mode="exhaustive") == _result_keys(ec, q), q
    # doc_id spaces differ between the two warehouses, so compare the
    # batched results on (rank, score); ties share a score, so this is
    # unambiguous
    many = es.search_many(QUERIES, k=10)
    for qi, q in enumerate(QUERIES):
        got = {
            (r["rank"], round(r["score"], 9))
            for r in many.filter(F.col("query_id") == qi).collect()
        }
        want = {
            (r["rank"], round(r["score"], 9))
            for r in ec.search(q, k=10).collect()
        }
        assert got == want, q
    assert _phrase_keys(es, "brandnew zephyr") == _phrase_keys(ec, "brandnew zephyr")
    es.postings.unpersist()
    es.term_stats.unpersist()


def test_segment_run_then_compact_matches_scratch(
    spark, tmp_path, base_v1, scratch_v2
):
    from moogle_spark.build import incremental_build
    from moogle_spark.segments import compact_segments
    from moogle_spark.tables import Warehouse

    docs_v1, docs_v2 = _docs_v1(spark), _docs_v2(spark)
    wh_seg = _clone(base_v1, tmp_path, "seg")
    before = {
        t: _snapshot_files(os.path.join(wh_seg, t))
        for t in ["analyzed", "postings", "doc_stats"]
    }

    info = incremental_build(spark, docs_v2, wh_seg, strategy="segment")
    assert "tombstones" in info.stages_run

    wh = Warehouse(wh_seg)
    assert int(wh.manifest("analyzed")["max_gen"]) == 1
    assert int(wh.manifest("analyzed")["n_docs"]) == docs_v2.count()
    # tombstones == v1 rows replaced or removed, computed independently
    same = docs_v1.withColumn(
        "sha", F.sha2(F.encode(F.col("content"), "utf-8"), 256)
    ).join(
        docs_v2.withColumn(
            "sha", F.sha2(F.encode(F.col("content"), "utf-8"), 256)
        ).select("repo", "path", "commit", "lang", "sha"),
        ["repo", "path", "commit", "lang", "sha"],
        "left_semi",
    )
    n_gone = N_DOCS - same.count()
    assert int(wh.manifest("tombstones")["n_tombs"]) == n_gone > 0

    # THE POINT: no base partition of any table was rewritten — the run
    # cost O(churn) even though the churn touched many shards
    after = {
        t: _snapshot_files(os.path.join(wh_seg, t))
        for t in ["analyzed", "postings", "doc_stats"]
    }
    for t, snap in before.items():
        for rel, sig in snap.items():
            if rel.startswith("shard="):
                assert after[t].get(rel) == sig, f"{t}/{rel} was rewritten"

    # the tokenizer gate: only changed/new docs ran the analyzer
    changed = docs_v2.join(
        docs_v1.withColumn(
            "sha", F.sha2(F.encode(F.col("content"), "utf-8"), 256)
        ).select("repo", "path", "commit", "lang", "sha"),
        ["repo", "path", "commit", "lang"],
        "left",
    ).filter(
        F.col("sha").isNull()
        | (F.col("sha") != F.sha2(F.encode(F.col("content"), "utf-8"), 256))
    )
    lin = (
        wh.lineage(spark)
        .filter(F.col("stage") == "incremental_tokenize")
        .agg(F.sum("doc_count"))
        .collect()[0][0]
    )
    assert int(lin) == changed.count()

    _assert_engines_agree(spark, wh_seg, scratch_v2)

    # ---- compaction folds it back bit-identically to from-scratch
    info = compact_segments(spark, wh_seg)
    assert "postings" in info.stages_run
    wh = Warehouse(wh_seg)
    assert int(wh.manifest("analyzed").get("max_gen", 0)) == 0
    assert not wh.is_committed("tombstones")
    for t in ["analyzed", "postings", "doc_stats"]:
        shards = [
            int(d.split("=", 1)[1])
            for d in os.listdir(os.path.join(wh_seg, t))
            if d.startswith("shard=")
        ]
        assert max(shards) < N_SHARDS, t
    assert _decoded_postings_fp(spark, wh_seg) == _decoded_postings_fp(
        spark, scratch_v2
    )
    for t in ["analyzed", "doc_stats", "term_stats", "corpus_stats"]:
        assert _table_rows_fp(spark, wh_seg, t) == _table_rows_fp(
            spark, scratch_v2, t
        ), t

    # compacting a segment-free warehouse is a no-op
    assert compact_segments(spark, wh_seg).stages_run == []


def test_multi_generation_readd_and_dead_terms(spark, tmp_path, base_v1):
    """v1 -> v2 (gen 1) -> v1 again (gen 2): re-adds deleted docs past
    the gate, reverts changed docs, and tombstones gen-1 rows (the 20
    .newdoc docs die where they live — inside generation-1 shards)."""
    from moogle_spark.build import incremental_build
    from moogle_spark.query import SearchEngine
    from moogle_spark.tables import Warehouse

    docs_v1, docs_v2 = _docs_v1(spark), _docs_v2(spark)
    wh_seg = _clone(base_v1, tmp_path, "seg")
    incremental_build(spark, docs_v2, wh_seg, strategy="segment")
    incremental_build(spark, docs_v1, wh_seg, strategy="segment")

    wh = Warehouse(wh_seg)
    assert int(wh.manifest("analyzed")["max_gen"]) == 2
    assert int(wh.manifest("analyzed")["n_docs"]) == N_DOCS

    # parity target: the untouched v1 base itself
    _assert_engines_agree(spark, wh_seg, base_v1)

    # fully-dead vocabulary: every v2-only term's df hit 0, so its
    # term_stats row is gone and its (masked) postings score nothing
    es = SearchEngine(spark, wh_seg, cache=False)
    for q in ["freshchurntoken", "brandnew"]:
        assert es.term_dfs([q]) == {}
        assert es.search(q, k=10).count() == 0
        assert es.search_phrase(q, k=10).count() == 0


def test_auto_strategy_and_auto_compact(spark, tmp_path, base_v1):
    from moogle_spark.build import build_index, incremental_build
    from moogle_spark.tables import Warehouse

    docs_v1 = _docs_v1(spark)
    wh = _clone(base_v1, tmp_path, "wh")

    # clustered churn (one doc) -> auto picks the shard-swap path
    one = docs_v1.orderBy("path").limit(1).withColumn(
        "content", F.concat(F.col("content"), F.lit(" clusterchurn"))
    )
    clustered = docs_v1.join(one.select("path"), "path", "left_anti").unionByName(one)
    info = incremental_build(spark, clustered, wh, strategy="auto")
    assert "tombstones" not in info.stages_run and "analyzed" in info.stages_run
    assert not Warehouse(wh).is_committed("tombstones")

    # uniform churn (every doc) -> auto picks segments, and
    # auto_compact_ratio=0.01 folds them straight back down
    uniform = clustered.withColumn(
        "content", F.concat(F.col("content"), F.lit(" uniformchurn"))
    )
    info = incremental_build(
        spark, uniform, wh, strategy="auto", auto_compact_ratio=0.01
    )
    assert "tombstones" in info.stages_run and "compact" in info.stages_run
    wh_o = Warehouse(wh)
    assert int(wh_o.manifest("analyzed").get("max_gen", 0)) == 0
    assert not wh_o.is_committed("tombstones")

    wh_scr = str(tmp_path / "scratch")
    build_index(spark, uniform, wh_scr, n_shards=N_SHARDS, doc_id_mode="stable")
    assert _decoded_postings_fp(spark, wh) == _decoded_postings_fp(spark, wh_scr)
    for t in ["analyzed", "term_stats", "corpus_stats"]:
        assert _table_rows_fp(spark, wh, t) == _table_rows_fp(spark, wh_scr, t), t


def test_pure_deletion_segment_run(spark, tmp_path, base_v1):
    """mode=full with docs only REMOVED: the generation is empty (zero
    new partitions), only tombstones + live stats change — and the
    deleted docs vanish from full-corpus results."""
    from moogle_spark.build import incremental_build
    from moogle_spark.query import SearchEngine
    from moogle_spark.tables import Warehouse

    docs_v1 = _docs_v1(spark)
    wh = _clone(base_v1, tmp_path, "wh")
    removed_mask = F.pmod(F.xxhash64("path"), F.lit(10)) == 1
    kept = docs_v1.filter(~removed_mask)
    n_kept = kept.count()
    assert n_kept < N_DOCS

    info = incremental_build(spark, kept, wh, strategy="segment")
    assert "tombstones" in info.stages_run
    wh_o = Warehouse(wh)
    assert int(wh_o.manifest("analyzed")["n_docs"]) == n_kept
    assert int(wh_o.manifest("tombstones")["n_tombs"]) == N_DOCS - n_kept

    eng = SearchEngine(spark, wh, cache=False)
    assert eng.n_docs == n_kept
    hits = eng.search("hotterm0", k=N_DOCS, enrich=True)
    got_paths = {r["path"] for r in hits.collect()}
    dead_paths = {r["path"] for r in docs_v1.filter(removed_mask).collect()}
    assert got_paths and not (got_paths & dead_paths)


def test_segment_txn_journal_recovery(spark, tmp_path, base_v1, scratch_v2, monkeypatch):
    """Kill right after the segment swap's begin_txn: the journal exists,
    nothing applied; any later Warehouse() finishes the swap and the
    result equals an uninterrupted segment run."""
    from moogle_spark.build import incremental_build
    from moogle_spark.tables import Warehouse

    docs_v2 = _docs_v2(spark)
    wh_path = _clone(base_v1, tmp_path, "wh")

    monkeypatch.setattr(Warehouse, "recover_txn", lambda self: False)
    incremental_build(spark, docs_v2, wh_path, strategy="segment")
    monkeypatch.undo()

    assert os.path.exists(os.path.join(wh_path, "_TXN.json"))
    Warehouse(wh_path)  # __init__ replays the journal to completion
    assert not os.path.exists(os.path.join(wh_path, "_TXN.json"))

    wh = Warehouse(wh_path)
    assert int(wh.manifest("analyzed")["max_gen"]) == 1
    assert wh.is_committed("tombstones")
    _assert_engines_agree(spark, wh_path, scratch_v2)


def test_partial_compact_bounded_and_convergent(
    spark, tmp_path, base_v1, scratch_v2
):
    """Partial compaction (the tiered-maintenance knob): an explicit
    shards= call folds ONLY those base families — every other family's
    base partitions stay byte-identical and its segments/tombstones stay
    in place — queries stay exact throughout, and repeated max_shards=K
    sweeps converge to the full compact's bit-identical result."""
    from moogle_spark.build import incremental_build
    from moogle_spark.segments import compact_segments
    from moogle_spark.tables import Warehouse

    docs_v2 = _docs_v2(spark)
    wh_path = _clone(base_v1, tmp_path, "pc")
    incremental_build(spark, docs_v2, wh_path, strategy="segment")

    wh = Warehouse(wh_path)
    tomb_fams = {
        int(r["b"])
        for r in wh.read(spark, "tombstones")
        .select(F.pmod("shard", F.lit(N_SHARDS)).cast("int").alias("b"))
        .distinct()
        .collect()
    }
    assert len(tomb_fams) >= 4  # churn spreads over many families
    sel = sorted(tomb_fams)[:2]
    n_tombs_before = int(wh.manifest("tombstones")["n_tombs"])
    before = {
        t: _snapshot_files(os.path.join(wh_path, t))
        for t in ["analyzed", "postings", "doc_stats"]
    }

    info = compact_segments(spark, wh_path, shards=sel)
    assert "postings" in info.stages_run

    wh = Warehouse(wh_path)
    # selected families: no segment partitions, no tombstones left
    for t in ["analyzed", "postings", "doc_stats"]:
        parts = [
            int(d.split("=", 1)[1])
            for d in os.listdir(os.path.join(wh_path, t))
            if d.startswith("shard=")
        ]
        assert not any(p >= N_SHARDS and p % N_SHARDS in sel for p in parts), t
    assert wh.is_committed("tombstones")
    n_tombs_after = int(wh.manifest("tombstones")["n_tombs"])
    assert 0 < n_tombs_after < n_tombs_before
    left_fams = {
        int(r["b"])
        for r in wh.read(spark, "tombstones")
        .select(F.pmod("shard", F.lit(N_SHARDS)).cast("int").alias("b"))
        .distinct()
        .collect()
    }
    assert not (left_fams & set(sel))
    # un-selected families' base partitions byte-untouched
    after = {
        t: _snapshot_files(os.path.join(wh_path, t))
        for t in ["analyzed", "postings", "doc_stats"]
    }
    for t, snap in before.items():
        for rel, sig in snap.items():
            fam = rel.split("=", 1)[1].split("/", 1)[0] if rel.startswith("shard=") else None
            if fam is not None and int(fam) < N_SHARDS and int(fam) not in sel:
                assert after[t].get(rel) == sig, f"{t}/{rel} was rewritten"
    # still exact mid-partial
    _assert_engines_agree(spark, wh_path, scratch_v2)

    # ---- repeated dirtiest-K sweeps converge to the full compact
    for _ in range(200):
        info = compact_segments(spark, wh_path, max_shards=3)
        if not info.stages_run:
            break
    wh = Warehouse(wh_path)
    assert int(wh.manifest("analyzed").get("max_gen", 0)) == 0
    assert not wh.is_committed("tombstones")
    assert _decoded_postings_fp(spark, wh_path) == _decoded_postings_fp(
        spark, scratch_v2
    )
    for t in ["analyzed", "doc_stats", "term_stats", "corpus_stats"]:
        assert _table_rows_fp(spark, wh_path, t) == _table_rows_fp(
            spark, scratch_v2, t
        ), t


def test_merge_generations_tiered(spark, tmp_path, base_v1):
    """merge_generations folds every generation into ONE without
    touching any base partition: v1 -> v2 (gen 1) -> v1 (gen 2) leaves
    gen-1 rows tombstoned where they live; the merge purges them,
    re-homes live segment rows under gen 1, drops gen-masking
    tombstones, and keeps base-masking ones — results unchanged."""
    from moogle_spark.build import incremental_build
    from moogle_spark.segments import merge_generations
    from moogle_spark.tables import Warehouse

    docs_v1, docs_v2 = _docs_v1(spark), _docs_v2(spark)
    wh_path = _clone(base_v1, tmp_path, "mg")
    incremental_build(spark, docs_v2, wh_path, strategy="segment")
    incremental_build(spark, docs_v1, wh_path, strategy="segment")
    wh = Warehouse(wh_path)
    assert int(wh.manifest("analyzed")["max_gen"]) == 2
    n_base_tombs = (
        wh.read(spark, "tombstones").filter(F.col("shard") < N_SHARDS).count()
    )
    assert n_base_tombs > 0  # v1->v2 replaced/removed docs live in base
    before = {
        t: _snapshot_files(os.path.join(wh_path, t))
        for t in ["analyzed", "postings", "doc_stats"]
    }

    info = merge_generations(spark, wh_path)
    assert "postings" in info.stages_run

    wh = Warehouse(wh_path)
    assert int(wh.manifest("analyzed")["max_gen"]) == 1
    assert int(wh.manifest("analyzed")["n_docs"]) == N_DOCS
    # every base partition byte-untouched
    after = {
        t: _snapshot_files(os.path.join(wh_path, t))
        for t in ["analyzed", "postings", "doc_stats"]
    }
    for t, snap in before.items():
        for rel, sig in snap.items():
            fam = rel.split("=", 1)[1].split("/", 1)[0] if rel.startswith("shard=") else None
            if fam is not None and int(fam) < N_SHARDS:
                assert after[t].get(rel) == sig, f"{t}/{rel} was rewritten"
    # no partition above generation 1 anywhere
    for t in ["analyzed", "postings", "doc_stats"]:
        parts = [
            int(d.split("=", 1)[1])
            for d in os.listdir(os.path.join(wh_path, t))
            if d.startswith("shard=")
        ]
        assert max(parts) < 2 * N_SHARDS, t
    # only base-masking tombstones survive
    tomb = wh.read(spark, "tombstones")
    assert tomb.filter(F.col("shard") >= N_SHARDS).count() == 0
    assert int(wh.manifest("tombstones")["n_tombs"]) == n_base_tombs

    # live corpus is v1 again: parity against the untouched v1 base
    _assert_engines_agree(spark, wh_path, base_v1)

    # idempotent: a single clean generation with no gen masks is a no-op
    assert merge_generations(spark, wh_path).stages_run == []


def test_tiered_auto_maintenance(spark, tmp_path, base_v1):
    """maintenance="tiered": the auto_compact_ratio trigger runs a
    generation merge plus a BOUNDED partial compact (fewest dirtiest
    families to get under half the ratio) instead of a full compact —
    generations capped at 1, mask under the threshold, most base
    partitions untouched, results exact."""
    from moogle_spark.build import build_index, incremental_build
    from moogle_spark.tables import Warehouse

    docs_v1 = _docs_v1(spark)
    wh_path = _clone(base_v1, tmp_path, "tm")
    # uniform ~10% churn so tombstones spread over many families
    uniform = docs_v1.withColumn(
        "content",
        F.when(
            F.pmod(F.xxhash64("path"), F.lit(10)) == 0,
            F.concat(F.col("content"), F.lit(" tieredchurntok")),
        ).otherwise(F.col("content")),
    )
    before = _snapshot_files(os.path.join(wh_path, "postings"))

    ratio = 0.05
    info = incremental_build(
        spark, uniform, wh_path, strategy="segment",
        auto_compact_ratio=ratio, maintenance="tiered",
    )
    assert "maintenance" in info.stages_run
    assert "compact" not in info.stages_run

    wh = Warehouse(wh_path)
    n_docs = int(wh.manifest("analyzed")["n_docs"])
    n_tombs = (
        int(wh.manifest("tombstones")["n_tombs"])
        if wh.is_committed("tombstones") else 0
    )
    # mask back under the trigger ratio, but NOT fully compacted
    assert n_tombs / n_docs <= ratio
    assert int(wh.manifest("analyzed")["max_gen"]) == 1
    # bounded window: some base postings partitions were never rewritten
    after = _snapshot_files(os.path.join(wh_path, "postings"))
    untouched = sum(
        1
        for rel, sig in before.items()
        if rel.startswith("shard=") and after.get(rel) == sig
    )
    assert untouched > 0

    # exact vs from-scratch
    scr = str(tmp_path / "scratch")
    build_index(spark, uniform, scr, n_shards=N_SHARDS, doc_id_mode="stable")
    _assert_engines_agree(spark, wh_path, scr)


def test_partial_compact_and_merge_txn_recovery(
    spark, tmp_path, base_v1, monkeypatch
):
    """Kill right after begin_txn in merge_generations and in a partial
    compact_segments: the journal exists, nothing is applied; the next
    Warehouse() open replays it to completion and the result equals an
    uninterrupted run of the same op on an identical clone."""
    from moogle_spark.build import incremental_build
    from moogle_spark.segments import compact_segments, merge_generations
    from moogle_spark.tables import Warehouse

    docs_v1, docs_v2 = _docs_v1(spark), _docs_v2(spark)
    wh_a = _clone(base_v1, tmp_path, "a")
    incremental_build(spark, docs_v2, wh_a, strategy="segment")
    incremental_build(spark, docs_v1, wh_a, strategy="segment")
    wh_b = _clone(wh_a, tmp_path, "b")  # identical twin, uninterrupted

    # ---- merge interrupted at the swap
    monkeypatch.setattr(Warehouse, "recover_txn", lambda self: False)
    merge_generations(spark, wh_a)
    monkeypatch.undo()
    assert os.path.exists(os.path.join(wh_a, "_TXN.json"))
    Warehouse(wh_a)  # replays
    assert not os.path.exists(os.path.join(wh_a, "_TXN.json"))
    merge_generations(spark, wh_b)
    for t in ["analyzed", "doc_stats", "term_stats"]:
        assert _table_rows_fp(spark, wh_a, t) == _table_rows_fp(spark, wh_b, t), t
    assert _decoded_postings_fp(spark, wh_a) == _decoded_postings_fp(spark, wh_b)
    assert _table_rows_fp(spark, wh_a, "tombstones") == _table_rows_fp(
        spark, wh_b, "tombstones"
    )

    # ---- partial compact interrupted at the swap
    sel = sorted(
        int(r["b"])
        for r in Warehouse(wh_a).read(spark, "tombstones")
        .select(F.pmod("shard", F.lit(N_SHARDS)).cast("int").alias("b"))
        .distinct()
        .collect()
    )[:3]
    monkeypatch.setattr(Warehouse, "recover_txn", lambda self: False)
    compact_segments(spark, wh_a, shards=sel)
    monkeypatch.undo()
    assert os.path.exists(os.path.join(wh_a, "_TXN.json"))
    Warehouse(wh_a)
    compact_segments(spark, wh_b, shards=sel)
    for t in ["analyzed", "doc_stats", "term_stats", "tombstones"]:
        assert _table_rows_fp(spark, wh_a, t) == _table_rows_fp(spark, wh_b, t), t
    assert _decoded_postings_fp(spark, wh_a) == _decoded_postings_fp(spark, wh_b)
    _assert_engines_agree(spark, wh_a, wh_b)


def _journal_plans(monkeypatch):
    """Record every swap journal begin_txn writes, minus the per-run
    build_id / committed_at stamps; manifests keep max_gen/n_docs/n_tombs."""
    from moogle_spark.tables import Warehouse

    plans = []
    orig = Warehouse.begin_txn

    def spy(self, plan):
        mans = {}
        for name, m in plan["manifests"].items():
            m = {k: v for k, v in m.items() if k not in ("build_id", "committed_at")}
            mans[name] = {k: m[k] for k in ("max_gen", "n_docs", "n_tombs") if k in m}
        plans.append(
            {
                "swaps": [
                    [s["table"], s["delta"], s["moves"], s["deletes"]]
                    for s in plan["swaps"]
                ],
                "promotes": plan.get("promotes", []),
                "drops": plan.get("drops", []),
                "manifests": mans,
            }
        )
        orig(self, plan)

    monkeypatch.setattr(Warehouse, "begin_txn", spy)
    return plans


def _plan(moves, deletes, promotes, drops, manifests, restamped):
    """One expected journal plan: every per-shard table swaps the same
    partitions; ``restamped`` tables carry none of the pinned keys."""
    return {
        "swaps": [
            [t, f"{t}_delta", moves, deletes]
            for t in ["analyzed", "doc_stats", "postings"]
        ],
        "promotes": [[s, s.removesuffix("_next")] for s in promotes],
        "drops": drops,
        "manifests": {**manifests, **{t: {} for t in restamped}},
    }


RESTAMPED = ["doc_stats", "term_stats", "corpus_stats"]
STATS_NEXT = ["term_stats_next", "corpus_stats_next"]
CHARACTERIZATION = [
    # segment upsert: generation 1 holds the six changed docs
    _plan(
        moves=[76, 85, 109, 111, 120], deletes=[],
        promotes=STATS_NEXT + ["tombstones_next"], drops=[],
        manifests={
            "analyzed": {"max_gen": 1, "n_docs": 400},
            "postings": {"n_docs": 400},
            "tombstones": {"n_tombs": 6},
        },
        restamped=RESTAMPED,
    ),
    # delete_docs of five keys (two of them generation-resident): no
    # delta rows, so no new generation
    _plan(
        moves=[], deletes=[],
        promotes=STATS_NEXT + ["tombstones_next"], drops=[],
        manifests={
            "analyzed": {"max_gen": 1, "n_docs": 395},
            "postings": {"n_docs": 395},
            "tombstones": {"n_tombs": 11},
        },
        restamped=RESTAMPED,
    ),
    # merge_generations: live generation rows re-homed, dead ones purged
    _plan(
        moves=[76, 85, 109], deletes=[111, 120],
        promotes=["tombstones_next"], drops=[],
        manifests={
            "analyzed": {"max_gen": 1, "n_docs": 395},
            "postings": {"n_docs": 395},
            "tombstones": {"n_tombs": 9},
        },
        restamped=RESTAMPED,
    ),
    # compact_segments(max_shards=2): families 12 and 21 folded
    _plan(
        moves=[12, 21], deletes=[76, 85],
        promotes=["tombstones_next"], drops=[],
        manifests={
            "analyzed": {"max_gen": 1, "n_docs": 395},
            "postings": {"n_docs": 395},
            "tombstones": {"n_tombs": 6},
        },
        restamped=RESTAMPED,
    ),
    # shard-swap upsert on the second clone
    _plan(
        moves=[12, 21, 45, 47, 56], deletes=[],
        promotes=STATS_NEXT, drops=[],
        manifests={"analyzed": {"n_docs": 400}, "postings": {"n_docs": 400}},
        restamped=RESTAMPED,
    ),
]


def test_write_paths_journal_characterization(spark, tmp_path, base_v1, monkeypatch):
    """Pins the journal plan of every stable-id write path: a segment
    upsert, delete_docs (two of its keys live in the new generation),
    merge_generations, compact_segments(max_shards=2), and a shard-swap
    upsert on a second clone."""
    from moogle_spark.build import incremental_build
    from moogle_spark.segments import compact_segments, merge_generations
    from moogle_spark.stable import delete_docs

    v1 = _docs_v1(spark).orderBy("path")
    ups = v1.limit(6).withColumn(
        "content", F.concat(F.col("content"), F.lit(" charupserttok"))
    )
    keys = ["repo", "path", "commit"]
    dels = ups.select(*keys).limit(2).unionByName(
        v1.select(*keys).orderBy(F.desc("path")).limit(3)
    )
    wh_a = _clone(base_v1, tmp_path, "char_a")
    wh_b = _clone(base_v1, tmp_path, "char_b")

    plans = _journal_plans(monkeypatch)
    incremental_build(spark, ups, wh_a, mode="upsert", strategy="segment")
    delete_docs(spark, dels, wh_a)
    merge_generations(spark, wh_a)
    compact_segments(spark, wh_a, max_shards=2)
    incremental_build(spark, ups, wh_b, mode="upsert", strategy="shards")
    assert plans == CHARACTERIZATION


def test_stride_guard_aborts_before_journal(spark, tmp_path, base_v1, monkeypatch):
    """commit_delta's STRIDE guard: a delta shard whose rank reaches
    STRIDE raises before the journal is written, so the committed index
    is untouched; a rerun at the real STRIDE commits."""
    from moogle_spark import stable
    from moogle_spark.build import incremental_build
    from moogle_spark.tables import MANIFEST, Warehouse

    wh = _clone(base_v1, tmp_path, "stride")
    ups = _docs_v1(spark).orderBy("path").limit(6).withColumn(
        "content", F.concat(F.col("content"), F.lit(" stridetok"))
    )
    man_path = os.path.join(wh, "analyzed", MANIFEST)
    with open(man_path) as f:
        before = f.read()

    monkeypatch.setattr(stable, "STRIDE", 1)
    with pytest.raises(OverflowError, match="STRIDE=1"):
        incremental_build(spark, ups, wh, mode="upsert", strategy="segment")
    assert not os.path.exists(os.path.join(wh, "_TXN.json"))
    with open(man_path) as f:
        assert f.read() == before

    monkeypatch.undo()
    info = incremental_build(spark, ups, wh, mode="upsert", strategy="segment")
    assert "analyzed" in info.stages_run
    assert int(Warehouse(wh).manifest("analyzed")["max_gen"]) == 1
