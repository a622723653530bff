"""delete_docs + upsert-batch deletes: O(deleted) removal without
re-supplying corpus content (the takedown operation; stable.py).

Proves:
  * shard-swap deletion is bit-identical to a from-scratch stable build
    of the reduced corpus (analyzed/doc_stats/term_stats row
    fingerprints + decoded postings),
  * segment-strategy deletion touches NO base partition (tombstones
    only) yet queries agree with the reduced-corpus scratch build,
  * a combined upsert+deletes batch applies "docs win, listed keys
    absent, absent keys no-op" semantics,
  * deleting only-absent keys is a true no-op (all stages skipped,
    no file touched),
  * the guards: deletes need mode='upsert', a committed index, and a
    stable-id warehouse.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F
from test_stable_incremental import (
    N_SHARDS,
    _decoded_postings_fp,
    _docs_v1,
    _snapshot_files,
    _table_rows_fp,
)

TABLES = ["analyzed", "doc_stats", "term_stats"]


def _del_keys(spark, n=20):
    """First n (repo, path, commit) keys of docs_v1 in path order."""
    return (
        _docs_v1(spark).select("repo", "path", "commit").orderBy("path").limit(n)
    )


@pytest.fixture(scope="module")
def base_v1(spark, tmp_path_factory):
    from moogle_spark.build import build_index

    wh = str(tmp_path_factory.mktemp("delbase") / "v1")
    build_index(spark, _docs_v1(spark), wh, n_shards=N_SHARDS, doc_id_mode="stable")
    return wh


@pytest.fixture(scope="module")
def scratch_reduced(spark, tmp_path_factory):
    """From-scratch stable build of docs_v1 minus the 20 deleted keys."""
    from moogle_spark.build import build_index

    reduced = _docs_v1(spark).join(
        _del_keys(spark), ["repo", "path", "commit"], "left_anti"
    )
    wh = str(tmp_path_factory.mktemp("delscr") / "reduced")
    build_index(spark, reduced, wh, n_shards=N_SHARDS, doc_id_mode="stable")
    return wh


def _clone(base: str, tmp_path, name: str) -> str:
    dst = str(tmp_path / name)
    shutil.copytree(base, dst)
    return dst


def _engines_agree(spark, wh_a, wh_b, queries=("def return import", "uniqdoc7x")):
    from moogle_spark.query import SearchEngine

    ea = SearchEngine(spark, wh_a, cache=True)
    eb = SearchEngine(spark, wh_b, cache=False)
    assert ea.n_docs == eb.n_docs and ea.sum_dl == eb.sum_dl
    for q in queries:
        got = {
            (r["repo"], r["path"], round(r["score"], 9))
            for r in ea.search(q, k=500, enrich=True).collect()
        }
        want = {
            (r["repo"], r["path"], round(r["score"], 9))
            for r in eb.search(q, k=500, enrich=True).collect()
        }
        assert got == want, q
    ea.postings.unpersist()


def test_delete_docs_shard_swap_matches_scratch(
    spark, tmp_path, base_v1, scratch_reduced
):
    from moogle_spark.stable import delete_docs

    wh = _clone(base_v1, tmp_path, "swap")
    info = delete_docs(spark, _del_keys(spark), wh, strategy="shards")
    assert info.n_docs == 380
    for t in TABLES:
        assert _table_rows_fp(spark, wh, t) == _table_rows_fp(
            spark, scratch_reduced, t
        ), t
    assert _decoded_postings_fp(spark, wh) == _decoded_postings_fp(
        spark, scratch_reduced
    )
    _engines_agree(spark, wh, scratch_reduced)


def test_delete_docs_segment_tombstones_only(
    spark, tmp_path, base_v1, scratch_reduced, monkeypatch
):
    """A pure delete has no delta rows: it stages tombstones and the live
    stats only — no base partition touched, no downstream delta stage, no
    empty generation — and queries agree with the reduced-corpus scratch
    build."""
    from moogle_spark import stable
    from moogle_spark.tables import Warehouse

    wh = _clone(base_v1, tmp_path, "seg")
    calls = []
    orig = stable._stage_postings

    def spy(*args, **kwargs):
        calls.append(kwargs.get("dst"))
        return orig(*args, **kwargs)

    monkeypatch.setattr(stable, "_stage_postings", spy)
    before = _snapshot_files(os.path.join(wh, "postings"))
    stable.delete_docs(spark, _del_keys(spark), wh, strategy="segment")
    after = _snapshot_files(os.path.join(wh, "postings"))
    # pure deletion: every base postings DATA file byte-untouched (the
    # table manifest legitimately re-commits with the new n_docs)
    data = {k: v for k, v in before.items() if "_MANIFEST" not in k}
    assert {k: v for k, v in after.items() if k in data} == data
    assert calls == []
    man = Warehouse(wh).manifest("analyzed")
    assert int(man.get("max_gen", 0)) == 0
    assert int(man["n_docs"]) == 380
    tombs = Warehouse(wh).read(spark, "tombstones")
    assert tombs.count() == 20
    _engines_agree(spark, wh, scratch_reduced)


def test_upsert_batch_with_deletes_semantics(spark, tmp_path, base_v1):
    """One batch: 5 changed docs, 1 of which is ALSO listed in deletes
    (doc wins), 10 other keys deleted, 5 absent keys deleted (no-op)."""
    from moogle_spark.build import build_index, incremental_build

    v1 = _docs_v1(spark)
    changed = (
        v1.orderBy("path").limit(25).orderBy(F.desc("path")).limit(5)
        .withColumn("content", F.concat(F.col("content"), F.lit(" upserttoken")))
    )
    keys = v1.select("repo", "path", "commit").orderBy("path")
    doc_wins = changed.select("repo", "path", "commit").orderBy("path").limit(1)
    deleted10 = keys.limit(10)
    absent5 = keys.limit(5).withColumn("path", F.concat(F.col("path"), F.lit(".nope")))
    dels = doc_wins.unionByName(deleted10).unionByName(absent5)

    wh = _clone(base_v1, tmp_path, "mix")
    incremental_build(spark, changed, wh, mode="upsert", deletes=dels)

    expected = (
        v1.join(deleted10, ["repo", "path", "commit"], "left_anti")
        .join(changed.select("repo", "path", "commit"), ["repo", "path", "commit"], "left_anti")
        .unionByName(changed)
    )
    scr = str(tmp_path / "mixscr")
    build_index(spark, expected, scr, n_shards=N_SHARDS, doc_id_mode="stable")
    for t in TABLES:
        assert _table_rows_fp(spark, wh, t) == _table_rows_fp(spark, scr, t), t
    assert _decoded_postings_fp(spark, wh) == _decoded_postings_fp(spark, scr)
    _engines_agree(spark, wh, scr, queries=("upserttoken", "def return import"))


def test_delete_absent_keys_is_noop(spark, tmp_path, base_v1):
    from moogle_spark.stable import delete_docs

    wh = _clone(base_v1, tmp_path, "noop")
    before = _snapshot_files(wh)
    absent = _del_keys(spark).withColumn(
        "path", F.concat(F.col("path"), F.lit(".missing"))
    )
    info = delete_docs(spark, absent, wh)
    assert info.stages_run == []
    assert "analyzed" in info.stages_skipped
    assert _snapshot_files(wh) == before


def test_engine_refresh_picks_up_commits(spark, tmp_path, base_v1):
    """An open engine serves its cached snapshot across index commits;
    refresh() is a no-op while current and swaps the cache when the
    committed manifests move."""
    from moogle_spark.query import SearchEngine
    from moogle_spark.stable import delete_docs

    q = "def return import"
    wh = _clone(base_v1, tmp_path, "refresh")
    eng = SearchEngine(spark, wh, cache=True)
    top = eng.search(q, k=1, enrich=True).collect()[0]
    before_ids = [r["doc_id"] for r in eng.search(q, k=5).collect()]
    assert eng.refresh() is False  # current: pure no-op

    keys = spark.createDataFrame(
        [(top["repo"], top["path"], top["commit"])],
        "repo string, path string, commit string",
    )
    delete_docs(spark, keys, wh)
    # still the old snapshot (cache fully materialized by the search)
    assert [r["doc_id"] for r in eng.search(q, k=5).collect()] == before_ids

    assert eng.refresh() is True
    got = {
        (r["repo"], r["path"])
        for r in eng.search(q, k=500, enrich=True).collect()
    }
    assert (top["repo"], top["path"]) not in got
    assert eng.refresh() is False
    eng.postings.unpersist()


def test_delete_guards(spark, tmp_path, base_v1):
    from moogle_spark.build import incremental_build
    from moogle_spark.corpus import generate_docs
    from moogle_spark.stable import delete_docs

    keys = _del_keys(spark, 2)
    with pytest.raises(ValueError, match="upsert"):
        incremental_build(
            spark, _docs_v1(spark), _clone(base_v1, tmp_path, "g1"),
            mode="full", deletes=keys,
        )
    with pytest.raises(ValueError, match="committed"):
        delete_docs(spark, keys, str(tmp_path / "empty"))
    rank_wh = str(tmp_path / "rank")
    from moogle_spark.build import build_index

    build_index(spark, generate_docs(spark, 40), rank_wh, n_shards=4)
    with pytest.raises(ValueError, match="stable"):
        delete_docs(spark, keys, rank_wh)


def test_gate_sees_generation_resident_docs(spark, tmp_path, base_v1):
    """Segment generations store shard = gen*n_shards + base, so the
    upsert gate's shard pruning must match on the base FAMILY — a raw
    shard filter would hide gen-resident docs from the gate, turning a
    re-upsert into a silent duplicate and a delete into a silent no-op
    (regression: caught live, the engine kept serving a deleted doc)."""
    from moogle_spark.build import incremental_build
    from moogle_spark.query import SearchEngine
    from moogle_spark.stable import delete_docs
    from moogle_spark.tables import Warehouse

    wh = _clone(base_v1, tmp_path, "genres")
    v1 = _docs_v1(spark)
    five = v1.orderBy("path").limit(5)
    batch1 = five.withColumn(
        "content", F.concat(F.col("content"), F.lit(" gen1tok"))
    )
    incremental_build(spark, batch1, wh, mode="upsert", strategy="segment")
    n0 = int(Warehouse(wh).manifest("analyzed")["n_docs"])

    # re-upsert the SAME keys (now gen-resident) with new content:
    # must replace, not duplicate
    batch2 = five.withColumn(
        "content", F.concat(F.col("content"), F.lit(" gen2tok"))
    )
    incremental_build(spark, batch2, wh, mode="upsert", strategy="segment")
    assert int(Warehouse(wh).manifest("analyzed")["n_docs"]) == n0
    eng = SearchEngine(spark, wh, cache=False)
    assert eng.search("gen2tok", k=20).count() == 5
    assert eng.search("gen1tok", k=20).count() == 0  # old gen rows dead

    # delete two gen-resident keys: must take effect
    delete_docs(spark, five.limit(2).select("repo", "path", "commit"), wh)
    assert int(Warehouse(wh).manifest("analyzed")["n_docs"]) == n0 - 2
    eng2 = SearchEngine(spark, wh, cache=False)
    assert eng2.search("gen2tok", k=20).count() == 3


def test_stale_format_never_wiped_by_batch_ops(spark, tmp_path, base_v1):
    """A committed index whose format_version is behind must REFUSE
    deletes/upsert batches instead of silently rebuilding the index
    from the batch's contents (which for delete_docs is an empty frame
    — i.e. wiping the index)."""
    import json

    from moogle_spark.build import incremental_build
    from moogle_spark.stable import delete_docs
    from moogle_spark.tables import MANIFEST

    wh = _clone(base_v1, tmp_path, "oldfmt")
    mpath = os.path.join(wh, "analyzed", MANIFEST)
    man = json.load(open(mpath))
    man["format_version"] = man["format_version"] - 1
    json.dump(man, open(mpath, "w"))

    keys = _del_keys(spark, 3)
    with pytest.raises(ValueError, match="format_version|current-format"):
        delete_docs(spark, keys, wh)
    with pytest.raises(ValueError, match="mode='full'"):
        incremental_build(
            spark, _docs_v1(spark).limit(3), wh, mode="upsert",
        )
    # the index is untouched by either refusal
    assert os.path.exists(os.path.join(wh, "postings", MANIFEST))


def test_refresh_failure_leaves_engine_serving(spark, tmp_path, base_v1):
    """refresh() builds the replacement state FIRST: if re-open fails
    (format drift, writer mid-commit), the exception propagates but the
    serving engine keeps its old snapshot and caches — no partially
    overwritten attributes, no yanked cache."""
    import json
    import os

    from moogle_spark.query import SearchEngine

    q = "def return import"
    wh = _clone(base_v1, tmp_path, "refreshfail")
    eng = SearchEngine(spark, wh, cache=True)
    before = [r["doc_id"] for r in eng.search(q, k=5).collect()]

    mpath = os.path.join(wh, "postings", "_MANIFEST.json")
    man = json.load(open(mpath))
    broken = dict(man, format_version=99, committed_at=man["committed_at"] + 1)
    with open(mpath, "w") as f:
        json.dump(broken, f)
    with pytest.raises(ValueError, match="format_version"):
        eng.refresh()
    # old snapshot still serves, bit-identically
    assert [r["doc_id"] for r in eng.search(q, k=5).collect()] == before

    with open(mpath, "w") as f:
        json.dump(man, f)
    assert eng.refresh() is False  # back to the original sig: current
    assert [r["doc_id"] for r in eng.search(q, k=5).collect()] == before
    eng.postings.unpersist()
