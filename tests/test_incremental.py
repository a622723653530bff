"""Staleness-gated incremental re-index: unchanged docs must skip the
tokenizer (proven by incremental_tokenize lineage doc_counts), and the
incrementally-built warehouse must be content-identical to a from-scratch
build over the same corpus (the reference's last_crawled gate,
services/indexer/main.py:140-143, re-expressed over content sha)."""

import hashlib

from pyspark.sql import functions as F


def _fingerprint(spark, wh_path: str) -> str:
    """Content fingerprint of the postings + corpus scalars (same scheme
    as the SIGKILL-resume test)."""
    from moogle_spark.tables import Warehouse

    wh = Warehouse(wh_path)
    rows = (
        wh.read(spark, "postings")
        .select("shard", "term", "first_doc", F.sha2(F.col("doc_ids"), 256).alias("h"))
        .orderBy("shard", "term", "first_doc")
        .collect()
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(
            f"{r['shard']}:{r['term']}:{r['first_doc']}:{r['h']};".encode()
        )
    cs = wh.read(spark, "corpus_stats").collect()[0]
    return f"{h.hexdigest()} {cs['n_docs']} {cs['sum_dl']} {cs['n_terms']}"


def _tokenized_since(spark, wh_path: str, n_before: int) -> int:
    from moogle_spark.tables import Warehouse

    lin = Warehouse(wh_path).lineage(spark)
    rows = (
        lin.filter(F.col("stage") == "incremental_tokenize")
        .orderBy("committed_at")
        .collect()
    )
    return sum(int(r["doc_count"]) for r in rows[n_before:])


def test_incremental_full_gates_tokenizer_and_matches_scratch(spark, tmp_path):
    from moogle_spark.build import build_index, incremental_build
    from moogle_spark.corpus import generate_docs

    docs_v1 = generate_docs(spark, 300)
    # v2: ~10% of docs get changed content, everything else identical
    changed_mask = F.pmod(F.xxhash64("path"), F.lit(10)) == 0
    docs_v2 = docs_v1.withColumn(
        "content",
        F.when(changed_mask, F.concat(F.col("content"), F.lit(" freshchangedtoken"))).otherwise(
            F.col("content")
        ),
    )
    n_changed = docs_v2.filter(changed_mask).count()
    assert 10 <= n_changed <= 60  # sanity: the churn is a real minority

    wh_inc = str(tmp_path / "wh_inc")
    build_index(spark, docs_v1, wh_inc)

    info = incremental_build(spark, docs_v2, wh_inc)
    assert "analyzed" in info.stages_run and "postings" in info.stages_run
    # THE GATE: only the changed docs went through the analyzer
    assert _tokenized_since(spark, wh_inc, 0) == n_changed

    wh_scratch = str(tmp_path / "wh_scratch")
    build_index(spark, docs_v2, wh_scratch)
    assert _fingerprint(spark, wh_inc) == _fingerprint(spark, wh_scratch)


def test_incremental_noop_when_nothing_changed(spark, tmp_path):
    from moogle_spark.build import build_index, incremental_build
    from moogle_spark.corpus import generate_docs

    docs = generate_docs(spark, 120)
    wh = str(tmp_path / "wh")
    build_index(spark, docs, wh)
    fp1 = _fingerprint(spark, wh)
    info = incremental_build(spark, docs, wh)
    assert info.stages_run == []  # true no-op: nothing rebuilt at all
    assert len(info.stages_skipped) == 5
    assert _tokenized_since(spark, wh, 0) == 0  # zero docs re-tokenized
    assert _fingerprint(spark, wh) == fp1


def test_incremental_upsert_keeps_absent_docs(spark, tmp_path):
    """upsert mode (the foreachBatch queue-drain semantic): a micro-batch
    holding only new docs extends the corpus without dropping the rest,
    and tokenizes only the batch."""
    from moogle_spark.build import build_index, incremental_build
    from moogle_spark.corpus import generate_docs
    from moogle_spark.query import SearchEngine

    all_docs = generate_docs(spark, 150).persist()
    half = F.pmod(F.xxhash64("path"), F.lit(2))
    first, second = all_docs.filter(half == 0), all_docs.filter(half == 1)
    n_second = second.count()
    wh = str(tmp_path / "wh")
    build_index(spark, first, wh)
    incremental_build(spark, second, wh, mode="upsert")
    assert _tokenized_since(spark, wh, 0) == n_second
    eng = SearchEngine(spark, wh, cache=False)
    assert eng.n_docs == 150
    # and the merged index equals a from-scratch build over everything
    wh_scratch = str(tmp_path / "wh_scratch")
    build_index(spark, all_docs, wh_scratch)
    assert _fingerprint(spark, wh) == _fingerprint(spark, wh_scratch)
    all_docs.unpersist()


def test_incremental_lang_change_reingests(spark, tmp_path):
    """lang is part of the staleness gate: a doc whose content is
    unchanged but whose lang metadata changed must not keep the stale
    lang in doc_stats (round-4 advice)."""
    from moogle_spark.build import build_index, incremental_build
    from moogle_spark.corpus import generate_docs
    from moogle_spark.tables import Warehouse

    docs_v1 = generate_docs(spark, 80)
    target = docs_v1.orderBy("repo", "path", "commit").limit(1).collect()[0]
    docs_v2 = docs_v1.withColumn(
        "lang",
        F.when(
            (F.col("repo") == target["repo"]) & (F.col("path") == target["path"]),
            F.lit("zig"),
        ).otherwise(F.col("lang")),
    )
    wh = str(tmp_path / "wh")
    build_index(spark, docs_v1, wh)
    incremental_build(spark, docs_v2, wh)
    got = (
        Warehouse(wh)
        .read(spark, "doc_stats")
        .filter((F.col("repo") == target["repo"]) & (F.col("path") == target["path"]))
        .select("lang")
        .collect()
    )
    assert [r["lang"] for r in got] == ["zig"]


def test_incremental_noop_heals_missing_downstream(spark, tmp_path):
    """A retry after a kill during the downstream rebuild must not claim
    a no-op while postings are missing (round-4 advice): the short-circuit
    verifies all six tables are committed against THIS analyzed."""
    import shutil

    from moogle_spark.build import build_index, incremental_build
    from moogle_spark.corpus import generate_docs
    from moogle_spark.tables import Warehouse

    docs = generate_docs(spark, 100)
    wh = str(tmp_path / "wh")
    build_index(spark, docs, wh)
    fp = _fingerprint(spark, wh)
    shutil.rmtree(Warehouse(wh).path("postings"))  # simulated kill window
    info = incremental_build(spark, docs, wh)
    assert "postings" in info.stages_run  # healed, not claimed skipped
    assert _fingerprint(spark, wh) == fp


def test_build_index_finishes_interrupted_promote(spark, tmp_path):
    """A kill between rmtree(analyzed) and the rename leaves a committed
    analyzed_next plus downstream tables built from the OLD analyzed;
    a subsequent plain build_index must finish the promote AND rebuild
    the stale downstream stages (analyzed_ref mismatch), not resume into
    a warehouse whose postings disagree with analyzed."""
    import json
    import os

    from moogle_spark.build import DOWNSTREAM_STAGES, build_index
    from moogle_spark.corpus import generate_docs
    from moogle_spark.tables import MANIFEST, Warehouse

    docs = generate_docs(spark, 100)
    whp = str(tmp_path / "wh")
    wh = Warehouse(whp)
    build_index(spark, docs, whp)
    # simulate the crash window: analyzed gone, a NEW analyzed_next
    # committed (fresh build_id), downstream still referencing the old id
    os.rename(wh.path("analyzed"), wh.path("analyzed_next"))
    mp = os.path.join(wh.path("analyzed_next"), MANIFEST)
    man = json.load(open(mp))
    man["build_id"] = "simulated-new-corpus"
    json.dump(man, open(mp, "w"))
    info = build_index(spark, docs, whp)
    assert not wh.is_committed("analyzed_next")  # promote finished
    assert "analyzed" in info.stages_skipped  # the recovered table is used
    assert set(info.stages_run) == set(DOWNSTREAM_STAGES)  # all stale -> rebuilt
    from moogle_spark.query import SearchEngine

    eng = SearchEngine(spark, whp, cache=False)
    assert eng.search("the", k=5).count() >= 0
