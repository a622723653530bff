"""Build pipeline invariants: sha256 per-row invariant, lineage rows,
checkpoint/resume (SURVEY.md §5.2 items 3 and 5)."""

import json
import os

from pyspark.sql import functions as F

from moogle_spark.build import build_index
from moogle_spark.corpus import generate_docs
from moogle_spark.tables import Warehouse


def test_sha256_per_row_invariant(spark, built_warehouse):
    """input_hint: per-row content sha256 equality vs the input. doc_stats'
    stored sha must equal sha2(content) recomputed from the source docs."""
    wh = Warehouse(built_warehouse)
    docs = generate_docs(spark, 200)
    expected = docs.select(
        "repo", "path", "commit", F.sha2("content", 256).alias("sha_in")
    )
    stored = wh.read(spark, "doc_stats").select("repo", "path", "commit", "content_sha256")
    joined = stored.join(expected, ["repo", "path", "commit"], "inner")
    assert joined.count() == 200
    assert joined.filter(F.col("content_sha256") != F.col("sha_in")).count() == 0


def test_doc_ids_dense_and_sorted(spark, built_warehouse):
    """doc_id rule frozen: 1-based rank of (repo,path,commit)."""
    ds = (
        Warehouse(built_warehouse)
        .read(spark, "doc_stats")
        .orderBy("repo", "path", "commit")
        .select("doc_id")
        .toPandas()["doc_id"]
    )
    assert list(ds) == list(range(1, 201))


def test_lineage_rows_written(spark, built_warehouse):
    lin = Warehouse(built_warehouse).lineage(spark).toPandas()
    stages = set(lin["stage"])
    assert {"analyzed", "doc_stats", "term_stats", "postings"} <= stages
    an = lin[lin["stage"] == "analyzed"]
    assert an["doc_count"].sum() == 200
    assert (an["sha256_rollup"].str.len() == 64).all()
    assert lin[lin["stage"] == "postings"]["posting_bytes"].sum() > 0


def test_resume_skips_committed_stages(spark, tmp_path):
    whdir = str(tmp_path / "wh")
    docs = generate_docs(spark, 60)
    info1 = build_index(spark, docs, whdir, n_shards=4)
    assert len(info1.stages_run) == 5

    wh = Warehouse(whdir)
    analyzed_commit = wh.manifest("analyzed")["committed_at"]
    postings_rows = wh.read(spark, "postings").count()

    # simulate a kill after term_stats: postings uncommitted
    os.remove(os.path.join(wh.path("postings"), "_MANIFEST.json"))
    assert not os.path.exists(wh.path("doc_lens"))

    info2 = build_index(spark, docs, whdir, n_shards=4)
    assert set(info2.stages_run) == {"postings"}
    assert set(info2.stages_skipped) == {"analyzed", "doc_stats", "term_stats", "corpus_stats"}
    # earlier stages untouched (no recompute), rebuilt stage identical
    assert wh.manifest("analyzed")["committed_at"] == analyzed_commit
    assert wh.read(spark, "postings").count() == postings_rows


def test_manifest_metadata(spark, built_warehouse):
    wh = Warehouse(built_warehouse)
    man = wh.manifest("analyzed")
    assert man["n_docs"] == 200
    assert man["n_shards"] >= 1
    pman = wh.manifest("postings")
    assert pman["block_size"] == 128
    assert json.loads(man["schema"])["type"] == "struct"


def test_postings_block_invariants(spark, built_warehouse):
    p = Warehouse(built_warehouse).read(spark, "postings")
    bad = p.filter(
        (F.col("n_docs") <= 0)
        | (F.col("n_docs") > 128)
        | (F.col("first_doc") > F.col("last_doc"))
        | (F.col("max_tf") <= 0)
        | (F.col("min_dl") <= 0)
    )
    assert bad.count() == 0


def test_df_matches_block_counts(spark, built_warehouse):
    """term_stats.df == Σ over blocks of n_docs for every term."""
    wh = Warehouse(built_warehouse)
    from_blocks = (
        wh.read(spark, "postings").groupBy("term").agg(F.sum("n_docs").alias("bdf"))
    )
    ts = wh.read(spark, "term_stats")
    j = ts.join(from_blocks, "term", "full")
    assert j.filter(F.col("df") != F.col("bdf")).count() == 0
