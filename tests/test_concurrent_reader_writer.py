"""Reader-vs-writer torture: a live writer process runs consecutive
upsert batches (segment strategy, journaled swaps, writer lock) while
this process serves queries from a cached SearchEngine and refresh()es
between requests — the round-5 concurrency model end to end.

What must hold:
  * every search succeeds (the cached snapshot is never yanked by a
    concurrent commit; refresh waits out in-flight journals instead of
    racing the writer's replay);
  * refresh() eventually observes every batch (manifest sig moves);
  * after the writer exits, a final refresh serves the fully-updated
    corpus, identical to a cold re-open.
"""

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WRITER = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from moogle_spark.build import incremental_build
from moogle_spark.corpus import generate_docs
from moogle_spark.session import get_spark
spark = get_spark(app="torture_writer", cores=4, shuffle_partitions=4)
docs = generate_docs(spark, 120)
for i in range(4):
    batch = docs.limit(30).withColumn(
        "content", F.concat(F.col("content"), F.lit(f" torturetok{{i}}"))
    )
    incremental_build(spark, batch, {wh!r}, mode="upsert", strategy="segment")
print("WRITER_DONE")
"""


def test_cached_reader_survives_live_writer(spark, tmp_path):
    from moogle_spark.build import build_index
    from moogle_spark.corpus import generate_docs
    from moogle_spark.query import SearchEngine

    wh = str(tmp_path / "wh")
    docs = generate_docs(spark, 120)
    build_index(spark, docs, wh, n_shards=4, doc_id_mode="stable")

    eng = SearchEngine(spark, wh, cache=True)
    baseline = [r["doc_id"] for r in eng.search("def return", k=5).collect()]
    assert baseline

    proc = subprocess.Popen(
        [sys.executable, "-c", WRITER.format(repo=REPO, wh=wh)],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )
    refreshes = searches = 0
    try:
        while proc.poll() is None:
            got = eng.search("def return", k=5).collect()
            assert got, "search returned nothing mid-churn"
            searches += 1
            if eng.refresh():
                refreshes += 1
            time.sleep(0.2)
    finally:
        out, _ = proc.communicate(timeout=600)
    assert "WRITER_DONE" in out
    assert proc.returncode == 0
    assert searches > 0

    # final refresh lands on the last commit; must equal a cold re-open
    eng.refresh()
    final = [
        (r["doc_id"], round(r["score"], 9))
        for r in eng.search("torturetok3", k=10).collect()
    ]
    cold = SearchEngine(spark, wh, cache=False)
    cold_res = [
        (r["doc_id"], round(r["score"], 9))
        for r in cold.search("torturetok3", k=10).collect()
    ]
    assert final == cold_res
    assert len(final) > 0  # the last batch's token is retrievable
    eng.unpersist()


def test_two_engines_one_commit_keep_their_caches(spark, built_warehouse):
    """Engines on one commit share Spark's cache entries (the CacheManager
    keys plans canonically): retiring one engine must leave the other's
    postings, term_stats and doc_stats cached."""
    from pyspark import StorageLevel

    from moogle_spark.query import SearchEngine

    a = SearchEngine(spark, built_warehouse)
    b = SearchEngine(spark, built_warehouse)
    b.unpersist()
    for name in ("postings", "term_stats", "doc_stats"):
        assert getattr(a, name).storageLevel != StorageLevel.NONE, name
    assert a.search("hotterm0", k=3).count() == 3
    a.unpersist()
