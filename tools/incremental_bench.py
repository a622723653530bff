"""Churn-proportional incremental rebuild evidence (VERDICT round-3 item 1).

Measures, on a 200k-doc corpus:
  * full stable-mode build (the baseline),
  * stable-mode incremental under CLUSTERED churn — the changed docs live
    in ~10% of the shards (the re-ingested-tenant / re-crawled-partition
    pattern): wall time should be ~proportional to the touched-shard
    fraction, because postings/doc_stats re-encode ONLY those
    shards (tests/test_stable_incremental.py proves the byte-identical
    untouched-shard claim; this tool measures the time),
  * stable-mode incremental under UNIFORM random churn — the honest
    worst case: 10% of docs spread over ~all shards.  Tokenization is
    still gated to the churn (O(churn) Python), but the per-shard encode
    is O(touched-shard bytes) ~= O(corpus) when every shard is touched.
    Reported so BENCH.md can state the limitation plainly instead of
    hiding it behind the clustered number.
  * rank-mode incremental under the same uniform churn — the previous
    round's path (O(corpus) downstream ALWAYS), as the comparator.
  * SEGMENT-strategy incremental under the same uniform churn
    (segments.py): the churn lands as a new generation + tombstones,
    NO base partition is rewritten, so wall time is O(churn) even when
    every shard is touched — this is the row that removes the uniform-
    churn cliff.  Also measured: query p50 on the segmented warehouse
    vs the compacted one (the tombstone-mask overhead) and the
    compact_segments fold-back time.

Usage: python tools/incremental_bench.py [n_docs] [n_shards]
       (default 200000, 256)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    n_shards = int(sys.argv[2]) if len(sys.argv) > 2 else 256

    from pyspark.sql import functions as F

    from moogle_spark.build import build_index, incremental_build
    from moogle_spark.corpus import generate_docs
    from moogle_spark.session import get_spark
    from moogle_spark.stable import stable_shard_col
    from moogle_spark.tables import Warehouse

    spark = get_spark(app="incremental_bench", cores=8, shuffle_partitions=8)
    base = f"/tmp/moogle_incbench_{n_docs}"
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)

    docs_v1 = generate_docs(spark, n_docs)
    docs_v1.write.mode("overwrite").parquet(f"{base}/docs_v1.parquet")
    docs_v1 = spark.read.parquet(f"{base}/docs_v1.parquet")

    shard = stable_shard_col(n_shards)
    churn_tag = F.concat(F.col("content"), F.lit(" churnfreshtoken"))
    # clustered: every doc in the first 10% of shards changes
    docs_clustered = docs_v1.withColumn(
        "content",
        F.when(shard < n_shards // 10, churn_tag).otherwise(F.col("content")),
    )
    # uniform: 10% of docs by path hash, spread over ~all shards
    docs_uniform = docs_v1.withColumn(
        "content",
        F.when(F.pmod(F.xxhash64("path"), F.lit(10)) == 0, churn_tag).otherwise(
            F.col("content")
        ),
    )
    docs_clustered.write.mode("overwrite").parquet(f"{base}/docs_cl.parquet")
    docs_uniform.write.mode("overwrite").parquet(f"{base}/docs_un.parquet")
    docs_clustered = spark.read.parquet(f"{base}/docs_cl.parquet")
    docs_uniform = spark.read.parquet(f"{base}/docs_un.parquet")

    # warmup (JVM codegen + python workers) so the first timed build
    # isn't paying one-time session costs
    build_index(spark, generate_docs(spark, 500), f"{base}/warm_wh")

    out: dict = {"n_docs": n_docs, "n_shards": n_shards}

    t0 = time.time()
    build_index(
        spark, docs_v1, f"{base}/wh_cl", n_shards=n_shards, doc_id_mode="stable"
    )
    out["full_stable_build_sec"] = round(time.time() - t0, 2)
    # same committed state for the uniform-churn runs (copy, not rebuild)
    shutil.copytree(f"{base}/wh_cl", f"{base}/wh_un")
    shutil.copytree(f"{base}/wh_cl", f"{base}/wh_seg")

    def churn_stats(wh_path: str) -> dict:
        lin = (
            Warehouse(wh_path)
            .lineage(spark)
            .filter(F.col("stage") == "incremental_tokenize")
        )
        n_tok = lin.agg(F.coalesce(F.sum("doc_count"), F.lit(0))).collect()[0][0]
        return {"docs_tokenized": int(n_tok)}

    t0 = time.time()
    info = incremental_build(spark, docs_clustered, f"{base}/wh_cl")
    out["inc_clustered_sec"] = round(time.time() - t0, 2)
    out["inc_clustered_stages"] = info.stage_secs
    out["inc_clustered"] = churn_stats(f"{base}/wh_cl")
    touched_cl = docs_clustered.join(
        docs_v1.select("repo", "path", "commit", "content"),
        ["repo", "path", "commit", "content"],
        "left_anti",
    ).select(stable_shard_col(n_shards).alias("s")).distinct().count()
    out["inc_clustered"]["touched_shards"] = int(touched_cl)

    t0 = time.time()
    info = incremental_build(spark, docs_uniform, f"{base}/wh_un")
    out["inc_uniform_sec"] = round(time.time() - t0, 2)
    out["inc_uniform_stages"] = info.stage_secs
    out["inc_uniform"] = churn_stats(f"{base}/wh_un")
    touched_un = docs_uniform.join(
        docs_v1.select("repo", "path", "commit", "content"),
        ["repo", "path", "commit", "content"],
        "left_anti",
    ).select(stable_shard_col(n_shards).alias("s")).distinct().count()
    out["inc_uniform"]["touched_shards"] = int(touched_un)

    # segment strategy on the SAME uniform churn: O(churn) regardless of
    # how many shards the churn touches (no base partition rewritten)
    t0 = time.time()
    info = incremental_build(
        spark, docs_uniform, f"{base}/wh_seg", strategy="segment"
    )
    out["inc_uniform_segment_sec"] = round(time.time() - t0, 2)
    out["inc_uniform_segment_stages"] = info.stage_secs
    out["inc_uniform_segment"] = churn_stats(f"{base}/wh_seg")
    out["inc_uniform_segment"]["n_tombs"] = int(
        Warehouse(f"{base}/wh_seg").manifest("tombstones")["n_tombs"]
    )

    # query-time mask overhead: p50 over the reference query head on the
    # segmented warehouse vs the same warehouse compacted
    from moogle_spark.query import SearchEngine

    def p50(wh_path: str) -> float:
        eng = SearchEngine(spark, wh_path)
        qs = ["hotterm0 hotterm1", "def return import", "churnfreshtoken",
              "hotterm2", "uniqdoc7x"]
        for q in qs:  # warm the cache
            eng.search(q, k=20).collect()
        lats = []
        for _ in range(3):
            for q in qs:
                t = time.time()
                eng.search(q, k=20).collect()
                lats.append(time.time() - t)
        eng.postings.unpersist()
        eng.term_stats.unpersist()
        lats.sort()
        return round(lats[len(lats) // 2], 4)

    out["query_p50_segmented_sec"] = p50(f"{base}/wh_seg")
    from moogle_spark.segments import compact_segments

    t0 = time.time()
    compact_segments(spark, f"{base}/wh_seg")
    out["compact_sec"] = round(time.time() - t0, 2)
    out["query_p50_compacted_sec"] = p50(f"{base}/wh_seg")

    # rank-mode comparator: the O(corpus)-downstream path on the same
    # uniform churn
    t0 = time.time()
    build_index(spark, docs_v1, f"{base}/wh_rank")
    out["full_rank_build_sec"] = round(time.time() - t0, 2)
    t0 = time.time()
    incremental_build(spark, docs_uniform, f"{base}/wh_rank")
    out["inc_rank_uniform_sec"] = round(time.time() - t0, 2)

    out["clustered_vs_full_ratio"] = round(
        out["inc_clustered_sec"] / out["full_stable_build_sec"], 3
    )
    out["uniform_vs_full_ratio"] = round(
        out["inc_uniform_sec"] / out["full_stable_build_sec"], 3
    )
    out["uniform_segment_vs_full_ratio"] = round(
        out["inc_uniform_segment_sec"] / out["full_stable_build_sec"], 3
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
