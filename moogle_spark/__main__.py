"""Cluster job entry point — the north_star's "ships via spark-submit
--py-files" surface.  Two invocation styles, same code path:

  local:    python -m moogle_spark build --input docs.parquet --warehouse /wh
  cluster:  spark-submit --py-files moogle_spark.zip \
                $(python -c 'import moogle_spark.__main__ as m; print(m.__file__)') \
                build --input s3://bucket/docs --warehouse s3://bucket/wh

Unlike session.get_spark (which pins local[N] for the sandbox), this
entry inherits the submitted master/executor topology untouched and only
sets runtime-modifiable SQL defaults when the submitter didn't.

Commands:
  build   --input PATH --warehouse PATH [--format parquet|json|csv]
          [--shards N] [--incremental]
          [--upsert] [--doc-id-mode rank|stable]
          [--strategy shards|segment|auto] [--auto-compact-ratio F]
  replay  --warehouse PATH --queries FILE [--k N] [--enrich] [--out PATH]
  search  --warehouse PATH --query STR [--k N] [--page N]
          [--mode bmw|exhaustive] [--phrase] [--fuzzy] [--enrich]
  expire  --warehouse PATH [--ttl SECONDS]
  compact --warehouse PATH [--max-shards K | --shards B1,B2,...]
  merge   --warehouse PATH
  stats   --warehouse PATH
"""

from __future__ import annotations

import argparse
import sys


def _cluster_session():
    import os

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("moogle_spark_job")
    try:
        # under spark-submit the master/executor topology is already
        # configured — inherit it untouched
        spark = builder.getOrCreate()
    except Exception:
        # bare `python -m moogle_spark`: fall back to local mode
        spark = builder.master(
            os.environ.get("MOOGLE_MASTER", "local[8]")
        ).getOrCreate()
    for key, val in [
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ]:
        try:
            spark.conf.set(key, spark.conf.get(key, val))
        except Exception:  # immutable at runtime on some builds — keep going
            pass
    return spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="moogle_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build (or incrementally refresh) the index")
    b.add_argument("--input", required=True, help="corpus of (repo,path,commit,lang,content)")
    b.add_argument("--format", choices=["parquet", "json", "csv"],
                   default="parquet",
                   help="input format; schema-validated + column-pruned "
                        "either way (corpus.load_corpus)")
    b.add_argument("--warehouse", required=True)
    b.add_argument("--shards", type=int, default=None)
    b.add_argument("--incremental", action="store_true",
                   help="staleness-gated: unchanged docs skip the tokenizer")
    b.add_argument("--upsert", action="store_true",
                   help="with --incremental: merge into the existing corpus "
                        "instead of replacing it")
    b.add_argument("--doc-id-mode", choices=["rank", "stable"], default="rank",
                   help="stable: hash-pinned shards, O(churn) incrementals")
    b.add_argument("--strategy", choices=["shards", "segment", "auto"],
                   default="shards",
                   help="with --incremental on a stable warehouse: "
                        "touched-shard swap, Lucene-style segment+tombstone "
                        "generation, or churn-fraction auto pick")
    b.add_argument("--auto-compact-ratio", type=float, default=None,
                   help="segment strategy: run maintenance once tombstones "
                        "exceed this fraction of live docs")
    b.add_argument("--maintenance", choices=["compact", "tiered"],
                   default="compact",
                   help="what the auto trigger runs: full compact, or "
                        "generation merge + bounded partial compact")

    s = sub.add_parser("search", help="query a built index")
    s.add_argument("--warehouse", required=True)
    s.add_argument("--query", required=True)
    s.add_argument("--k", type=int, default=20)
    s.add_argument("--page", type=int, default=1)
    s.add_argument("--mode", choices=["bmw", "exhaustive"], default="bmw")
    s.add_argument("--phrase", action="store_true")
    s.add_argument("--fuzzy", action="store_true")
    s.add_argument("--enrich", action="store_true")

    e = sub.add_parser("expire", help="sweep abandoned staging dirs (S8 TTL)")
    e.add_argument("--warehouse", required=True)
    e.add_argument("--ttl", type=float, default=3600.0)

    c = sub.add_parser(
        "compact", help="fold segment generations + tombstones into the base"
    )
    c.add_argument("--warehouse", required=True)
    c.add_argument("--max-shards", type=int, default=None,
                   help="partial: fold only the K dirtiest base families")
    c.add_argument("--shards", default=None,
                   help="partial: comma-separated base families to fold")

    g = sub.add_parser(
        "merge",
        help="tiered merge: fold all segment generations into one "
             "(O(segment rows), no base partition touched)",
    )
    g.add_argument("--warehouse", required=True)

    d = sub.add_parser(
        "delete",
        help="remove docs by (repo,path,commit) key — O(deleted), no "
             "content re-supplied (stable-id warehouses)",
    )
    d.add_argument("--keys", required=True,
                   help="parquet with repo/path/commit columns")
    d.add_argument("--warehouse", required=True)
    d.add_argument("--strategy", choices=["shards", "segment", "auto"],
                   default="auto")
    d.add_argument("--auto-compact-ratio", type=float, default=None)
    d.add_argument("--maintenance", choices=["compact", "tiered"],
                   default="compact")

    r = sub.add_parser(
        "replay",
        help="batched query-log replay: all queries scored in ONE job "
             "(SearchEngine.search_many)",
    )
    r.add_argument("--warehouse", required=True)
    r.add_argument("--queries", required=True,
                   help="text file, one query per line (blank lines skipped)")
    r.add_argument("--k", type=int, default=20)
    r.add_argument("--enrich", action="store_true")
    r.add_argument("--out", default=None,
                   help="optional parquet output path; prints a summary "
                        "either way")

    st = sub.add_parser("stats", help="committed warehouse overview")
    st.add_argument("--warehouse", required=True)

    args = ap.parse_args(argv)
    spark = _cluster_session()

    if args.cmd == "build":
        from .build import build_index, incremental_build
        from .corpus import load_corpus

        docs = load_corpus(spark, args.input, fmt=args.format)
        if args.incremental:
            info = incremental_build(
                spark, docs, args.warehouse, n_shards=args.shards,
                mode="upsert" if args.upsert else "full",
                strategy=args.strategy,
                auto_compact_ratio=args.auto_compact_ratio,
                maintenance=args.maintenance,
            )
        else:
            info = build_index(
                spark, docs, args.warehouse, n_shards=args.shards,
                doc_id_mode=args.doc_id_mode,
            )
        print(
            f"BUILD_OK n_docs={info.n_docs} shards={info.n_shards} "
            f"run={info.stages_run} skipped={info.stages_skipped}"
        )
    elif args.cmd == "search":
        from .query import SearchEngine

        eng = SearchEngine(spark, args.warehouse)
        if args.phrase:
            out = eng.search_phrase(args.query, k=args.k, enrich=args.enrich)
        else:
            out = eng.search(
                args.query, k=args.k, mode=args.mode, enrich=args.enrich,
                fuzzy=args.fuzzy, page=args.page,
            )
        for row in out.collect():
            print(row.asDict())
    elif args.cmd == "replay":
        import time as _time

        from .query import SearchEngine

        with open(args.queries) as f:
            queries = [ln.strip() for ln in f if ln.strip()]
        eng = SearchEngine(spark, args.warehouse)
        t0 = _time.time()
        # qps times the search alone: the result is persisted by its
        # count, then written out from the cache
        res = eng.search_many(queries, k=args.k, enrich=args.enrich).persist()
        n_rows = res.count()
        dt = _time.time() - t0
        if args.out:
            res.write.mode("overwrite").parquet(args.out)
        res.unpersist()
        print(
            f"REPLAY_OK queries={len(queries)} rows={n_rows} "
            f"sec={dt:.2f} qps={len(queries) / dt:.1f}"
            + (f" out={args.out}" if args.out else "")
        )
    elif args.cmd == "expire":
        from .tables import Warehouse

        removed = Warehouse(args.warehouse).expire_stale_staging(args.ttl)
        print(f"EXPIRED {removed}")
    elif args.cmd == "compact":
        from .segments import compact_segments

        sel = (
            [int(s) for s in args.shards.split(",") if s.strip()]
            if args.shards else None
        )
        info = compact_segments(
            spark, args.warehouse, shards=sel, max_shards=args.max_shards
        )
        print(
            f"COMPACT_OK n_docs={info.n_docs} run={info.stages_run} "
            f"skipped={info.stages_skipped}"
        )
    elif args.cmd == "merge":
        from .segments import merge_generations

        info = merge_generations(spark, args.warehouse)
        print(
            f"MERGE_OK n_docs={info.n_docs} run={info.stages_run} "
            f"skipped={info.stages_skipped}"
        )
    elif args.cmd == "delete":
        from .stable import delete_docs

        keys = spark.read.parquet(args.keys)
        info = delete_docs(
            spark, keys, args.warehouse, strategy=args.strategy,
            auto_compact_ratio=args.auto_compact_ratio,
            maintenance=args.maintenance,
        )
        print(
            f"DELETE_OK n_docs={info.n_docs} run={info.stages_run} "
            f"skipped={info.stages_skipped}"
        )
    elif args.cmd == "stats":
        import json as _json

        from .tables import Warehouse

        import os as _os

        def _bytes(root: str) -> int:
            total = 0
            for dirpath, _dn, files in _os.walk(root):
                total += sum(
                    _os.path.getsize(_os.path.join(dirpath, fn)) for fn in files
                )
            return total

        wh = Warehouse(args.warehouse)
        man = wh.manifest("analyzed")
        cs = wh.read(spark, "corpus_stats").collect()[0]
        out = {
            "n_docs": int(man["n_docs"]),
            "sum_dl": int(man["sum_dl"]),
            "n_shards": int(man["n_shards"]),
            "doc_id_mode": man.get("doc_id_mode", "rank"),
            "format_version": man.get("format_version"),
            "max_gen": int(man.get("max_gen", 0)),
            "n_tombstones": (
                int(wh.manifest("tombstones")["n_tombs"])
                if wh.is_committed("tombstones") else 0
            ),
            "n_terms": int(cs["n_terms"]),
            "table_bytes": {
                t: _bytes(wh.path(t))
                for t in ["analyzed", "postings", "doc_stats", "term_stats"]
                if wh.is_committed(t)
            },
        }
        print(_json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
