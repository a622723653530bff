"""moogle-spark benchmark: one workload per run, one JSON line out.

    python3 perfbench/run.py --workload serve|churn --seed N \\
        --seconds S --trace 0|1

Run from the repository root.  The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
its per-layer metrics (a layer the workload does not exercise reads 0).
A traced run also writes every span, the traced end-to-end figures and
the tracing overhead to ``perfbench/.out/trace_<workload>_<seed>.json``;
the overhead is taken against the untraced run of the same workload, seed,
length and code, if one was made in this checkout.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")  # warehouses and Spark scratch, per run
OUT = os.path.join(HERE, ".out")  # traces and last results, kept


def _environment(cores: int) -> None:
    """Everything the JVM and the Python workers inherit: the package on
    the workers' path, scratch inside the checkout, no progress bars."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("MOOGLE_DRIVER_MEM", "4g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        # no hsperfdata file: the JVM would write it under /tmp
        "--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        + " pyspark-shell"
    )


def _micro_layers(layer: dict, docs, oracle_idx) -> None:
    """In-process analyzer and codec throughput over fixed inputs."""
    import numpy as np

    from moogle_spark import BLOCK_SIZE
    from moogle_spark.analyzer import term_freqs_positions
    from moogle_spark.codec import (
        decode_doc_ids,
        decode_tfs,
        encode_doc_ids,
        encode_tfs,
        varint_encode_with_lens,
    )

    sample = list(docs["content"].iloc[:300])
    rates = []
    for _ in range(3):
        t0 = time.perf_counter()
        for c in sample:
            term_freqs_positions(c)
        rates.append(len(sample) / (time.perf_counter() - t0))
    layer["analyzer.tokenize_docs_per_s"] = statistics.median(rates)

    # the build encodes a partition's whole delta and tf streams in one
    # call each; a query decodes block by block
    top = sorted(oracle_idx.df, key=lambda t: (-oracle_idx.df[t], t))[:300]
    blocks = []
    for t in top:
        ids, tfs = oracle_idx.postings[t]
        for s in range(0, len(ids), BLOCK_SIZE):
            blocks.append((ids[s : s + BLOCK_SIZE], tfs[s : s + BLOCK_SIZE]))
    deltas = np.concatenate([np.diff(i, prepend=0) for i, _ in blocks])
    tf_stream = np.concatenate([f for _, f in blocks])
    encoded = [(encode_doc_ids(i), encode_tfs(f), len(i)) for i, f in blocks]
    mb = sum(len(bi) + len(bf) for bi, bf, _ in encoded) / 1e6
    enc, dec = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        varint_encode_with_lens(deltas)
        varint_encode_with_lens(tf_stream)
        t1 = time.perf_counter()
        for bi, bf, n in encoded:
            decode_doc_ids(bi, n)
            decode_tfs(bf, n)
        t2 = time.perf_counter()
        enc.append(mb / (t1 - t0))
        dec.append(mb / (t2 - t1))
    layer["codec.encode_mb_per_s"] = statistics.median(enc)
    layer["codec.decode_mb_per_s"] = statistics.median(dec)


def _code_tag(data) -> str:
    """Hash of the package and of the benchmark's own code and spec."""
    h = hashlib.sha256(data.package_tag().encode())
    for name in sorted(os.listdir(HERE)):
        if name.endswith(".py"):
            with open(os.path.join(HERE, name), "rb") as f:
                h.update(name.encode() + f.read())
    with open(os.path.join(ROOT, "BENCHMARK.json"), "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:12]


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort at exit: kill and reap
            proc.kill()
            proc.wait()


def prepare(cores: int) -> int:
    """Build the cached corpora, oracles and base warehouses in a session
    apart from every measured one."""
    import data
    from moogle_spark.session import get_spark

    data.ensure_corpora()
    spark = get_spark(app="perfbench-prepare", cores=cores)
    try:
        data.ensure_bases(spark)
    finally:
        _stop(spark)
    return 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--prepare", action="store_true", help="only build the caches")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not args.prepare and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    if not os.path.isdir(os.path.join(ROOT, "moogle_spark")):
        print(f"no moogle_spark package under {ROOT}: nothing to measure", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [ROOT, HERE]

    import data
    import workloads
    from tracer import NullTracer, Tracer

    if not args.prepare and args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not args.prepare and not data.prepared():
        # the benchmark's own inputs: built apart, never set-up time
        subprocess.run([sys.executable, os.path.abspath(__file__), "--prepare"], check=True)
    cores = len(os.sched_getaffinity(0))
    shutil.rmtree(WORK, ignore_errors=True)
    _environment(cores)
    if args.prepare:
        return prepare(cores)
    os.makedirs(OUT, exist_ok=True)

    from moogle_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app="perfbench", cores=cores)
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
    ctx = workloads.Ctx(spark, tracer, args.seed, args.seconds, WORK, session_s)
    try:
        workloads.WORKLOADS[args.workload](ctx)
    finally:
        _stop(spark)
        shutil.rmtree(WORK, ignore_errors=True)

    for p in ctx.problems[:20]:
        print("CHECK FAILED", p, file=sys.stderr)
    e2e = {m["name"]: {"value": ctx.e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    # the untraced result a traced run of the same workload, seed, length
    # and code is compared with
    untraced = os.path.join(
        OUT, f"untraced_{args.workload}_{args.seed}_{args.seconds:g}_{_code_tag(data)}.json"
    )
    if args.trace:
        _micro_layers(ctx.layer, data.load_corpus(), data.load_oracle())
        metrics = {
            m["name"]: {"value": float(ctx.layer.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
        extra = {"workload": args.workload, "seed": args.seed, "traced_end_to_end": e2e}
        extra["untraced_end_to_end"] = extra["tracing_overhead"] = None
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            extra["untraced_end_to_end"] = base
            extra["tracing_overhead"] = {k: e2e[k]["value"] - base[k]["value"] for k in e2e}
        else:
            print(
                "no untraced baseline: run this workload, seed and length with --trace 0 "
                "first to get the tracing overhead",
                file=sys.stderr,
            )
        tracer.dump(os.path.join(OUT, f"trace_{args.workload}_{args.seed}.json"), extra)
    else:
        metrics = e2e
        with open(untraced, "w") as f:
            json.dump(e2e, f)
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
