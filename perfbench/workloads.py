"""The two workloads.  Each is one closed-loop client: the next call
starts when the previous one has returned.

Every timed operation is one call into a public function of the package,
wrapped in ``ctx.span`` (a no-op unless the run is traced), and every
operation's answer is checked before the run reports; a check that fails
counts its operation as failed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import defaultdict

import pandas as pd

import data
from checks import (
    Oracle,
    check_absent,
    check_key_set,
    check_keyed,
    check_meta,
    check_ranked,
)
from data import K, KEYS, Query

STREAM_LEN = 5000  # longer than any run consumes
REPLAY_BATCH = 200
CHURN_SLICE = 6
COMPACT_MAX_SHARDS = 2
TABLES = ("analyzed", "postings", "term_stats", "doc_stats", "doc_lens")


class Ctx:
    """Run state shared by the workloads: the session, the tracer, the
    operation tally and the metrics gathered so far."""

    def __init__(self, spark, tracer, seed: int, seconds: float, work: str, session_s: float):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.session_s = session_s
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {"session.start_s": session_s}
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.ops = 0

    def span(self, name: str):
        self.ops += 1
        return self.tracer.span(name, op=self.ops)

    def timed(self, name: str, fn):
        """Run ``fn`` inside a span; return (result, seconds, span record)."""
        with self.span(name) as rec:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        self.lat[name].append(dt)
        return out, dt, rec

    def record(self, what: str, probs: list[str]) -> None:
        """Tally one operation and its check."""
        self.attempted += 1
        if probs:
            self.failed += 1
            self.problems.append(f"{what}: {probs[0]}")


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def _warehouse(ctx: Ctx, name: str) -> str:
    path = os.path.join(ctx.work, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def _table_bytes(wh: str) -> dict[str, float]:
    out = {f"tables.{t}_bytes": 0.0 for t in TABLES}
    total = files = 0
    for dirpath, _dirs, names in os.walk(wh):
        rel = os.path.relpath(dirpath, wh).split(os.sep)[0]
        for n in names:
            size = os.path.getsize(os.path.join(dirpath, n))
            total += size
            if n.endswith(".parquet"):
                files += 1
            if rel in TABLES:
                out[f"tables.{rel}_bytes"] += size
    out["tables.files"] = float(files)
    out["_total"] = float(total)
    return out


def _build_layers(ctx: Ctx, infos: list) -> None:
    """Per-stage walls from the BuildInfo the write calls return."""
    for stage in TABLES:
        ctx.layer[f"build.{stage}_s"] = _median([i.stage_secs.get(stage, 0.0) for i in infos])


def _segment_layers(ctx: Ctx, wh: str) -> None:
    from moogle_spark.tables import Warehouse

    w = Warehouse(wh)
    ctx.layer["segments.max_gen"] = float(w.manifest("analyzed").get("max_gen", 0))
    ctx.layer["segments.n_tombs"] = float(
        w.manifest("tombstones").get("n_tombs", 0) if w.is_committed("tombstones") else 0
    )


def _rows(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


def _open(ctx: Ctx, wh: str):
    from moogle_spark.query import SearchEngine

    return ctx.timed("query.open", lambda: SearchEngine(ctx.spark, wh))[0]


def _warm_queries(eng, df: dict, variants: tuple[str, ...], batch: bool = False) -> None:
    """JIT, codegen and Python-worker warm-up for the query paths timed
    later: the same fixed queries in every run, whatever the seed; one
    single search per variant, plus one search_many batch if ``batch``."""
    warm = data.query_stream(data.WARM_SEED, len(variants) + REPLAY_BATCH, df)
    for q, v in zip(warm, variants):
        eng.search(q.text, k=K, **Query(q.text, v).kwargs).collect()
    if batch:
        eng.search_many([q.text for q in warm[len(variants) :]], k=K).collect()


def _search_one(ctx: Ctx, eng, q: Query, mode: str = "bmw"):
    name = f"search.{q.variant}" if mode == "bmw" else f"search.{mode}"
    rows, dt, _ = ctx.timed(
        name, lambda: _rows(eng.search(q.text, k=K, mode=mode, **q.kwargs))
    )
    if mode == "bmw":
        ctx.lat["search"].append(dt)
    return rows


def _check_query(oracle: Oracle, q: Query, rows: list[dict]) -> list[str]:
    # a correctly spelled query answers the same with and without fuzzy
    want = Query(q.text, "plain") if q.variant == "fuzzy_exact" else q
    probs = check_ranked(rows, oracle.expected(want, K))
    if q.variant == "enrich":
        probs += check_meta(rows, oracle.keys)
    return probs


def _search_layers(ctx: Ctx, counted: str) -> None:
    """Per-variant search medians; job, stage and task counts per search
    from the spans named ``counted``."""
    ctx.layer["query.search_p50_s"] = ctx.e2e["search_p50_s"]
    for v, name in (
        ("plain", "plain"), ("fuzzy_typo", "fuzzy"), ("enrich", "enrich"),
        ("page2", "page2"), ("exhaustive", "exhaustive"),
    ):
        ctx.layer[f"query.search_{name}_p50_s"] = _median(ctx.lat[f"search.{v}"])
    spans = [s for s in ctx.tracer.spans if s["name"] == counted]
    for c in ("jobs", "stages", "tasks"):
        ctx.layer[f"query.search_{c}"] = _median([s[c] for s in spans])


def _trace_probes(ctx: Ctx, eng, queries: list[Query], df: dict[str, int], variant: str) -> list:
    """Traced runs only, after the timed part: the exhaustive scorer on
    the first four plain-position queries, run as ``variant`` (the
    scorer's share of a search), and their df lookups.  The lookups are
    checked against ``df`` here; the searches are returned as (query,
    rows) for the caller to check."""
    from moogle_spark.analyzer import tokenize_query

    plain = [Query(q.text, variant) for q in queries if q.variant == "plain"][:4]
    out = [(q, _search_one(ctx, eng, q, mode="exhaustive")) for q in plain]
    for q in plain:
        terms = sorted(set(tokenize_query(q.text)))
        got = ctx.timed("query.term_dfs", lambda: eng.term_dfs(terms))[0]
        want = {t: df[t] for t in terms if t in df}
        ctx.record(f"term_dfs {terms}", [] if got == want else [f"{got} != oracle {want}"])
    ctx.layer["query.term_dfs_s"] = _median(ctx.lat["query.term_dfs"])
    return out


# --------------------------------------------------------------------------


def _setup(ctx: Ctx, workload: str, df: dict, variants: tuple[str, ...], batch: bool = False):
    """Set-up: copy the workload's base warehouse (the benchmark's own
    work, untimed), then open the engine and warm it (timed)."""
    wh = _warehouse(ctx, f"{workload}_wh")
    shutil.copytree(data.base_warehouse(workload), wh)
    t0 = time.perf_counter()
    eng = _open(ctx, wh)
    _warm_queries(eng, df, variants, batch)
    ctx.e2e["setup_s"] = ctx.session_s + time.perf_counter() - t0
    return wh, eng


def serve(ctx: Ctx) -> None:
    oracle = Oracle(data.load_oracle())
    docs = data.load_corpus()
    stream = data.query_stream(ctx.seed, STREAM_LEN, oracle.idx.df)

    wh, eng = _setup(ctx, "serve", oracle.idx.df, ("plain", "fuzzy_typo", "enrich"), batch=True)

    # whole cycles of single searches (every kind in each) for half the
    # run, at least one; then the same stream replayed in search_many
    # batches for the rest
    singles: list[tuple[Query, list[dict]]] = []
    t_end = time.perf_counter() + 0.5 * ctx.seconds
    i = 0
    while not singles or time.perf_counter() < t_end:
        for q in stream[i : i + len(data.VARIANTS)]:
            singles.append((q, _search_one(ctx, eng, q)))
        i += len(data.VARIANTS)
    replays: list[tuple[list[Query], list[dict], dict]] = []
    rates = []
    t_end = time.perf_counter() + 0.5 * ctx.seconds
    j = 0
    while not replays or time.perf_counter() < t_end:
        batch = [Query(q.text, "plain") for q in stream[j : j + REPLAY_BATCH]]
        rows, dt, rec = ctx.timed(
            "search_many", lambda: _rows(eng.search_many([q.text for q in batch], k=K))
        )
        rates.append(len(batch) / dt)
        replays.append((batch, rows, rec))
        j += REPLAY_BATCH

    ctx.e2e["op_p50_s"] = ctx.e2e["search_p50_s"] = _median(ctx.lat["search"])
    ctx.e2e["items_per_s"] = _median(rates)
    tb = _table_bytes(wh)
    ctx.e2e["index_bytes_per_content_byte"] = tb.pop("_total") / data.content_bytes(docs)

    for q, rows in singles:
        ctx.record(f"search {q.variant} {q.text!r}", _check_query(oracle, q, rows))
    for batch, rows, _ in replays:
        by_q = defaultdict(list)
        for r in rows:
            by_q[r["query_id"]].append(r)
        probs = []
        for qi, q in enumerate(batch):
            probs += check_ranked(by_q.get(qi, []), oracle.expected(q, K))
        ctx.record(f"search_many batch of {len(batch)}", probs)

    if ctx.tracer.enabled:
        for q, rows in _trace_probes(ctx, eng, stream[:i], oracle.idx.df, "plain"):
            ctx.record(f"search exhaustive {q.text!r}", _check_query(oracle, q, rows))
        _search_layers(ctx, "search.plain")
        ctx.layer.update(tb)
        ctx.layer["query.open_s"] = _median(ctx.lat["query.open"])
        ctx.layer["query.replay_jobs"] = _median([r[2]["jobs"] for r in replays])
        ctx.layer["query.replay_tasks"] = _median([r[2]["tasks"] for r in replays])
        _segment_layers(ctx, wh)
    eng.unpersist()


def churn(ctx: Ctx) -> None:
    from moogle_spark.build import incremental_build
    from moogle_spark.oracle import build_oracle_index, oracle_search
    from moogle_spark.segments import compact_segments, merge_generations
    from moogle_spark.stable import delete_docs

    spark = ctx.spark
    base = data.load_corpus()
    df0 = data.load_oracle().df
    stream = data.query_stream(ctx.seed, STREAM_LEN, df0)
    plan = data.ChurnPlan(base, ctx.seed)

    wh, eng = _setup(ctx, "churn", df0, ("enrich",))

    fresh, write_wall, n_written = [], 0.0, 0
    rounds = []  # what each round's checks need, checked after the loop
    recs, infos = [], []
    qi = 0
    t_loop = time.perf_counter()
    while not rounds or time.perf_counter() - t_loop < ctx.seconds:
        rnd = plan.next_round()
        r = len(plan.rounds)
        ups = spark.createDataFrame(rnd.upserts[KEYS + ["lang", "content"]])
        dels = spark.createDataFrame(rnd.deletes)
        t_up = time.perf_counter()
        info_up, d_up, rec_up = ctx.timed(
            "stable.upsert",
            lambda: incremental_build(spark, ups, wh, mode="upsert", strategy="segment"),
        )
        _, d_del, _ = ctx.timed("stable.delete", lambda: delete_docs(spark, dels, wh))
        _, d_merge, _ = ctx.timed("segments.merge", lambda: merge_generations(spark, wh))
        _, d_comp, _ = ctx.timed(
            "segments.compact",
            lambda: compact_segments(spark, wh, max_shards=COMPACT_MAX_SHARDS),
        )
        write_wall += d_up + d_del + d_merge + d_comp
        n_written += len(rnd.upserts) + len(rnd.deletes)
        recs.append(rec_up)
        infos.append(info_up)
        ctx.timed("query.refresh", eng.refresh)
        want = plan.expected_token_keys(r)
        for _attempt in range(5):
            rows, _, _ = ctx.timed(
                "search.probe", lambda: _rows(eng.search(rnd.token, k=len(want) + 10, enrich=True))
            )
            if {tuple(x[c] for c in KEYS) for x in rows} == want:
                break
            ctx.timed("query.refresh", eng.refresh)
        fresh.append(time.perf_counter() - t_up)
        ctx.record(
            f"round {r} upsert visible",
            check_key_set({tuple(x[c] for c in KEYS) for x in rows}, want, f"round {r} token"),
        )
        slice_q = [Query(q.text, "enrich") for q in stream[qi : qi + CHURN_SLICE]]
        qi += CHURN_SLICE
        slice_rows = [_search_one(ctx, eng, q) for q in slice_q]
        # every token so far: each returns exactly its live docs, and no
        # deleted key is served anywhere
        toks = [plan.token(x) for x in range(1, r + 1)]
        trows = _rows(eng.search_many(toks, k=len(plan.live) + 1, enrich=True))
        n_live = eng.n_docs
        gone = pd.DataFrame(plan.deleted_so_far(), columns=KEYS)
        stale = eng.doc_stats.join(spark.createDataFrame(gone), KEYS, "inner").count()
        rounds.append((r, slice_q, slice_rows, trows, n_live, stale))

    ctx.e2e["op_p50_s"] = _median(fresh)
    ctx.e2e["search_p50_s"] = _median(ctx.lat["search"])
    ctx.e2e["items_per_s"] = n_written / write_wall
    live = plan.live_docs()
    tb = _table_bytes(wh)
    ctx.e2e["index_bytes_per_content_byte"] = tb.pop("_total") / data.content_bytes(live)

    # checks against an oracle built over the corpus as it stood after each
    # round (the plan replays the same seeded rounds)
    def keyed(o: Oracle, q: Query, rows: list[dict], deleted: set) -> list[str]:
        ranking = oracle_search(o.idx, " ".join(o.terms(q)), k=o.idx.n_docs)
        got = {tuple(x[c] for c in KEYS) for x in rows}
        return check_keyed(rows, ranking, o.keys, K) + check_absent(got, deleted)

    replay = data.ChurnPlan(base, ctx.seed)
    for r, slice_q, slice_rows, trows, n_live, stale in rounds:
        replay.next_round()
        docs_r = replay.live_docs()
        o = Oracle(build_oracle_index(docs_r))
        probs = [] if n_live == len(docs_r) else [f"{n_live} live docs, corpus has {len(docs_r)}"]
        probs += [f"{stale} deleted keys still in doc_stats"] if stale else []
        by_q = defaultdict(list)
        for x in trows:
            by_q[x["query_id"]].append(x)
        deleted = set(map(tuple, replay.deleted_so_far()))
        for t in range(1, r + 1):
            got = {tuple(x[c] for c in KEYS) for x in by_q.get(t - 1, [])}
            probs += check_key_set(got, replay.expected_token_keys(t), f"token of round {t}")
            probs += check_absent(got, deleted)
        ctx.record(f"round {r} tokens and deletes", probs)
        for q, rows in zip(slice_q, slice_rows):
            ctx.record(f"round {r} search {q.text!r}", keyed(o, q, rows, deleted))

    if ctx.tracer.enabled:
        # ``o`` and ``deleted`` now describe the corpus after the last round
        for q, rows in _trace_probes(ctx, eng, stream[:qi], o.idx.df, "enrich"):
            ctx.record(f"search exhaustive {q.text!r}", keyed(o, q, rows, deleted))
        _search_layers(ctx, "search.enrich")
        ctx.layer.update(tb)
        _build_layers(ctx, infos)
        ctx.layer["query.open_s"] = _median(ctx.lat["query.open"])
        ctx.layer["query.refresh_s"] = _median(ctx.lat["query.refresh"])
        ctx.layer["stable.upsert_s"] = _median(ctx.lat["stable.upsert"])
        ctx.layer["stable.delete_s"] = _median(ctx.lat["stable.delete"])
        ctx.layer["stable.upsert_jobs"] = _median([r["jobs"] for r in recs])
        ctx.layer["stable.upsert_tasks"] = _median([r["tasks"] for r in recs])
        ctx.layer["segments.merge_s"] = _median(ctx.lat["segments.merge"])
        ctx.layer["segments.compact_s"] = _median(ctx.lat["segments.compact"])
        _segment_layers(ctx, wh)
    eng.unpersist()


WORKLOADS = {"serve": serve, "churn": churn}
