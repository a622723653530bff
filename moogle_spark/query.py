"""Query engine: BM25 top-k over the compressed, document-sharded postings.

Query lifecycle (SURVEY.md §3.1 rebuild):
  query string -> query-mode analyzer (X8: '+'->' ', lowercase, split)
  -> optional fuzzy rewrite (fuzzy.py) -> term df/idf lookup (term_stats,
  pruned to the query's terms) -> postings scan filtered by term (parquet
  row-group skipping: postings are written sorted by term within each shard
  partition) -> per-shard scoring -> per-query top-k merge -> metadata join.

Posting blocks are SELF-CONTAINED for scoring: doc lengths are stored
inline per block (impact-index style norms, build.py POSTINGS_SCHEMA), so
a query plan is just filter -> per-shard scorer (mapInPandas over the
cached shard partitions, or groupBy(shard).applyInPandas cold) -> a
row_number window partitioned by query_id -> optional broadcast metadata
join.  The postings DataFrame is pre-partitioned by shard and cached at
engine init, so scoring reuses that partitioning — NO per-query shuffle
of postings, only the k-rows-per-shard result merge.  (The previous
design cogrouped postings with a doc_lens table; two shuffles per query
dominated latency.)

One path serves every query form: search() is search_many([query]) and
search_phrase() runs the phrase scorer through the same tail
(SearchEngine._top_k).  A one-query batch merges with a TakeOrdered
limit first, whose single-partition output already satisfies the
window's distribution: no exchange, and no job beyond the batch form's.

Two scorers, both vectorized numpy inside the per-shard pass:
  * exhaustive — decode every candidate block, dense-accumulate scores in
    ascending term order (the frozen float order; bit-identical to the
    oracle).
  * bmw — block-max WAND (segment form): per-term block upper bounds
    (idf * tfpart(max_tf, min_dl, avgdl)) are swept into disjoint doc-id
    segments; segments
    are scored in descending upper-bound order and scoring stops once the
    running top-k threshold exceeds the next segment's bound. Docs in
    skipped segments are strictly below the kth score, so the result —
    including tie-breaks — is identical to exhaustive (asserted in tests).

Per-shard independence is what scales: every query term's postings for a
shard are colocated, so N -> 4N executors just spreads shards, and the
only cross-executor traffic is the k-row-per-shard merge.
"""

from __future__ import annotations

import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import codec
from .analyzer import tokenize_query
from .scoring import bm25_idf, bm25_tfpart
from .segments import TOMB
from .tables import FORMAT_VERSION, Warehouse

# per-shard scorer output; query_id = position in the search_many batch
RESULT_SCHEMA = "query_id int, shard int, doc_id long, score double, match_count int"
# ranked output, and the metadata columns enrich adds
RANKED_SCHEMA = "query_id int, rank int, doc_id long, score double, match_count int"
META_SCHEMA = "repo string, path string, commit string, lang string, doc_len int"
RANKED_COLS = [c.split()[0] for c in RANKED_SCHEMA.split(", ")]
META_COLS = [c.split()[0] for c in META_SCHEMA.split(", ")]

# search_many decode-memo capacity, in blocks (~128 postings each): hot
# blocks shared across queries stay memoized; once full, cold blocks
# fall through to the per-query decode path (freed after each query), so
# a 10k-query batch over diverse terms cannot balloon the Arrow worker
# toward the decoded size of every touched block at once.
DECODE_MEMO_CAP = 4096

# oldest postings layout this engine can score (v4 replaced the stored
# block_max_tf float with avgdl-independent (max_tf, min_dl) ints the
# bmw scorer reads)
MIN_POSTINGS_VERSION = 4

# Spark's CacheManager keys cached plans canonically: engines on the same
# commit (or a refresh whose table kept its files) share ONE cache entry,
# and a plain unpersist() by one holder drops it for all.  So the engines
# count their holders per cached plan, in a registry kept on the
# SparkContext that owns the cache: [DataFrame, semanticHash, holders].
_PINS_LOCK = threading.Lock()


def _holders(df: DataFrame, delta: int) -> int:
    """Add ``delta`` holders to ``df``'s cached plan; return how many
    remain (<= 0: the caller unpersists)."""
    with _PINS_LOCK:
        pins = vars(df.sparkSession.sparkContext).setdefault("_moogle_pins", [])
        h = df.semanticHash()
        e = next((e for e in pins if e[1] == h and e[0].sameSemantics(df)), None)
        if e is None:
            e = [df, h, 0]
            pins.append(e)
        e[2] += delta
        if e[2] <= 0:
            pins.remove(e)
        return e[2]


def _release(frames: list[DataFrame]) -> None:
    for df in frames:
        if _holders(df, -1) <= 0:
            df.unpersist()


class SearchEngine:
    """``cache=True`` (default, the serving mode): postings are
    repartitioned by shard once, term-cluster-sorted, and cached — every
    query then scores over the cached partitions with ZERO exchange.

    ``cache=False`` (the cold fallback): each query pays a parquet scan
    (term-pruned via row-group stats) plus ONE groupBy("shard") shuffle
    of the query terms' postings.  Acceptable for one-shot queries
    (ad-hoc CLI lookups, a single audit query in a batch job) and for
    memory-constrained executors that cannot hold the cached index;
    wrong for any sustained query load — the per-query shuffle is work
    the cached path does once at init.  Measured at 2M docs / 32 cores
    (BENCH.md sf1 headroom table): cold p50 3.5–9.0 s vs cached 0.72 s
    (5–12×), entirely shuffle+scan overhead."""

    def __init__(self, spark: SparkSession, warehouse: str | Warehouse, cache: bool = True):
        self.spark = spark
        self.wh = warehouse if isinstance(warehouse, Warehouse) else Warehouse(warehouse)
        if not self.wh.is_committed("postings"):
            raise FileNotFoundError(f"table postings not committed in {self.wh.root}")
        pman = self.wh.manifest("postings")
        ver = pman.get("format_version", 0)
        if not (MIN_POSTINGS_VERSION <= ver <= FORMAT_VERSION):
            raise ValueError(
                f"warehouse postings format_version={ver} is outside the "
                f"supported range [{MIN_POSTINGS_VERSION}, {FORMAT_VERSION}]; "
                "rebuild the index with build_index(..., force=True)"
            )
        cs = self.wh.read(spark, "corpus_stats").collect()[0]
        self.n_docs = int(cs["n_docs"])
        self.sum_dl = int(cs["sum_dl"])
        self.avgdl = float(self.sum_dl) / float(self.n_docs) if self.n_docs else 1.0
        # SNAPSHOT reads (explicit file lists): a table whose files a
        # commit swapped gets a canonically distinct plan, so a re-opened
        # engine never serves the previous engine's stale entry, nor can
        # read()'s refreshByPath re-cache its pinned plans over swapped
        # files — see Warehouse.read_snapshot (unchanged files: _holders)
        self.postings = self.wh.read_snapshot(spark, "postings")
        self.term_stats = self.wh.read_snapshot(spark, "term_stats")
        self.doc_stats = self.wh.read_snapshot(spark, "doc_stats")
        # segmented warehouse (segments.py): fold the tombstones into the
        # postings as per-shard mask rows under the reserved TOMB term —
        # each shard group's scorer then receives its own dead-id mask
        # with no broadcast and no per-query extra job; doc_stats hides
        # dead rows so direct metadata consumers see the live corpus.
        self._has_tomb = False
        if self.wh.is_committed("tombstones") and int(
            self.wh.manifest("tombstones").get("n_tombs", 0)
        ) > 0:
            from .segments import tombstone_mask_rows

            tomb = self.wh.read_snapshot(spark, "tombstones")
            self.postings = self.postings.unionByName(
                tombstone_mask_rows(spark, self.wh, tomb=tomb)
            )
            self.doc_stats = self.doc_stats.join(
                tomb.select("doc_id"), "doc_id", "left_anti"
            )
            self._has_tomb = True
        self._sharded = False
        self._pinned: list[DataFrame] = []
        if cache:
            # pre-partition by shard once and cache; queries then score via
            # mapInPandas over the cached partitions — shard co-location is
            # a physical property of the cache, so no per-query exchange at
            # all (AQE hides cached outputPartitioning from the optimizer,
            # which would otherwise re-shuffle under groupBy)
            n_parts = max(8, spark.sparkContext.defaultParallelism)
            # sortWithinPartitions("term", ...) term-CLUSTERS each cached
            # partition: the in-memory columnar cache keeps min/max stats
            # per batch, so the per-query `term.isin(...)` filter prunes to
            # the batches covering the query's term runs instead of
            # scanning every cached batch of the whole index — per-query
            # scan cost is O(query-term postings), not O(index).  (Without
            # the sort, terms interleave across batches and the stats can
            # never exclude anything.)  Row order within a partition is
            # free to change: scoring groups by shard and sorts blocks
            # itself, so results are identical — asserted by parity tests.
            self.postings = self.postings.repartition(
                n_parts, "shard"
            ).sortWithinPartitions("term", "block_id")
            self._sharded = True
            # EAGER materialization: the engine's contract is "serves
            # the snapshot it was opened on".  Lazy persist() leaves a
            # window where a writer's partition swap deletes the files
            # before the first query materializes the cache —
            # FAILED_READ_FILE mid-serve (caught by
            # tests/test_concurrent_reader_writer.py).  doc_stats backs
            # the metadata join and is pinned with the rest.
            self._pin_caches()
        # per-engine spell-suggestion memo (reference: 1 h APC cache,
        # FuzzySearch.php:62-74,133) — created lazily on first fuzzy query
        self._fuzzy_cache = None
        self._cache_flag = cache
        self._sig = self._commit_sig()

    def _pin_caches(self) -> None:
        """Register and fully materialize the snapshot caches (postings,
        term_stats, doc_stats) — the counts make the snapshot real
        before __init__ returns, so no query ever lazily re-reads files
        a concurrent partition swap may have deleted.  Snapshot reads
        (Warehouse.read_snapshot, explicit file lists) make each engine
        generation's plans canonically distinct; engines on the SAME
        generation share one entry, counted by _holders.  A pin that
        fails mid-way (writer swapped files mid-open) releases whatever
        it already pinned — a failed open must not leak index-sized cache
        entries."""
        try:
            for df in (self.postings, self.term_stats, self.doc_stats):
                _holders(df, 1)
                self._pinned.append(df)
                df.persist()
                df.count()
        except Exception:
            self.unpersist()
            raise

    def unpersist(self) -> None:
        """Release this engine's pinned snapshot caches (postings,
        term_stats, doc_stats).  Call when retiring an engine without
        refresh()-ing it — e.g. test teardown or app shutdown.  A cache
        another open engine still holds stays pinned."""
        pinned, self._pinned = self._pinned, []
        _release(pinned)

    def _commit_sig(self) -> tuple:
        """Identity of the index this engine serves: every mutating op
        (incremental, delete, merge, compact) re-commits at least one of
        these manifests under its _TXN swap."""
        out = []
        for t in ("analyzed", "postings", "term_stats", "tombstones"):
            if self.wh.is_committed(t):
                m = self.wh.manifest(t)
                out.append(
                    (t, m.get("build_id"), m.get("analyzed_ref"),
                     m.get("committed_at"), m.get("n_tombs"))
                )
        return tuple(out)

    def refresh(self) -> bool:
        """Pick up index commits made since this engine was opened.

        The cached postings are a snapshot: an incremental build,
        delete_docs, or compaction swaps the tables on disk, but an open
        engine keeps serving its cache indefinitely.  refresh() compares
        the committed manifests and, only if they moved, re-opens and
        swaps (returns True); a current engine is a pure no-op (False) —
        safe to call on every request cycle.

        Swap is BUILD-NEW-FIRST: the replacement state (manifest reads,
        table scans, fresh caches) is fully constructed on a private
        engine instance before any attribute of this one changes, so a
        failure mid-refresh (writer mid-commit, format drift) raises and
        leaves the serving engine untouched and its caches intact; only
        after the new state exists are the old caches unpersisted.  The
        cost is transient 2× cache residency during the swap.  The
        attribute swap itself is not synchronized against queries running
        CONCURRENTLY on other threads of this same engine object — those
        may observe a mix; serve each request from one engine reference
        and refresh between requests, or front the engine with your own
        read-write lock if queries and refresh share an instance."""
        # heal any ORPHANED crash journal first (a kill mid-swap leaves
        # the tables a committed old/new mix) — lock-guarded, so a LIVE
        # writer's in-flight journal is left for that writer to finish
        # rather than racing its replay (see Warehouse.recover_orphaned_txn)
        self.wh.recover_orphaned_txn()
        if self._commit_sig() == self._sig:
            return False
        last_err: Exception | None = None
        fresh = None
        for _attempt in range(2):
            # a writer can commit ANOTHER swap between our manifest read
            # and the eager cache materialization, deleting the files
            # mid-open.  One full retry lands on the newer commit; a
            # second failure propagates — and leaves THIS engine fully
            # intact and still pinned (the failed open released its own
            # partial pins, and a pin it shared with us keeps our holder
            # count), exactly as the docstring promises.
            try:
                fresh = SearchEngine(self.spark, self.wh, cache=self._cache_flag)
                break
            except Exception as e:  # noqa: BLE001 — re-raised after retry
                last_err = e
                self.wh.recover_orphaned_txn()
        if fresh is None:
            raise last_err
        old = self._pinned
        self.__dict__.update(fresh.__dict__)
        _release(old)
        return True

    # ------------------------------------------------------------------
    def _candidates(self, terms: list[str], with_df: bool = True) -> DataFrame:
        """Postings rows for the query's terms (plus, on a segmented
        warehouse, each shard's TOMB mask rows — hence the LEFT join
        there: mask rows have no term_stats entry, and neither does a
        term whose live df hit 0, whose posting rows are then dropped in
        the scorer as fully masked)."""
        flt = list(terms) + ([TOMB] if self._has_tomb else [])
        cand = self.postings.filter(F.col("term").isin(flt))
        if not with_df:
            return cand
        ts = F.broadcast(self.term_stats.filter(F.col("term").isin(list(terms))))
        return cand.join(ts, "term", "left" if self._has_tomb else "inner")

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        if not terms:
            return {}
        rows = self.term_stats.filter(F.col("term").isin(terms)).collect()
        return {r["term"]: int(r["df"]) for r in rows}

    def search(
        self,
        query: str,
        k: int = 20,
        mode: str = "bmw",
        enrich: bool = False,
        fuzzy: bool = False,
        page: int = 1,
    ) -> DataFrame:
        """Top-k BM25. Returns (rank, doc_id, score, match_count [+meta]).

        The one-query batch of search_many: same scorer, merge and
        enrich, with query_id dropped.

        ``page`` is the reference's $skip offset pagination
        (QuerySearchController.php:280-281): page p returns global ranks
        (p-1)*k+1 .. p*k.  Implemented as top page*k + a rank slice, so
        the per-shard scorers still only ship k' = page*k rows.

        ``fuzzy=True`` mirrors the reference's FuzzySearch middleware
        running on every /api/search (routes/api.php:12): each query word
        is replaced by its best in-edit-cap dictionary suggestion before
        retrieval (exact hits rank first, so correctly-spelled words are
        untouched).  The engine's dictionary is term_stats (every indexed
        term), already cached at init."""
        if page < 1:
            raise ValueError(f"page={page} — pagination is 1-based")
        out = self.search_many([query], k=page * k, mode=mode, fuzzy=fuzzy, enrich=enrich)
        if page > 1:
            out = out.filter(F.col("rank") > (page - 1) * k)
        return out.drop("query_id")

    def search_many(
        self,
        queries: list[str],
        k: int = 20,
        mode: str = "bmw",
        fuzzy: bool = False,
        enrich: bool = False,
    ) -> DataFrame:
        """Batched top-k: score ALL queries in ONE zero-exchange postings
        pass.  Returns (query_id, rank, doc_id, score, match_count
        [+meta]) with query_id = position in ``queries``; per-query rows
        equal the oracle's top-k (asserted in tests/test_engine_parity.py).
        ``enrich=True`` joins doc metadata onto the whole batch with ONE
        broadcast join (QuerySearchController.php:307-336 semantics,
        k·|queries| rows broadcast).  ``fuzzy=True`` rewrites the union of
        the batch's words in one suggestion lookup.

        Why a batch form exists: a single search is already one Spark job,
        so an N-query replay pays N× the per-job scheduling floor
        (measured 85–120 ms in local mode — bench.py note) even when every
        scan is cache-warm.  search_many unions the queries' term lists
        into one postings filter, scores each (query, shard) pair inside
        the same mapInPandas pass over the cached shard partitions, and
        merges with ONE k·|queries|-row window — the whole batch is a
        single job regardless of |queries|.  A pipeline replaying a 10k-
        query log at 100 TB needs this form: per-query jobs would spend
        more time in the scheduler than in scoring (tools/
        multiquery_bench.py measures the gap).

        Blocks shared by multiple queries' terms decode ONCE per shard
        pass: the scorers share a per-pass payload-keyed decode memo,
        so a 10k-query replay whose queries share hot terms pays decode
        per distinct block, not per (query, block).  Decoded arrays are
        never mutated by scorers (fancy indexing copies), so results are
        byte-identical to scoring each query alone."""
        qterms = [sorted(set(tokenize_query(q))) for q in queries]
        if fuzzy:
            if self._fuzzy_cache is None:
                from .fuzzy import SuggestionCache

                self._fuzzy_cache = SuggestionCache()
            words = sorted({t for ts in qterms for t in ts})
            fixed = dict(zip(words, self._fuzzy_cache.rewrite(self.term_stats, words)))
            qterms = [sorted({fixed[t] for t in ts}) for ts in qterms]
        all_terms = sorted({t for ts in qterms for t in ts})
        fn = _make_multi_scorer(qterms, self.n_docs, self.avgdl, k, mode)
        return self._top_k(all_terms, fn, k, len(queries), enrich)

    def search_with_images(
        self,
        query: str,
        docs: DataFrame,
        k: int = 20,
        page: int = 1,
        image_k: int = 5,
        asset_col: str = "source",
        text_col: str = "text",
        enrich: bool = True,
        fuzzy: bool = False,
    ) -> dict[str, DataFrame | None]:
        """The reference's composed page-1 response
        (QuerySearchController.php:344-347): web top-k plus the top-5
        image results, images attached ONLY on page 1 (:344 gates on
        $page == 1) and WITHOUT the fuzzy rewrite (:366 — the image
        pipeline sees the raw query words even when the web side was
        fuzzy-rewritten).  ``docs`` is the crawled-pages table the image
        index derives from (imageindex.image_postings).  Returns
        {"web": DataFrame, "images": DataFrame | None}."""
        web = self.search(query, k=k, page=page, enrich=enrich, fuzzy=fuzzy)
        if page != 1:
            return {"web": web, "images": None}
        from .imageindex import search_images_enriched

        terms = sorted(set(tokenize_query(query)))
        images = search_images_enriched(
            docs, terms, k=image_k, asset_col=asset_col, text_col=text_col
        )
        return {"web": web, "images": images}

    def search_phrase(self, query: str, k: int = 20, enrich: bool = False) -> DataFrame:
        """Exact-phrase top-k using the per-posting POSITIONS arrays
        (stored delta-encoded in every block — SURVEY.md §7.3): a doc
        matches iff the phrase's doc-mode tokens occur at consecutive
        positions in its post-filter token stream.  match_count = number
        of occurrences; score = BM25 over the phrase's distinct terms.
        Same zero-exchange per-shard plan and tail as search(); verified
        rank/score-identical against oracle_phrase_search in tests."""
        from .analyzer import tokenize_doc

        terms = tokenize_doc(query)
        uniq = sorted(set(terms))
        dfs = self.term_dfs(uniq)
        # a phrase term absent from the index: nothing can match
        present = uniq if all(dfs.get(t, 0) for t in uniq) else []
        idf = {t: float(bm25_idf(self.n_docs, dfs[t])) for t in present}
        fn = _make_phrase_scorer(terms, idf, self.avgdl, k)
        return self._top_k(present, fn, k, 1, enrich, with_df=False).drop("query_id")

    def _top_k(
        self, terms: list[str], fn, k: int, n_queries: int, enrich: bool,
        with_df: bool = True,
    ) -> DataFrame:
        """The tail every query form shares: score the postings of
        ``terms`` per shard with ``fn`` (RESULT_SCHEMA rows), keep each
        query's top ``k`` ranked by (score desc, doc_id asc), and with
        ``enrich`` join the metadata, ordered by (query_id, rank)."""
        if not terms:
            # same shape as the non-empty path: a replay whose queries all
            # tokenize to nothing must still write the full schema
            return self.spark.createDataFrame(
                [], RANKED_SCHEMA + (", " + META_SCHEMA if enrich else "")
            )
        cand = self._candidates(terms, with_df)
        if self._sharded:
            # partitions physically hold whole shards (see __init__) —
            # score per partition, grouping by shard inside; zero exchange
            scored = cand.mapInPandas(_partition_scorer(fn), RESULT_SCHEMA)
        else:
            scored = cand.groupBy("shard").applyInPandas(fn, RESULT_SCHEMA)
        if n_queries == 1:
            # TakeOrdered merge: its single-partition output already
            # satisfies the window's query_id distribution, so a single
            # search pays no shuffle (and no extra job) for the window
            scored = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        # <= k rows per (query, shard) reach the window: the merge moves
        # k·|queries|·shards rows, never corpus data
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        out = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(*RANKED_COLS)
        )
        if not enrich:
            return out
        # the k·|queries|-row result is the BUILD side of a broadcast hash
        # join (broadcast on the right of an inner join; a broadcast-left
        # OUTER join cannot build left and would silently fall back to a
        # corpus-sized sort-merge).  Inner ≡ left: every result doc_id
        # exists in doc_stats.
        meta = self.doc_stats.select("doc_id", *META_COLS)
        return (
            meta.join(F.broadcast(out), "doc_id", "inner")
            .orderBy("query_id", "rank")
            .select(*RANKED_COLS, *META_COLS)
        )


# ---------------------------------------------------------------------------


def _mask_keep(ids: np.ndarray, mask: np.ndarray) -> np.ndarray:
    """Boolean keep-vector: True where ``ids`` is NOT in ``mask``.  Both
    arrays are sorted unique int64 (decoded doc_id streams), so one
    searchsorted beats np.isin's internal re-sort."""
    idx = np.searchsorted(mask, ids)
    idx[idx == mask.size] = mask.size - 1
    return mask[idx] != ids


def _split_tomb(pdf: pd.DataFrame):
    """Split a shard group's TOMB mask rows (segments.py tombstones) from
    its real posting rows.  Returns (posting_rows, dead_ids | None) with
    dead_ids sorted unique.  Scorers drop masked doc_ids at DECODE time —
    before any top-k/threshold maintenance — so block-max WAND pruning
    stays exact on a segmented warehouse (a dead doc can only loosen a
    block bound, never let a live doc be pruned)."""
    tm = pdf["term"].to_numpy() == TOMB
    if not tm.any():
        return pdf, None
    tomb = pdf[tm]
    mask = np.concatenate(
        [
            codec.decode_doc_ids(b, int(n))
            for b, n in zip(tomb["doc_ids"], tomb["n_docs"])
        ]
    )
    mask.sort()  # chunks are sorted, but row arrival order is not
    return pdf[~tm], mask


def _partition_scorer(shard_fn):
    """Wrap a per-shard scorer for mapInPandas: concatenate the
    partition's Arrow batches (a shard's rows may span batches), then
    score each shard group independently."""

    def run(batches):
        pdfs = [b for b in batches if len(b)]
        if not pdfs:
            return
        part = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        for _, g in part.groupby("shard", sort=False):
            out = shard_fn(g.reset_index(drop=True))
            if len(out):
                yield out

    return run


def _make_multi_scorer(qterms: list[list[str]], n_docs: int, avgdl: float, k: int, mode: str):
    """Per-shard BM25 scorer for a batch of queries (one for search()):
    the shard group holds the UNION of every query's term rows; each
    query scores its own subset with _score_bmw/_score_exhaustive, so its
    rows do not depend on the rest of the batch."""

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        pdf, mask = _split_tomb(pdf)
        if mask is not None:
            # a term whose LIVE df hit 0 has no term_stats row (left join
            # -> null df); all its postings are dead, drop the rows
            pdf = pdf[pdf["df"].notna()]
        dfs = dict(zip(pdf["term"], pdf["df"]))
        by_term = {t: g for t, g in pdf.groupby("term", sort=False)}
        outs = [_shard_rows(0, shard, *_NO_HITS)]
        # one decode memo per shard pass: blocks whose term is shared by
        # several queries decode once for the whole batch
        memo: dict = {}
        for qid, terms in enumerate(qterms):
            present = [t for t in terms if t in by_term]
            if not present:
                continue
            sub = (
                by_term[present[0]]
                if len(present) == 1
                else pd.concat([by_term[t] for t in present], ignore_index=True)
            )
            idf = {t: float(bm25_idf(n_docs, int(dfs[t]))) for t in present}
            terms_sorted = sorted(idf)
            lo = int(sub["first_doc"].min())
            span = int(sub["last_doc"].max()) - lo + 1
            f = _score_exhaustive if mode == "exhaustive" else _score_bmw
            hits = f(sub, terms_sorted, idf, avgdl, lo, span, k, mask, decode_memo=memo)
            outs.append(_shard_rows(qid, shard, *hits))
        return pd.concat(outs, ignore_index=True)

    return score_shard


def _shard_rows(qid: int, shard: int, docs, scores, matches) -> pd.DataFrame:
    """Scorer output (RESULT_SCHEMA) for one query in one shard."""
    return pd.DataFrame(
        {
            "query_id": np.full(len(docs), qid, dtype=np.int32),
            "shard": np.full(len(docs), shard, dtype=np.int32),
            "doc_id": docs,
            "score": scores,
            "match_count": matches.astype(np.int32),
        }
    )


def _make_phrase_scorer(terms_ordered: list[str], idf: dict[str, float], avgdl: float, k: int):
    """Per-shard exact-phrase scorer, CANDIDATE-FIRST: decode only the
    doc_id streams of every term's blocks, intersect candidate docs
    across terms rarest-term-first (vectorized np.intersect1d), and only
    then decode position streams — and only for blocks that contain a
    surviving candidate.  Position-decode volume drops from Σ postings of
    every phrase term to the blocks overlapping the intersection (for a
    phrase pairing one rare with one common term, that is bounded by the
    rare term's df, not the common term's).  Scoring is unchanged: BM25
    over the phrase's distinct terms in ascending term order (the frozen
    float order, matching oracle_phrase_search)."""
    uniq_sorted = sorted(set(terms_ordered))

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        no_rows = _shard_rows(0, shard, *_NO_HITS)
        pdf, mask = _split_tomb(pdf)
        # pass 1: decode doc_ids RAREST-TERM-FIRST with block-range
        # pre-intersection: rarity is estimated from block metadata alone
        # (Σ n_docs — no decode), the rarest term's blocks decode fully,
        # and every later term decodes ONLY blocks whose
        # [first_doc, last_doc] range contains at least one surviving
        # candidate (vectorized searchsorted against the sorted candidate
        # set).  For a hot×hot phrase the doc-id decode volume drops from
        # Σ df of every term to the blocks overlapping the running
        # intersection — bounded by the rarest term's df spread, not the
        # common term's.
        by_term = {t: g for t, g in pdf.groupby("term", sort=False)}
        if any(t not in by_term for t in uniq_sorted):
            return no_rows  # a phrase term absent here
        sizes = {t: int(by_term[t]["n_docs"].sum()) for t in uniq_sorted}
        by_rarity = sorted(uniq_sorted, key=lambda t: (sizes[t], t))
        # blk_dec[t]: (kept row positions in by_term[t], their decoded ids)
        blk_dec: dict[str, tuple[np.ndarray, list[np.ndarray]]] = {}
        cands: np.ndarray | None = None
        for t in by_rarity:
            g = by_term[t]
            fd = g["first_doc"].to_numpy(dtype=np.int64)
            ld = g["last_doc"].to_numpy(dtype=np.int64)
            if cands is None:
                keep = np.arange(len(g))
            else:
                lo = np.searchsorted(cands, fd)
                hi = np.searchsorted(cands, ld, side="right")
                keep = np.flatnonzero(hi > lo)
            if keep.size == 0:
                return no_rows
            ids_col = g["doc_ids"].to_numpy()
            nd_col = g["n_docs"].to_numpy()
            ids_list = [
                codec.decode_doc_ids(ids_col[i], int(nd_col[i])) for i in keep
            ]
            blk_dec[t] = (keep, ids_list)
            tdocs = np.unique(np.concatenate(ids_list))
            if cands is None:
                # dead ids leave the candidate set here, before any other
                # term decodes — masked docs cost nothing downstream
                if mask is not None:
                    tdocs = tdocs[_mask_keep(tdocs, mask)]
                cands = tdocs
            else:
                cands = np.intersect1d(cands, tdocs, assume_unique=True)
            if cands.size == 0:
                return no_rows
        # pass 2: decode positions (and dls) ONLY for blocks holding a
        # survivor, keeping only the survivors' entries — as FLAT
        # (doc, pos) arrays per term (no per-doc dict, no per-doc loop)
        t_docs: dict[str, np.ndarray] = {}   # per-posting doc (survivors)
        t_tfs: dict[str, np.ndarray] = {}
        t_pos: dict[str, np.ndarray] = {}    # flat positions, doc-major
        dl_doc_chunks: list[np.ndarray] = []
        dl_val_chunks: list[np.ndarray] = []
        for t in uniq_sorted:
            g = by_term[t]
            keep, ids_list = blk_dec[t]
            dc, tc, pc = [], [], []
            for ids, n, tfs_b, dls_b, pos_b, pints in zip(
                ids_list,
                g["n_docs"].to_numpy()[keep],
                g["tfs"].to_numpy()[keep],
                g["dls"].to_numpy()[keep],
                g["positions"].to_numpy()[keep],
                g["pos_ints"].to_numpy()[keep],
            ):
                hit = np.isin(ids, cands, assume_unique=True)
                if not hit.any():
                    continue
                n = int(n)
                tfs = codec.decode_tfs(tfs_b, n)
                flat = codec.decode_positions_flat(pos_b, tfs, int(pints))
                keep = np.repeat(hit, tfs)
                dc.append(ids[hit])
                tc.append(tfs[hit])
                pc.append(flat[keep])
                dl_doc_chunks.append(ids[hit])
                dl_val_chunks.append(codec.varint_decode(dls_b, n)[hit])
            t_docs[t] = np.concatenate(dc)
            t_tfs[t] = np.concatenate(tc)
            t_pos[t] = np.concatenate(pc)
        # composite key (doc - dmin)*M + pos folds the whole phrase walk
        # into vectorized sorted-set intersections across ALL candidate
        # docs at once (M > max pos + 1, so pos+1 never crosses a doc).
        # Docs are REBASED to the shard-local candidate range so the key
        # stays far from int64 even at 10^12 global doc_ids; the guard
        # is unreachable for any real shard but turns a silent wrap into
        # a loud error.
        M = int(max(p.max() for p in t_pos.values() if p.size)) + 2
        dmin = int(cands.min())
        span = int(cands.max()) - dmin + 1
        if span * M >= 2**62:
            raise OverflowError(
                f"phrase composite key would overflow: doc span {span} x "
                f"position range {M} — re-shard the index"
            )
        keys: dict[str, np.ndarray] = {}
        for t in uniq_sorted:
            kk = (t_docs[t].repeat(t_tfs[t]) - dmin) * M + t_pos[t]
            kk.sort()  # runs may arrive out of doc order
            keys[t] = kk
        occ = keys[terms_ordered[0]]
        for t in terms_ordered[1:]:
            occ = np.intersect1d(occ + 1, keys[t], assume_unique=True)
            if occ.size == 0:
                return no_rows
        docs_a, matches_a = np.unique(occ // M + dmin, return_counts=True)
        # vectorized BM25 over the phrase's distinct terms in ascending
        # term order — elementwise identical to the old per-doc loop
        dl_docs = np.concatenate(dl_doc_chunks)
        dl_vals = np.concatenate(dl_val_chunks)
        o = np.argsort(dl_docs, kind="mergesort")
        dl_docs, dl_vals = dl_docs[o], dl_vals[o]
        dl_vec = dl_vals[np.searchsorted(dl_docs, docs_a)]
        scores_a = np.zeros(docs_a.size, dtype=np.float64)
        for t in uniq_sorted:  # frozen accumulation order
            o = np.argsort(t_docs[t], kind="mergesort")
            tf_vec = t_tfs[t][o][np.searchsorted(t_docs[t][o], docs_a)]
            scores_a += idf[t] * bm25_tfpart(tf_vec, dl_vec, avgdl)
        order = np.lexsort((docs_a, -scores_a))[:k]
        return _shard_rows(0, shard, docs_a[order], scores_a[order], matches_a[order])

    return score_shard


# (doc_ids, scores, match_counts) of a query with no hit in a shard
_NO_HITS = (np.zeros(0, dtype=np.int64), np.zeros(0), np.zeros(0, dtype=np.int64))


def _decode_block(ids_b, tfs_b, dls_b, n, mask, memo):
    """One block's (ids, tfs, dls), dead ids dropped.  ``memo``: a
    per-shard-pass dict keyed by the block's raw payload triple, holding
    post-mask decoded arrays — blocks shared by several queries' term
    sets decode once per PASS instead of once per query.  Keying by VALUE
    is the only exact choice: (term, block_id) repeats within a shard
    (block_id restarts per encode run / segment), and object identity is
    unstable (the Arrow-backed frame materializes a fresh bytes object
    per access, so ids get recycled mid-pass).  Dict equality makes any
    hash collision harmless, and hashing the payload is far cheaper than
    varint-decoding it.  Scorers never mutate decoded arrays (fancy
    indexing copies), so sharing is safe; the mask is constant within a
    shard pass, so caching post-mask is exact.  The memo is capped at
    DECODE_MEMO_CAP blocks — beyond that, cold blocks decode per query
    (bounded worker memory beats decode savings on the long tail)."""
    key = (ids_b, tfs_b, dls_b)
    if memo is not None and key in memo:
        return memo[key]
    n = int(n)
    ids = codec.decode_doc_ids(ids_b, n)
    tfs = codec.decode_tfs(tfs_b, n)
    dls = codec.varint_decode(dls_b, n)
    if mask is not None:
        keep = _mask_keep(ids, mask)
        if not keep.all():
            ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
    if memo is not None and len(memo) < DECODE_MEMO_CAP:
        memo[key] = (ids, tfs, dls)
    return ids, tfs, dls


def _topk_select(local_hits: np.ndarray, scores: np.ndarray, matches: np.ndarray, lo: int, k: int):
    order = np.lexsort((local_hits, -scores[local_hits]))[:k]
    sel = local_hits[order]
    return (sel + lo).astype(np.int64), scores[sel], matches[sel]


def _score_exhaustive(pdf, terms_sorted, idf, avgdl, lo, span, k, mask=None,
                      decode_memo=None):
    scores = np.zeros(span, dtype=np.float64)
    matches = np.zeros(span, dtype=np.int64)
    by_term = {t: g for t, g in pdf.groupby("term", sort=False)}
    for t in terms_sorted:  # frozen accumulation order
        g = by_term.get(t)
        if g is None:
            continue
        w = idf[t]
        gs = g.sort_values("block_id")
        for n, ids_b, tfs_b, dls_b in zip(
            gs["n_docs"], gs["doc_ids"], gs["tfs"], gs["dls"]
        ):
            ids, tfs, dls = _decode_block(ids_b, tfs_b, dls_b, n, mask, decode_memo)
            if ids.size == 0:
                continue
            loc = ids - lo
            scores[loc] += w * bm25_tfpart(tfs, dls, avgdl)
            matches[loc] += 1
    hits = np.flatnonzero(matches > 0)
    if hits.size == 0:
        return _NO_HITS
    return _topk_select(hits, scores, matches, lo, k)


def _score_bmw(pdf, terms_sorted, idf, avgdl, lo, span, k, mask=None,
               decode_memo=None):
    """Segment-form block-max WAND. Doc space is cut at every block
    boundary; each segment's bound = Σ over terms of the overlapping
    block's idf*tfpart(max_tf, min_dl, avgdl). Segments are scored (exactly, in ascending
    term order) in descending-bound order; once k results exist and the
    next bound < kth score, remaining segments cannot place (strictly —
    so tie-breaking matches exhaustive).

    ``mask`` (segmented warehouse): sorted dead doc_ids, dropped at
    decode time — before the heap/threshold ever sees them, so pruning
    decisions are made on live scores only.  A dead doc left inside a
    block's stored (max_tf, min_dl) can only RAISE that block's upper
    bound, which remains a valid bound for its live docs."""
    blocks: list[tuple] = []  # (term_rank, lo, hi, ub, ids_bin, tfs_bin, dls_bin, n)
    for rank_t, t in enumerate(terms_sorted):
        g = pdf[pdf["term"] == t]
        w = idf[t]
        # block upper bound from the stored (max_tf, min_dl) ints: tfpart
        # is monotone up in tf / down in dl, so this bounds every posting
        # in the block under the CURRENT avgdl (the stored metadata is
        # avgdl-independent — safe across incremental rebuilds that shift
        # the corpus avgdl; see build.py POSTINGS_SCHEMA)
        ubs = w * bm25_tfpart(
            g["max_tf"].to_numpy(dtype=np.float64),
            g["min_dl"].to_numpy(dtype=np.float64),
            avgdl,
        )
        for fd, ld, ub, ids_b, tfs_b, dls_b, n in zip(
            g["first_doc"], g["last_doc"], ubs,
            g["doc_ids"], g["tfs"], g["dls"], g["n_docs"],
        ):
            blocks.append(
                (rank_t, int(fd), int(ld), float(ub),
                 ids_b, tfs_b, dls_b, int(n))
            )
    if not blocks:
        return _NO_HITS
    bounds = sorted({b[1] for b in blocks} | {b[2] + 1 for b in blocks})
    edges = np.asarray(bounds, dtype=np.int64)
    n_segs = len(edges) - 1
    seg_ub = np.zeros(n_segs, dtype=np.float64)
    # interval index: segment boundaries include every block boundary, so
    # a block overlaps a contiguous run of segments [i0, i1).  Materialize
    # the (segment -> overlapping blocks) lists once — the per-segment
    # scoring loop then touches ONLY overlapping blocks instead of
    # scanning all of them (the old O(segments x blocks) inner loop).
    b_lo = np.asarray([b[1] for b in blocks], dtype=np.int64)
    b_hi = np.asarray([b[2] for b in blocks], dtype=np.int64)
    i0s = np.searchsorted(edges, b_lo)
    i1s = np.searchsorted(edges, b_hi + 1)
    for bi in range(len(blocks)):
        seg_ub[i0s[bi]:i1s[bi]] += blocks[bi][3]
    counts = i1s - i0s
    blk_rep = np.repeat(np.arange(len(blocks)), counts)
    off = np.zeros(len(blocks) + 1, dtype=np.int64)
    np.cumsum(counts, out=off[1:])
    seg_of = (np.arange(int(off[-1])) - np.repeat(off[:-1], counts)) + np.repeat(
        i0s, counts
    )
    order_inc = np.argsort(seg_of, kind="stable")  # stable keeps term order
    blk_by_seg = blk_rep[order_inc]
    seg_sorted = seg_of[order_inc]
    seg_starts = np.searchsorted(seg_sorted, np.arange(n_segs))
    seg_ends = np.searchsorted(seg_sorted, np.arange(n_segs) + 1)
    seg_order = np.argsort(-seg_ub, kind="stable")

    import heapq

    decoded: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    out_docs: list[np.ndarray] = []
    out_scores: list[np.ndarray] = []
    out_matches: list[np.ndarray] = []
    # running top-k threshold via a size-k min-heap of the best scores:
    # O(hits log k) maintenance per segment (the previous concatenate-all
    # + partition recompute was O(total found) per segment — quadratic
    # when bounds are uniform and nothing prunes)
    heap: list[float] = []
    theta = -np.inf
    for si in seg_order:
        if seg_ub[si] <= 0:
            break
        if len(heap) == k and seg_ub[si] < theta:
            break
        seg_lo, seg_hi = int(edges[si]), int(edges[si + 1]) - 1
        seg_len = seg_hi - seg_lo + 1
        sc = np.zeros(seg_len, dtype=np.float64)
        mc = np.zeros(seg_len, dtype=np.int64)
        for bi in blk_by_seg[seg_starts[si]:seg_ends[si]]:  # term order
            bi = int(bi)
            b = blocks[bi]
            if bi not in decoded:
                decoded[bi] = _decode_block(b[4], b[5], b[6], b[7], mask, decode_memo)
            ids, tfs, dls = decoded[bi]
            if ids.size == 0:
                continue
            m = (ids >= seg_lo) & (ids <= seg_hi)
            if not m.any():
                continue
            sids = ids[m]
            sc[sids - seg_lo] += idf[terms_sorted[b[0]]] * bm25_tfpart(tfs[m], dls[m], avgdl)
            mc[sids - seg_lo] += 1
        hit = np.flatnonzero(mc > 0)
        if hit.size == 0:
            continue
        out_docs.append((hit + seg_lo).astype(np.int64))
        seg_scores = sc[hit]
        out_scores.append(seg_scores)
        out_matches.append(mc[hit])
        for s in seg_scores:
            if len(heap) < k:
                heapq.heappush(heap, float(s))
            elif s > heap[0]:
                heapq.heapreplace(heap, float(s))
        if len(heap) == k:
            theta = heap[0]
    if not out_docs:
        return _NO_HITS
    docs = np.concatenate(out_docs)
    scores = np.concatenate(out_scores)
    matches = np.concatenate(out_matches)
    order = np.lexsort((docs, -scores))[:k]
    return docs[order], scores[order], matches[order]
