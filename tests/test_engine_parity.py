"""The correctness gate: the Spark engine must be rank-identical in doc_ids
AND equal in BM25 scores to the single-node oracle on the reference query
set (BASELINE.json north_star; SURVEY.md §5.2 item 2). Both scorer modes
(exhaustive and block-max WAND) are checked."""

import numpy as np
import pytest

from moogle_spark.corpus import reference_queries
from moogle_spark.oracle import oracle_search
from moogle_spark.query import SearchEngine

QUERIES = [q["query"] for q in reference_queries()][:18]


@pytest.fixture(scope="module")
def engine(spark, built_warehouse):
    return SearchEngine(spark, built_warehouse)


def _check(engine, oracle_index, query, mode, k=20):
    got = engine.search(query, k=k, mode=mode).toPandas()
    exp = oracle_search(oracle_index, query, k=k)
    assert list(got["doc_id"]) == list(exp["doc_id"]), f"{query!r} [{mode}] doc_ids differ"
    if len(exp):
        assert np.allclose(
            got["score"].to_numpy(np.float64), exp["score"].to_numpy(np.float64), atol=1e-9
        ), f"{query!r} [{mode}] scores differ"
        assert list(got["match_count"]) == list(exp["match_count"])


@pytest.mark.parametrize("query", QUERIES)
def test_exhaustive_matches_oracle(engine, oracle_index, query):
    _check(engine, oracle_index, query, "exhaustive")


@pytest.mark.parametrize("query", QUERIES)
def test_bmw_matches_oracle(engine, oracle_index, query):
    _check(engine, oracle_index, query, "bmw")


def test_scores_bit_identical(engine, oracle_index):
    """Stronger than atol: the frozen accumulation order makes scores
    bit-identical, which is what guarantees rank stability under ties."""
    got = engine.search("hotterm0 hotterm1", k=20).toPandas()
    exp = oracle_search(oracle_index, "hotterm0 hotterm1", k=20)
    assert got["score"].to_numpy(np.float64).tobytes() == exp["score"].to_numpy(np.float64).tobytes()


def test_corpus_scalars_match(engine, oracle_index):
    assert engine.n_docs == oracle_index.n_docs
    assert engine.sum_dl == oracle_index.sum_dl


def test_enrichment_join(engine):
    out = engine.search("hotterm0", k=5, enrich=True).toPandas()
    assert len(out) == 5
    assert {"repo", "path", "lang", "doc_len"} <= set(out.columns)
    assert out["repo"].notna().all()


def test_offset_pagination_matches_oracle(engine, oracle_index):
    """T2 engine-level: page=2, k=20 returns exactly the oracle's global
    ranks 21..40 (QuerySearchController.php:280-281 $skip semantics)."""
    q = "hotterm0 hotterm1"
    got = engine.search(q, k=20, page=2).toPandas()
    exp = oracle_search(oracle_index, q, k=40).iloc[20:40]
    assert list(got["rank"]) == list(range(21, 41))
    assert list(got["doc_id"]) == list(exp["doc_id"])
    assert np.allclose(
        got["score"].to_numpy(np.float64), exp["score"].to_numpy(np.float64), atol=1e-9
    )
    # page 1 with page kwarg defaulted is unchanged
    p1 = engine.search(q, k=20).toPandas()
    assert list(p1["rank"]) == list(range(1, 21))


def test_absent_and_stopword_queries_empty(engine, oracle_index):
    for q in ["zzqqxxnosuchterm", "the and of"]:
        assert engine.search(q, k=10).count() == 0
        assert len(oracle_search(oracle_index, q, k=10)) == 0


def test_phrase_search_matches_oracle(spark, built_warehouse, oracle_index):
    """Positions are functional: exact-phrase top-k is rank- and
    score-identical between the engine (decoded position streams) and the
    single-node oracle."""
    from moogle_spark.analyzer import tokenize_doc
    from moogle_spark.corpus import generate_docs_local
    from moogle_spark.oracle import oracle_phrase_search
    from moogle_spark.query import SearchEngine

    docs = generate_docs_local(200)
    toks0 = tokenize_doc(docs["content"].iloc[7])
    toks1 = tokenize_doc(docs["content"].iloc[42])
    phrases = [
        " ".join(toks0[3:5]),          # 2-token phrase known to exist
        " ".join(toks1[10:13]),        # 3-token phrase known to exist
        "hotterm0 hotterm0",           # self-adjacent (generator emits h(h))
        "zzqq nosuchphrase",           # absent
    ]
    eng = SearchEngine(spark, built_warehouse)
    for ph in phrases:
        got = eng.search_phrase(ph, k=20).toPandas()
        exp = oracle_phrase_search(oracle_index, ph, k=20)
        assert list(got["doc_id"]) == list(exp["doc_id"]), ph
        assert [repr(s) for s in got["score"]] == [repr(s) for s in exp["score"]], ph
        assert list(got["match_count"]) == list(exp["match_count"]), ph
    # sanity: at least one of the existing phrases matched something
    assert oracle_phrase_search(oracle_index, phrases[0], k=20).shape[0] > 0


def _check_batch(got, batch, oracle_index, k):
    """Each query's batch rows equal the oracle's top-k, bit for bit."""
    for qid, q in enumerate(batch):
        g = got[got["query_id"] == qid].sort_values("rank")
        exp = oracle_search(oracle_index, q, k=k)
        assert list(g["doc_id"]) == list(exp["doc_id"]), (qid, q)
        assert [repr(s) for s in g["score"]] == [repr(s) for s in exp["score"]], q
        assert list(g["match_count"]) == list(exp["match_count"]), q
        assert list(g["rank"]) == list(exp["rank"]), q


def test_search_many_parity(engine, oracle_index):
    """search_many == the oracle per query, row for row, including
    queries whose terms are partly or wholly absent and an empty query."""
    batch = QUERIES[:8] + ["zzqq absentterm", "", "hotterm0 zzqq"]
    got = engine.search_many(batch, k=10).toPandas()
    _check_batch(got, batch, oracle_index, 10)
    assert len(got)  # batch found something overall


def test_search_many_exhaustive_mode(engine, oracle_index):
    batch = ["hotterm0 hotterm1", "def return import"]
    got = engine.search_many(batch, k=7, mode="exhaustive").toPandas()
    _check_batch(got, batch, oracle_index, 7)


def test_search_many_all_empty(engine):
    out = engine.search_many(["", "zzqq"], k=5).toPandas()
    assert len(out) == 0
    assert list(out.columns) == ["query_id", "rank", "doc_id", "score", "match_count"]


def test_search_many_enrich_parity(engine, oracle_index):
    """search_many(enrich=True): the oracle's rows per query, ordered by
    (query_id, rank), each carrying its doc_stats metadata, via one
    batch-wide broadcast metadata join."""
    batch = ["hotterm0", "def return"]
    got = engine.search_many(batch, k=5, enrich=True).toPandas()
    _check_batch(got, batch, oracle_index, 5)
    assert list(zip(got["query_id"], got["rank"])) == sorted(zip(got["query_id"], got["rank"]))
    meta_cols = ["repo", "path", "commit", "lang", "doc_len"]
    # the pinned doc_stats cache holds only what the metadata join reads
    assert engine.doc_stats.columns == ["doc_id", *meta_cols]
    meta = engine.doc_stats.select("doc_id", *meta_cols).toPandas().set_index("doc_id")
    assert got[meta_cols].equals(meta.loc[got["doc_id"], meta_cols].reset_index(drop=True))


def test_single_search_plan_has_no_query_id_exchange(engine):
    """A single search() merges with TakeOrdered before the per-query
    window, so it pays no hash shuffle on query_id (that shuffle is a
    third Spark job per search); an enriched one orders its k joined
    rows without a range shuffle (a sampling job plus an exchange)."""
    plan = engine.search("hotterm0 hotterm1", k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning(query_id" not in plan
    enriched = engine.search("hotterm0 hotterm1", k=5, enrich=True)
    assert "rangepartitioning" not in enriched._jdf.queryExecution().executedPlan().toString()
