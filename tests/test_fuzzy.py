"""Fuzzy spell rewrite — FuzzySearch.php:58-141 semantics on Spark."""

from moogle_spark.fuzzy import dictionary_from_docs, rewrite_query, suggest_terms


def _dict(spark, terms):
    return spark.createDataFrame([(t,) for t in terms], "term string")


def test_exact_hit_ranks_first(spark):
    d = _dict(spark, ["spark", "spars", "sparse"])
    got = suggest_terms(d, ["spark"]).toPandas()
    assert got.iloc[0]["suggestion"] == "spark"
    assert got.iloc[0]["distance"] == 0


def test_distance_cap_rule(spark):
    # len<=4 -> cap 1; len 5..7 -> cap 1; len 8+ -> cap 2 (FuzzySearch.php:122)
    d = _dict(spark, ["table", "tablets"])
    got = suggest_terms(d, ["tible"]).toPandas()  # len 5, cap 1
    assert list(got["suggestion"]) == ["table"]  # d=1 in; 'tablets' d=4 out
    got_far = suggest_terms(d, ["tabel"]).toPandas()  # d('tabel','table')=2 > cap 1
    assert len(got_far) == 0
    d2 = _dict(spark, ["absolute"])
    got2 = suggest_terms(d2, ["absolutly"]).toPandas()  # len 9 -> cap 2
    assert list(got2["suggestion"]) == ["absolute"]


def test_candidates_need_shared_first_letter_and_length_window(spark):
    d = _dict(spark, ["spark", "hark"])
    got = suggest_terms(d, ["sark"]).toPandas()
    # 'hark' shares no first letter; 'spark' within len ±1 and d=1
    assert list(got["suggestion"]) == ["spark"]


def test_rewrite_query_keeps_unfixable_words(spark):
    d = _dict(spark, ["spark", "query"])
    out = rewrite_query(d, ["sparc", "zzzzzz", "QUERY"])
    assert out == ["spark", "zzzzzz", "query"]


def test_dictionary_from_docs(spark):
    import pyspark.sql.functions as F

    from moogle_spark.textops import doc_terms

    docs = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, "beta gamma")], "doc_id long, text string"
    )
    d = dictionary_from_docs(doc_terms(docs))
    assert set(r["term"] for r in d.collect()) == {"alpha", "beta", "gamma"}


def test_engine_fuzzy_search_rewrites(spark, built_warehouse):
    """routes/api.php:12 — FuzzySearch runs on every /api/search: a
    misspelled query must return the corrected query's results."""
    from moogle_spark.query import SearchEngine

    eng = SearchEngine(spark, built_warehouse, cache=False)
    good = eng.search("hotterm0", k=10).toPandas()
    fixed = eng.search("hotterm0x", k=10, fuzzy=True).toPandas()  # edit dist 1
    assert list(fixed["doc_id"]) == list(good["doc_id"])
    assert list(fixed["score"]) == list(good["score"])
    # without fuzzy the misspelling matches nothing
    assert eng.search("hotterm0x", k=10).count() == 0
    # correctly-spelled words pass through the rewrite untouched
    same = eng.search("hotterm0", k=10, fuzzy=True).toPandas()
    assert list(same["doc_id"]) == list(good["doc_id"])


def test_suggestion_cache_ttl_unit(monkeypatch):
    """SuggestionCache memoizes per word and re-scans only after the
    reference's TTL (FuzzySearch.php:133 — 3600 s) elapses."""
    import moogle_spark.fuzzy as fz

    calls = []

    def fake_rewrite(dictionary, words):
        calls.append(list(words))
        return [w + "!" for w in words]

    monkeypatch.setattr(fz, "rewrite_query", fake_rewrite)
    clock = [0.0]
    cache = fz.SuggestionCache(ttl_seconds=10.0, now=lambda: clock[0])
    assert cache.rewrite(None, ["Abc", "xyz"]) == ["abc!", "xyz!"]
    assert calls == [["abc", "xyz"]]
    # warm: no new scan, same answers
    assert cache.rewrite(None, ["abc"]) == ["abc!"]
    assert calls == [["abc", "xyz"]]
    # partially warm: only the new word scans
    assert cache.rewrite(None, ["abc", "new"]) == ["abc!", "new!"]
    assert calls == [["abc", "xyz"], ["new"]]
    # TTL expiry forces a fresh scan
    clock[0] = 11.0
    cache.rewrite(None, ["abc"])
    assert calls[-1] == ["abc"]


def test_engine_fuzzy_memo_skips_repeat_scan(spark, built_warehouse, monkeypatch):
    """Second occurrence of a misspelled word triggers NO new levenshtein
    dictionary scan (VERDICT round-3 item 5): the engine's per-instance
    SuggestionCache resolves it driver-side.  Exact dictionary hits never
    reach the levenshtein join, and a fuzzy batch joins its new
    misspellings once, across queries."""
    import moogle_spark.fuzzy as fz
    from moogle_spark.query import SearchEngine

    eng = SearchEngine(spark, built_warehouse, cache=False)
    calls = []
    orig = fz.suggest_terms

    def counting(dictionary, words, per_word=5):
        calls.append(sorted(words))
        return orig(dictionary, words, per_word)

    monkeypatch.setattr(fz, "suggest_terms", counting)
    first = eng.search("hotterm0x", k=5, fuzzy=True).toPandas()
    assert calls == [["hotterm0x"]]
    second = eng.search("hotterm0x", k=5, fuzzy=True).toPandas()
    assert calls == [["hotterm0x"]], "repeat misspelling re-scanned the dictionary"
    assert list(first["doc_id"]) == list(second["doc_id"])
    # a NEW word scans — but only that word
    eng.search("hotterm0x hotterm1x", k=5, fuzzy=True).collect()
    assert calls == [["hotterm0x"], ["hotterm1x"]]
    # correctly spelled, uncached words: no levenshtein join
    eng.search("hotterm0 hotterm1", k=5, fuzzy=True).collect()
    assert calls == [["hotterm0x"], ["hotterm1x"]], "exact words ran the join"
    # two new misspellings in two queries of one batch: one join
    eng.search_many(["hotterm0y def", "return hotterm1y"], k=5, fuzzy=True).collect()
    assert calls[2:] == [["hotterm0y", "hotterm1y"]]
