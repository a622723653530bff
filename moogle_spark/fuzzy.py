"""Fuzzy spell rewrite — the FuzzySearch middleware re-expressed on Spark.

Reference semantics (services/query-engine/app/Http/Middleware/
FuzzySearch.php:58-141):
  * exact dictionary hit -> keep the word (:77-79)
  * else candidates = dictionary terms sharing the first letter (prefix
    regex :85-100) whose length is within ±1 of the word (:81-83,101)
  * rank candidates by levenshtein distance, keep the best whose distance
    is within the cap: 1 if len(word) <= 4 else min(2, len(word)//4)
    (:107-127); ties broken lexicographically (PHP keeps the first of the
    sorted candidate scan — we freeze (distance asc, term asc))
  * no candidate within cap -> keep the original word

Spark mapping (SURVEY.md J9/X4): the dictionary is a DataFrame; candidate
generation is a prefix+length filter (startswith pushes down), ranking uses
the built-in ``F.levenshtein`` — all JVM-side, no Python.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# FuzzySearch.php:62-74,133 — suggestions are cached for an hour
FUZZY_TTL_SECONDS = 3600.0


def edit_cap(word_len_col):
    """FuzzySearch.php:122 — max allowed edit distance per word length."""
    return F.when(word_len_col <= 4, F.lit(1)).otherwise(
        F.least(F.lit(2), (word_len_col / 4).cast("int"))
    )


def suggest_terms(
    dictionary: DataFrame, words: list[str], per_word: int = 5
) -> DataFrame:
    """For each input word, the ranked in-cap suggestions:
    (word, suggestion, distance, sugg_rank). Exact hits rank first with
    distance 0. The word list is a broadcast literal (tiny)."""
    spark = dictionary.sparkSession
    wdf = F.broadcast(
        spark.createDataFrame([(w.lower(),) for w in words], "word string")
    )
    cand = dictionary.select(F.col("term").alias("suggestion")).join(
        wdf,
        (F.substring("suggestion", 1, 1) == F.substring("word", 1, 1))
        & (
            F.abs(F.length("suggestion") - F.length("word")) <= 1
        ),
        "inner",
    )
    dist = cand.withColumn("distance", F.levenshtein("word", "suggestion"))
    capped = dist.filter(F.col("distance") <= edit_cap(F.length("word")))
    w = Window.partitionBy("word").orderBy(F.asc("distance"), F.asc("suggestion"))
    return (
        capped.withColumn("sugg_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sugg_rank") <= per_word)
        .select("word", "suggestion", "distance", "sugg_rank")
    )


def rewrite_query(dictionary: DataFrame, query_terms: list[str]) -> list[str]:
    """FuzzySearch.php:43-47 — replace each word with its best in-cap
    suggestion (or itself).  Driver-side: |query| rows.  Exact dictionary
    hits (:77-79) are found with one ``isin`` filter first; only the
    misses pay the levenshtein join, and a query with none runs no join."""
    words = sorted({t.lower() for t in query_terms})
    hits = dictionary.filter(F.col("term").isin(words)).select("term").collect()
    m = {r["term"]: r["term"] for r in hits}
    misses = [w for w in words if w not in m]
    if misses:
        best = suggest_terms(dictionary, misses, per_word=1).collect()
        m.update({r["word"]: r["suggestion"] for r in best})
    return [m.get(t.lower(), t.lower()) for t in query_terms]


class SuggestionCache:
    """(word -> best in-cap suggestion) memo with the reference's 1-hour
    TTL (FuzzySearch.php:62-74 reads the cache before scanning the
    dictionary; :133 stores with a 3600 s expiry).  Only words that are
    uncached (or expired) pay a levenshtein dictionary scan — a repeated
    misspelling resolves from the driver-side dict with ZERO Spark jobs.
    Driver-sized by construction: one entry per distinct queried word.

    ``now`` is injectable for deterministic TTL tests."""

    def __init__(self, ttl_seconds: float = FUZZY_TTL_SECONDS, now=time.time):
        self._ttl = float(ttl_seconds)
        self._now = now
        self._m: dict[str, tuple[str, float]] = {}

    def rewrite(self, dictionary: DataFrame, query_terms: list[str]) -> list[str]:
        """rewrite_query semantics, memoized: identical output, but the
        dictionary scan covers only the cache-miss words."""
        t = self._now()
        words = [w.lower() for w in query_terms]
        missing = sorted(
            {
                w
                for w in words
                if w not in self._m or t - self._m[w][1] > self._ttl
            }
        )
        if missing:
            for w, s in zip(missing, rewrite_query(dictionary, missing)):
                self._m[w] = (s, t)
        return [self._m[w][0] for w in words]


def dictionary_from_docs(doc_terms: DataFrame) -> DataFrame:
    """A5: the distinct-term dictionary (indexer dictionary collection,
    services/indexer/data/mongo_client.py:171-193)."""
    return doc_terms.select("term").distinct()
