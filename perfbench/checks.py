"""Answer checks made apart from the engine.

Expected answers come from ``moogle_spark.oracle`` (single process, no
Spark) plus an independent re-statement of the fuzzy rewrite rule.  Every
check returns a list of problems; an empty list means the answer is right.
Property checks (dense ranks, non-increasing scores) run on every result.
"""

from __future__ import annotations

import pandas as pd

from data import KEYS, Query

SCORE_TOL = 1e-9


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def fuzzy_rewrite(words: list[str], dictionary: dict[str, int]) -> list[str]:
    """The FuzzySearch rule: keep a dictionary word; otherwise the
    dictionary term with the same first letter, length within one, and
    the smallest edit distance within the cap (1 up to four letters, else
    min(2, len // 4)), ties to the smaller term; else the word itself."""
    out = []
    for w in words:
        w = w.lower()
        if w in dictionary:
            out.append(w)
            continue
        cap = 1 if len(w) <= 4 else min(2, len(w) // 4)
        best = None
        for t in dictionary:
            if t[:1] == w[:1] and abs(len(t) - len(w)) <= 1:
                d = _levenshtein(w, t)
                if d <= cap and (best is None or (d, t) < best):
                    best = (d, t)
        out.append(best[1] if best else w)
    return out


class Oracle:
    """oracle_search answers for one corpus, memoized per (terms, k)."""

    def __init__(self, idx):
        from moogle_spark.analyzer import tokenize_query

        self.idx = idx
        self._tokenize = tokenize_query
        self._memo: dict = {}
        self.keys = idx.meta.set_index("doc_id")[KEYS]

    def terms(self, q: Query) -> list[str]:
        terms = sorted(set(self._tokenize(q.text)))
        if q.variant.startswith("fuzzy") and terms:
            terms = sorted(set(fuzzy_rewrite(terms, self.idx.df)))
        return terms

    def topk(self, terms: list[str], k: int) -> pd.DataFrame:
        from moogle_spark.oracle import oracle_search

        key = (tuple(terms), k)
        if key not in self._memo:
            # tokenize_query is a whitespace split: joining the analyzed
            # terms back with spaces reproduces them exactly
            self._memo[key] = oracle_search(self.idx, " ".join(terms), k=k)
        return self._memo[key]

    def expected(self, q: Query, k: int) -> pd.DataFrame:
        """The rows one stream query must return (global ranks)."""
        terms = self.terms(q)
        if q.variant == "page2":
            return self.topk(terms, 2 * k).iloc[k:].reset_index(drop=True)
        return self.topk(terms, k)


def properties(rows: list[dict], first_rank: int = 1) -> list[str]:
    """Ranks dense from ``first_rank`` and scores non-increasing."""
    probs = []
    ranks = [r["rank"] for r in rows]
    if ranks != list(range(first_rank, first_rank + len(rows))):
        probs.append(f"ranks not dense from {first_rank}: {ranks}")
    scores = [r["score"] for r in rows]
    if any(b > a for a, b in zip(scores, scores[1:])):
        probs.append("scores increase with rank")
    return probs


def check_ranked(rows: list[dict], exp: pd.DataFrame) -> list[str]:
    """Rank-id index: doc_id and rank exactly, scores within SCORE_TOL."""
    first = int(exp["rank"].iloc[0]) if len(exp) else 1
    rows = sorted(rows, key=lambda r: r["rank"])
    probs = properties(rows, first)
    if len(rows) != len(exp):
        return probs + [f"{len(rows)} rows, oracle has {len(exp)}"]
    for r, (_, e) in zip(rows, exp.iterrows()):
        if r["doc_id"] != e["doc_id"] or r["rank"] != e["rank"]:
            probs.append(f"rank {e['rank']}: doc {r['doc_id']} at rank {r['rank']}, oracle doc {e['doc_id']}")
        elif abs(r["score"] - e["score"]) > SCORE_TOL:
            probs.append(f"doc {r['doc_id']}: score {r['score']!r}, oracle {e['score']!r}")
    return probs


def check_meta(rows: list[dict], keys: pd.DataFrame) -> list[str]:
    """Enriched rows carry the oracle's (repo, path, commit) for their id."""
    probs = []
    for r in rows:
        want = tuple(keys.loc[r["doc_id"]]) if r["doc_id"] in keys.index else None
        if tuple(r[c] for c in KEYS) != want:
            probs.append(f"doc {r['doc_id']}: metadata {[r[c] for c in KEYS]}, oracle {want}")
    return probs


def check_keyed(rows: list[dict], ranking: pd.DataFrame, keys: pd.DataFrame, k: int) -> list[str]:
    """Any-id index, compared by (repo, path, commit) and score.

    ``ranking`` is the oracle's full ranking.  Equal scores may order
    differently when the id spaces differ, so each row's key must be one
    of the oracle's keys with that row's score, and the score sequence
    must match the oracle's top-k."""
    rows = sorted(rows, key=lambda r: r["rank"])
    probs = properties(rows)
    want = ranking.iloc[:k]
    if len(rows) != len(want):
        return probs + [f"{len(rows)} rows, oracle has {len(want)}"]
    full = ranking.assign(key=[tuple(keys.loc[d]) for d in ranking["doc_id"]])
    seen = set()
    for r, s in zip(rows, want["score"]):
        key = tuple(r[c] for c in KEYS)
        if abs(r["score"] - s) > SCORE_TOL:
            probs.append(f"rank {r['rank']}: score {r['score']!r}, oracle {s!r}")
            continue
        tied = full[(full["score"] - r["score"]).abs() <= SCORE_TOL]["key"]
        if key not in set(tied) or key in seen:
            probs.append(f"rank {r['rank']}: {key} not an oracle answer at score {s!r}")
        seen.add(key)
    return probs


def check_key_set(got: set, want: set, what: str) -> list[str]:
    if got == want:
        return []
    return [f"{what}: {len(got - want)} unexpected, {len(want - got)} missing"]


def check_absent(got: set, deleted: set) -> list[str]:
    hit = got & deleted
    return [f"deleted keys still served: {sorted(hit)[:3]}"] if hit else []
