"""Self-test of the benchmark's answer checks (no Spark, a few seconds).

Each check must accept the oracle's own answer and reject a doctored one:
two ranks swapped, a dropped doc, a score off by 1e-6, a deleted key still
present.  Run from the repository root::

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from checks import (  # noqa: E402
    Oracle,
    check_absent,
    check_key_set,
    check_keyed,
    check_meta,
    check_ranked,
    fuzzy_rewrite,
)
from data import KEYS, Query  # noqa: E402

FAILURES: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        FAILURES.append(what)


def rows_of(df, oracle=None) -> list[dict]:
    rows = [dict(r) for r in df.to_dict("records")]
    if oracle is not None:
        for r in rows:
            r.update(zip(KEYS, oracle.keys.loc[r["doc_id"]]))
    return rows


def main() -> int:
    from moogle_spark.corpus import generate_docs_local
    from moogle_spark.oracle import build_oracle_index

    oracle = Oracle(build_oracle_index(generate_docs_local(300)))
    q = Query("hotterm0 hotterm1", "plain")
    exp = oracle.expected(q, 20)
    good = rows_of(exp, oracle)
    expect(len(good) == 20, "fixture query has a full top-20")

    # rank-id checks
    expect(not check_ranked(good, exp), "ranked: the oracle's own answer passes")
    swapped = [dict(r) for r in good]
    swapped[0]["rank"], swapped[1]["rank"] = 2, 1
    expect(bool(check_ranked(swapped, exp)), "ranked: two ranks swapped is rejected")
    expect(bool(check_ranked(good[:-1], exp)), "ranked: a dropped doc is rejected")
    dropped_mid = [dict(r) for r in good[:5] + good[6:]]
    for i, r in enumerate(dropped_mid):
        r["rank"] = i + 1
    expect(bool(check_ranked(dropped_mid, exp)), "ranked: a dropped doc with re-densed ranks is rejected")
    off = [dict(r) for r in good]
    off[3]["score"] += 1e-6
    expect(bool(check_ranked(off, exp)), "ranked: a score off by 1e-6 is rejected")
    page2 = oracle.expected(Query("hotterm0 hotterm1", "page2"), 10)
    expect(
        list(page2["rank"]) == list(range(11, 21)) and not check_ranked(rows_of(page2), page2),
        "ranked: page 2 holds global ranks k+1..2k",
    )

    # metadata
    expect(not check_meta(good, oracle.keys), "meta: the oracle's keys pass")
    wrong = [dict(r) for r in good]
    wrong[2]["path"] = wrong[2]["path"] + ".bak"
    expect(bool(check_meta(wrong, oracle.keys)), "meta: a wrong path is rejected")

    # key-and-score checks (any id space)
    full = oracle.topk(oracle.terms(q), oracle.idx.n_docs)
    expect(not check_keyed(good, full, oracle.keys, 20), "keyed: the oracle's own answer passes")
    tie = full.iloc[:20]
    tied = tie[tie["score"].duplicated(keep=False)]
    if len(tied) >= 2:
        i, j = tied.index[:2]
        perm = [dict(r) for r in good]
        for r in perm:
            if r["doc_id"] in (tie.loc[i, "doc_id"], tie.loc[j, "doc_id"]):
                other = tie.loc[j if r["doc_id"] == tie.loc[i, "doc_id"] else i]
                r.update(zip(KEYS, oracle.keys.loc[other["doc_id"]]))
        expect(not check_keyed(perm, full, oracle.keys, 20), "keyed: equal scores in either order pass")
    sw = [dict(r) for r in good]
    for c in KEYS:
        sw[0][c], sw[1][c] = sw[1][c], sw[0][c]
    if good[0]["score"] != good[1]["score"]:
        expect(bool(check_keyed(sw, full, oracle.keys, 20)), "keyed: two ranks swapped is rejected")
    expect(bool(check_keyed(good[:-1], full, oracle.keys, 20)), "keyed: a dropped doc is rejected")
    expect(bool(check_keyed(off, full, oracle.keys, 20)), "keyed: a score off by 1e-6 is rejected")

    # deletes and visibility
    keys = {tuple(r[c] for c in KEYS) for r in good}
    gone = next(iter(keys))
    expect(not check_absent(keys - {gone}, {gone}), "absent: a deleted key that is gone passes")
    expect(bool(check_absent(keys, {gone})), "absent: a deleted key still present is rejected")
    expect(not check_key_set(keys, set(keys), "token"), "key set: the exact set passes")
    expect(bool(check_key_set(keys, keys - {gone}, "token")), "key set: an extra (deleted) key is rejected")

    # fuzzy rule
    d = {"parse": 3, "parser": 2, "pause": 1, "zebra": 1}
    expect(fuzzy_rewrite(["parse"], d) == ["parse"], "fuzzy: a dictionary word is kept")
    expect(fuzzy_rewrite(["pbrse"], d) == ["parse"], "fuzzy: one substitution maps back")
    expect(fuzzy_rewrite(["qqqqq"], d) == ["qqqqq"], "fuzzy: no candidate keeps the word")

    print(f"{len(FAILURES)} failed")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
