"""Inputs and independent answers for the benchmark.

* The corpus is the library's deterministic ``generate_docs_local`` corpus
  (no Spark), written once as parquet and reused; the cache key hashes the
  generator's source and the corpus size, so a generator change can never
  reuse a stale corpus.
* The oracle is ``moogle_spark.oracle`` (single process, no Spark) over the
  same corpus, pickled next to it under the same key.
* Each workload starts from a copy of a warehouse that ``build_index``
  wrote once (rank ids for serve, stable ids for churn); its cache key
  adds a hash of the package source, so a program change rebuilds it.
* Query streams and churn plans are pure functions of ``--seed``.

Rebuild every cache from scratch::

    python3 perfbench/data.py rebuild

``run.py`` builds whatever is missing before its measured session starts,
in a process of its own (``run.py --prepare``), so every measured session
starts cold.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import pickle
import random
import shutil
import sys
from dataclasses import dataclass

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")

# both workloads index the same corpus; the per-run time budget sets its
# size
N_DOCS = 2000
KEYS = ["repo", "path", "commit"]
K = 20


def corpus_tag() -> str:
    import moogle_spark.corpus as corpusmod

    return hashlib.sha256(inspect.getsource(corpusmod).encode()).hexdigest()[:12]


def package_tag() -> str:
    pkg = os.path.join(ROOT, "moogle_spark")
    h = hashlib.sha256()
    for name in sorted(os.listdir(pkg)):
        if name.endswith(".py"):
            with open(os.path.join(pkg, name), "rb") as f:
                h.update(name.encode() + f.read())
    return h.hexdigest()[:12]


# workload -> doc_id_mode of the warehouse it starts from
BASES = {"serve": "rank", "churn": "stable"}


def base_warehouse(workload: str) -> str:
    """The warehouse a workload's runs start from (each run copies it)."""
    return os.path.join(CACHE, f"wh_{workload}_{corpus_tag()}_{package_tag()}")


def prepared() -> bool:
    return all(map(os.path.exists, [*_paths(), *map(base_warehouse, BASES)]))


def ensure_bases(spark) -> None:
    """Build every missing base warehouse; evict those of other versions."""
    from moogle_spark.build import build_index

    keep = {base_warehouse(w) for w in BASES}
    for name in os.listdir(CACHE):
        if name.startswith("wh_") and os.path.join(CACHE, name) not in keep:
            shutil.rmtree(os.path.join(CACHE, name))
    for w, mode in BASES.items():
        dst = base_warehouse(w)
        if not os.path.exists(dst):
            tmp = dst + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            build_index(spark, spark.read.parquet(corpus_path()), tmp, doc_id_mode=mode)
            os.replace(tmp, dst)


def _paths() -> tuple[str, str]:
    base = os.path.join(CACHE, f"corpus_{N_DOCS}_{corpus_tag()}")
    return base + ".parquet", base + ".oracle.pkl"


def ensure_corpora() -> None:
    """Write the corpus parquet and its oracle pickle if missing."""
    from moogle_spark.corpus import generate_docs_local
    from moogle_spark.oracle import build_oracle_index

    pq, pk = _paths()
    if os.path.exists(pq) and os.path.exists(pk):
        return
    os.makedirs(CACHE, exist_ok=True)
    for name in os.listdir(CACHE):  # evict corpora of other generator code
        if name.startswith("corpus_"):
            os.remove(os.path.join(CACHE, name))
    docs = generate_docs_local(N_DOCS)
    idx = build_oracle_index(docs)
    idx.positions = {}  # phrase data; oracle_search never reads it
    _atomic(pq, lambda p: docs.to_parquet(p, index=False))
    _atomic(pk, lambda p: _dump(idx, p))


def _dump(obj, path: str) -> None:
    with open(path, "wb") as f:
        pickle.dump(obj, f, protocol=pickle.HIGHEST_PROTOCOL)


def _atomic(path: str, write) -> None:
    tmp = path + ".tmp"
    write(tmp)
    os.replace(tmp, path)


def corpus_path() -> str:
    return _paths()[0]


def load_corpus() -> pd.DataFrame:
    return pd.read_parquet(_paths()[0])


def load_oracle():
    # the pickle is written by ensure_corpora above, never taken from outside
    with open(_paths()[1], "rb") as f:
        return pickle.load(f)


def content_bytes(docs: pd.DataFrame) -> int:
    return int(docs["content"].str.len().sum())


# --------------------------------------------------------------------------
# query stream

# one cycle of eight stream positions: which variant each position runs.
# Serve times whole cycles, so every run's single searches hold the same
# mix of kinds and their median stays steady.
VARIANTS = ("plain",) * 4 + ("fuzzy_typo", "enrich", "page2", "fuzzy_exact")
WARM_SEED = 2**31 - 1  # the warm-up stream, the same in every run


@dataclass(frozen=True)
class Query:
    text: str
    variant: str  # plain | fuzzy_typo | enrich | page2 | fuzzy_exact

    @property
    def kwargs(self) -> dict:
        return {
            "plain": {},
            "fuzzy_typo": {"fuzzy": True},
            "fuzzy_exact": {"fuzzy": True},
            "enrich": {"enrich": True},
            "page2": {"page": 2},
        }[self.variant]


def _misspell(word: str, rng: random.Random) -> str:
    """One substitution past the first letter (the fuzzy rule keys
    candidates on the first letter)."""
    i = rng.randrange(1, len(word))
    c = rng.choice([ch for ch in "abcdefghijklmnopqrstuvwxyz" if ch != word[i]])
    return word[:i] + c + word[i + 1 :]


def query_stream(seed: int, n: int, df: dict[str, int]) -> list[Query]:
    """``n`` queries; the variant follows the stream position (VARIANTS).
    Fuzzy positions draw 1-3 vocabulary words of five letters or more
    (the first misspelled for ``fuzzy_typo``); every fourth position
    (2 and 6 of each cycle: plain and page2) takes the next of the 40
    reference queries (seeded order); the rest are 1-5 Zipf-drawn
    vocabulary terms.  ``df`` is the oracle's dictionary, used only to
    pick words long enough and present enough to misspell."""
    from moogle_spark.corpus import _ZIPF_CDF, VOCAB, reference_queries

    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    refs = [q["query"] for q in reference_queries()]
    rng.shuffle(refs)
    out: list[Query] = []
    for i in range(n):
        variant = VARIANTS[i % len(VARIANTS)]
        if variant in ("fuzzy_typo", "fuzzy_exact"):
            n_terms = rng.randint(1, 3)
            words = []
            while len(words) < n_terms:
                w = VOCAB[int(np.searchsorted(_ZIPF_CDF, nrng.random()))]
                if len(w) >= 5 and w in df:
                    words.append(w)
            if variant == "fuzzy_typo":
                words[0] = _misspell(words[0], rng)
            out.append(Query(" ".join(words), variant))
        elif i % 4 == 2:
            out.append(Query(refs[(i // 4) % len(refs)], variant))
        else:
            ranks = np.searchsorted(_ZIPF_CDF, nrng.random(rng.randint(1, 5)))
            out.append(Query(" ".join(VOCAB[int(r)] for r in ranks), variant))
    return out


# --------------------------------------------------------------------------
# churn plan


@dataclass
class ChurnRound:
    token: str
    upserts: pd.DataFrame  # full docs: changed base docs + new docs
    deletes: pd.DataFrame  # keys only


class ChurnPlan:
    """Seeded, cumulative churn over a base corpus.  Round r upserts ~1%
    changed docs (content + the round token) plus ~0.5% new docs, each
    carrying the round-unique token, and deletes a few keys: some upserted
    in the previous round, the rest untouched base docs."""

    def __init__(self, base: pd.DataFrame, seed: int):
        self.seed = seed
        self.rng = random.Random(seed * 7919 + 1)
        self.live = base.set_index(KEYS, drop=False)
        self.n_base = len(base)
        self.next_new = N_DOCS  # generator indices past the corpus
        self.rounds: list[ChurnRound] = []

    def token(self, r: int) -> str:
        return f"zzchurn{self.seed}r{r}q"

    def next_round(self) -> ChurnRound:
        from moogle_spark.corpus import _gen_one

        r = len(self.rounds) + 1
        tok = self.token(r)
        prev = set(self.rounds[-1].upserts.set_index(KEYS).index) if self.rounds else set()
        live_keys = list(self.live.index)
        n_change = max(1, self.n_base // 100)
        n_new = max(1, self.n_base // 200)
        changed_keys = self.rng.sample(live_keys, n_change)
        changed = self.live.loc[changed_keys].reset_index(drop=True).copy()
        changed["content"] = changed["content"] + f" {tok}"
        new = []
        for _ in range(n_new):
            d = _gen_one(self.next_new, self.next_new + 1)
            d["content"] += f" {tok}"
            new.append(d)
            self.next_new += 1
        upserts = pd.concat([changed, pd.DataFrame(new)], ignore_index=True)
        touched = set(changed_keys)
        from_prev = sorted(k for k in prev if k in self.live.index and k not in touched)
        dels = self.rng.sample(from_prev, min(3, len(from_prev)))
        rest = [k for k in live_keys if k not in touched and k not in prev]
        dels += self.rng.sample(rest, 8 - len(dels))
        deletes = pd.DataFrame(dels, columns=KEYS)
        # apply to the model of the live corpus
        up = upserts.set_index(KEYS, drop=False)
        self.live = pd.concat([self.live.drop(index=up.index, errors="ignore"), up])
        self.live = self.live.drop(index=pd.MultiIndex.from_frame(deletes))
        rnd = ChurnRound(tok, upserts, deletes)
        self.rounds.append(rnd)
        return rnd

    def deleted_so_far(self) -> list[tuple]:
        """Every key deleted so far (new docs get fresh keys, so a deleted
        key never comes back)."""
        return [tuple(k) for r in self.rounds for k in r.deletes.itertuples(index=False)]

    def live_docs(self) -> pd.DataFrame:
        return self.live.reset_index(drop=True)

    def expected_token_keys(self, r: int) -> set[tuple]:
        """Live docs that still carry round r's token."""
        live = self.live_docs()
        # tokens end in "q", so one token is never a prefix of another
        hit = live[live["content"].str.contains(self.token(r), regex=False)]
        return set(map(tuple, hit[KEYS].itertuples(index=False)))


def main(argv: list[str]) -> int:
    if argv[1:] != ["rebuild"]:
        print(__doc__, file=sys.stderr)
        return 2
    import subprocess

    shutil.rmtree(CACHE, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--prepare"], check=True)
    print(f"rebuilt {sorted(os.listdir(CACHE))}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
