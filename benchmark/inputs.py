"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``seed`` (and of the corpus the
seed produced), so one seed always gives the same corpus, the same
refresh snapshot and the same query stream. The engine only ever sees
the generated rows and query strings.
"""

from __future__ import annotations

import random

import pandas as pd

from posik_engine_spark import corpus

N_REPOS = 50
# queries issued between two never-seen (cold) queries: every COLD_EVERY-th
# query of the stream is new, so host bursts hit cold and warm samples alike
COLD_EVERY = 2
POOL_SIZE = 64
ZIPF_S = 1.1


_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_P4, _P5, _M = 9650029242287828579, 2870177450012600261, 2**64 - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` (the algorithm Spark's ``xxhash64`` applies)."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h = ((h ^ (h >> 33)) * _P2) & _M
    h = ((h ^ (h >> 29)) * _P3) & _M
    return h ^ (h >> 32)


def doc_id(repo: str, path: str, commit: str) -> int:
    """The engine's doc_id, ``xxhash64(repo, path, commit)`` with Spark's
    seed 42 chained through the columns, as a signed 64-bit integer;
    computed independently of the engine for the oracle."""
    h = 42
    for col in (repo, path, commit):
        h = _xxh64(col.encode("utf-8"), h)
    return h - 2**64 if h >= 2**63 else h


def zipf_corpus(n_docs: int, seed: int) -> pd.DataFrame:
    """The topical Zipf corpus (common/tail/rare terms, 50 repos)."""
    return corpus.zipf_docs_pdf(n_docs, N_REPOS, seed=seed, topical=True)


def refresh_snapshot(
    pdf: pd.DataFrame, seed: int, share: float = 0.01, n_repos: int = 3
) -> tuple[pd.DataFrame, dict[str, int]]:
    """A new full snapshot with ``share`` of the files changed.

    Modified, added and deleted files come about 2:1:1 and cluster in
    ``n_repos`` repos, the way a real push touches a few repositories.
    New contents are rows of a second corpus of the same shape (another
    seed) from the same repo, so they keep the repo's topical focus
    term, each with the marker term ``refreshed``. A modified file also
    gets a new commit, so its old version is stale. Returns the snapshot
    and the change counts.
    """
    rng = random.Random(f"refresh-{seed}")
    donor = zipf_corpus(len(pdf), seed + 2**32)
    repos = sorted(pdf["repo"].unique())
    hot = rng.sample(repos, min(n_repos, len(repos)))
    n_change = max(4, round(len(pdf) * share))
    n_mod, n_add = n_change // 2, n_change // 4
    n_del = n_change - n_mod - n_add
    in_hot = [i for i in pdf.index if pdf.at[i, "repo"] in hot]
    picked = rng.sample(in_hot, n_mod + n_del)
    mod, dele = picked[:n_mod], picked[n_mod:]

    def new_content(repo: str) -> str:
        i = rng.choice(donor.index[donor["repo"] == repo])
        return donor.at[i, "content"] + " refreshed"

    snap = pdf.copy()
    for i in mod:
        snap.at[i, "content"] = new_content(snap.at[i, "repo"])
        snap.at[i, "commit"] = "c2"
    snap = snap.drop(index=dele)
    added = [
        {
            "repo": hot[k % len(hot)],
            "path": f"src/new_{k:05d}.py",
            "commit": "c1",
            "lang": "text",
            "content": new_content(hot[k % len(hot)]),
        }
        for k in range(n_add)
    ]
    snap = pd.concat([snap, pd.DataFrame(added)], ignore_index=True)
    return snap, {"modified": n_mod, "added": n_add, "deleted": n_del}


class QueryStream:
    """A hot pool with Zipf-weighted repeats, with a never-seen query
    interleaved every ``COLD_EVERY`` queries.

    The repeats follow a smooth weighted round-robin over the Zipf
    weights, not random draws: every prefix of the stream holds each pool
    query within one draw of its share. A run on a slow host completes
    fewer queries than one on a fast host, and its warm sample still has
    the same mix.

    The pool mixes rare∧common, common∧common, Zipf-tail pairs and
    singles, three-term AND and relaxation cases (an unknown term, or
    two rare terms that never meet). It has no repo filter. ``tail`` is
    the corpus' tail vocabulary, most frequent first: the pool draws
    from its head, and each new query is led by a tail term no earlier
    query used, so its blocks, ordinals and contents miss the engine's
    caches.

    The traffic mix is the same for every seed: which query class holds
    which pool rank, the draw sequence, and the classes of the new
    queries and the frequency ranks of their lead terms. Tail terms are
    picked by their frequency rank (each random draw consumes the same
    state whatever the vocabulary size), so the seed changes the corpus
    and the exact terms, but not the kind of work a stream does.
    """

    def __init__(self, tail: list[str], extra: tuple[str, ...] = ()):
        mix = random.Random("query-mix")
        self._order = random.Random("fresh-order")
        self._partner = random.Random("fresh-partner")
        head = tail[: len(tail) // 4] or ["zzz"]
        self._fresh = tail[len(tail) // 4 :]
        commons = [f"common{c}" for c in range(1, 8)]
        self._commons = commons

        def rare() -> str:
            return f"rare{mix.randrange(N_REPOS)}"

        def tail_term() -> str:
            return head[int(mix.random() * len(head))]

        makers = [
            lambda: f"{rare()} {mix.choice(commons)}",
            lambda: " ".join(mix.sample(commons, 2)),
            lambda: f"{tail_term()} {tail_term()}",
            tail_term,
            lambda: f"{mix.choice(commons)} {tail_term()}",
            lambda: " ".join(mix.sample(commons, 2) + [tail_term()]),
            lambda: f"{rare()} zzz{mix.randrange(10**6)}",
            lambda: " ".join(f"rare{r}" for r in mix.sample(range(N_REPOS), 2)),
            lambda: mix.choice(commons),
        ]
        pool: list[str] = []
        while len(pool) < POOL_SIZE - len(extra):
            q = makers[len(pool) % len(makers)]()
            if q not in pool:
                pool.append(q)
        for i, q in enumerate(extra):  # mid-weight ranks 5, 10, ...
            pool.insert(5 * (i + 1), q)
        self.pool = pool
        self._weights = [1.0 / (i + 1) ** ZIPF_S for i in range(len(pool))]
        self._total = sum(self._weights)
        self._credit = [0.0] * len(pool)
        self._seen = set(pool)
        self._n = 0
        self._n_fresh = 0

    def fresh(self) -> str:
        """A query no earlier call returned, led by an unused tail term."""
        while True:
            if self._fresh:  # the same frequency rank for every seed
                lead = self._fresh.pop(int(self._order.random() * len(self._fresh)))
            else:  # tail exhausted (tiny corpora): an unknown term
                lead = f"zzz{self._partner.randrange(10**9)}"
            self._n_fresh += 1
            if self._n_fresh % 3 == 0:
                q = f"{lead} rare{self._partner.randrange(N_REPOS)}"
            else:
                q = f"{lead} {self._partner.choice(self._commons)}"
            if q not in self._seen:
                self._seen.add(q)
                return q

    def next(self) -> str:
        self._n += 1
        if self._n % COLD_EVERY == 0:
            return self.fresh()
        for i, w in enumerate(self._weights):
            self._credit[i] += w
        i = max(range(len(self.pool)), key=self._credit.__getitem__)
        self._credit[i] -= self._total
        return self.pool[i]
