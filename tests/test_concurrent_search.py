"""Concurrent searches on ONE engine (the serving shape — the
reference is a concurrent Spring service): responses stay
rank-identical to the single-threaded run, the driver caches never
corrupt, and the block-LRU postings accounting stays exact even under
forced eviction churn. Spark jobs are never run while the cache lock
is held (cold queries do not serialize each other).
"""

from __future__ import annotations

import threading

from posik_engine_spark import corpus, spec
from posik_engine_spark.operators.search import SearchEngine, _block_charge

QUERIES = [
    "merge", "token stream", "index block", "query shard",
    "score cache", "buffer reader writer",
]


def _hits(eng, q):
    return [(h[0], h[6]) for h in eng.search(q, limit=10).hits]


def _run_concurrent(eng, expected, rounds=4, threads_per_query=2):
    errors: list = []

    def worker(q):
        try:
            for _ in range(rounds):
                got = _hits(eng, q)
                if got != expected[q]:
                    errors.append((q, got, expected[q]))
        except Exception as e:  # surface crashes as failures, not hangs
            errors.append((q, repr(e)))

    ts = [
        threading.Thread(target=worker, args=(q,))
        for q in QUERIES
        for _ in range(threads_per_query)
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return errors


def _accounting_ok(eng):
    with eng._cache_lock:
        actual = sum(_block_charge(shards) for shards in eng._block_cache.values())
        return eng._block_cache_postings == actual


def test_concurrent_searches_rank_identical(spark):
    docs = corpus.synthetic_docs(spark, 200, seed=91)
    with SearchEngine.from_docs(spark, docs, n_shards=4) as eng:
        expected = {q: _hits(eng, q) for q in QUERIES}
        errors = _run_concurrent(eng, expected)
        assert not errors, errors[:3]
        assert _accounting_ok(eng)


def test_concurrent_searches_under_eviction_churn(spark, monkeypatch):
    """A tiny block-cache budget forces every query to evict the
    others' terms continuously — the exact interleaving that corrupts
    an unsynchronized LRU (double-counted postings, rows dropped from
    a result mid-assembly)."""
    docs = corpus.synthetic_docs(spark, 200, seed=93)
    monkeypatch.setattr(spec, "DRIVER_BLOCK_CACHE_MAX_POSTINGS", 50)
    with SearchEngine.from_docs(spark, docs, n_shards=4) as eng:
        expected = {q: _hits(eng, q) for q in QUERIES}
        errors = _run_concurrent(eng, expected, rounds=3)
        assert not errors, errors[:3]
        assert _accounting_ok(eng)


def test_concurrent_big_vocab_term_cache(spark, monkeypatch):
    """Small DRIVER_DICT_MAX_TERMS keeps the dictionary incomplete and
    makes every query clear+refill the term cache concurrently; the
    snapshot-assembled _term_info must never lose a real term."""
    docs = corpus.synthetic_docs(spark, 200, seed=95)
    monkeypatch.setattr(spec, "DRIVER_DICT_MAX_TERMS", 2)
    with SearchEngine.from_docs(spark, docs, n_shards=4) as eng:
        assert not eng._dict_complete
        expected = {q: _hits(eng, q) for q in QUERIES}
        errors = _run_concurrent(eng, expected, rounds=3)
        assert not errors, errors[:3]
