"""Driver-direct serving reads (operators/direct_io.py — round-4
verdict item 1), the hash-bucketed term dictionary (item 4), and the
round-4 advisor hardening of the WAND tie handling:

- every direct pyarrow point read returns exactly what its pruned
  Spark reference returns (``ix.blocks.filter``, ``_resolve_ords_spark``,
  ``Index.term_info``, ``ContentStore.lookup_plan`` and its ``_df``);
- a COLD query serves end-to-end without touching ANY Spark
  index/content frame (the poison test — the whole point of the direct
  path is removing per-query Spark jobs), on a file-backed engine and
  on an in-memory one (served from the copy it saved);
- the dictionary probe partition-prunes to the queried terms' buckets
  and the driver-side bucket function agrees with the Spark-side one;
- the keep-ties survivor set is capped (duplicate-heavy corpora must
  not make per-shard output scale with the tie-group size);
- the distributed resolution path fails LOUDLY on a registry missing
  scored ordinals (it used to truncate silently where the driver path
  raised), and wand_topk_rows == wand_topk exactly.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from posik_engine_spark import corpus, oracle, spec
from posik_engine_spark.functions.stemmer import resolve as resolve_stemmer
from posik_engine_spark.functions.tokenizer import tokenize_py
from posik_engine_spark.operators import index as I
from posik_engine_spark.operators import wand as W
from posik_engine_spark.operators.content_store import (
    ContentStore,
    save_content_store,
)
from posik_engine_spark.operators.direct_io import (
    DirectIndexReader,
    term_bucket,
)
from posik_engine_spark.operators.search import SearchEngine

QUERIES = ["varint merge", "spark", "merge sort stream", "qzzqx varint"]


@pytest.fixture(scope="module")
def docs(spark):
    return corpus.synthetic_docs(spark, 140, seed=31).cache()


@pytest.fixture(scope="module")
def ixdir(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("direct_ix"))
    I.save_index(I.build_index(docs, n_shards=4, cache=False), d)
    return d


@pytest.fixture(scope="module")
def contentdir(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("direct_cs"))
    save_content_store(docs, d, n_buckets=8)
    return d


# --------------------------------------------------- direct == Spark


def test_reader_rejects_non_index_dir(ixdir, tmp_path):
    DirectIndexReader(ixdir).close()
    for bad in (str(tmp_path), None):
        with pytest.raises(ValueError, match="not a local index dir"):
            DirectIndexReader(bad)


def test_blocks_direct_match_spark(spark, ixdir):
    ix = I.load_index(spark, ixdir)
    rd = DirectIndexReader(ixdir)
    terms = ["varint", "merge", "qzzqx-not-a-term"]

    def key(r):
        return (r["term"], int(r["shard"]), int(r["block_id"]))

    got = {key(r): r for r in rd.blocks_for_terms(terms)}
    want = {
        key(r): r.asDict()
        for r in ix.blocks.filter(F.col("term").isin(terms)).collect()
    }
    assert set(got) == set(want) and got
    for k, g in got.items():
        w = want[k]
        assert set(g) == set(w)
        for c in g:
            gv, wv = g[c], w[c]
            if isinstance(gv, (bytes, bytearray)) or isinstance(
                wv, (bytes, bytearray)
            ):
                assert bytes(gv) == bytes(wv), (k, c)
            else:
                assert gv == wv, (k, c)


def test_resolve_ords_direct_matches_spark(spark, ixdir):
    ix = I.load_index(spark, ixdir)
    rd = DirectIndexReader(ixdir)
    keys = [
        (int(r["shard"]), int(r["ord"]))
        for r in ix.doc_stats.select("shard", "ord").limit(17).collect()
    ]
    assert keys
    got = rd.resolve_ords(keys)
    want = W._resolve_ords_spark(ix, keys)
    assert got == want and set(got) == set(keys)
    assert rd.resolve_ords([]) == {}
    # absent keys simply don't resolve (the caller raises, same as the
    # Spark path's contract)
    assert rd.resolve_ords([(0, 10**9)]) == {}


def test_term_info_direct_matches_spark(spark, ixdir):
    ix = I.load_index(spark, ixdir)
    rd = DirectIndexReader(ixdir)
    vocab = [r["term"] for r in ix.term_stats.limit(12).collect()]
    probe = vocab + ["qzzqx-not-a-term"]
    got = {r["term"]: (int(r["df"]), int(r["ctf"])) for r in rd.term_info_rows(probe)}
    want = {t: (df, ctf) for t, (_idf, df, ctf) in ix.term_info(probe).items()}
    assert got == want and set(got) == set(vocab)


def _plan_fetch(store, ids) -> dict:
    """The Spark reference of ``ContentStore.fetch``."""
    return {r["doc_id"]: r for r in store.lookup_plan(ids).collect()}


def _plan_repos(store, ids) -> dict:
    """The Spark reference of ``ContentStore.repos_for_ids``."""
    rows = (
        store._df.filter(F.col("doc_id").isin(list(ids)))
        .select("doc_id", "repo")
        .collect()
    )
    return {int(r["doc_id"]): r["repo"] for r in rows}


def test_content_store_direct_matches_spark(spark, contentdir):
    store = ContentStore(spark, contentdir)
    try:
        assert store._table.files  # the bucket files are pinned
        ids = [r["doc_id"] for r in store._df.select("doc_id").limit(9).collect()]
        a, b = store.fetch(ids), _plan_fetch(store, ids)
        assert set(a) == set(b) == set(ids)
        for i in ids:
            assert a[i].asDict() == b[i].asDict()
    finally:
        store.close()


# ------------------------------------------------- bucketed dictionary


def test_term_bucket_driver_matches_spark(spark, ixdir):
    ix = I.load_index(spark, ixdir)
    rows = (
        I.with_term_bucket(ix.term_stats.select("term"), spec.TERM_STATS_BUCKETS)
        .select("term", "tbucket")
        .collect()
    )
    assert rows
    for r in rows:
        assert term_bucket(r["term"], spec.TERM_STATS_BUCKETS) == int(
            r["tbucket"]
        ), r["term"]


def test_dictionary_probe_prunes_to_buckets(spark, ixdir):
    """A dictionary probe must partition-prune on tbucket (hive) and
    push the term filter into the files — verdict item 4's 'probe reads
    one bucket' claim, pinned in the physical plan."""
    ix = I.load_index(spark, ixdir)
    terms = ["varint", "merge"]
    n = ix.term_buckets or spec.TERM_STATS_BUCKETS
    cond = F.col("tbucket").isin([term_bucket(t, n) for t in terms]) & F.col(
        "term"
    ).isin(terms)
    plan = (
        ix.term_stats.filter(cond)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    part = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "tbucket" in part, plan
    assert "In(term" in plan.split("PushedFilters:")[1], plan


def test_bucketed_write_is_not_single_file(ixdir):
    import glob
    import os

    bdirs = glob.glob(os.path.join(ixdir, "term_stats", "tbucket=*"))
    assert len(bdirs) > 1  # the vocabulary write no longer funnels


# ------------------------------------------- cold query without Spark


class _Boom:
    def __getattr__(self, name):
        raise AssertionError(f"direct-path query touched a Spark frame (.{name})")


class _SparkReads:
    """The Spark references of the three index point reads, in
    ``DirectIndexReader``'s shape: an engine given this instead of its
    reader serves every cold read through Spark."""

    def __init__(self, ix):
        self.ix = ix

    def blocks_for_terms(self, terms):
        return self.ix.blocks.filter(F.col("term").isin(terms)).collect()

    def resolve_ords(self, keys):
        return W._resolve_ords_spark(self.ix, keys)

    def term_info_rows(self, terms):
        return [
            {"term": t, "df": df, "ctf": ctf}
            for t, (_idf, df, ctf) in self.ix.term_info(terms).items()
        ]

    def close(self):
        pass


def test_cold_query_runs_no_spark_frame_access(spark, docs, ixdir, contentdir, monkeypatch):
    """File-backed engine + direct IO: a COLD query (nothing cached)
    serves entirely from the driver-direct pyarrow reads — poison every
    Spark frame the old path touched and search must still work,
    returning exactly what an engine reading through Spark returns."""
    # force the big-vocab path so the dictionary probe itself is cold
    monkeypatch.setattr(spec, "DRIVER_DICT_MAX_TERMS", 0)
    ref = SearchEngine.from_index_dir(
        spark, ixdir, content_dir=contentdir
    )
    ref._direct.close()
    ref._direct = _SparkReads(ref.ix)  # Spark reads end-to-end
    ref._store.fetch = lambda ids: _plan_fetch(ref._store, ids)
    eng = SearchEngine.from_index_dir(spark, ixdir, content_dir=contentdir)
    assert isinstance(eng._direct, DirectIndexReader)
    assert not isinstance(ref._direct, DirectIndexReader)
    n = ref.ix.meta.n_docs
    vocab = [
        r["term"]
        for r in ref.ix.term_stats.filter(
            (F.col("df") >= 3) & (F.col("df") <= n // 2)
            & ~F.col("term").isin(sorted(spec.STOP_TOKENS))
        )
        .orderBy(F.desc("ctf"), "term")
        .limit(8)
        .collect()
    ]
    queries = [f"{vocab[0]} {vocab[3]}", vocab[1], f"{vocab[2]} {vocab[5]} {vocab[7]}"]
    real = (eng.ix.blocks, eng.ix.doc_stats, eng.ix.term_stats, eng._store._df)
    eng.ix.blocks = eng.ix.doc_stats = eng.ix.term_stats = _Boom()
    eng._store._df = _Boom()
    try:
        for q in queries:
            got = eng.search(q, limit=10)
            want = ref.search(q, limit=10)
            assert [tuple(h) for h in got.hits] == [tuple(h) for h in want.hits], q
    finally:
        eng.ix.blocks, eng.ix.doc_stats, eng.ix.term_stats, eng._store._df = real
        eng.close()
        ref.close()


@pytest.mark.parametrize("stemmer", [None, "porter"])
def test_in_memory_cold_query_serves_from_saved_copy(spark, docs, stemmer, monkeypatch):
    """An in-memory engine (from_docs) serves cold queries from the
    index copy it saved, without touching a Spark index frame: with
    the dictionary not loaded at open and the frames poisoned, one-
    and multi-term queries return the oracle's hits (doc_id, score)."""
    monkeypatch.setattr(spec, "DRIVER_DICT_MAX_TERMS", 0)
    rows = docs.select(
        F.xxhash64("repo", "path", "commit").alias("doc_id"),
        "repo", "path", "content",
    ).collect()
    norm = resolve_stemmer(stemmer)
    want_ix = oracle.build_oracle_index([r.asDict() for r in rows], norm)
    n = len(rows)

    def fixed_point(t: str) -> bool:
        # the oracle tokenizes the query without stemming, so query
        # words must be their own normal form
        toks = tokenize_py(t)
        return toks == [t] and (
            norm is None or norm.flat(tokenize_py(t, norm.token_re)) == [t]
        )

    common = sorted(
        (t for t, p in want_ix.postings.items()
         if 3 <= len(p) <= n // 2 and t not in spec.STOP_TOKENS and fixed_point(t)),
        key=lambda t: (-len(want_ix.postings[t]), t),
    )
    queries = [common[0], f"{common[1]} {common[4]}", f"{common[2]} {common[3]} {common[6]}"]
    with SearchEngine.from_docs(spark, docs, n_shards=4, stemmer=stemmer) as eng:
        assert not eng._dict_complete
        real = (eng.ix.blocks, eng.ix.doc_stats, eng.ix.term_stats)
        eng.ix.blocks = eng.ix.doc_stats = eng.ix.term_stats = _Boom()
        try:
            for q in queries:
                want, _ = oracle.oracle_search(want_ix, q, limit=10)
                got = [(int(h[0]), h[6]) for h in eng.search(q, limit=10).hits]
                assert got == want, q
        finally:
            eng.ix.blocks, eng.ix.doc_stats, eng.ix.term_stats = real


# ------------------------------------------------------- keep-ties cap


def _dup_pdf() -> pd.DataFrame:
    """60 docs sharing ONE content body (one shard) + 5 fillers keeping
    'alpha' under the theta DF filter: every match ties exactly — the
    advisor's duplicate-heavy corpus."""
    body = "alpha beta gamma delta " * 8
    n, extra = 60, 5
    return pd.DataFrame(
        {
            "repo": ["r0"] * (n + extra),
            "path": [f"src/d{i:03d}.txt" for i in range(n + extra)],
            "commit": ["c0"] * (n + extra),
            "lang": ["text"] * (n + extra),
            "content": [body] * n + ["omega psi chi " * 8] * extra,
        }
    )


@pytest.fixture(scope="module")
def dup_ix(spark):
    return I.build_index(spark.createDataFrame(_dup_pdf()), n_shards=1, cache=False)


def test_tie_cap_bounds_survivors(spark, dup_ix, monkeypatch):
    monkeypatch.setattr(spec, "WAND_TIE_CAP_FACTOR", 3)
    ix = dup_ix
    blocks = pd.DataFrame([r.asDict() for r in ix.blocks.collect()])
    info = ix.term_info(["alpha"])
    diag: dict = {}
    out = W.shard_topk(
        blocks[blocks["term"] == "alpha"],
        None,
        ["alpha"],
        {"alpha": info["alpha"][0]},
        ix.meta.avgdl,
        k=5,
        diag=diag,
    )
    # 60 exact ties, capped at WAND_TIE_CAP_FACTOR * k = 15
    assert len(out) == 15
    assert diag.get("tie_overflow", 0) == 1
    # deterministic truncation: ordinals ascend within the tied score
    assert list(out["ord"]) == sorted(out["ord"])


def test_tie_cap_search_still_exact_above_boundary(spark, dup_ix, monkeypatch):
    """With the cap forced tiny, a search still returns `limit` hits
    and each returned doc carries the (identical) tied score."""
    monkeypatch.setattr(spec, "WAND_TIE_CAP_FACTOR", 1)
    eng = SearchEngine(
        spark, dup_ix, spark.createDataFrame(_dup_pdf()),
        optimize_for_queries=False,
    )
    try:
        resp = eng.search("alpha", limit=5)
        assert len(resp.hits) == 5
        # hits are RESULT_SCHEMA tuples; score is the last column
        scores = [h[-1] for h in resp.hits]
        assert scores == [pytest.approx(scores[0])] * 5  # all tied
    finally:
        eng.close()


# -------------------------------------- loud distributed resolution


def test_wand_topk_rows_matches_wand_topk(spark, docs):
    ix = I.build_index(docs, n_shards=4, cache=False)
    info = ix.term_info(["varint", "merge"])
    idfs = {t: v[0] for t, v in info.items()}
    dfs = {t: v[1] for t, v in info.items()}
    want = [
        (int(r["doc_id"]), r["score"])
        for r in W.wand_topk(ix, idfs, dfs, k=10).collect()
    ]
    got = [(int(r["doc_id"]), r["score"]) for r in W.wand_topk_rows(ix, idfs, dfs, k=10)]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, abs=1e-12)


def test_distributed_resolution_fails_loud_on_stale_registry(spark, docs):
    """Drop ONE scored ordinal from doc_stats: the distributed path
    must raise (it used to silently truncate the top-k) — round-4
    advisor item."""
    ix = I.build_index(docs, n_shards=4, cache=False)
    info = ix.term_info(["varint", "merge"])
    idfs = {t: v[0] for t, v in info.items()}
    dfs = {t: v[1] for t, v in info.items()}
    top = W.wand_topk(ix, idfs, dfs, k=10).collect()
    assert top
    # find the (shard, ord) of the best hit and remove it from the registry
    best = int(top[0]["doc_id"])
    row = ix.doc_stats.filter(F.col("doc_id") == best).select("shard", "ord").first()
    stale = I.Index(
        blocks=ix.blocks,
        doc_stats=ix.doc_stats.filter(
            ~((F.col("shard") == row["shard"]) & (F.col("ord") == row["ord"]))
        ),
        term_stats=ix.term_stats,
        meta=ix.meta,
    )
    with pytest.raises(Exception, match="corrupt or stale"):
        W.wand_topk(stale, idfs, dfs, k=10).collect()
    with pytest.raises(Exception, match="corrupt or stale"):
        W.wand_topk_rows(stale, idfs, dfs, k=10)


def test_resolve_switches_to_join_past_isin_threshold(spark, docs, monkeypatch):
    """Past RESOLVE_ISIN_MAX_KEYS the resolver uses a broadcast join
    instead of a giant IN literal — same answer either way."""
    ix = I.build_index(docs, n_shards=4, cache=False)
    keys = [
        (int(r["shard"]), int(r["ord"]))
        for r in ix.doc_stats.select("shard", "ord").limit(40).collect()
    ]
    via_isin = W._resolve_ords_spark(ix, keys)
    monkeypatch.setattr(spec, "RESOLVE_ISIN_MAX_KEYS", 10)
    via_join = W._resolve_ords_spark(ix, keys)
    assert via_isin == via_join and set(via_join) == set(keys)


def test_tie_overflow_propagates_to_driver_diag(spark, dup_ix, monkeypatch):
    """wand_topk_driver must surface the per-shard tie_overflow counter
    in its merged diag (round-5 review finding): monitoring reads ONLY
    the merged diag, and a silent truncation of boundary ties is
    exactly the event it exists to observe."""
    monkeypatch.setattr(spec, "WAND_TIE_CAP_FACTOR", 3)
    info = dup_ix.term_info(["alpha"])
    diag: dict = {}
    W.wand_topk_driver(
        dup_ix,
        {"alpha": info["alpha"][0]},
        {"alpha": info["alpha"][1]},
        k=5,
        diag=diag,
    )
    assert diag.get("tie_overflow", 0) >= 1


def test_repos_for_ids_matches_fetch_on_both_paths(spark, contentdir):
    """The slim (doc_id, repo) point read agrees with fetch()'s repo
    column on the pinned files AND with the Spark reference over the
    store's frame, including absent ids (simply not returned, like
    fetch)."""
    store = ContentStore(spark, contentdir)
    try:
        ids = [r["doc_id"] for r in store._df.select("doc_id").limit(7).collect()]
        probe = ids + [999_999_999_001]  # absent id
        want = {i: r["repo"] for i, r in store.fetch(ids).items()}
        assert store.repos_for_ids(probe) == want
        assert _plan_repos(store, probe) == want
        assert store.repos_for_ids([]) == {}
    finally:
        store.close()
