"""Pinned-file serving reads (operators/direct_io.py ``PinnedTable``):

- randomized point lookups return exactly the rows of the Spark frames
  (blocks, doc_stats, term_stats, the content store's ``lookup_plan``
  and frame), including OOV keys, a shard dir holding several files,
  files with several row groups and files written without statistics;
- a cold lookup of a one-shard term reads non-key columns from that
  one file only, and a warm repeat query opens and reads no file;
- ``SearchEngine.close()`` releases every pinned file descriptor but
  leaves a content store the caller passed in open, and a failed pin
  leaves no file open;
- an in-memory engine's saved index copy is removed by ``close()`` or,
  for an engine dropped without it, by garbage collection, while a dir
  the caller passed in is never removed;
- an engine opened before an ``incremental_update`` on its dir keeps
  serving the snapshot it opened (it used to raise FileNotFoundError);
- the block cache charges each entry its fixed overhead, so df=1 terms
  cannot crowd the driver heap past the budget.
"""

from __future__ import annotations

import gc
import glob
import os
import random
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from posik_engine_spark import corpus, spec
from posik_engine_spark.operators import direct_io as D
from posik_engine_spark.operators import index as I
from posik_engine_spark.operators import search as S
from posik_engine_spark.operators.content_store import (
    ContentStore,
    save_content_store,
)
from posik_engine_spark.operators.lifecycle import IndexBuilder
from posik_engine_spark.operators.search import SearchEngine
from posik_engine_spark.oracle import build_oracle_index, oracle_search


def _oracle(docs):
    rows = docs.select(
        F.xxhash64("repo", "path", "commit").alias("doc_id"), "repo", "path", "content"
    ).collect()
    return build_oracle_index([r.asDict() for r in rows])


@pytest.fixture(scope="module")
def state(spark, tmp_path_factory):
    """An IndexBuilder dir built from v1, served by an engine opened (and
    queried) BEFORE an incremental update to v2 rewrote the dir, and
    content stores of both snapshots. Small blocks give common terms
    several blocks per shard."""
    root = tmp_path_factory.mktemp("pinned")
    ix_dir, cs_dir, cs2_dir = str(root / "ix"), str(root / "cs"), str(root / "cs2")
    v1 = spark.createDataFrame(corpus.zipf_docs_pdf(300, 6, seed=13)).cache()
    drop = F.pmod(F.xxhash64("path"), F.lit(10))
    v2 = (
        v1.filter(drop >= 2)
        .unionByName(
            v1.filter(drop == 1)
            .withColumn("content", F.concat("content", F.lit(" refreshed")))
            .withColumn("commit", F.lit("deadbeef"))
        )
        .cache()
    )
    builder = IndexBuilder(spark, ix_dir, n_shards=4, block_size=16)
    builder.build(v1)
    save_content_store(v1, cs_dir, n_buckets=4)
    eng = SearchEngine.from_index_dir(spark, ix_dir, content_dir=cs_dir)
    warm = "common1 common2"
    eng.search(warm, limit=10)
    builder.incremental_update(v2)
    save_content_store(v2, cs2_dir, n_buckets=4)
    yield {
        "ix": ix_dir, "cs": cs2_dir, "eng": eng, "warm": warm,
        "oracle_v1": _oracle(v1), "oracle_v2": _oracle(v2),
    }
    eng.close()


def _hits(resp):
    return [(int(h[0]), h[6]) for h in resp.hits]


# ------------------------------------------------- snapshot semantics


def test_engine_serves_its_snapshot_across_incremental_update(state):
    """Cold queries on the engine opened before the update return the
    v1 oracle's top-k exactly (they raised FileNotFoundError when the
    reader listed files lazily), while the dir itself now holds v2."""
    eng, o1, o2 = state["eng"], state["oracle_v1"], state["oracle_v2"]
    tail = sorted(
        (t for t, p in o1.postings.items() if t.startswith("w") and 2 <= len(p) <= 8),
        key=lambda t: (-len(o1.postings[t]), t),
    )
    # common0 is in every doc, so the THETA filter drops it again
    queries = [f"{t} common0" for t in tail[:6]] + ["refreshed"]
    moved = 0
    for q in queries:
        assert q.split()[0] not in state["warm"].split()
        try:
            want, _ = oracle_search(o1, q, limit=10)
        except Exception as e:  # noqa: BLE001 — the engine must agree
            with pytest.raises(type(e)):
                eng.search(q, limit=10)
            continue
        assert _hits(eng.search(q, limit=10)) == want, q
        try:
            moved += oracle_search(o2, q, limit=10)[0] != want
        except Exception:  # noqa: BLE001
            moved += 1
    assert moved  # the update changed what these queries return


# --------------------------------------------- equivalence with Spark


def _rewrite(path: str, parts: list) -> None:
    """Replace the parquet file ``path`` by one file per (table, pyarrow
    write options) pair in ``parts``, in the same dir."""
    os.remove(path)
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    for i, (tbl, opts) in enumerate(parts):
        pq.write_table(tbl, f"{path[:-len('.parquet')]}-{i}.parquet", **opts)


def _first_file(table_dir: str, part: str) -> str:
    return sorted(glob.glob(os.path.join(table_dir, part, "*.parquet")))[0]


@pytest.fixture(scope="module")
def reshaped(state, tmp_path_factory):
    """A copy of the updated index + content store whose files take the
    shapes a writer may leave: a shard dir holding two files, a term's
    blocks split across them, several row groups per file, and files
    written without statistics."""
    root = tmp_path_factory.mktemp("reshaped")
    ix_dir, cs_dir = str(root / "ix"), str(root / "cs")
    shutil.copytree(state["ix"], ix_dir)
    shutil.copytree(state["cs"], cs_dir)
    nostats = {"write_statistics": False}

    path = _first_file(f"{ix_dir}/blocks", "shard=0")
    tbl = pq.read_table(path, partitioning=None)
    terms = tbl.column("term").to_pylist()
    # split inside a multi-block term, so one key spans both files
    mid = next(
        i for i in range(len(terms) // 2, len(terms)) if terms[i] == terms[i - 1]
    )
    _rewrite(path, [(tbl.slice(0, mid), {"row_group_size": 5}),
                    (tbl.slice(mid), nostats)])
    path = _first_file(f"{ix_dir}/blocks", "shard=1")
    _rewrite(path, [(pq.read_table(path, partitioning=None), nostats)])

    path = _first_file(f"{ix_dir}/doc_stats", "shard=2")
    tbl = pq.read_table(path, partitioning=None)
    half = tbl.num_rows // 2
    _rewrite(path, [(tbl.slice(0, half), {"row_group_size": 9}),
                    (tbl.slice(half), nostats)])

    for i, opts in enumerate((nostats, {"row_group_size": 4})):
        path = _first_file(f"{ix_dir}/term_stats", f"tbucket={i}")
        _rewrite(path, [(pq.read_table(path, partitioning=None), opts)])
    for i, opts in enumerate((nostats, {"row_group_size": 3})):
        path = _first_file(cs_dir, f"bucket={i}")
        _rewrite(path, [(pq.read_table(path, partitioning=None), opts)])
    return ix_dir, cs_dir


def _norm(row: dict) -> tuple:
    return tuple(
        (c, bytes(v) if isinstance(v, (bytes, bytearray)) else v)
        for c, v in sorted(row.items())
    )


def test_random_lookups_match_spark_frames(spark, reshaped):
    ix_dir, cs_dir = reshaped
    rd = D.DirectIndexReader(ix_dir)
    try:
        # the shapes the fixture promises are really there
        assert len(rd._blocks.files[0]) == 2
        assert any(None in f.ranges for f in rd._blocks.files[1])
        assert any(len(f.n_rows) > 1 for f in rd._blocks.files[0])

        ix = I.load_index(spark, ix_dir)
        blocks = [r.asDict() for r in ix.blocks.collect()]
        docs = [r.asDict() for r in ix.doc_stats.select("shard", "ord", "doc_id").collect()]
        dictionary = {
            r["term"]: (int(r["df"]), int(r["ctf"])) for r in ix.term_stats.collect()
        }
        vocab = sorted(dictionary)
        shards = sorted({d["shard"] for d in docs})
        rng = random.Random(7)
        for trial in range(40):
            terms = rng.sample(vocab, rng.randint(1, 6)) + (
                [f"qzzqx{trial}"] if trial % 3 == 0 else []
            )
            got = sorted(_norm(r) for r in rd.blocks_for_terms(terms))
            want = sorted(_norm(r) for r in blocks if r["term"] in terms)
            assert got == want and (got or trial % 3 == 0), terms

            keys = [(d["shard"], d["ord"]) for d in rng.sample(docs, rng.randint(1, 12))]
            keys += [(rng.choice(shards), 10**9 + trial), (99, 0)]
            want_ids = {
                (d["shard"], d["ord"]): d["doc_id"]
                for d in docs if (d["shard"], d["ord"]) in set(keys)
            }
            assert rd.resolve_ords(keys) == want_ids, keys

            got_terms = {
                r["term"]: (int(r["df"]), int(r["ctf"]))
                for r in rd.term_info_rows(terms)
            }
            assert got_terms == {t: dictionary[t] for t in terms if t in dictionary}
    finally:
        rd.close()

    store = ContentStore(spark, cs_dir)
    try:
        ids = [r["doc_id"] for r in store._df.select("doc_id").collect()]
        for trial in range(5):
            probe = rng.sample(ids, rng.randint(1, 15)) + [999_999_999_000 + trial]
            a = store.fetch(probe)
            b = {r["doc_id"]: r for r in store.lookup_plan(probe).collect()}
            assert {i: r.asDict() for i, r in a.items()} == {
                i: r.asDict() for i, r in b.items()
            }
            assert len(a) == len(probe) - 1
            repos = store._df.filter(F.col("doc_id").isin(probe)).select("doc_id", "repo")
            assert store.repos_for_ids(probe) == {
                int(r["doc_id"]): r["repo"] for r in repos.collect()
            }
    finally:
        store.close()


# -------------------------------------------------------- read counts


def test_cold_one_shard_term_reads_one_file(spark, state):
    ix = I.load_index(spark, state["ix"])
    by_term: dict[str, set] = {}
    for r in ix.blocks.select("term", "shard").collect():
        by_term.setdefault(r["term"], set()).add(r["shard"])
    term = min(t for t, s in by_term.items() if len(s) == 1)
    rd = D.DirectIndexReader(state["ix"])
    reads: list[tuple] = []
    real = rd._blocks.read

    def counting(pinned, groups, columns):
        reads.append((pinned, tuple(columns)))
        return real(pinned, groups, columns)

    rd._blocks.read = counting
    try:
        rows = rd.blocks_for_terms([term])
    finally:
        rd.close()
    assert rows and {r["shard"] for r in rows} == by_term[term]
    full = {p for p, cols in reads if cols != ("term",)}
    assert len(full) == 1 and next(iter(full)).part in by_term[term], reads


def test_warm_repeat_opens_and_reads_no_file(spark, state, monkeypatch):
    queries = ["rare2 common1", "common2 common3", "rare4"]
    with SearchEngine.from_index_dir(
        spark, state["ix"], content_dir=state["cs"]
    ) as eng:
        want = [eng.search(q, limit=10).hits for q in queries]

        def _boom(*a, **k):
            raise AssertionError("a warm query touched a parquet file")

        monkeypatch.setattr(D.PinnedTable, "read", _boom)
        monkeypatch.setattr(pq, "ParquetFile", _boom)
        assert [eng.search(q, limit=10).hits for q in queries] == want


# --------------------------------------------------------- lifetime


def _open_fds() -> int:
    gc.collect()  # readers other tests dropped release their files now
    return len(os.listdir("/proc/self/fd"))


@pytest.mark.skipif(not os.path.isdir("/proc/self/fd"), reason="needs /proc")
def test_close_releases_pinned_files(spark, state):
    def serve():
        eng = SearchEngine.from_index_dir(spark, state["ix"], content_dir=state["cs"])
        eng.search("rare3 common1", limit=10)
        return eng

    serve().close()  # first open: Spark and py4j set up their own fds
    before = _open_fds()
    eng = serve()
    pinned = sum(
        len(fs)
        for t in (eng._direct._blocks, eng._direct._doc_stats,
                  eng._direct._term_stats, eng._store._table)
        for fs in t.files.values()
    )
    assert _open_fds() >= before + pinned > before
    eng.close()
    assert _open_fds() == before
    with pytest.raises(ValueError, match="closed"):
        eng._direct.blocks_for_terms(["common1"])


def test_close_leaves_a_passed_store_open(spark, state):
    """A store the caller passes in may serve several engines: closing
    one engine must not close it."""
    store = ContentStore(spark, state["cs"])
    try:
        engines = [
            SearchEngine(
                spark, I.load_index(spark, state["ix"]), None,
                index_dir=state["ix"], content_store=store,
            )
            for _ in range(2)
        ]
        engines[0].close()
        resp = engines[1].search("rare3 common1", limit=10)
        assert resp.count > 0 and all(h[4] for h in resp.hits)  # snippets
        engines[1].close()
        store.fetch([0])  # raises if the store was closed
    finally:
        store.close()


@pytest.mark.skipif(not os.path.isdir("/proc/self/fd"), reason="needs /proc")
def test_failed_pin_leaves_no_open_file(state):
    """A file whose footer lacks the key column fails the pin, and the
    files opened up to then (the failing one included) are closed."""
    path = os.path.join(state["ix"], "blocks")
    D.PinnedTable(path, "shard", "term").close()
    before = _open_fds()
    with pytest.raises(ValueError) as failed:
        D.PinnedTable(path, "shard", "no_such_column")
    # the kept traceback holds the half-built file object: no garbage
    # collection may close its file, the failed pin itself must
    assert len(os.listdir("/proc/self/fd")) == before
    del failed


def _tree(path: str) -> set:
    return {os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs}


@pytest.mark.skipif(not os.path.isdir("/proc/self/fd"), reason="needs /proc")
def test_in_memory_engine_removes_its_saved_copy(spark, state):
    """An index built in memory is served from a temp dir the engine
    owns: close() removes it and releases every pinned file, and an
    engine dropped without close() removes it once collected. A dir
    the caller passed in (from_index_dir, or an Index with a path) is
    never removed."""
    docs = spark.createDataFrame(corpus.zipf_docs_pdf(60, 3, seed=5)).cache()
    ix = I.build_index(docs, n_shards=2)
    SearchEngine(spark, ix, docs).close()  # first open: Spark's own fds
    before = _open_fds()
    eng = SearchEngine(spark, ix, docs)
    owned = eng._direct.index_dir
    assert os.path.dirname(owned) == tempfile.gettempdir()
    assert eng.search("common1 common2", limit=5).count > 0
    eng.close()
    assert not os.path.exists(owned)
    assert _open_fds() == before

    eng = SearchEngine.from_docs(spark, docs, n_shards=2)
    owned = eng._direct.index_dir
    assert os.path.isdir(owned)
    del eng
    gc.collect()
    assert not os.path.exists(owned)

    files = _tree(state["ix"])
    for make in (
        lambda: SearchEngine.from_index_dir(spark, state["ix"]),
        lambda: SearchEngine(spark, I.load_index(spark, state["ix"]), None),
    ):
        make().close()
        eng = make()
        assert eng._direct.index_dir == state["ix"]
        del eng
        gc.collect()
        assert _tree(state["ix"]) == files
    docs.unpersist()


# ------------------------------------------------- cache accounting


def test_block_cache_charges_fixed_overhead(spark, state, monkeypatch):
    """df=1 terms: each entry costs its fixed overhead plus one
    posting, so the number of cached terms stays within the budget."""
    per_term = S._TERM_CHARGE + S._SHARD_CHARGE + 1
    monkeypatch.setattr(spec, "DRIVER_BLOCK_CACHE_MAX_POSTINGS", 5 * per_term)
    with SearchEngine.from_index_dir(spark, state["ix"]) as eng:
        ones = sorted(t for t, (_idf, df, _ctf) in eng._term_cache.items() if df == 1)
        assert len(ones) >= 20
        for t in ones[:20]:
            eng._postings_for_terms([t])
            assert len(eng._block_cache) <= 5
        assert eng._block_cache_postings == sum(
            S._block_charge(p) for p in eng._block_cache.values()
        ) == 5 * per_term


# ------------------------------------------------------ concurrency


def test_concurrent_lookups_share_pinned_files(state):
    """More threads than cores read the same pinned files with a short
    switch interval: every lookup still returns the single-threaded
    answer (reads of one file are serialized by its lock)."""
    import sys
    import threading

    rd = D.DirectIndexReader(state["ix"])
    vocab = sorted(state["oracle_v2"].postings)[:60]
    rng = random.Random(3)
    probes = [rng.sample(vocab, 3) for _ in range(12)]
    want = [sorted(_norm(r) for r in rd.blocks_for_terms(p)) for p in probes]
    errors: list = []

    def worker(seed: int) -> None:
        try:
            for i in range(30):
                j = (seed + i) % len(probes)
                got = sorted(_norm(r) for r in rd.blocks_for_terms(probes[j]))
                if got != want[j]:
                    errors.append((seed, j))
        except Exception as e:  # noqa: BLE001 — surfaced by the assert below
            errors.append((seed, repr(e)))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        ts = [threading.Thread(target=worker, args=(s,)) for s in range(8)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in ts)
    finally:
        sys.setswitchinterval(old)
        rd.close()
    assert not errors, errors[:3]
