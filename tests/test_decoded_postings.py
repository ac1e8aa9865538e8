"""The serving block cache holds DECODED posting lists: a term's blocks
are decoded once, when the cache is filled, and the driver WAND then
runs without pandas. These tests pin what that must not change:

- a corrupt block raises at fill time and leaves nothing cached or
  charged, so the next query reads it again;
- where the 8·k keep-ties cap fires, the driver path (cold fill and
  warm repeat) still equals the distributed kernel, and the oracle
  above the tie boundary (float-exact below the cap);
- a warm driver query builds no pandas DataFrame.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from posik_engine_spark import corpus, spec
from posik_engine_spark.functions.tokenizer import tokenize_py
from posik_engine_spark.operators import index as I
from posik_engine_spark.operators import wand as W
from posik_engine_spark.operators.search import SearchEngine
from posik_engine_spark.oracle import build_oracle_index, oracle_search


@pytest.fixture(scope="module")
def docs(spark):
    return corpus.synthetic_docs(spark, 80, seed=41).cache()


def _truncate_one_block(ix_dir: str, term: str, column: str) -> None:
    """Drop the last byte of ``column`` in one of ``term``'s blocks,
    rewriting that block file in place."""
    for path in sorted(glob.glob(f"{ix_dir}/blocks/**/*.parquet", recursive=True)):
        tbl = pq.read_table(path, partitioning=None)
        terms = tbl.column("term").to_pylist()
        if term not in terms:
            continue
        bufs = tbl.column(column).to_pylist()
        i = terms.index(term)
        bufs[i] = bufs[i][:-1]
        col = tbl.schema.get_field_index(column)
        tbl = tbl.set_column(col, tbl.schema.field(col), pa.array(bufs, pa.binary()))
        pq.write_table(tbl, path)
        # Spark's local filesystem verifies a checksum sidecar; the
        # rewritten file has none
        crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        return
    raise AssertionError(f"no block file holds {term!r}")


@pytest.mark.parametrize("column", ["docs", "tfc"])
def test_corrupt_block_is_not_cached(spark, docs, tmp_path, column):
    ix_dir = str(tmp_path / "ix")
    I.save_index(I.build_index(docs, n_shards=2, cache=False), ix_dir)
    with SearchEngine.from_index_dir(spark, ix_dir, docs=docs) as ref:
        term = next(
            r["term"]
            for r in ref.ix.term_stats.filter(F.col("df") >= 3)
            .orderBy("df", "term")
            .collect()
            if r["term"].isalpha()
        )
        intact = ref.search(term, limit=5).hits
    _truncate_one_block(ix_dir, term, column)

    with SearchEngine.from_index_dir(spark, ix_dir, docs=docs) as eng:
        assert eng._direct is not None  # the file-backed serving path
        reads: list[list[str]] = []
        real = eng._direct.blocks_for_terms
        eng._direct.blocks_for_terms = lambda ts: reads.append(list(ts)) or real(ts)
        for attempt in (1, 2):
            with pytest.raises(ValueError, match="corrupt posting block"):
                eng.search(term, limit=5)
            # nothing cached, nothing charged: the next query reads the
            # block again instead of serving a half-filled entry
            assert term not in eng._block_cache
            assert eng._block_cache_postings == 0
            assert len(reads) == attempt
        assert intact  # the same term served before the corruption


@pytest.fixture(scope="module")
def tie_state(spark, tmp_path_factory):
    """A small Zipf corpus: content lengths cluster, so single common
    terms tie exactly across dozens of docs at the top score."""
    pdf = corpus.zipf_docs_pdf(600, 6, seed=5)
    docs = spark.createDataFrame(pdf).cache()
    ix_dir = str(tmp_path_factory.mktemp("tie_ix"))
    I.save_index(I.build_index(docs, n_shards=2, cache=False), ix_dir)
    rows = docs.select(
        F.xxhash64("repo", "path", "commit").alias("doc_id"), "repo", "path", "content"
    ).collect()
    return docs, ix_dir, build_oracle_index([r.asDict() for r in rows])


TIE_QUERIES = ["common1", "common2", "common3", "common1 common2", "rare1 common1"]


def test_rank_identity_where_tie_cap_fires(spark, tie_state):
    docs, ix_dir, oix = tie_state
    capped = exact = overflowed = 0
    with SearchEngine.from_index_dir(spark, ix_dir, docs=docs) as eng:
        for q in TIE_QUERIES:
            terms = eng.filter_query_terms(tokenize_py(q))
            info = eng._term_info(terms)
            idfs = {t: info[t][0] for t in terms}
            dfs = {t: info[t][1] for t in terms}
            ranked, oterms = oracle_search(oix, q, limit=oix.n_docs)
            assert oterms == terms, q
            for k in (1, 2, 5, 20):
                diag: dict = {}
                cold = W.wand_topk_driver(
                    eng.ix, idfs, dfs, k, diag=diag,
                    postings=eng._postings_for_terms(terms),
                    resolver=eng._docids_for_keys,
                )
                warm = eng._topk(terms, k, None)  # every term cached now
                dist = W.wand_topk_rows(
                    eng.ix, idfs, dfs, k, resolver=eng._docids_for_keys
                )
                got = [(r["doc_id"], r["score"]) for r in cold]
                assert [(r["doc_id"], r["score"]) for r in warm] == got, (q, k)
                assert [(r["doc_id"], r["score"]) for r in dist] == got, (q, k)
                want = ranked[:k]
                assert [s for _, s in got] == [s for _, s in want], (q, k)
                overflowed += diag.get("tie_overflow", 0) > 0
                edge = want[-1][1]
                if sum(s >= edge for _, s in ranked) > spec.WAND_TIE_CAP_FACTOR * k:
                    # beyond the cap, boundary ties break by (repo, path)
                    # order; every doc above the boundary is exact
                    capped += 1
                    assert [d for d, s in got if s > edge] == [
                        d for d, s in want if s > edge
                    ], (q, k)
                else:
                    exact += 1
                    assert got == want, (q, k)
    # the fixture exercises both regimes, and the shard-level cap
    assert capped and exact and overflowed, (capped, exact, overflowed)


def test_warm_driver_builds_no_dataframe(spark, tie_state, monkeypatch):
    """The serving loop stays pandas-free: once a query's terms are
    cached, a repeat must not construct a single pandas DataFrame."""
    docs, ix_dir, _ = tie_state
    with SearchEngine.from_index_dir(spark, ix_dir, docs=docs) as eng:
        queries = ["common1 common2", "rare1 common1", "common3"]
        expect = [eng.search(q, limit=10).hits for q in queries]

        def _boom(*a, **k):
            raise AssertionError("pandas DataFrame built on a warm query")

        monkeypatch.setattr(W.pd, "DataFrame", _boom)
        assert [eng.search(q, limit=10).hits for q in queries] == expect
