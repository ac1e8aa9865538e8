"""Block-max WAND pruning EFFECTIVENESS (not just correctness): the
north rule mandates posting-list intersection with block-max pruning —
these tests prove the levers actually skip work, on a pure-pandas shard
built straight through the real codec (no Spark session needed).

Construction: one shard, BLOCK_SIZE-doc blocks.
- 'rare'  appears in 64 docs
- 'hot'   appears in all 20_000 docs
- doc 5 is crafted to dominate BM25 (high tf, short doc) so top-k
  thresholds rise fast.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from posik_engine_spark import spec
from posik_engine_spark.functions import codec
from posik_engine_spark.operators import wand

N_DOCS = 20_000
RARE_EVERY = N_DOCS // 64


def _blocks_for(term: str, ids: np.ndarray, tfc: np.ndarray, lenc: np.ndarray) -> list[tuple]:
    rows = []
    bs = spec.BLOCK_SIZE
    tfp = np.zeros(len(ids), dtype=np.int64)
    lenp = np.zeros(len(ids), dtype=np.int64)
    for b0 in range(0, len(ids), bs):
        b1 = min(b0 + bs, len(ids))
        rows.append(
            (
                term, 0, b0 // bs, b1 - b0, int(ids[b0]), int(ids[b1 - 1]),
                int(tfp[b0:b1].max()), int(tfc[b0:b1].max()),
                int(lenp[b0:b1].min()), int(lenc[b0:b1].min()),
                codec.encode_doc_ids(ids[b0:b1]),
                codec.encode_counts(tfp[b0:b1]),
                codec.encode_counts(tfc[b0:b1]),
                codec.encode_counts(lenp[b0:b1]),
                codec.encode_counts(lenc[b0:b1]),
            )
        )
    return rows


def _lens() -> np.ndarray:
    # length grows per block: later blocks have longer docs -> lower
    # BM25 bounds -> the descending-ub scan's kth-score cut can fire
    # (with uniform docs every bound is tight+equal and NO cut is
    # admissible — pruning-friendliness is a data property)
    ids = np.arange(N_DOCS, dtype=np.int64)
    lenc = 100 + 5 * (ids // spec.BLOCK_SIZE)
    lenc[5] = 60
    return lenc


def _shard() -> pd.DataFrame:
    ids = np.arange(N_DOCS, dtype=np.int64)
    lenc = _lens()
    hot_tfc = np.ones(N_DOCS, dtype=np.int64)
    hot_tfc[5] = 50  # dominant doc: huge tf
    rare_ids = ids[::RARE_EVERY]
    rare_tfc = np.ones(len(rare_ids), dtype=np.int64)
    rows = _blocks_for("hot", ids, hot_tfc, lenc) + _blocks_for(
        "rare", rare_ids, rare_tfc, lenc[rare_ids]
    )
    return pd.DataFrame(rows, columns=COLS)


COLS = [
    "term", "shard", "block_id", "n_docs", "ord_min", "ord_max",
    "max_tfp", "max_tfc", "min_lenp", "min_lenc",
    "docs", "tfp", "tfc", "lenp", "lenc",
]


AVGDL = 80.0
IDFS = {"rare": 5.0, "hot": 0.05}


def test_block_range_pruning_skips_hot_blocks():
    """Rarest-first intersection: with 64 sparse candidates, the hot
    term's 157 blocks mostly don't overlap-decode — postings decoded
    stays near |rare| * BLOCK_SIZE, far under the 20k full list."""
    diag: dict = {}
    out = wand.shard_topk(_shard(), None, ["rare", "hot"], IDFS, AVGDL, 10, diag=diag)
    assert len(out) >= 10  # keep-ties kernel may return boundary ties
    full = N_DOCS + N_DOCS // RARE_EVERY
    assert diag["postings_decoded"] < full * 0.5, diag
    # every rare doc survives the AND (hot covers all docs)
    assert diag["candidates"] == len(range(0, N_DOCS, RARE_EVERY))


def test_wand_early_termination_scores_fraction():
    """Single hot term, k=10: descending-ub chunks + the kth-score cut
    must stop long before scoring all 20k candidates."""
    diag: dict = {}
    out = wand.shard_topk(_shard(), None, ["hot"], {"hot": IDFS["hot"]}, AVGDL, 10, diag=diag)
    # keep-ties: block 0's docs share one score, so the kth-score tie
    # group (the whole block) survives for the caller's doc_id cut
    assert len(out) >= 10
    assert int(out.iloc[0]["ord"]) == 5  # the crafted dominant doc wins
    assert diag["candidates"] == N_DOCS
    assert diag["candidates_scored"] < N_DOCS, diag
    # geometric chunks (64, 128, ...) let the cut fire near the heap
    # size: scored <= first two chunks here, far under one old fixed
    # 1024-chunk
    assert diag["candidates_scored"] <= 3 * wand._CHUNK0, diag


def test_pruned_equals_unpruned_topk():
    """Pruning must not change results: compare against brute force on
    the same shard (decode everything, score everything)."""
    shard = _shard()
    out = wand.shard_topk(shard, None, ["rare", "hot"], IDFS, AVGDL, 10)
    # brute force in numpy
    from posik_engine_spark.operators.index import kernel_np

    ids = np.arange(N_DOCS, dtype=np.int64)
    lenc = _lens()
    hot_tfc = np.ones(N_DOCS, dtype=np.int64)
    hot_tfc[5] = 50
    zeros = np.zeros(N_DOCS, dtype=np.int64)
    rare_mask = np.zeros(N_DOCS, dtype=bool)
    rare_mask[::RARE_EVERY] = True
    s = (
        IDFS["hot"] * kernel_np(zeros, hot_tfc, zeros, lenc, AVGDL)
        + IDFS["rare"] * kernel_np(zeros, np.ones(N_DOCS, dtype=np.int64), zeros, lenc, AVGDL)
    )
    cand = ids[rare_mask]
    sc = s[rare_mask]
    order = np.lexsort((cand, -sc))[:10]
    expect = list(zip(cand[order], sc[order]))
    got = list(zip(out["ord"].astype(np.int64), out["score"]))[:10]
    assert [(int(a), float(b)) for a, b in got] == [
        (int(a), float(b)) for a, b in expect
    ]


def test_scoped_shard_with_no_scope_docs_returns_empty():
    """Repo scoping where the pre-filtered registry side is empty for
    this shard (the scoped repo owns none of its docs): must return the
    empty frame, never index into a zero-length stats array."""
    empty_stats = pd.DataFrame(
        {"ord": pd.Series(dtype="int64"), "repo": pd.Series(dtype=object)}
    )
    for stats in (None, empty_stats):
        out = wand.shard_topk(
            _shard(), stats, ["rare", "hot"], IDFS, AVGDL, 10, repos=["r1"]
        )
        assert len(out) == 0
        assert list(out.columns) == ["ord", "score"]


def test_truncated_count_stream_detected():
    """A count buffer truncated mid-stream must fail loudly: the
    batched concatenated decode merges a dangling continuation byte
    into the NEXT block's varints (the per-block decode's final-byte
    check cannot see it), so the count-vs-docid alignment check is the
    detector that keeps corrupt blocks from scoring silently wrong."""
    import pytest

    shard = _shard()
    i = shard.index[shard["term"] == "hot"][2]  # a middle block
    shard.loc[i, "tfc"] = shard.loc[i, "tfc"][:-1]
    with pytest.raises(ValueError, match="corrupt posting block"):
        wand.shard_topk(shard, None, ["hot"], {"hot": IDFS["hot"]}, AVGDL, 10)


def test_shard_topk_k_zero_returns_empty():
    """k=0 (an empty pagination window) must return the empty frame —
    the kth-score selection (np.partition at len-k) assumes k >= 1 and
    crashed with 'kth out of bounds' before the early return."""
    for repos in (None, ["r1"]):
        out = wand.shard_topk(
            _shard(),
            pd.DataFrame({"ord": [5], "repo": ["r1"]}),
            ["rare", "hot"], IDFS, AVGDL, 0, repos=repos,
        )
        assert len(out) == 0
        assert list(out.columns) == ["ord", "score"]


def test_driver_wand_diag_on_real_index(spark):
    """The serving hybrid surfaces aggregated pruning counters end to
    end (bench.py's across-rounds WAND-effectiveness artifact): totals
    are consistent and bounded by the no-pruning posting volume."""
    from posik_engine_spark import corpus
    from posik_engine_spark.operators.index import build_index

    docs = corpus.synthetic_docs(spark, 120, seed=73)
    ix = build_index(docs, n_shards=4, cache=False)
    terms = [
        r["term"]
        for r in ix.term_stats.orderBy("df", ascending=False).limit(2).collect()
    ]
    info = ix.term_info(terms)
    diag: dict = {}
    rows = wand.wand_topk_driver(
        ix, {t: info[t][0] for t in terms}, {t: info[t][1] for t in terms},
        k=10, diag=diag,
    )
    assert rows
    assert diag["postings_total"] >= diag["postings_decoded"] > 0
    assert diag["postings_decoded"] >= diag["candidates"] >= diag["candidates_scored"]
    assert diag["candidates_scored"] > 0


def _sharded(n_shards: int = 4) -> pd.DataFrame:
    """The same postings split into contiguous ordinal ranges, one
    shard each (ordinals stay global: a shard's lists only need to
    ascend)."""
    ids = np.arange(N_DOCS, dtype=np.int64)
    lenc = _lens()
    hot_tfc = np.ones(N_DOCS, dtype=np.int64)
    hot_tfc[5] = 50
    rare = np.zeros(N_DOCS, dtype=bool)
    rare[::RARE_EVERY] = True
    frames = []
    for s, part in enumerate(np.array_split(ids, n_shards)):
        r = part[rare[part]]
        rows = _blocks_for("hot", part, hot_tfc[part], lenc[part]) + _blocks_for(
            "rare", r, np.ones(len(r), dtype=np.int64), lenc[r]
        )
        frames.append(pd.DataFrame(rows, columns=COLS).assign(shard=s))
    return pd.concat(frames, ignore_index=True)


def test_driver_diag_equals_summed_shard_diags():
    """wand_topk_driver's counters are shard_topk's summed over the
    shards (postings_total aside: every posting of the query terms),
    and its result is shard_topk's parts merged by _finalize_topk."""
    from types import SimpleNamespace

    blocks = _sharded()
    ix = SimpleNamespace(meta=SimpleNamespace(avgdl=AVGDL))
    identity = lambda keys: {key: key[1] for key in keys}  # noqa: E731
    n_rare = int(blocks.loc[blocks["term"] == "rare", "n_docs"].sum())
    dfs = {"rare": n_rare, "hot": N_DOCS}
    keys = ("postings_decoded", "candidates", "candidates_scored", "tie_overflow")
    for terms in (["rare", "hot"], ["hot"]):
        idfs = {t: IDFS[t] for t in terms}
        mine = blocks[blocks["term"].isin(terms)]
        want = dict.fromkeys(keys, 0)
        parts = []
        for shard, g in mine.groupby("shard"):
            sdiag: dict = {}
            parts.append(
                wand.shard_topk(g, None, terms, idfs, AVGDL, 10, diag=sdiag)
                .assign(shard=shard)
            )
            for key in keys:
                want[key] += sdiag.get(key, 0)
        want["postings_total"] = int(mine["n_docs"].sum())
        for blocks_in in (mine, mine.to_dict("records")):
            diag: dict = {}
            got = wand.wand_topk_driver(
                ix, idfs, dfs, 10, diag=diag, resolver=identity,
                postings=wand.decode_postings(blocks_in, AVGDL),
            )
            assert diag == want, (terms, diag, want)
            assert got == wand._finalize_topk(parts, 10, identity)
        assert want["candidates_scored"] > 0
