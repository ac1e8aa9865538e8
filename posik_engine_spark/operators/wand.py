"""Block-max WAND top-k over the sharded block index (SURVEY.md §7 M2).

AND-semantics top-k (a doc must contain all query terms — reference
/root/reference/.../service/DatabaseService.java:215-223) with the
three pruning levers of the north rule:

1. rarest-first posting intersection (reference orders lemmas by
   frequency ascending, repositories/LemmaRepository.java:27): the
   shortest list seeds the candidate set; subsequent lists only decode
   blocks whose [ord_min, ord_max] overlaps surviving candidates;
2. block-max upper bounds: per-candidate ub = Σ_t idf_t *
   kernel(max_tfp, max_tfc, min_lenp, min_lenc, avgdl) of the block
   containing the doc — a valid upper bound because the kernel is
   monotone increasing in wtf and decreasing in dl;
3. WAND-style early termination: candidates scored in descending-ub
   chunks; once the running kth score strictly exceeds the next chunk's
   ub, the remainder cannot enter the top-k (ties lose by the strict
   inequality), so scoring stops.

Postings are DENSE PER-SHARD ORDINALS ordered by (repo, path) —
operators/index.py module docstring — so block ranges have locality
and lever 1 actually fires on real corpora. Scores never depend on
ids; the global tie-break needs the EXTERNAL doc_id, so every
per-shard kernel keeps ALL candidates tied at its kth score (any doc
it drops has >= k strictly-better docs in its own shard and can never
enter the global top-k), and the ord -> doc_id resolution happens
once, on those <= ~k survivors, before the final (score desc, doc_id
asc) cut.

Execution model: each shard is a complete mini-index over its docs, and
blocks carry per-doc field lengths inline (Lucene-norms style), so an
unscoped query is ONE single-input grouped-map UDF over the blocks of
the query terms — doc_stats is only cogrouped in when a repo scope
filter needs ord→repo; the ord → doc_id resolution of the <= ~k
survivors is a broadcast join (distributed path) or a cached driver
point lookup (serving path). Per-shard top-k heaps merge on the driver
via TakeOrderedAndProject — no cross-shard shuffle of postings, ever.

One kernel, ``topk_ords``, runs every path over decoded posting lists
(``ShardPostings``): the grouped-map UDF decodes its shard's frame per
query (``shard_topk``); the serving path scores the lists SearchEngine
decoded once, when the term entered its block cache, so a warm query
pays neither a decode nor pandas indexing — each cost more than the
scoring itself.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from posik_engine_spark import spec
from posik_engine_spark.operators.index import Index, kernel_np

log = logging.getLogger(__name__)

# n_out = rows this shard emitted (constant within the shard): the
# distributed resolution join compares it against the per-shard count
# of RESOLVED rows, so a registry missing scored ordinals fails loudly
# (like _finalize_topk) instead of silently truncating the top-k —
# round-4 advisor finding.
_OUT_SCHEMA = "shard int, ord long, score double, n_out int"
# Scoring-chunk schedule: geometric growth from ~heap size up to the
# vectorization sweet spot. A FIXED large chunk makes the kth-score cut
# unreachable whenever a shard has fewer candidates than the chunk
# (everything lands in chunk 0, kth is only known after scoring it) —
# interactive k is ~10-50, so start near k and double.
_CHUNK = 1024  # max chunk size (numpy batch sweet spot)
_CHUNK0 = 64  # first chunk ~ top-k heap size; the cut can fire after it


# per-block integer metadata columns of ix.blocks
_BLOCK_INTS = (
    "n_docs", "ord_min", "ord_max", "max_tfp", "max_tfc", "min_lenp", "min_lenc",
)


@dataclass(frozen=True, slots=True)
class ShardPostings:
    """One term's decoded posting list in one shard.

    ``ords`` ascend (int64); the four per-posting count streams are
    stored int32 (tfs and field lengths are token counts) and meet
    kernel_np as-is — int32 * float promotes to float64 exactly like
    int64 does, so scores stay float-identical. Block metadata stays
    per block: ``offsets`` (n_blocks + 1) delimit each block's
    postings, ``ubk`` is the block bound kernel(max_tfp, max_tfc,
    min_lenp, min_lenc, avgdl)."""

    ords: np.ndarray
    tfp: np.ndarray
    tfc: np.ndarray
    lenp: np.ndarray
    lenc: np.ndarray
    offsets: np.ndarray
    ord_min: np.ndarray
    ord_max: np.ndarray
    ubk: np.ndarray

    def __len__(self) -> int:
        return len(self.ords)

    def overlapping(self, cand: np.ndarray) -> np.ndarray:
        """Positions of the postings in the blocks whose [ord_min,
        ord_max] holds some of the sorted ordinals ``cand`` — the only
        blocks a rarest-first intersection has to look at."""
        keep = _overlaps(cand, self.ord_min, self.ord_max)
        if keep.all():
            return np.arange(len(self.ords))
        lo = self.offsets[:-1][keep]
        n = self.offsets[1:][keep] - lo
        return np.arange(int(n.sum())) + np.repeat(lo - (np.cumsum(n) - n), n)

    def block_of(self, pos: np.ndarray) -> np.ndarray:
        return np.searchsorted(self.offsets, pos, side="right") - 1

    @classmethod
    def empty(cls) -> ShardPostings:
        z = np.empty(0, dtype=np.int64)
        return cls(z, z, z, z, z, np.zeros(1, dtype=np.int64), z, z, z * 0.0)


def _overlaps(cand: np.ndarray, bmin, bmax) -> np.ndarray:
    """Mask of the blocks [bmin, bmax] holding some of the sorted,
    non-empty ordinals ``cand``."""
    bmin, bmax = np.asarray(bmin, dtype=np.int64), np.asarray(bmax, dtype=np.int64)
    left = np.searchsorted(cand, bmin, side="left")
    return (left < len(cand)) & (cand[np.minimum(left, len(cand) - 1)] <= bmax)


def decode_postings(blocks, avgdl: float) -> dict[str, dict[int, ShardPostings]]:
    """Decode posting-block rows into {term: {shard: ShardPostings}}.

    ``blocks`` is a pandas frame, or a list of pyspark Rows / dicts
    (Spark collect, the direct pyarrow reads) — the columns of
    ix.blocks either way. Every stream is decoded in ONE codec call
    over the concatenated blocks: each block buffer ends on a complete
    varint and each doc-id block restarts its delta chain, so the
    concatenation decodes to the concatenated arrays. A truncated
    block shifts every later value, so the decoded counts no longer
    add up to the blocks' n_docs and the decode raises ValueError."""
    from posik_engine_spark.functions import codec

    if isinstance(blocks, pd.DataFrame):
        cols = {c: blocks[c].tolist() for c in blocks.columns}
    else:
        rows = [r.asDict() if hasattr(r, "asDict") else r for r in blocks]
        cols = {c: [r[c] for r in rows] for c in rows[0]} if rows else {}
    if not cols or not cols["term"]:
        return {}
    codes: dict[str, int] = {}
    tcode = np.array([codes.setdefault(t, len(codes)) for t in cols["term"]])
    shard = np.asarray(cols["shard"], dtype=np.int64)
    order = np.lexsort((np.asarray(cols["block_id"], dtype=np.int64), shard, tcode))
    tcode, shard = tcode[order], shard[order]
    meta = {c: np.asarray(cols[c], dtype=np.int64)[order] for c in _BLOCK_INTS}
    n_docs = meta["n_docs"]

    def joined(c: str) -> bytes:
        col = cols[c]
        return b"".join([col[i] for i in order])

    ids = codec.decode_doc_ids(joined("docs"), n_docs)
    streams = [codec.decode_counts(joined(c)) for c in ("tfp", "tfc", "lenp", "lenc")]
    if any(len(s) != len(ids) for s in streams):
        raise ValueError(
            "posting block count streams misaligned with doc ids "
            "(corrupt posting block)"
        )
    ubk = kernel_np(
        meta["max_tfp"], meta["max_tfc"], meta["min_lenp"], meta["min_lenc"], avgdl
    )
    offsets = np.concatenate(([0], np.cumsum(n_docs)))
    names = list(codes)
    out: dict[str, dict[int, ShardPostings]] = {}
    for a, b in _runs(tcode, 0, len(order)):
        # copy each term's postings out of the shared decode buffers,
        # so evicting a term frees its memory; shards are views into it
        p0, p1 = offsets[a], offsets[b]
        arrs = [ids[p0:p1].copy()] + [s[p0:p1].astype(np.int32) for s in streams]
        shards = out[names[tcode[a]]] = {}
        for h0, h1 in _runs(shard, a, b):
            q0, q1 = offsets[h0] - p0, offsets[h1] - p0
            shards[int(shard[h0])] = ShardPostings(
                *[x[q0:q1] for x in arrs],
                offsets=offsets[h0 : h1 + 1] - offsets[h0],
                ord_min=meta["ord_min"][h0:h1].copy(),
                ord_max=meta["ord_max"][h0:h1].copy(),
                ubk=ubk[h0:h1].copy(),
            )
    return out


def _runs(key: np.ndarray, a: int, b: int):
    """[start, end) ranges of equal ``key`` values within key[a:b]."""
    cut = np.flatnonzero(np.diff(key[a:b])) + 1 + a
    edges = [a, *cut.tolist(), b]
    return zip(edges[:-1], edges[1:])


_NO_HITS = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))


def topk_ords(
    posts: list[ShardPostings],
    terms_rarest_first: list[str],
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    scope: np.ndarray | None = None,
    diag: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Shard-local block-max WAND in ordinal space over the decoded
    posting lists of the query terms (``posts`` aligned with
    ``terms_rarest_first``). Returns (ords, scores) in (score desc,
    ord asc) order, KEEPING the ties at the kth score (see shard_topk).

    ``scope`` (sorted ordinals) restricts the candidates to a repo
    scope. ``diag`` collects the pruning counters: postings_decoded
    (postings in the blocks the intersection has to look at),
    candidates, candidates_scored, tie_overflow."""
    if k <= 0:
        # the scoring loop's kth-score selection assumes k >= 1
        # (np.partition at len-k); an empty window wants no rows anyway
        return _NO_HITS
    # --- rarest-first intersection with block-range pruning; pos[i]
    # holds the positions of the candidates in posts[i]'s arrays
    cand = posts[0].ords
    pos = [np.arange(len(cand))]
    if diag is not None:
        diag["postings_decoded"] = len(cand)
    for p in posts[1:]:
        sel = p.overlapping(cand)
        if diag is not None:
            diag["postings_decoded"] = diag["postings_decoded"] + len(sel)
        common, ia, ib = np.intersect1d(
            cand, p.ords[sel], assume_unique=True, return_indices=True
        )
        if len(common) == 0:
            return _NO_HITS
        pos = [q[ia] for q in pos] + [sel[ib]]
        cand = common

    # --- optional repo scoping (ordinals are (repo, path)-ordered, so
    # a scope is a contiguous ordinal range per shard — the membership
    # test below is a sorted searchsorted over it)
    if scope is not None:
        at = np.searchsorted(scope, cand)
        found = (at < len(scope)) & (scope[np.minimum(at, len(scope) - 1)] == cand)
        if not found.all():
            cand = cand[found]
            pos = [q[found] for q in pos]
        if len(cand) == 0:
            return _NO_HITS

    # --- block-max upper bounds + chunked early-terminated scoring
    ub = np.zeros(len(cand), dtype=np.float64)
    for t, p, q in zip(terms_rarest_first, posts, pos):
        ub += idfs[t] * p.ubk[p.block_of(q)]
    by_ub = np.argsort(-ub, kind="mergesort")

    by_term = dict(zip(terms_rarest_first, zip(posts, pos)))
    terms_asc = sorted(terms_rarest_first)  # score fold order (spec.py)
    p0, q0 = posts[0], pos[0]  # per-doc field lengths ride on every list
    scored_idx: list[np.ndarray] = []
    scored_val: list[np.ndarray] = []
    n_scored = 0
    kth = -np.inf
    c0 = 0
    size = max(k, _CHUNK0)
    while c0 < len(by_ub):
        chunk = by_ub[c0 : c0 + size]
        c0 += len(chunk)
        size = min(size * 2, _CHUNK)
        if n_scored >= k and ub[chunk[0]] < kth:
            break  # WAND cut: no remaining candidate can reach the top-k
        at0 = q0[chunk]
        lenp, lenc = p0.lenp[at0], p0.lenc[at0]
        acc = np.zeros(len(chunk), dtype=np.float64)
        for t in terms_asc:
            p, q = by_term[t]
            at = q[chunk]
            acc = acc + idfs[t] * kernel_np(p.tfp[at], p.tfc[at], lenp, lenc, avgdl)
        scored_idx.append(chunk)
        scored_val.append(acc)
        n_scored += len(chunk)
        if n_scored >= k:
            allv = np.concatenate(scored_val)
            kth = np.partition(allv, len(allv) - k)[len(allv) - k]

    idx = np.concatenate(scored_idx)
    val = np.concatenate(scored_val)
    if diag is not None:
        diag["candidates"] = len(cand)
        diag["candidates_scored"] = int(len(idx))
    if len(val) > k:
        # keep-ties cut: everything with score >= the kth score
        # survives to the caller's doc_id-resolved global tie-break
        kth = np.partition(val, len(val) - k)[len(val) - k]
        keep = val >= kth
        idx, val = idx[keep], val[keep]
    order = np.lexsort((cand[idx], -val))
    cap = spec.WAND_TIE_CAP_FACTOR * k
    if len(order) > cap:
        # bounded keep-ties (round-4 advisor): a corpus with thousands
        # of duplicate-content docs can tie EXACTLY at the kth score,
        # making the survivor set (and the downstream merge/resolution)
        # scale with the tie-group size instead of k. Beyond the cap,
        # boundary ties break deterministically by shard-local ordinal
        # (== (repo, path) order) instead of global doc_id; every doc
        # strictly above the boundary score is still exact.
        log.warning(
            "wand shard_topk: kth-score tie group overflows the keep-"
            "ties cap (%d survivors > %d = WAND_TIE_CAP_FACTOR*k); "
            "boundary ties break by (repo, path) order, not doc_id",
            len(order), cap,
        )
        if diag is not None:
            diag["tie_overflow"] = diag.get("tie_overflow", 0) + 1
        order = order[:cap]
    return cand[idx][order], val[order]


def shard_topk(
    blocks_pdf: pd.DataFrame,
    stats_pdf: pd.DataFrame | None,
    terms_rarest_first: list[str],
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    repos: list[str] | None = None,
    diag: dict | None = None,
) -> pd.DataFrame:
    """Shard-local block-max WAND over one shard's block rows (the
    grouped-map UDF delegates here; unit-testable without Spark):
    decodes the frame and runs topk_ords. Returns (ord, score) rows.

    Returns the top-k KEEPING score ties at the boundary (possibly
    more than k rows): the global tie-break is on the external doc_id,
    which this kernel never sees — the caller resolves survivors'
    ordinals and applies the exact (score desc, doc_id asc) cut. Any
    row dropped here has >= k strictly-higher-scored docs in this
    shard alone, so it can never enter the global top-k.

    ``stats_pdf`` is only required when ``repos`` scoping is requested;
    field lengths come from the blocks themselves. Pass ``diag={}`` to
    collect pruning counters (postings_decoded, candidates,
    candidates_scored) — the effectiveness tests use them; the UDF path
    passes nothing.
    """
    if repos is not None and (stats_pdf is None or not len(stats_pdf)):
        # a scoped shard whose pre-filtered registry side is empty owns
        # none of the scope's docs: nothing can match, skip the decode
        return _hits_frame(_NO_HITS)
    terms = terms_rarest_first
    term_col = blocks_pdf["term"]
    if not set(terms) <= set(term_col):
        return _hits_frame(_NO_HITS)  # AND: some term absent from this shard
    # decode the rarest list whole, the others only where their blocks
    # overlap it: a block outside its ordinals cannot hold an AND match,
    # and the kernel's own block pruning only ever looks inside that set
    (p0,) = decode_postings(blocks_pdf[term_col == terms[0]], avgdl)[terms[0]].values()
    rest = blocks_pdf[term_col != terms[0]]
    rest = rest[_overlaps(p0.ords, rest["ord_min"], rest["ord_max"])]
    by_term = decode_postings(rest, avgdl)
    posts = [p0] + [
        next(iter(by_term[t].values())) if t in by_term else ShardPostings.empty()
        for t in terms[1:]
    ]
    scope = None
    if repos is not None:
        scope = np.sort(stats_pdf["ord"].to_numpy(np.int64), kind="mergesort")
    return _hits_frame(topk_ords(posts, terms, idfs, avgdl, k, scope, diag))


def _hits_frame(hits: tuple[np.ndarray, np.ndarray]) -> pd.DataFrame:
    return pd.DataFrame({"ord": hits[0], "score": hits[1]})


def _resolve_ords_spark(ix: Index, keys: list[tuple[int, int]]) -> dict:
    """(shard, ord) -> doc_id via ONE pruned doc_stats lookup: shard is
    the parquet partition key and files are ord-sorted, so the OR of
    per-shard `ord IN (...)` predicates prunes partitions + row groups
    — the same point-lookup shape as the content store. Key sets past
    spec.RESOLVE_ISIN_MAX_KEYS switch to a broadcast join of a keys
    DataFrame instead (a giant IN literal bloats planning faster than
    the join costs — round-4 advisor note; the keep-ties cap keeps real
    queries far below the threshold)."""
    if not keys:
        return {}
    if len(keys) > spec.RESOLVE_ISIN_MAX_KEYS:
        kdf = ix.doc_stats.sparkSession.createDataFrame(
            [(int(s), int(o)) for s, o in keys], "shard int, ord long"
        )
        rows = (
            ix.doc_stats.join(F.broadcast(kdf), ["shard", "ord"])
            .select("shard", "ord", "doc_id")
            .collect()
        )
        return {(int(r["shard"]), int(r["ord"])): int(r["doc_id"]) for r in rows}
    by_shard: dict[int, list[int]] = {}
    for s, o in keys:
        by_shard.setdefault(int(s), []).append(int(o))
    cond = None
    for s, ords in by_shard.items():
        c = (F.col("shard") == s) & F.col("ord").isin(ords)
        cond = c if cond is None else (cond | c)
    rows = (
        ix.doc_stats.filter(cond)
        .select("shard", "ord", "doc_id")
        .collect()
    )
    return {(int(r["shard"]), int(r["ord"])): int(r["doc_id"]) for r in rows}


def _finalize_topk(parts: list, k: int, resolver) -> list:
    """Merge per-shard ties-kept parts (mappings with ``shard``,
    ``ord`` and ``score`` columns: pandas frames or dicts of arrays),
    apply a global keep-ties pre-cut, resolve ord -> doc_id through
    ``resolver(keys) -> {(shard, ord): doc_id}``, and take the exact
    global top-k by (score desc, doc_id asc). Returns Row(doc_id,
    score) list."""
    from pyspark.sql import Row

    if not parts:
        return []
    shard, ords, val = (
        np.concatenate([np.asarray(p[c], dtype=dt) for p in parts])
        for c, dt in (("shard", np.int64), ("ord", np.int64), ("score", np.float64))
    )
    if not len(val):
        return []
    if len(val) > k:
        # shrink the resolution set before the lookup: only rows that
        # can still reach the top-k (score >= global kth) need doc_ids
        kth = np.partition(val, len(val) - k)[len(val) - k]
        keep = val >= kth
        shard, ords, val = shard[keep], ords[keep], val[keep]
    cap = spec.WAND_TIE_CAP_FACTOR * k
    if len(val) > cap:
        # global twin of the shard-local keep-ties cap: bound the
        # resolution/lookup set when the global kth-score tie group
        # overflows (deterministic (score desc, shard, ord) truncation;
        # see shard_topk for the semantics trade-off)
        log.warning(
            "wand merge: global kth-score tie group overflows the "
            "keep-ties cap (%d survivors > %d); boundary ties break by "
            "(shard, ord), not doc_id", len(val), cap,
        )
        top = np.lexsort((ords, shard, -val))[:cap]
        shard, ords, val = shard[top], ords[top], val[top]
    keys = list(zip(shard.tolist(), ords.tolist()))
    idmap = resolver(keys)
    missing = [key for key in keys if key not in idmap]
    if missing:
        raise ValueError(
            f"wand top-k: {len(missing)} scored ordinals missing from "
            f"doc_stats (index corrupt or stale), e.g. {missing[:3]}"
        )
    out = sorted((-s, idmap[key]) for key, s in zip(keys, val.tolist()))[:k]
    return [Row(doc_id=d, score=-negs) for negs, d in out]


def wand_topk_driver(
    ix: Index,
    term_idfs: dict[str, float],
    term_dfs: dict[str, int],
    k: int,
    repos: list[str] | None = None,
    diag: dict | None = None,
    resolver=None,
    postings: dict[str, dict[int, ShardPostings]] | None = None,
) -> list:
    """Driver-local top-k over the query terms' posting lists —
    result-identical to wand_topk (same topk_ords kernel per shard,
    same merge + tie-break), minus the grouped-map round trip.

    The Lucene-style serving hybrid: an interactive query touches only
    its terms' posting blocks (sum(df) postings, delta+varint over
    dense ordinals — ~1-2 bytes/posting), so the engine COLLECTS those
    blocks with one pruned scan and scores them locally; the
    distributed path exists for queries whose posting volume exceeds
    spec.DRIVER_WAND_MAX_POSTINGS. On a multi-executor cluster 'driver'
    is the serving coordinator — the same place the per-shard top-k
    heaps merge in the distributed path anyway.

    ``postings`` passes the terms' decoded lists per shard
    (SearchEngine's per-term cache: a hit serves with no index scan and
    no decode); without it the blocks are collected with one pruned
    Spark scan and decoded here.

    ``resolver(keys) -> {(shard, ord): doc_id}`` maps the <= ~k
    surviving ordinals to external doc_ids for the global tie-break;
    default is one pruned doc_stats point lookup (SearchEngine passes
    its bounded LRU-backed lookup so warm queries resolve with zero
    Spark jobs).

    Repo-scoped queries collect doc_stats pre-filtered to the scoped
    repos: the kernel's membership test (candidate ord present in the
    filtered ords) is exact. CAVEAT: that collect is proportional to
    the scoped repos' DOC COUNT, which the posting-volume gate does not
    bound — SearchEngine therefore routes scoped queries to the
    distributed path and uses this function only unscoped; the scoped
    support here exists for small-corpus callers and the identity
    tests.
    """
    terms = sorted(term_idfs, key=lambda t: (term_dfs.get(t, 0), t))
    if not terms:
        raise ValueError("wand_topk_driver: empty term list")
    avgdl = ix.meta.avgdl
    idfs = dict(term_idfs)
    if postings is None:
        rows = ix.blocks.filter(F.col("term").isin(terms)).collect()
        postings = decode_postings(rows, avgdl)
    by_term = [postings.get(t, {}) for t in terms]
    if not any(by_term):
        return []
    if diag is not None:
        # postings_total = what a no-pruning engine would decode+score
        # (every posting of every query term); per-shard kernels add
        # postings_decoded / candidates / candidates_scored below —
        # the across-rounds WAND-effectiveness counters (bench.py)
        diag["postings_total"] = diag.get("postings_total", 0) + sum(
            len(p) for shards in by_term for p in shards.values()
        )
    scopes: dict[int, list[int]] = {}
    if repos is not None:
        for r in (
            ix.doc_stats.filter(F.col("repo").isin(list(repos)))
            .select("shard", "ord")
            .collect()
        ):
            scopes.setdefault(int(r["shard"]), []).append(int(r["ord"]))
    parts = []
    for shard in sorted(set().union(*by_term)):
        scope = None
        if repos is not None:
            if shard not in scopes:
                continue  # scoped repos have no docs in this shard
            scope = np.sort(np.array(scopes[shard], dtype=np.int64))
        sdiag: dict | None = {} if diag is not None else None
        # AND: a shard missing some term entirely has no hits
        if all(shard in shards for shards in by_term):
            ords, scores = topk_ords(
                [shards[shard] for shards in by_term], terms, idfs, avgdl, k,
                scope, sdiag,
            )
            if len(ords):
                parts.append(
                    {"shard": np.full(len(ords), shard), "ord": ords, "score": scores}
                )
        if diag is not None:
            for key in (
                "postings_decoded",
                "candidates",
                "candidates_scored",
                "tie_overflow",
            ):
                diag[key] = diag.get(key, 0) + int(sdiag.get(key, 0))
    if resolver is None:
        resolver = lambda keys: _resolve_ords_spark(ix, keys)  # noqa: E731
    return _finalize_topk(parts, k, resolver)


def wand_topk(
    ix: Index,
    term_idfs: dict[str, float],
    term_dfs: dict[str, int],
    k: int,
    repos: list[str] | None = None,
) -> DataFrame:
    """Distributed top-k: per-shard WAND UDF + doc_id resolution +
    driver merge.

    Unscoped: single-input grouped map over the query terms' blocks
    (lengths are inline). Repo-scoped: cogroup with doc_stats for the
    ord→scope lookup. Either way the grouped map emits <= ~k ties-kept
    (shard, ord, score) rows per shard; those join doc_stats
    BROADCAST (the tiny side is the result, never the registry) to
    recover external doc_ids, and orderBy().limit() compiles to
    TakeOrderedAndProject for the exact global (score desc, doc_id
    asc) cut — no extra shuffle.
    """
    terms = sorted(term_idfs, key=lambda t: (term_dfs.get(t, 0), t))
    if not terms:
        raise ValueError("wand_topk: empty term list")
    avgdl = ix.meta.avgdl
    idfs = dict(term_idfs)

    res = _wand_shard_results(ix, terms, idfs, avgdl, k, repos)
    # ord -> doc_id through an inner broadcast join (the tiny side is
    # the RESULT, never the registry). An inner join would silently
    # drop scored ordinals missing from a corrupt/stale registry where
    # the driver path raises (round-4 advisor) — the per-shard window
    # count vs the carried n_out turns any partial drop into a loud
    # error baked into the score expression itself (kept un-prunable
    # because it IS the consumed score column). A shard whose rows ALL
    # vanish is not row-detectable here; load_index's format/intent
    # gates and the driver path cover that corruption class.
    from pyspark.sql import Window

    resolved = (
        ix.doc_stats.select("shard", "ord", "doc_id")
        .join(F.broadcast(res), ["shard", "ord"])
        .withColumn("_cnt", F.count(F.lit(1)).over(Window.partitionBy("shard")))
    )
    score = F.when(F.col("_cnt") == F.col("n_out"), F.col("score")).otherwise(
        F.raise_error(
            F.concat(
                F.lit("wand top-k: shard "),
                F.col("shard").cast("string"),
                F.lit(" resolved "),
                F.col("_cnt").cast("string"),
                F.lit(" of "),
                F.col("n_out").cast("string"),
                F.lit(" scored ordinals (index corrupt or stale)"),
            )
        )
    )
    return (
        resolved.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _wand_shard_results(
    ix: Index,
    terms: list[str],
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    repos: list[str] | None,
) -> DataFrame:
    """The distributed per-shard WAND kernel: grouped map over the
    query terms' blocks emitting <= ~cap ties-kept (shard, ord, score,
    n_out) rows per shard (n_out = the shard's emitted row count, for
    the resolution-loss guard)."""
    qb = ix.blocks.filter(F.col("term").isin(terms))
    if repos is None:

        def per_shard_solo(key: tuple, blocks_pdf: pd.DataFrame) -> pd.DataFrame:
            out = shard_topk(blocks_pdf, None, terms, idfs, avgdl, k)
            return out.assign(shard=int(key[0]), n_out=len(out))[
                ["shard", "ord", "score", "n_out"]
            ]

        return qb.groupBy("shard").applyInPandas(per_shard_solo, _OUT_SCHEMA)

    def per_shard(
        key: tuple, blocks_pdf: pd.DataFrame, stats_pdf: pd.DataFrame
    ) -> pd.DataFrame:
        out = shard_topk(
            blocks_pdf, stats_pdf, terms, idfs, avgdl, k, repos=repos
        )
        return out.assign(shard=int(key[0]), n_out=len(out))[
            ["shard", "ord", "score", "n_out"]
        ]

    # pre-filter the cogroup's registry side to the scoped repos —
    # shard_topk's membership test (candidate ord in the scoped
    # frame) is unchanged by dropping rows that fail it anyway, and
    # the per-query exchange now carries O(scoped docs), not
    # O(corpus) (file-backed doc_stats is ord≡repo-sorted, so the
    # predicate also prunes row groups; the driver hybrid does the
    # identical pre-filter)
    ds = ix.doc_stats.filter(F.col("repo").isin(list(repos))).select(
        "shard", "ord", "repo"
    )
    return (
        qb.groupBy("shard")
        .cogroup(ds.groupBy("shard"))
        .applyInPandas(per_shard, _OUT_SCHEMA)
    )


def wand_topk_rows(
    ix: Index,
    term_idfs: dict[str, float],
    term_dfs: dict[str, int],
    k: int,
    repos: list[str] | None = None,
    resolver=None,
) -> list:
    """Distributed WAND kernel + the driver path's finalization: the
    per-shard grouped map runs on the cluster, its <= ~cap-per-shard
    ties-kept survivors collect to the coordinator, and the SAME
    _finalize_topk as wand_topk_driver resolves ord -> doc_id (through
    the caller's cached resolver, e.g. SearchEngine's bounded docmeta
    LRU) and applies the exact global (score desc, doc_id asc) cut.

    This is SearchEngine's serving path for scoped and fat queries:
    identical failure semantics to the driver path (missing ordinals
    raise), no per-query broadcast join, and the resolver benefits from
    the engine's caches. wand_topk keeps the all-lazy DataFrame shape
    for analytical callers that want the full plan (the contract oracle
    runs it at k ~ corpus size, where collecting survivors here would
    pull the whole match set through the coordinator twice)."""
    terms = sorted(term_idfs, key=lambda t: (term_dfs.get(t, 0), t))
    if not terms:
        raise ValueError("wand_topk_rows: empty term list")
    res = _wand_shard_results(
        ix, terms, dict(term_idfs), ix.meta.avgdl, k, repos
    )
    pdf = res.toPandas()
    parts = [pdf[["shard", "ord", "score"]]] if len(pdf) else []
    if resolver is None:
        resolver = lambda keys: _resolve_ords_spark(ix, keys)  # noqa: E731
    return _finalize_topk(parts, k, resolver)
