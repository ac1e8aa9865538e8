"""Search API (SURVEY.md §3.1 trace, §7 M3) — the reference's
GET /api/search re-expressed as a Python API over the sharded index.

search(query, repo=None, offset=0, limit=20) mirrors
/root/reference/.../api/ApiController.java:81-94 parameters and error
semantics: empty query -> error; all-stop-words -> error
(SearchService.java:50-52); no hits -> relaxation (drop rarest term,
SearchService.java:101-114) until hit or empty.
"""

from __future__ import annotations

import time
import weakref
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from posik_engine_spark import spec
from posik_engine_spark.functions.snippet import build_snippet, title_for_path
from posik_engine_spark.functions.tokenizer import tokenize_py
from posik_engine_spark.operators.index import Index, build_index
from posik_engine_spark.operators.wand import (
    decode_postings,
    wand_topk,
    wand_topk_driver,
)
from posik_engine_spark.oracle import SearchError

# Fixed driver-heap cost of one block-cache entry, in postings of 24 B
# (the marginal cost of one decoded posting). tracemalloc over
# decode_postings output: ~0.85 KB per term (its shard dict and five
# owning arrays) and ~1.2 KB per shard (the ShardPostings and its nine
# array headers). Without it a cache of df=1 terms cost ~1-2 KB per
# charged posting under spec.DRIVER_BLOCK_CACHE_MAX_POSTINGS.
_TERM_CHARGE, _SHARD_CHARGE = 35, 49


def _block_charge(shards: dict) -> int:
    """Budget charge of one cached term ({shard: ShardPostings})."""
    return _TERM_CHARGE + sum(_SHARD_CHARGE + len(p) for p in shards.values())


RESULT_SCHEMA = (
    "doc_id long, repo string, uri string, title string, snippet string, "
    "relevance double, score double"
)


@dataclass
class SearchResponse:
    """Analog of dto/SearchResponse.java:69-74.

    ``hits`` holds the assembled top-k rows (already driver-side —
    k <= limit); ``data`` materializes them as a DataFrame lazily, so
    callers that only read hits never pay a createDataFrame round-trip.
    """

    result: bool
    message: str
    count: int
    hits: list[tuple]
    surviving_terms: list[str]
    elapsed_sec: float
    _spark: SparkSession | None = None
    _data: DataFrame | None = None

    @property
    def data(self) -> DataFrame:
        if self._data is None:
            self._data = self._spark.createDataFrame(self.hits, RESULT_SCHEMA)
        return self._data


# Refcounted per-session AQE ownership: several engines may overlap on
# one session (e.g. the docs-path and store-path engines in one test, a
# serving engine outliving a rebuilt one). A naive save/set/restore per
# engine is last-writer-loses — engine B would save A's already-"false"
# value as the thing to restore, and a GC-timed finalizer could
# re-enable AQE under a still-serving engine. Instead the FIRST engine
# on a session saves the true previous value and disables AQE; the LAST
# release restores it.
import threading

_AQE_KEY = "spark.sql.adaptive.enabled"
_AQE_LOCK = threading.Lock()
_AQE_STATE: dict[int, list] = {}  # id(spark) -> [prev_value, refcount]


def _aqe_acquire(spark: SparkSession) -> None:
    with _AQE_LOCK:
        st = _AQE_STATE.get(id(spark))
        if st is None:
            prev = spark.conf.get(_AQE_KEY)
            spark.conf.set(_AQE_KEY, "false")
            _AQE_STATE[id(spark)] = [prev, 1]
        else:
            st[1] += 1


def _aqe_release(spark: SparkSession) -> None:
    """Engine close / GC-finalizer target (module-level so it holds no
    engine ref); restore is best-effort — the session may be stopped."""
    with _AQE_LOCK:
        st = _AQE_STATE.get(id(spark))
        if st is None:
            return
        st[1] -= 1
        if st[1] > 0:
            return
        del _AQE_STATE[id(spark)]
        prev = st[0]
        # restore INSIDE the lock: a concurrent acquire on the same
        # session running between the state deletion and the restore
        # would capture the still-'false' value as its prev and the
        # last-writer-loses bug the refcount exists to prevent comes
        # back through the window (the set is cheap — driver-local conf)
        try:
            spark.conf.set(_AQE_KEY, prev)
        except Exception:
            pass


class SearchEngine:
    """Index + content store + query-side semantics.

    Usable as a context manager; ``close()`` (or exit) restores the
    session conf, unpersists serving caches and closes the files the
    direct readers pinned (the index reader's and the content store's).
    """

    def __enter__(self) -> "SearchEngine":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def __init__(
        self,
        spark: SparkSession,
        ix: Index,
        docs: DataFrame,
        optimize_for_queries: bool = True,
        index_dir: str | None = None,
        content_store=None,
        direct_io: bool = True,
    ):
        self.spark = spark
        # builder dir backing this engine (if any): statistics() consults
        # its markers/lineage for the live isIndexing flag (A3)
        self._index_dir = index_dir
        # driver-direct point-lookup reader over the on-disk index files
        # (operators/direct_io.py): the serving coordinator reads the
        # few KB a cold query touches (term blocks, ord resolution,
        # dictionary probes) straight from parquet instead of paying a
        # Spark job's fixed scheduling cost per point read — the round-4
        # cold-query regression fix. It pins the index files at open,
        # so it keeps serving the snapshot it opened across a later
        # incremental commit on the same dir; distributed paths are
        # untouched.
        self._direct = None
        if direct_io:
            from posik_engine_spark.operators import direct_io as D

            p = index_dir or getattr(ix, "path", None)
            if D.available(p):
                self._direct = D.DirectIndexReader(p)
        # optional bucketed+sorted on-disk store: top-k content fetches
        # become partition+row-group-pruned point lookups instead of a
        # scan over the persisted corpus (operators/content_store.py) —
        # the 100 TB serving path. None keeps the in-memory persisted
        # ``docs`` scan (right for small/ephemeral corpora). A store the
        # caller passes in stays the caller's to close (it may be shared
        # by several engines); one from_index_dir opened is closed by
        # close().
        self._store = content_store
        self._owns_store = False
        self._aqe_held = False
        self._aqe_finalizer: weakref.finalize | None = None
        if optimize_for_queries:
            # serving fast path: query plans are exchange-free (the
            # persisted shard partitioning is reused), so AQE has
            # nothing to re-plan and its per-stage materialization only
            # adds latency. Acquired ONCE via the refcounted per-session
            # state above (overlap-safe); close() releases, and a
            # weakref finalizer releases on GC for engines abandoned
            # without close() — otherwise one forgotten engine disables
            # AQE (incl. skew-join mitigation) for every later batch job
            # sharing the session.
            _aqe_acquire(spark)
            self._aqe_held = True
            self._aqe_finalizer = weakref.finalize(self, _aqe_release, spark)
        self.ix = ix.prepare_for_queries() if optimize_for_queries else ix
        # token normalization recorded at build time (index meta):
        # query tokens and snippet word-forms MUST go through the same
        # function or stemmed index terms would never match (the
        # reference shares one MorphologyService across index + search)
        from posik_engine_spark.functions.stemmer import resolve as _resolve_stem

        self._stem = _resolve_stem(self.ix.stemmer)
        # content joined back only for the top-k (content never enters
        # the scoring plan — column pruning by construction)
        self._content = None
        if self._store is None and docs is not None:
            # optional display-title column (HTML corpora): carried to
            # the snippet stage, never into the scoring plan
            extra = ["title"] if "title" in docs.columns else []
            self._content = docs.select(
                F.xxhash64("repo", "path", "commit").alias("doc_id"),
                "repo", "path", "content", *extra,
            )
            if optimize_for_queries:
                self._content = self._content.persist()
        # driver-side memo of term stats: (idf, df, ctf) or None for
        # out-of-vocabulary terms. Small vocabularies load wholesale at
        # init (spec.DRIVER_DICT_MAX_TERMS — the Lucene in-heap
        # term-dictionary analog: no Spark job per query probe); big
        # vocabularies keep the dictionary distributed and this is a
        # bounded lookup cache over distinct queried terms.
        self._term_cache: dict[str, tuple[float, int, int] | None] = {}
        self._dict_complete = False
        # bounded LRU over DECODED posting lists, keyed by term
        # ({shard: wand.ShardPostings}; spec.DRIVER_BLOCK_CACHE_MAX_POSTINGS
        # budget, charged by _block_charge): a term's blocks are read
        # and decoded once, when the cache is filled, and hot terms of a
        # Zipfian workload then serve the driver-WAND path with zero
        # index-scan jobs and no decode. Same staleness model as the
        # persisted ix frames (an engine serves one index snapshot, so
        # one avgdl for the cached block bounds).
        from collections import OrderedDict

        self._block_cache: OrderedDict[str, dict] = OrderedDict()
        self._block_cache_postings = 0
        # bounded LRU over fetched content rows keyed by doc_id
        # (spec.DRIVER_CONTENT_CACHE_MAX_BYTES budget): hot result docs
        # render snippets with zero Spark jobs — with the block cache, a
        # fully-warm repeat query serves end-to-end without any job.
        self._content_cache: OrderedDict[int, object] = OrderedDict()
        self._content_cache_bytes = 0
        # bounded LRU over (shard, ord) -> doc_id rows
        # (spec.DRIVER_DOCMETA_CACHE_MAX_ROWS budget): the driver-WAND
        # path resolves its <= ~k surviving ordinals to external
        # doc_ids for the global tie-break — hot result docs resolve
        # with zero Spark jobs, keeping the fully-warm repeat query
        # end-to-end job-free
        self._docmeta_cache: OrderedDict[tuple, int] = OrderedDict()
        self._docmeta_cache_rows = 0
        # statistics() snapshot memo: (snapshot_token, per_repo_rows,
        # lemmas_map, total_lemmas). The corpus-wide aggregates (pages
        # and distinct lemmas per repo) are recomputed only when the
        # backing snapshot changes — dashboards poll statistics(), and
        # the reference's analog is a cheap DB count. Builder dirs key
        # on the latest lineage attempt (an incremental commit writes a
        # new record → invalidation); in-memory engines serve one
        # immutable snapshot and memoize forever.
        self._stats_memo: tuple | None = None
        self._closed = False
        # guards _term_cache/_block_cache under concurrent searches on
        # one engine (the serving shape — the reference is a concurrent
        # Spring service). Spark jobs never run while it is held.
        self._cache_lock = threading.RLock()
        if self.ix.term_stats.count() <= spec.DRIVER_DICT_MAX_TERMS:
            for r in self.ix.term_stats.collect():
                self._term_cache[r["term"]] = (
                    self.ix.meta.idf(int(r["df"])), int(r["df"]), int(r["ctf"])
                )
            self._dict_complete = True

    def _term_info(self, terms: list[str]) -> dict[str, tuple[float, int, int]]:
        if not self._dict_complete:
            with self._cache_lock:
                if len(self._term_cache) > spec.DRIVER_DICT_MAX_TERMS:
                    # bound the lookup cache in the big-vocab path:
                    # arbitrary OOV query terms (cached as None) must
                    # not grow driver memory without limit. Evict BEFORE
                    # computing ``missing`` — clearing afterwards would
                    # drop already-cached terms of the current query
                    # from the fetch set and silently lose them.
                    self._term_cache.clear()
                info = {
                    t: self._term_cache[t]
                    for t in terms
                    if t in self._term_cache
                }
            missing = [t for t in terms if t not in info]
            if missing:
                # fetch outside the lock (concurrent cold queries must
                # not serialize each other); setdefault keeps a
                # concurrent writer's identical value. The result is
                # assembled from the LOCAL snapshot + fetch, so a
                # concurrent clear() between phases cannot drop a real
                # dictionary term from this query's scoring. Direct
                # readers probe the bucketed dictionary files in
                # milliseconds; otherwise one pruned Spark scan.
                if self._direct is not None:
                    fetched = {
                        r["term"]: (
                            self.ix.meta.idf(int(r["df"])),
                            int(r["df"]),
                            int(r["ctf"]),
                        )
                        for r in self._direct.term_info_rows(missing)
                    }
                else:
                    fetched = self.ix.term_info(missing)
                with self._cache_lock:
                    for t in missing:
                        self._term_cache.setdefault(t, fetched.get(t))
                for t in missing:
                    info[t] = fetched.get(t)
            return {t: v for t in terms if (v := info.get(t)) is not None}
        # complete dictionaries are immutable after __init__ — lock-free
        return {
            t: v for t in terms if (v := self._term_cache.get(t)) is not None
        }

    @classmethod
    def from_docs(
        cls,
        spark: SparkSession,
        docs: DataFrame,
        n_shards: int = spec.DEFAULT_N_SHARDS,
        stemmer: str | None = None,
    ) -> "SearchEngine":
        return cls(spark, build_index(docs, n_shards=n_shards, stemmer=stemmer), docs)

    @classmethod
    def from_index_dir(
        cls,
        spark: SparkSession,
        index_dir: str,
        docs: DataFrame | None = None,
        content_dir: str | None = None,
        direct_io: bool = True,
    ) -> "SearchEngine":
        """Serve from an on-disk index (IndexBuilder output or
        save_index dir). Snippet content comes from ``content_dir`` (a
        save_content_store dir — pruned point lookups, the scale path)
        or from ``docs`` (persisted corpus scan); pass at most one.
        With neither, the engine serves statistics and raises a clear
        error if a search needs snippet content."""
        from posik_engine_spark.operators.index import load_index

        if docs is not None and content_dir is not None:
            raise ValueError("pass at most one of docs / content_dir")
        store = None
        if content_dir is not None:
            from posik_engine_spark.operators.content_store import ContentStore

            store = ContentStore(spark, content_dir, direct=direct_io)
        engine = cls(
            spark, load_index(spark, index_dir), docs,
            index_dir=index_dir, content_store=store, direct_io=direct_io,
        )
        engine._owns_store = store is not None
        return engine

    # ---------------------------------------------------------- Q2/Q3
    def filter_query_terms(self, raw_terms: list[str]) -> list[str]:
        """DF-threshold stop filter + rarest-first (CTF asc) ordering.

        Reference: repositories/LemmaRepository.java:17-32 with
        theta=0.97 against the GLOBAL doc count (SURVEY.md §8.3);
        ordering by collection frequency ascending, term asc tie-break.
        Unknown terms (df=0) sort to the front; the relaxation loop
        strips them when they produce an empty AND.
        """
        seen: list[str] = []
        for t in raw_terms:
            if t not in seen:
                seen.append(t)
        info = self._term_info(seen)  # driver-side memo; |q| rows
        keep = []
        for t in seen:
            df = info.get(t, (0.0, 0, 0))[1]
            if df < spec.THETA * self.ix.meta.n_docs:
                keep.append(t)
        return sorted(keep, key=lambda t: (info.get(t, (0.0, 0, 0))[2], t))

    # ------------------------------------------------------- Q4/Q5/Q6
    def _topk(self, terms: list[str], k: int, repos: list[str] | None):
        info = self._term_info(terms)
        if any(t not in info for t in terms):
            return []  # unknown term -> empty AND result
        idfs = {t: v[0] for t, v in info.items()}
        dfs = {t: v[1] for t, v in info.items()}
        # serving hybrid (spec.DRIVER_WAND_MAX_POSTINGS): small posting
        # volumes score locally on the cached decoded postings —
        # identical results (same topk_ords kernel + merge order), no
        # grouped-map round trip; fat queries distribute.
        # Repo-SCOPED queries always distribute: the driver path would
        # collect the scoped repos' doc_stats, which the posting-volume
        # gate does not bound (a rare-term query against a 100M-doc repo
        # must not materialize that repo's doc table on the coordinator).
        if repos is None and sum(dfs.values()) <= spec.DRIVER_WAND_MAX_POSTINGS:
            return wand_topk_driver(
                self.ix, idfs, dfs, k,
                postings=self._postings_for_terms(terms),
                resolver=self._docids_for_keys,
            )
        # scoped / fat queries: distributed per-shard WAND kernel +
        # the SAME driver finalization as above (exact tie-break, loud
        # missing-ordinal failure, cached+pruned ord resolution) —
        # wand_topk's all-lazy DataFrame shape stays for analytical
        # callers (round-4 advisor: the two paths must not diverge)
        from posik_engine_spark.operators.wand import wand_topk_rows

        return wand_topk_rows(
            self.ix, idfs, dfs, k, repos=repos,
            resolver=self._docids_for_keys,
        )

    def _docids_for_keys(self, keys: list[tuple[int, int]]) -> dict:
        """(shard, ord) -> doc_id for the WAND survivors through a
        row-count-bounded LRU (``_cached_fetch``): misses run ONE
        pruned doc_stats point lookup (shard partition + ord row-group
        pruning) — driver-direct from the parquet files when the index
        is file-backed, else a Spark job; hits cost nothing."""
        from posik_engine_spark.operators.wand import _resolve_ords_spark

        if self._direct is not None:
            fetch = self._direct.resolve_ords
        else:
            fetch = lambda missing: _resolve_ords_spark(self.ix, missing)  # noqa: E731
        return self._cached_fetch(
            self._docmeta_cache,
            "_docmeta_cache_rows",
            spec.DRIVER_DOCMETA_CACHE_MAX_ROWS,
            keys,
            lambda _v: 1,
            fetch,
        )

    def _cached_fetch(
        self,
        cache,
        size_attr: str,
        budget: int,
        keys: list,
        sizer,
        fetch_fn,
    ) -> dict:
        """Shared bounded-LRU read-through protocol for the driver
        serving caches (term blocks, content rows). The invariants it
        encodes were each individually bug-fixed in earlier rounds —
        they live in ONE place so a future fix cannot diverge:
        - snapshot hits under ``_cache_lock`` (+ LRU touch), so a
          concurrent eviction between phases cannot drop this call's
          values from its own result;
        - ONE fetch for all misses OUTSIDE the lock (cold calls must
          not serialize each other on the Spark job);
        - inserts under the lock, skipped for keys a concurrent call
          already inserted (no double-counted budget) and gated on
          ``_closed`` (teardown must not leak re-inserted entries);
        - oldest-first eviction that NEVER evicts the current call's
          keys (the r1 eviction-drops-current-terms bug class)."""
        current = set(keys)
        with self._cache_lock:
            have = {k: cache[k] for k in current if k in cache}
            for k in have:
                cache.move_to_end(k)  # LRU recency
        missing = [k for k in keys if k not in have]
        if missing:
            fetched = fetch_fn(missing)
            with self._cache_lock:
                for k, v in fetched.items():
                    if not self._closed and k not in cache:
                        cache[k] = v
                        setattr(
                            self, size_attr, getattr(self, size_attr) + sizer(v)
                        )
                    if k in cache:
                        cache.move_to_end(k)
                while getattr(self, size_attr) > budget and any(
                    k not in current for k in cache
                ):
                    victim = next(k for k in cache if k not in current)
                    setattr(
                        self,
                        size_attr,
                        getattr(self, size_attr) - sizer(cache.pop(victim)),
                    )
            have.update(fetched)
        return have

    def _postings_for_terms(self, terms: list[str]) -> dict[str, dict]:
        """Decoded posting lists ({shard: ShardPostings}) for the query
        terms through the bounded per-term LRU (``_cached_fetch``):
        misses run ONE pruned read for all missing terms (driver-direct
        from the block files when the index is file-backed, else a
        Spark scan) and ONE decode; hits cost nothing. Terms absent
        from the index cache as empty dicts so they are never
        re-scanned. A corrupt block raises from the decode, before
        anything is inserted or charged to the budget."""

        def fetch(missing: list[str]) -> dict[str, dict]:
            if self._direct is not None:
                rows = self._direct.blocks_for_terms(missing)
            else:
                rows = self.ix.blocks.filter(
                    F.col("term").isin(missing)
                ).collect()
            decoded = decode_postings(rows, self.ix.meta.avgdl)
            return {t: decoded.get(t, {}) for t in missing}

        return self._cached_fetch(
            self._block_cache,
            "_block_cache_postings",
            spec.DRIVER_BLOCK_CACHE_MAX_POSTINGS,
            terms,
            _block_charge,
            fetch,
        )

    def close(self) -> None:
        """Release serving state: restore the session conf mutated in
        __init__, unpersist the query-optimized caches (index tables
        + content store) — engines constructed repeatedly in one session
        would otherwise accumulate dead cached RDDs — and close the
        pinned index files and, if this engine opened it, the content
        store's."""
        if self._aqe_held:
            self._aqe_held = False
            if self._aqe_finalizer is not None:
                self._aqe_finalizer.detach()
                self._aqe_finalizer = None
            _aqe_release(self.spark)
        with self._cache_lock:
            # the flag (checked at insert time under this same lock)
            # keeps a search draining concurrently with the teardown
            # from re-inserting its fetched blocks after the clear
            self._closed = True
            self._block_cache.clear()
            self._block_cache_postings = 0
            self._content_cache.clear()
            self._content_cache_bytes = 0
            self._docmeta_cache.clear()
            self._docmeta_cache_rows = 0
            self._stats_memo = None
        if self._direct is not None:
            self._direct.close()
        if self._owns_store:
            self._store.close()
        for df in (
            self.ix.blocks, self.ix.doc_stats, self.ix.term_stats, self._content
        ):
            if df is None:
                continue
            try:
                df.unpersist()
            except Exception:
                pass

    def search(
        self,
        query: str,
        repo: str | None = None,
        offset: int = spec.DEFAULT_OFFSET,
        limit: int = spec.DEFAULT_LIMIT,
    ) -> SearchResponse:
        t_start = time.time()
        if query is None or not query.strip():
            raise SearchError("empty query")
        if limit <= 0:
            # invalid pagination argument, rejected BEFORE tokenization
            # and the dictionary probe (on the big-vocab path the probe
            # is a Spark job) — and as user error, not the
            # nothing-found result the relaxation cascade reports
            raise SearchError(f"invalid limit {limit}: must be >= 1")
        raw = self._q_tokens(query)
        if not raw:
            raise SearchError("query contains only stop words or garbage")
        terms = self.filter_query_terms(raw)
        repos = [repo] if repo is not None else None

        # Relaxation triggers on an empty PAGINATED slice, exactly like
        # the reference (the emptiness check runs on the SQL result that
        # already applied limit/offset — SearchService.java:101-114,
        # PageRepository.java:36-37): offset past the end of a match
        # set also relaxes.
        window: list = []
        while terms:
            hits = self._topk(terms, offset + limit, repos)
            window = hits[offset : offset + limit]
            if window:
                break
            terms = terms[1:]  # drop rarest (SearchService.java:110)
        if not window:
            # reference: nothing found after relaxation -> error
            # (SearchService.java:62-64)
            raise SearchError(f"nothing found for query {query!r}")

        message = self._correct_query_message(query, raw, terms)
        rows = self._assemble(window, terms)
        return SearchResponse(
            result=True,
            message=message,
            # reference count = size of the RETURNED window
            # (searchResults.size(), SearchService.java:86), not the
            # total match count
            count=len(window),
            hits=rows,
            surviving_terms=terms,
            elapsed_sec=time.time() - t_start,
            _spark=self.spark,
        )

    # --------------------------------------------------- hybrid serving
    def search_hybrid(
        self,
        query: str,
        query_vec: list[float],
        ivf,
        *,
        depth: int | None = None,
        limit: int = spec.DEFAULT_LIMIT,
        nprobe: int | None = None,
        repo: str | None = None,
    ) -> list[tuple[int, float]]:
        """Serving-path hybrid retrieval: RRF-fuse this engine's BM25
        top-``depth`` for ``query`` with ``ivf``'s (an
        ``similarity.IVFStore``) cosine top-``depth`` for ``query_vec``
        — the one-call wiring of the two indexes a retrieval deployment
        actually runs (operators/hybrid.py has the math + scale shape;
        the DataFrame twin ``hybrid.rrf_fuse`` backs the
        ``hybrid_rrf_topk`` oracle).

        Both input lists are <= depth driver rows, so the fusion runs
        on the driver (``rrf_fuse_rows``, round-6 canonicalized —
        identical ordering to the DataFrame path). Fully warm this
        costs ZERO Spark jobs: the lexical side serves from the driver
        dictionary + block/docmeta LRUs, the semantic side reads the
        probed IVF partitions driver-direct (``IVFStore.topk_rows``).
        The ivf store's vec_id space must be the engine's doc_id space
        (embed the same docs you index, keyed by the same id).

        No relaxation cascade: a lexical miss contributes an empty
        list and the semantic list still ranks (hybrid's whole point);
        only an empty/blank query string is user error.

        ``repo`` scopes BOTH lists: the lexical side pre-filters its
        registry (same as ``search``); the semantic side over-fetches
        the global cosine top-(spec.HYBRID_SCOPE_OVERFETCH * depth),
        resolves those candidates' repos through the content store's
        slim (doc_id, repo) point read, and keeps the first ``depth``
        in-scope hits with COMPACTED ranks — symmetric with the lexical
        scoping, where ranks also count only in-scope docs. Scoped
        semantic recall is bounded by the over-fetch (spec.py has the
        trade-off); docs missing from the content source (deleted) are
        treated as out of scope. Returns [(doc_id, rrf_score)]
        best-first, ties by doc_id asc."""
        from posik_engine_spark.operators import hybrid
        from posik_engine_spark.operators.similarity import DEFAULT_NPROBE

        if query is None or not query.strip():
            raise SearchError("empty query")
        if limit <= 0:
            raise SearchError(f"invalid limit {limit}: must be >= 1")
        depth = hybrid.DEFAULT_DEPTH if depth is None else depth
        nprobe = DEFAULT_NPROBE if nprobe is None else nprobe
        repos = [repo] if repo is not None else None
        terms = self.filter_query_terms(self._q_tokens(query))
        lex_ids = (
            [int(h["doc_id"]) for h in self._topk(terms, depth, repos)]
            if terms
            else []
        )
        if repos is None:
            sem_ids = [
                int(vid) for vid, _ in ivf.topk_rows(query_vec, depth, nprobe)
            ]
        else:
            cand = [
                int(vid)
                for vid, _ in ivf.topk_rows(
                    query_vec, spec.HYBRID_SCOPE_OVERFETCH * depth, nprobe
                )
            ]
            rmap = self._repos_for_ids(cand)
            want = set(repos)
            sem_ids = [v for v in cand if rmap.get(v) in want][:depth]
        return hybrid.rrf_fuse_rows([lex_ids, sem_ids], topk=limit)

    def _repos_for_ids(self, ids: list[int]) -> dict[int, str]:
        """doc_id -> repo for a bounded candidate batch (scope checks):
        a slim two-column point read — content-store pruned lookup when
        the engine has one, else the pruned corpus scan. Never fetches
        content bytes."""
        if not ids:
            return {}
        if self._store is not None:
            return self._store.repos_for_ids(ids)
        if self._content is None:
            raise SearchError(
                "repo-scoped hybrid retrieval needs a content source to "
                "resolve candidate repos: construct the engine with "
                "docs=... or content_dir=..."
            )
        rows = (
            self._content.filter(F.col("doc_id").isin(list(ids)))
            .select("doc_id", "repo")
            .collect()
        )
        return {int(r["doc_id"]): r["repo"] for r in rows}

    # ------------------------------------------------------------- Q7
    def _correct_query_message(self, query: str, raw: list[str], terms: list[str]) -> str:
        """Echo the human-readable query rebuilt from surviving terms
        (reference SearchService.java:116-134): keep the original words
        whose normal-form set intersects the surviving term list."""
        if set(raw) <= set(terms):
            return ""
        surviving = set(terms)
        kept_words = [
            w for w in query.split() if set(self._q_tokens(w)) & surviving
        ]
        return "corrected query: " + " ".join(kept_words)

    def _q_tokens(self, text: str) -> list[str]:
        """Query-side normal forms: the build tokenizer plus the
        index's recorded normalizer (if any) — EXACTLY what was
        indexed, including the normalizer's token alphabet and its
        1->N normal-form expansion."""
        if self._stem is not None:
            return self._stem.flat(tokenize_py(text, self._stem.token_re))
        return tokenize_py(text)

    # ---------------------------------------------------- Q8/Q9/Q10/Q11
    def _content_for_ids(self, ids: list) -> dict:
        """Content rows for the result window through a bytes-bounded
        LRU keyed by doc_id (``_cached_fetch``) — the document-store
        hot cache every serving search engine keeps in front of its
        content fetch. Docs absent from the content source (e.g.
        deleted) are simply not returned — they are re-probed next
        time, never negatively cached."""

        def _row_bytes(r) -> int:
            # UTF-8 bytes, not str characters (CJK ≈ 3 bytes/char),
            # plus the optional title and ~per-entry Row/str object
            # overhead — the budget must track real driver heap
            n = 96 + len((r["content"] or "").encode("utf-8"))
            n += len((r["path"] or "").encode("utf-8"))
            if "title" in r.__fields__ and r["title"]:
                n += len(r["title"].encode("utf-8"))
            return n

        def fetch(missing: list) -> dict:
            if self._store is not None:
                # pruned point lookup: bucket partition pruning + doc_id
                # row-group min/max pruning (content_store.py)
                return self._store.fetch(missing)
            # k rows: id-list filter against the persisted corpus scan
            return {
                r["doc_id"]: r
                for r in self._content.filter(
                    F.col("doc_id").isin(missing)
                ).collect()
            }

        return self._cached_fetch(
            self._content_cache,
            "_content_cache_bytes",
            spec.DRIVER_CONTENT_CACHE_MAX_BYTES,
            ids,
            _row_bytes,
            fetch,
        )

    def _assemble(self, window, terms: list[str]) -> list[tuple]:
        if not window:
            return []
        ids = [r["doc_id"] for r in window]
        if self._store is None and self._content is None:
            raise SearchError(
                "engine has no content source for snippets: construct it "
                "with docs=... or content_dir=... (statistics-only engines "
                "cannot serve search results)"
            )
        content_rows = self._content_for_ids(ids)
        # normalization quirk kept (SURVEY.md §8.6): divide by the max of
        # the RETURNED window, so page 2's top row also shows 1.0
        max_rel = window[0]["score"]
        out = []
        for r in window:
            c = content_rows.get(r["doc_id"])
            # real document title when the corpus carries one (HTML via
            # html_to_docs -> content store / docs frame, reference
            # PageDtoAdapter.java:14-21); path-derived fallback otherwise
            stored_title = (
                c["title"] if c is not None and "title" in c.__fields__ else None
            )
            out.append(
                (
                    r["doc_id"],
                    c["repo"] if c else "",
                    c["path"] if c else "",
                    stored_title or title_for_path(c["path"] if c else ""),
                    build_snippet(c["content"] if c else "", terms,
                                  normalize=self._stem),
                    r["score"] / max_rel,
                    r["score"],
                )
            )
        return out

    # ------------------------------------------------------- A1-A4
    def _snapshot_token(self):
        """Identity of the index snapshot backing the corpus-wide
        statistics aggregates: the latest lineage attempt for builder
        dirs (a build/incremental/streaming commit writes a new record
        → the memo invalidates), a constant for in-memory engines (one
        immutable snapshot for the engine's lifetime)."""
        if self._index_dir is None:
            return ("immutable",)
        from posik_engine_spark.operators.lifecycle import _latest_lineage

        rec = _latest_lineage(self._index_dir)
        if rec is None:
            return ("no-lineage",)
        return (rec["stage"], rec["attempt_ts"], rec["state"])

    def _per_repo_lemmas(self) -> dict[str, int]:
        """repo -> distinct term count (reference per-site lemma count,
        repositories/LemmaRepository.java:13 consumed by
        StatisticsService.java:33-39).

        Index-dir engines join the on-disk tf table with the doc
        registry — a full columnar pass over (doc_id, term), which is
        the right cost for an admin endpoint (the reference's
        countBySiteId is the same corpus-wide aggregate). In-memory
        engines re-derive terms from the persisted content (path +
        content fields through the build tokenizer INCLUDING the
        index's recorded stemmer, so counts agree with the stemmed
        dictionary; unstemmed engines take the all-JVM expr)."""
        import os

        from posik_engine_spark.functions.tokenizer import tokenize_expr

        # builder dirs carry the tf table; bare save_index dirs don't —
        # fall through to the content route (or report none) for those
        if self._index_dir is not None and os.path.isdir(
            os.path.join(self._index_dir, "tf")
        ):
            tf = self.spark.read.parquet(os.path.join(self._index_dir, "tf"))
            rows = (
                tf.select("doc_id", "term")
                .join(self.ix.doc_stats.select("doc_id", "repo"), "doc_id")
                .groupBy("repo")
                .agg(F.countDistinct("term").alias("n"))
                .collect()
            )
        elif self._content is not None or self._store is not None:
            src = self._content if self._content is not None else self._store._df
            if self._stem is not None:
                # a stemmed index's dictionary holds STEMMED forms; the
                # pure-Catalyst expr cannot stem, so count through the
                # build's stem UDF (else detailed.lemmas would exceed
                # the stemmed total — an impossible statistic)
                from posik_engine_spark.operators.build import _tokenize_stem_udf

                tok_udf = _tokenize_stem_udf(self.ix.stemmer)
                toks = F.explode(
                    F.concat(tok_udf("path"), tok_udf("content"))
                ).alias("term")
            else:
                toks = F.explode(
                    F.concat(tokenize_expr("path"), tokenize_expr("content"))
                ).alias("term")
            rows = (
                src.select("repo", toks)
                .groupBy("repo")
                .agg(F.countDistinct("term").alias("n"))
                .collect()
            )
        else:  # statistics-only engine without a builder dir
            return {}
        return {r["repo"]: int(r["n"]) for r in rows}

    def statistics(self) -> dict:
        """Analog of GET /api/statistics
        (/root/reference/.../service/StatisticsService.java:23-42).

        ``detailed`` carries the reference Detailed fields
        (dto/statistics/Detailed.java:13-19): url, name, status,
        statusTime, error, pages, lemmas. Status/statusTime/error come
        from the builder's lineage log LIVE on every call (reference
        semantics — StatisticsService consults the site status table,
        StatisticsService.java:25), so a concurrent build/incremental
        or a failed attempt against the same dir flips them. Deliberate
        deviation: this engine's builds are corpus-wide, not per-site
        crawls, so the status triple is shared by every repo and name
        == url == the repo identifier (repos have no display name).
        In-memory engines (from_docs) have no builder state: INDEXED,
        no timestamp, isIndexing False."""
        from posik_engine_spark.operators.lifecycle import build_status, is_indexing

        st = build_status(self._index_dir)
        token = self._snapshot_token()
        with self._cache_lock:
            memo = self._stats_memo
        if memo is not None and memo[0] == token:
            _, per_repo, lemmas, total_lemmas = memo
        else:
            # Spark jobs outside the lock (concurrent statistics()
            # calls must not serialize); last writer wins — both
            # computed the same snapshot's values
            per_repo = (
                self.ix.doc_stats.groupBy("repo")
                .count()
                .orderBy("repo")
                .collect()
            )
            lemmas = self._per_repo_lemmas()
            # complete driver dictionaries answer from memory — no
            # Spark job per statistics() call (round-2 minor note)
            total_lemmas = (
                len(self._term_cache)
                if self._dict_complete
                else self.ix.term_stats.count()
            )
            with self._cache_lock:
                if not self._closed:
                    self._stats_memo = (token, per_repo, lemmas, total_lemmas)
        return {
            "total": {
                "sites": len(per_repo),
                "pages": self.ix.meta.n_docs,
                "lemmas": total_lemmas,
                "isIndexing": (
                    is_indexing(self._index_dir)
                    if self._index_dir is not None
                    else False
                ),
            },
            "detailed": [
                {
                    "url": r["repo"],
                    "name": r["repo"],
                    "status": st["status"],
                    "statusTime": st["status_time"],
                    "error": st["error"],
                    "pages": r["count"],
                    "lemmas": lemmas.get(r["repo"], 0),
                }
                for r in per_repo
            ],
        }
