"""Frozen engine constants (SURVEY.md §7 Milestone 0).

Rank-identity of BM25 top-k (docIDs AND scores) across the pure-Python
oracle, the DataFrame scoring path, and the block-max WAND path is only
achievable if every constant and formula here is fixed first. Do not
change these without regenerating every golden.

Reference parity notes (all paths relative to /root/reference/):
- field weights mirror the title/body weights in
  src/main/resources/application.yml:51-63 (title=1.0, body=0.8); our
  code-corpus analogs are `path` (1.0) and `content` (0.8) per
  FIXTURES.md F3.
- theta (DF-threshold stop filter) mirrors
  service/search/SearchService.java:32 (0.97).
- snippet window constants mirror
  service/search/SnippetBuilder.java:40-41 (12 before, 6 after).
- default pagination mirrors api/ApiController.java:84-85.
- BM25 (k1=1.2, b=0.75) replaces the reference's ceil-quirk ranking per
  the north rule in BASELINE.json.
"""

from __future__ import annotations

import math

# ---------------------------------------------------------------- BM25
K1: float = 1.2
B: float = 0.75

# Field weights (FIXTURES.md F3; reference application.yml:51-63).
FIELD_WEIGHT_PATH: float = 1.0
FIELD_WEIGHT_CONTENT: float = 0.8

# ------------------------------------------------------- index layout
# Posting block size: docs per compressed block (SURVEY.md §7 M0).
BLOCK_SIZE: int = 128
# Default number of document shards (document-partitioned index: every
# shard holds a complete mini-index over its documents, so block-max
# WAND runs shard-locally and the driver merges per-shard top-k).
DEFAULT_N_SHARDS: int = 16
# Hot-term salting threshold: terms with df > HOT_DF_RATIO * n_docs get
# salted partial aggregation during the build (SURVEY.md §2 B9).
HOT_DF_RATIO: float = 0.10
DEFAULT_N_SALTS: int = 8

# ------------------------------------------------------------- search
# DF-threshold stop filter: drop query terms whose document frequency
# >= THETA * total docs (reference LemmaRepository.java:26).
THETA: float = 0.97
DEFAULT_LIMIT: int = 20
DEFAULT_OFFSET: int = 0
# Serving fast path: when the term dictionary fits comfortably in the
# driver (vocab <= this), SearchEngine loads it once and per-query term
# probes become O(1) dict lookups instead of a Spark job (the Lucene
# in-heap term-dictionary analog). Above the threshold the dictionary
# stays distributed and queries probe it with an isin() filter — the
# only path possible at 10^12-file vocabulary scale.
DRIVER_DICT_MAX_TERMS: int = 1_000_000
# Serving hybrid: queries whose total posting volume (sum of term dfs)
# is at most this run block-max WAND driver-side over the collected
# compressed blocks (one pruned scan, no grouped-map round trip —
# interactive p50 path); fatter queries scatter per-shard tasks. At
# ~2-4 varint bytes/posting this bounds the collect at a few MB.
DRIVER_WAND_MAX_POSTINGS: int = 2_000_000
# Bounded LRU over the driver-WAND path's DECODED posting lists, keyed
# by term and budgeted in POSTINGS (the same unit as the gate above).
# A term's blocks are decoded once, when it enters the cache. Decoded,
# a posting costs 24 bytes (int64 ordinal + four int32 counts) plus
# 32 bytes per 128-posting block, so long lists approach ~24 B and a
# full cache ~100 MB. Short lists pay a fixed ~1 KB of numpy headers
# per (term, shard): on the 6k-doc serve_zipf corpus's warm cache
# (284 terms, 18k postings, 4 shards) it measured 66 B/posting, against
# 44 B for the compressed block rows cached before. Zipf-distributed
# query workloads re-ask the same hot terms: a cache hit serves the
# query with ZERO index-scan jobs and no decode (the Lucene-style hot
# posting-list cache; content fetch still runs).
DRIVER_BLOCK_CACHE_MAX_POSTINGS: int = 4_000_000
# Bounded LRU over fetched content rows (snippet assembly), budgeted in
# CONTENT BYTES. Result distributions are Zipfian like query terms: hot
# documents re-render snippets with zero Spark jobs, and together with
# the block cache a fully-warm repeat query runs NO jobs at all. Same
# snapshot-lifetime staleness model as the other driver caches (an
# engine serves one index snapshot).
DRIVER_CONTENT_CACHE_MAX_BYTES: int = 64 * 1024 * 1024
# Bounded LRU over (shard, ord) -> doc_id resolution rows: the
# driver-WAND path maps its <= ~k surviving ordinals to external
# doc_ids for the global tie-break (posting blocks store dense
# per-shard ordinals, not doc_ids — operators/index.py). ~50 bytes per
# entry, so the cap bounds driver heap at ~100 MB while hot result
# docs resolve with zero Spark jobs.
DRIVER_DOCMETA_CACHE_MAX_ROWS: int = 2_000_000
# Keep-ties bound (round-4 advisor, wand.py): per-shard WAND kernels
# keep ALL candidates tied at the kth score so the global tie-break on
# external doc_id stays exact — but a corpus with thousands of
# duplicate-content docs can tie exactly at the boundary, making the
# survivor set (and everything downstream: merge, resolution, join)
# scale with the tie-group size instead of k. Survivors are therefore
# capped at WAND_TIE_CAP_FACTOR * k (deterministic (score desc, ord
# asc) truncation, logged + counted in diag["tie_overflow"]): beyond
# the cap, ties at the boundary break by shard-local ordinal — i.e.
# (repo, path) order — instead of global doc_id. Every doc ABOVE the
# boundary score is still exact.
WAND_TIE_CAP_FACTOR: int = 8
# Repo-scoped hybrid retrieval over-fetch: the IVF store is partitioned
# by centroid, not by repo, so a scoped semantic list is produced by
# over-fetching the global cosine top-(factor*depth), resolving those
# candidates' repos through the content store's slim (doc_id, repo)
# point read, and keeping the first `depth` in-scope hits. Recall under
# scoping is bounded by the over-fetch: a repo holding none of the
# global top-(factor*depth) contributes an empty semantic list (the
# lexical list still ranks). Deployments where scoped ANN recall is a
# hard requirement should partition a per-scope IVF store instead.
HYBRID_SCOPE_OVERFETCH: int = 4
# ord -> doc_id resolution switches from an `ord IN (...)` point-probe
# predicate to a broadcast join of a keys DataFrame when the survivor
# count exceeds this (a giant IN literal bloats planning faster than
# the join costs — round-4 advisor note; with the tie cap above, real
# queries stay far below it).
RESOLVE_ISIN_MAX_KEYS: int = 8_192
# Dictionary hash-bucket count for on-disk term_stats files
# (pmod(crc32(term), N) hive partition): per-query dictionary probes
# prune to one bucket + row group, and the dictionary write
# parallelizes N-ways instead of funnelling through one task (round-4
# verdict item 4). 16 buckets ~ 10^7 terms at comfortable file sizes;
# a 10^9-term deployment raises it (recorded in meta.json, so readers
# never guess).
TERM_STATS_BUCKETS: int = 16
# Incremental updates: joins whose matches must share the batch's repos
# (new-or-changed detection, partial-mode stale lookup) filter the
# on-disk doc registry to ``repo IN (batch repos)`` when the batch
# touches at most this many distinct repos — doc_stats files are
# written repo-sorted inside each shard, so parquet row-group pruning
# turns those probes into O(docs of touched repos) instead of
# O(corpus). Batches touching more repos than this fall back to the
# full scan (a giant IN literal would bloat the plan for little
# pruning value — such a batch resembles a full rebuild anyway).
INCR_REPO_PRUNE_MAX: int = 4_096
# Snippet window in words (reference SnippetBuilder.java:40-41).
SNIPPET_BEFORE: int = 12
SNIPPET_AFTER: int = 6

# ---------------------------------------------------------- tokenizer
# Tokenizer spec (SURVEY.md §2 T1-T5, FIXTURES.md F4). Four
# implementations must agree exactly: pandas UDF (functions/tokenizer.py),
# Catalyst expression (same file), DuckDB SQL (entry contract), pure
# Python oracle (oracle.py).
#
# Pipeline:
#   1. camel-boundary split pass 2: ([A-Z]+)([A-Z][a-z]) -> "\1 \2"
#   2. camel-boundary split pass 1: ([a-z0-9])([A-Z])    -> "\1 \2"
#   3. lowercase
#   4. extract tokens matching TOKEN_RE (ascii letters+digits, in-word
#      hyphens kept whole — reference MorphologyServiceTest.java:71-77;
#      digits-only tokens pass through — MorphologyService.java:34-35;
#      snake_case splits on the underscore because '_' is not in the
#      token class; camelCase splits via passes 1-2 — this is the code
#      analog of the reference's 1->N normal-form expansion,
#      MorphologyService.java:28-38)
#   5. 1->N whole-identifier expansion: every word that steps 1-4 split
#      into >=2 parts (a camel boundary or an underscore) ALSO emits its
#      whole form — lowercased, underscores stripped — APPENDED after
#      the part stream in order of word appearance. This is the code
#      analog of the reference's multi-normal-form lemmatization
#      (MorphologyService.java:28-38; golden
#      MorphologyServiceTest.java:156-164 maps one word to TWO counted
#      normal forms): `parseHttpRequest` indexes as parse/http/request
#      AND parsehttprequest, so exact-identifier queries rank whole
#      matches above part co-occurrence. snake/camel variants of one
#      identifier share the whole form (parse_http_request ->
#      parsehttprequest too).
#   6. drop STOP_TOKENS (reference POS-garbage filter,
#      MorphologyService.java:55-73 — conjunctions / prepositions /
#      articles / particles; frozen english function-word list for the
#      code corpus) from the combined stream
CAMEL_PASS_2: str = r"([A-Z]+)([A-Z][a-z])"
CAMEL_PASS_1: str = r"([a-z0-9])([A-Z])"
TOKEN_RE: str = r"[a-z0-9]+(?:-[a-z0-9]+)*"
# raw word runs considered for whole-form expansion (hyphen excluded:
# hyphenated words are already kept whole by TOKEN_RE)
WORD_RE: str = r"[A-Za-z0-9]+(?:_[A-Za-z0-9]+)*"
# a word is multi-part iff a camel pass would split it ([a-z0-9][A-Z]
# covers CAMEL_PASS_1; [A-Z][A-Z][a-z] is exactly where CAMEL_PASS_2
# fires) or it contains an underscore — partial-match semantics
MULTI_WORD_RE: str = r"[a-z0-9][A-Z]|[A-Z][A-Z][a-z]|_"

STOP_TOKENS: frozenset[str] = frozenset(
    {
        # articles
        "a", "an", "the",
        # conjunctions
        "and", "but", "or", "nor",
        # prepositions
        "of", "in", "on", "at", "by", "to", "from", "with", "as",
        # copulas / particles
        "is", "are", "was", "were", "be", "been", "am", "not", "no",
    }
)

# Stop set rendered for SQL IN-lists (stable order).
STOP_TOKENS_SORTED: tuple[str, ...] = tuple(sorted(STOP_TOKENS))


def idf(n_docs: int, df: int) -> float:
    """Lucene-style always-positive BM25 idf (SURVEY.md §7 M0)."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_term_score(wtf: float, dl: float, avgdl: float, idf_val: float) -> float:
    """BM25 per-(doc, term) score.

    ``wtf`` is the field-weighted term frequency
    (tf_path * FIELD_WEIGHT_PATH + tf_content * FIELD_WEIGHT_CONTENT);
    ``dl`` the weighted document length
    (len_path * FIELD_WEIGHT_PATH + len_content * FIELD_WEIGHT_CONTENT).
    Per-doc query scores are the sum of term scores in ASCENDING TERM
    ORDER everywhere (oracle, DataFrame path, WAND path) so float sums
    are bit-identical across partitionings.

    Operation order is part of the spec (float association matters for
    exact rank identity): score = idf * KERNEL where
    KERNEL = (wtf*(k1+1)) / (wtf + k1*((1-b) + (b*dl)/avgdl)).
    """
    kernel = (wtf * (K1 + 1.0)) / (wtf + K1 * ((1.0 - B) + (B * dl) / avgdl))
    return idf_val * kernel
