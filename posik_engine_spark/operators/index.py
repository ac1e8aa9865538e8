"""Block-encoded inverted index: build, save, load (SURVEY.md §7 M2).

Layout (document-partitioned, the classic distributed-IR design):
- ``blocks``: one row per (shard, term, block_id) — up to BLOCK_SIZE
  postings per block, postings identified by DENSE PER-SHARD ORDINALS
  (delta+varint: ~1-2 bytes/posting vs ~8-9 for raw xxhash64 ids), tfs
  varint, per-block integer score bounds for block-max pruning (north
  rule). Docs are sharded by pmod(doc_id, n_shards), so every shard is
  a complete mini-index over its own documents and top-k runs
  shard-locally with a driver merge.
- ``doc_stats``: narrow per-doc metadata (lens for BM25, repo for
  scoping, content_sha for the per-row invariant) PLUS ``ord`` — the
  shard-local ordinal, rank of (repo, path, doc_id) within the shard.
  This is the Lucene docvalues analog: intersect/score on ordinals,
  map the final top-k back to external doc_ids through this table.
  The analog of the reference's page table minus content
  (/root/reference/.../model/Page.java:16-45).
- ``term_stats``: term -> df/ctf (the lemma dictionary analog,
  /root/reference/.../model/Lemma.java:18-43).
- ``meta``: exact int corpus totals (CorpusMeta).

Why ordinals (round-4 layout): xxhash64 doc_ids are uniform over
int64, so sorted-run deltas averaged 2^64/n ≈ 8-9 varint bytes per
posting, and block [min, max] ranges over a hash space have no
locality, which neutralized block-range pruning (bench r3:
decode_ratio 0.9999). Ordinals ordered by (repo, path) make deltas
≈ n_docs_in_shard/df (1-2 bytes) and give blocks repo/path locality:
a term concentrated in few repos occupies narrow ordinal ranges, so
the AND intersection actually skips blocks, and a repo scope filter
becomes a contiguous ordinal range. Scores never depend on ids, and
the final global tie-break still uses the external doc_id (per-shard
results keep score ties and are resolved before the k-cut), so rank
identity vs the oracle is unchanged.

Scale notes: the grouped-map encode shuffles once on (term, shard) —
the shard key IS the hot-term salt (a term in every doc still splits
into n_shards groups, SURVEY.md §2 B9); blocks parquet is written
partitioned by shard and sorted by term within files so query scans
prune shards=*/row-groups via min/max stats on ``term``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from posik_engine_spark import spec
from posik_engine_spark.functions import codec
from posik_engine_spark.operators import build as B

BLOCKS_SCHEMA = (
    "term string, shard int, block_id int, n_docs int, "
    "ord_min long, ord_max long, "
    "max_tfp int, max_tfc int, min_lenp int, min_lenc int, "
    "docs binary, tfp binary, tfc binary, lenp binary, lenc binary"
)
# bump when BLOCKS_SCHEMA, the codec layout, OR tokenizer semantics
# change incompatibly; on-disk indexes record it and loads/resumes
# refuse a mismatch instead of failing obscurely later. Tokenizer
# changes count: an incremental update mixing token regimes across
# shards silently violates rank identity (df/idf stats and postings
# disagree on what a token is). v2 = inline lenp/lenc norms; v3 = 1->N
# whole-identifier expansion (functions/tokenizer.py); v4 = dense
# per-shard ordinals in the posting blocks + ``ord`` in doc_stats;
# v5 = hash-bucketed term dictionary files (tbucket hive partition).
INDEX_FORMAT_VERSION = 5


def with_term_bucket(
    ts: DataFrame, n_buckets: int = spec.TERM_STATS_BUCKETS
) -> DataFrame:
    """Attach the dictionary hash bucket: pmod(crc32(term), N). The
    on-disk term_stats is hive-partitioned by it (term-sorted within),
    so a per-query dictionary probe prunes to its terms' buckets + row
    groups, and the dictionary WRITE parallelizes N-ways instead of
    funnelling the whole vocabulary through one task — the round-4
    verdict's 10^8-term scale fix. crc32 (not xxhash64) because the
    query side computes the same bucket driver-side with zlib.crc32
    (operators/direct_io.term_bucket) without a Spark job."""
    return ts.withColumn(
        "tbucket",
        F.pmod(F.crc32(F.col("term")), F.lit(n_buckets)).cast("int"),
    )


def kernel_np(
    tfp: np.ndarray, tfc: np.ndarray, lenp: np.ndarray, lenc: np.ndarray, avgdl: float
) -> np.ndarray:
    """BM25 kernel, numpy form — element-wise IEEE ops identical to
    spec.bm25_term_score / build.kernel_expr (op order pinned)."""
    wtf = tfp * spec.FIELD_WEIGHT_PATH + tfc * spec.FIELD_WEIGHT_CONTENT
    dl = lenp * spec.FIELD_WEIGHT_PATH + lenc * spec.FIELD_WEIGHT_CONTENT
    return (wtf * (spec.K1 + 1.0)) / (
        wtf + spec.K1 * ((1.0 - spec.B) + (spec.B * dl) / avgdl)
    )


def with_ord(ds: DataFrame) -> DataFrame:
    """Attach the shard-local dense ordinal: rank of (repo, path,
    doc_id) within the shard, 0-based. The SINGLE definition of the
    ordinal — the block encoder consumes exactly this column, so the
    posting ids and the doc_stats mapping can never disagree. A narrow
    window over the slim registry (one shuffle+sort of per-doc
    metadata rows — never content); deterministic, so an incremental
    rebuild of a shard reproduces a full rebuild's ordinals
    byte-for-byte."""
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy("repo", "path", "doc_id")
    return ds.withColumn("ord", (F.row_number().over(w) - 1).cast("long"))


def build_blocks(
    tf: DataFrame, doc_ord: DataFrame, block_size: int = spec.BLOCK_SIZE
) -> DataFrame:
    """(term_freqs, doc_stats[shard, doc_id, ord]) -> compressed posting
    blocks via a cogrouped-map UDF on shard. The tf side pays the same
    single shuffle the encode always paid; the ordinal side is the slim
    per-doc registry (3 int columns).

    Postings are encoded as ORDINALS (see module docstring): inside the
    task, doc_id -> ord is one vectorized searchsorted over the shard's
    registry, postings sort by (term, ord), deltas average
    n_docs_in_shard/df ≈ 1-2 varint bytes.

    Blocks are a PURE function of the shard's posting rows + doc set —
    no corpus-global float (avgdl/idf) is baked in. The block-max bound
    is stored as integers (max field tfs, min field lens); the query
    side derives ub_kernel = kernel(max_tfp, max_tfc, min_lenp,
    min_lenc, current_avgdl), which dominates every doc's kernel in the
    block (kernel is monotone up in wtf, down in dl). This keeps
    incremental rebuilds shard-local: corpus stats may drift without
    invalidating untouched shards' blocks (SURVEY.md §2 B8).
    """

    def encode_shard(
        key: tuple, pdf: pd.DataFrame, ord_pdf: pd.DataFrame
    ) -> pd.DataFrame:
        # ONE cogrouped-map task per shard (not per term): at huge-vocab
        # scale, per-(term,shard) Arrow groups cost more in group
        # machinery than in encoding; term segmentation is a vectorized
        # sort + boundary scan instead
        cols = [
            "term", "shard", "block_id", "n_docs", "ord_min", "ord_max",
            "max_tfp", "max_tfc", "min_lenp", "min_lenc",
            "docs", "tfp", "tfc", "lenp", "lenc",
        ]
        if not len(pdf):
            return pd.DataFrame(columns=cols)
        shard = int(key[0])
        # doc_id -> ord, vectorized: sort the registry once, then one
        # searchsorted over all posting rows
        reg_ids = ord_pdf["doc_id"].to_numpy(np.int64)
        if not len(reg_ids):
            # postings with NO registry rows for the shard would
            # otherwise die below on an empty-array index, masking the
            # descriptive out-of-sync diagnostic
            raise ValueError(
                f"build_blocks shard {shard}: {len(pdf)} posting rows "
                f"but an empty shard registry (tf and doc_stats out of "
                f"sync)"
            )
        order = np.argsort(reg_ids, kind="mergesort")
        reg_ids = reg_ids[order]
        reg_ords = ord_pdf["ord"].to_numpy(np.int64)[order]
        ids = pdf["doc_id"].to_numpy(np.int64)
        pos = np.searchsorted(reg_ids, ids)
        ok = (pos < len(reg_ids)) & (reg_ids[np.minimum(pos, len(reg_ids) - 1)] == ids)
        if not ok.all():
            raise ValueError(
                f"build_blocks shard {shard}: {int((~ok).sum())} posting "
                f"rows reference doc_ids absent from the shard registry "
                f"(tf and doc_stats out of sync)"
            )
        pdf = pdf.assign(ord=reg_ords[pos])
        pdf = pdf.sort_values(["term", "ord"], kind="mergesort")
        terms = pdf["term"].to_numpy()
        ords = pdf["ord"].to_numpy(np.int64)
        tfp = pdf["tf_path"].to_numpy(np.int64)
        tfc = pdf["tf_content"].to_numpy(np.int64)
        lenp = pdf["len_path"].to_numpy(np.int64)
        lenc = pdf["len_content"].to_numpy(np.int64)
        # term run boundaries
        change = np.flatnonzero(terms[1:] != terms[:-1]) + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [len(terms)]))
        rows = []
        for s, e in zip(starts, ends):
            term = terms[s]
            for b0 in range(s, e, block_size):
                b1 = min(b0 + block_size, e)
                bi = ords[b0:b1]
                rows.append(
                    (
                        term,
                        shard,
                        (b0 - s) // block_size,
                        b1 - b0,
                        int(bi[0]),
                        int(bi[-1]),
                        int(tfp[b0:b1].max()),
                        int(tfc[b0:b1].max()),
                        int(lenp[b0:b1].min()),
                        int(lenc[b0:b1].min()),
                        codec.encode_doc_ids(bi),
                        codec.encode_counts(tfp[b0:b1]),
                        codec.encode_counts(tfc[b0:b1]),
                        # per-doc field lengths inline (Lucene-norms
                        # style): unscoped queries never touch
                        # doc_stats until the final top-k id resolution
                        codec.encode_counts(lenp[b0:b1]),
                        codec.encode_counts(lenc[b0:b1]),
                    )
                )
        return pd.DataFrame(rows, columns=cols)

    return (
        tf.groupBy("shard")
        .cogroup(doc_ord.select("shard", "doc_id", "ord").groupBy("shard"))
        .applyInPandas(encode_shard, BLOCKS_SCHEMA)
    )


@dataclass
class Index:
    """Handle over the three index tables + corpus meta."""

    blocks: DataFrame
    doc_stats: DataFrame
    term_stats: DataFrame
    meta: B.CorpusMeta
    # token normalization the index was built with (None or "porter");
    # the engine must stem query tokens and snippet word-forms with the
    # SAME function or stemmed terms would never match (the reference
    # shares one MorphologyService across indexing and search)
    stemmer: str | None = None
    # local on-disk dir backing the tables (save_index / IndexBuilder
    # layout): SearchEngine serves its cold-query point lookups
    # driver-direct from these files (operators/direct_io.py) instead
    # of paying a Spark job's fixed cost per point read. None for an
    # index built in memory (build_index) or read from a non-parquet
    # backend; SearchEngine saves such an index to a temp dir it owns
    # and serves that copy.
    path: str | None = None
    # hash-bucket count of the on-disk term dictionary (meta.json
    # ``term_stats_buckets``); None for in-memory dictionaries.
    term_buckets: int | None = None

    def prepare_for_queries(self, query_partitions: int | None = None) -> "Index":
        """Return a query-optimized handle: blocks and doc_stats
        hash-partitioned by shard and persisted, so per-query grouped
        WAND UDFs reuse the partitioning instead of reshuffling the
        whole index on every search (exchange elided because the cached
        plan's outputPartitioning already satisfies the grouping).

        ``query_partitions`` controls per-query task count: several
        shards fold into one task (grouping keys stay per-shard). For
        latency-bound serving fewer-but-bigger tasks amortize the
        per-task Python round trip; default = defaultParallelism / 4,
        measured best on local[32]. On a throughput-bound cluster pass
        the shard count.
        """
        sc = self.blocks.sparkSession.sparkContext
        nq = query_partitions or max(1, sc.defaultParallelism // 4)
        blocks = self.blocks.repartition(nq, "shard").persist()
        ds = self.doc_stats.repartition(nq, "shard").persist()
        stats = self.term_stats.persist()
        blocks.count(), ds.count(), stats.count()
        return Index(
            blocks=blocks, doc_stats=ds, term_stats=stats, meta=self.meta,
            stemmer=self.stemmer, path=self.path,
            term_buckets=self.term_buckets,
        )

    def term_info(self, terms: list[str]) -> dict[str, tuple[float, int, int]]:
        """term -> (idf, df, ctf) for terms present in the dictionary;
        idf computed driver-side (build.idf_map rationale). On-disk
        bucketed dictionaries (tbucket column) add the literal bucket
        predicate so the probe partition-prunes to the queried terms'
        buckets before the row-group pruning."""
        cond = F.col("term").isin(list(terms))
        if "tbucket" in self.term_stats.columns:
            from posik_engine_spark.operators.direct_io import term_bucket

            n = self.term_buckets or spec.TERM_STATS_BUCKETS
            cond = F.col("tbucket").isin(
                sorted({term_bucket(t, n) for t in terms})
            ) & cond
        rows = (
            self.term_stats.filter(cond)
            .select("term", "df", "ctf")
            .collect()
        )
        return {
            r["term"]: (self.meta.idf(int(r["df"])), int(r["df"]), int(r["ctf"]))
            for r in rows
        }


def build_index(
    docs: DataFrame,
    n_shards: int = spec.DEFAULT_N_SHARDS,
    cache: bool = True,
    stemmer: str | None = None,
) -> Index:
    """One-shot in-memory build (the checkpointed/resumable job wrapper
    lives in jobs/build_index.py)."""
    with B.adaptive_arrow_batch(docs):
        prepared = B.prepare_docs(docs, n_shards=n_shards, stemmer=stemmer)
        tf = B.term_freqs(prepared)
        if cache:
            tf = tf.cache()
        meta = B.corpus_meta(prepared)
        stats = B.term_stats(tf)
        ds = with_ord(B.doc_stats(prepared))
        blocks = build_blocks(tf, ds)
        if cache:
            blocks = blocks.cache()
            ds = ds.cache()
            stats = stats.cache()
            blocks.count(), ds.count(), stats.count()
    return Index(
        blocks=blocks, doc_stats=ds, term_stats=stats, meta=meta, stemmer=stemmer
    )


def save_index(ix: Index, path: str) -> None:
    n_tb = spec.TERM_STATS_BUCKETS
    tables = (
        (
            "blocks",
            "shard",
            ix.blocks.repartition("shard").sortWithinPartitions("term", "block_id"),
        ),
        (
            # ord-sorted files (== (repo, path, doc_id) order by
            # construction): repo-scoped probes and incremental stale
            # lookups push ``repo IN (...)`` down to row-group pruning,
            # and the top-k ord -> doc_id resolution probes prune on ord
            # min/max
            "doc_stats",
            "shard",
            ix.doc_stats.repartition("shard").sortWithinPartitions("ord"),
        ),
        (
            # hash-bucketed, term-sorted dictionary: per-query term
            # probes prune to bucket + row group (the reference's
            # secondary b-tree on lemma, model/Lemma.java:17), and the
            # write parallelizes across buckets instead of funnelling
            # the vocabulary through one task
            "term_stats",
            "tbucket",
            with_term_bucket(ix.term_stats.select("term", "df", "ctf"), n_tb)
            .repartition(n_tb, "tbucket")
            .sortWithinPartitions("tbucket", "term"),
        ),
    )
    for name, part, df in tables:
        out = os.path.join(path, name)
        df.write.mode("overwrite").partitionBy(part).parquet(out)
        # a partitioned write of an empty table leaves no data file, and
        # a dir without one cannot be read back (no schema to infer):
        # give it one empty, schema-only file in partition 0
        if not any(f.endswith(".parquet") for _, _, fs in os.walk(out) for f in fs):
            df.drop(part).write.mode("overwrite").parquet(
                os.path.join(out, f"{part}=0")
            )
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(
            {
                "format_version": INDEX_FORMAT_VERSION,
                "n_docs": ix.meta.n_docs,
                "sum_len_path": ix.meta.sum_len_path,
                "sum_len_content": ix.meta.sum_len_content,
                "stemmer": ix.stemmer,
                "term_stats_buckets": n_tb,
                "spec": {"k1": spec.K1, "b": spec.B, "block_size": spec.BLOCK_SIZE},
            },
            f,
        )


def check_format_version(meta: dict, where: str) -> None:
    v = meta.get("format_version")
    if v != INDEX_FORMAT_VERSION:
        raise ValueError(
            f"{where}: index format_version={v} does not match this build "
            f"({INDEX_FORMAT_VERSION}); rebuild the index (the blocks "
            f"schema/codec changed incompatibly)"
        )


def load_index(spark: SparkSession, path: str) -> Index:
    # refuse to serve a dir whose incremental commit crashed half-way
    # (some shard dirs moved, derived tables stale): the pending intent
    # means the on-disk state is inconsistent until replayed.
    if os.path.exists(os.path.join(path, "_incremental_intent.json")):
        raise ValueError(
            f"load_index({path}): a pending incremental commit exists "
            f"(_incremental_intent.json) — the index is mid-commit and "
            f"inconsistent. Recover first: IndexBuilder(spark, path, "
            f"...).recover_incremental(), then load."
        )
    with open(os.path.join(path, "meta.json")) as f:
        m = json.load(f)
    check_format_version(m, f"load_index({path})")
    return Index(
        blocks=spark.read.parquet(os.path.join(path, "blocks")),
        doc_stats=spark.read.parquet(os.path.join(path, "doc_stats")),
        term_stats=spark.read.parquet(os.path.join(path, "term_stats")),
        meta=B.CorpusMeta(m["n_docs"], m["sum_len_path"], m["sum_len_content"]),
        stemmer=m.get("stemmer"),
        path=path,
        term_buckets=m.get("term_stats_buckets"),
    )
