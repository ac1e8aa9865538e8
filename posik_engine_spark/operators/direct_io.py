"""Driver-direct point lookups over on-disk index tables (serving path).

A top-k serving lookup is a POINT READ, and a serving coordinator reads
index files directly — the Lucene model, where the searcher process
opens segment files itself. Routing the same reads through a one-off
Spark job costs ~0.1-0.3 s of fixed scheduling per read (measured on
the bench protocol: the ord -> doc_id job alone was a median 0.29 s of
a 0.52 s cold query, for a dozen rows). For file-backed indexes
(save_index / IndexBuilder dirs) this module serves the four cold-query
point reads from the very parquet files Spark wrote:

  - posting blocks for query terms   (blocks/,     shard=, term-sorted)
  - ord -> doc_id resolution         (doc_stats/,  shard=, ord-sorted)
  - term dictionary probes           (term_stats/, tbucket=, term-sorted)
  - content rows for the top-k       (content store, bucket=, doc_id-sorted)

Each table is a ``PinnedTable``: every ``<col>=<int>/*.parquet`` file is
opened ONCE, when the reader is made (the engine's open), and its
handle, hive partition value and per-row-group (min, max) of the sort
key are kept. A lookup then

  1. picks files by partition value and row groups whose key range
     can hold a lookup key (a row group without usable statistics is
     always read);
  2. reads only the KEY column of those row groups and masks it with
     the lookup keys — a file with no match is done;
  3. reads the requested columns of just the row groups where a key
     matched, and keeps the matching rows.

So footers are parsed once per engine, and a lookup reads the key
column of the pruned row groups plus full row groups only where a key
matched; no directory listing, no dataset scanner, no scan threads.
How much a matched row group holds is still the writer's choice (one
row group per shard file at small scale) — a term-addressed layout is
the format-level follow-up.

Snapshot semantics: the reader serves the files it pinned. An
incremental commit replaces shard dirs by delete + move, and an open
handle keeps reading the unlinked file, so an engine opened before the
commit keeps answering from the snapshot it opened (a new engine sees
the new one). ``close()`` releases the handles.

The DISTRIBUTED paths are unchanged — fat queries (posting volume over
the driver gate), scoped queries and every analytical operator still
run through Spark; this is only the interactive serving fast path,
where the reference serves queries from its PostgreSQL B-trees without
a cluster round trip (its LemmaRepository.java:27). Remote URIs
(S3/HDFS) fall back to the Spark path.
"""

from __future__ import annotations

import json
import os
import threading

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from posik_engine_spark import spec

_TABLES = ("blocks", "doc_stats", "term_stats")


def available(index_dir: str | None) -> bool:
    """True iff ``index_dir`` looks like a local on-disk index this
    module can serve (every table dir present). Remote URIs fall back
    to the Spark path — wiring fsspec filesystems is deployment glue."""
    return index_dir is not None and all(
        os.path.isdir(os.path.join(index_dir, t)) for t in _TABLES
    )


class _PinnedFile:
    """One open parquet file: the handle (footer parsed once), its
    partition value, and the key range of each row group."""

    def __init__(self, path: str, part: int, key: str):
        self.pf = pq.ParquetFile(path)
        try:
            self.part = part
            # Arrow does not promise that one ParquetFile reads safely
            # from several threads at once: reads of one file are
            # serialized
            self.lock = threading.Lock()
            md = self.pf.metadata
            col = md.schema.names.index(key)
            self.n_rows: list[int] = []
            # (min, max) of the key per row group; None where the
            # writer kept no statistics (always read)
            self.ranges: list[tuple | None] = []
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                st = rg.column(col).statistics
                self.n_rows.append(rg.num_rows)
                self.ranges.append(
                    (st.min, st.max) if st is not None and st.has_min_max else None
                )
        except BaseException:
            self.pf.close()
            raise

    def row_groups(self, keys: list) -> list[int]:
        """Row groups whose key range can hold one of ``keys``."""
        return [
            g for g, r in enumerate(self.ranges)
            if r is None or any(r[0] <= k <= r[1] for k in keys)
        ]

    def matched(self, groups: list[int], hit: np.ndarray) -> tuple[list[int], np.ndarray]:
        """The ``groups`` holding a hit of ``hit`` (a mask over their
        concatenated rows), and the mask over just those groups' rows."""
        keep, parts, a = [], [], 0
        for g in groups:
            b = a + self.n_rows[g]
            if hit[a:b].any():
                keep.append(g)
                parts.append(hit[a:b])
            a = b
        return keep, np.concatenate(parts)


class PinnedTable:
    """Point lookups over one hive-partitioned, key-sorted parquet table
    whose files are opened once, at construction (module docstring)."""

    def __init__(self, path: str, part_col: str, key: str):
        self.path, self.part_col, self.key = path, part_col, key
        self.closed = False
        self.files: dict[int, list[_PinnedFile]] = {}
        self.columns: list[str] = []
        prefix = part_col + "="
        try:
            for d in sorted(os.listdir(path)):
                if not d.startswith(prefix):
                    continue
                part = int(d[len(prefix):])
                for f in sorted(os.listdir(os.path.join(path, d))):
                    if f.endswith(".parquet") and not f.startswith(("_", ".")):
                        pinned = _PinnedFile(os.path.join(path, d, f), part, key)
                        self.files.setdefault(part, []).append(pinned)
                        if not self.columns:
                            self.columns = pinned.pf.schema_arrow.names + [part_col]
        except BaseException:
            self.close()
            raise

    def read(self, pinned: _PinnedFile, groups: list[int], columns: list[str]):
        """One read of ``columns`` of ``groups`` from a pinned file (the
        single point where lookups touch a file)."""
        return pinned.pf.read_row_groups(groups, columns=columns, use_threads=False)

    def lookup(self, keys_by_part: dict[int, list], columns: list[str]) -> list[dict]:
        """Rows (``columns`` only) whose key is in ``keys_by_part[p]``,
        from the files of each partition ``p``."""
        if self.closed:
            raise ValueError(f"PinnedTable({self.path!r}) is closed")
        file_cols = [c for c in columns if c != self.part_col]
        out: list[dict] = []
        for part, keys in keys_by_part.items():
            files = self.files.get(part)
            if not keys or not files:
                continue
            value_set = pa.array(keys)
            for pinned in files:
                groups = pinned.row_groups(keys)
                if not groups:
                    continue
                with pinned.lock:
                    key_col = self.read(pinned, groups, [self.key]).column(0)
                    hit = pc.is_in(key_col, value_set=value_set).to_numpy(
                        zero_copy_only=False
                    )
                    if not hit.any():
                        continue
                    if len(groups) > 1:
                        groups, hit = pinned.matched(groups, hit)
                    tbl = self.read(pinned, groups, file_cols)
                rows = tbl.filter(pa.array(hit)).to_pylist()
                if self.part_col in columns:
                    for r in rows:
                        r[self.part_col] = part
                out.extend(rows)
        return out

    def close(self) -> None:
        self.closed = True
        for files in self.files.values():
            for pinned in files:
                with pinned.lock:
                    pinned.pf.close()


def _pin_tables(specs: list[tuple[str, str, str]]) -> list[PinnedTable]:
    """Pin several tables; the ones already pinned are closed again if
    a later one fails to open."""
    tables: list[PinnedTable] = []
    try:
        for path, part_col, key in specs:
            tables.append(PinnedTable(path, part_col, key))
    except BaseException:
        for t in tables:
            t.close()
        raise
    return tables


class DirectIndexReader:
    """Point-lookup handle over a save_index / IndexBuilder dir: pins
    the blocks, doc_stats and term_stats files at construction.
    Thread-safe: concurrent searches share one reader. ``close()``
    releases the pinned files."""

    def __init__(self, index_dir: str):
        if not available(index_dir):
            raise ValueError(
                f"DirectIndexReader({index_dir!r}): not a local index dir "
                f"(need {', '.join(_TABLES)} subdirs)"
            )
        self.index_dir = index_dir
        # bucket count the dictionary files were written with (meta.json)
        self._term_buckets = spec.TERM_STATS_BUCKETS
        try:
            with open(os.path.join(index_dir, "meta.json")) as f:
                self._term_buckets = int(
                    json.load(f).get(
                        "term_stats_buckets", spec.TERM_STATS_BUCKETS
                    )
                )
        except FileNotFoundError:
            pass
        self._blocks, self._doc_stats, self._term_stats = _pin_tables(
            [
                (os.path.join(index_dir, "blocks"), "shard", "term"),
                (os.path.join(index_dir, "doc_stats"), "shard", "ord"),
                (os.path.join(index_dir, "term_stats"), "tbucket", "term"),
            ]
        )

    def close(self) -> None:
        for t in (self._blocks, self._doc_stats, self._term_stats):
            t.close()

    # ------------------------------------------------------------ blocks
    def blocks_for_terms(self, terms: list[str]) -> list[dict]:
        """Compressed posting-block rows of ``terms`` as plain dicts —
        the same rows `ix.blocks.filter(term.isin(...)).collect()`
        returns — from the shard files whose term column matches."""
        if not terms:
            return []
        t = self._blocks
        return t.lookup(dict.fromkeys(t.files, list(terms)), t.columns)

    # --------------------------------------------------------- doc_stats
    def resolve_ords(self, keys: list[tuple[int, int]]) -> dict:
        """(shard, ord) -> doc_id for the WAND survivors, read from the
        touched shards' ord-sorted files."""
        if not keys:
            return {}
        by_shard: dict[int, set[int]] = {}
        for s, o in keys:
            by_shard.setdefault(int(s), set()).add(int(o))
        rows = self._doc_stats.lookup(
            {s: list(o) for s, o in by_shard.items()}, ["shard", "ord", "doc_id"]
        )
        return {(int(r["shard"]), int(r["ord"])): int(r["doc_id"]) for r in rows}

    # -------------------------------------------------------- term_stats
    def term_info_rows(self, terms: list[str]) -> list[dict]:
        """Dictionary rows (term, df, ctf) for the queried terms — the
        big-vocab per-query probe, read from the terms' hash buckets
        only."""
        if not terms:
            return []
        by_bucket: dict[int, set[str]] = {}
        for t in terms:
            by_bucket.setdefault(term_bucket(t, self._term_buckets), set()).add(t)
        return self._term_stats.lookup(
            {b: list(ts) for b, ts in by_bucket.items()}, ["term", "df", "ctf"]
        )


def term_bucket(term: str, n_buckets: int = spec.TERM_STATS_BUCKETS) -> int:
    """Dictionary hash-bucket of a term — MUST match the Spark-side
    expression in operators/index._with_term_bucket (crc32 is the same
    standard CRC-32 in zlib and Spark's F.crc32)."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % n_buckets


class DirectContentReader:
    """Point-lookup handle over a save_content_store dir (the pyarrow
    twin of ContentStore.fetch): pins the bucket files at construction
    and reads the doc_id-sorted files of the ids' buckets. Returns
    pyspark Rows so the snippet assembly consumes either source
    identically."""

    def __init__(self, store_path: str, n_buckets: int):
        self.path = store_path
        self.n_buckets = n_buckets
        self._table = PinnedTable(store_path, "bucket", "doc_id")

    def close(self) -> None:
        self._table.close()

    def _rows(self, ids: list[int], columns: list[str]) -> list[dict]:
        by_bucket: dict[int, set[int]] = {}
        for i in ids:
            by_bucket.setdefault(int(i) % self.n_buckets, set()).add(int(i))
        return self._table.lookup(
            {b: list(v) for b, v in by_bucket.items()}, columns
        )

    def fetch(self, ids: list[int]) -> dict[int, object]:
        from pyspark.sql import Row

        if not ids:
            return {}
        cols = ["doc_id", "repo", "path", "content"] + (
            ["title"] if "title" in self._table.columns else []
        )
        return {int(r["doc_id"]): Row(**r) for r in self._rows(ids, cols)}

    def repos_for_ids(self, ids: list[int]) -> dict[int, str]:
        """doc_id -> repo, the same point read as ``fetch`` but reading
        only the two slim columns (scope checks must not pay for content
        bytes)."""
        if not ids:
            return {}
        return {
            int(r["doc_id"]): r["repo"]
            for r in self._rows(ids, ["doc_id", "repo"])
        }
