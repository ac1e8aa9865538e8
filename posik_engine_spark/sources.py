"""Source-table seam: one entry point for reading the docs corpus.

Production target (BASELINE.json input_hint): an Iceberg table
``catalog.db.docs(repo, path, commit, lang, content)`` — Iceberg gives
the build snapshot isolation (a build reads ONE snapshot id even while
ingestion appends), hidden-partition pruning on repo, and atomic
``overwritePartitions`` for the index/state tables (SURVEY.md §2 S4).

This sandbox ships no Iceberg runtime jars (verified: no
iceberg-spark-runtime on the classpath, no network to fetch one), so
``read_docs`` resolves in order:

1. a dotted table identifier -> ``spark.read.format("iceberg")`` if the
   runtime is on the classpath, else ``spark.table`` (works for any
   catalog-registered table, including Iceberg via SQL extensions);
2. a filesystem path -> parquet directory (the tested sandbox path);
3. the driver's ``documents.parquet`` shape is auto-adapted
   (jobs/build_index.adapt_source).

The rest of the engine only ever sees a DataFrame in the input_hint
shape, so swapping storage needs no other change.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

DOCS_COLUMNS = ["repo", "path", "commit", "lang", "content"]

# strict dotted identifier (db.table / catalog.db.table) — a relative
# file path like "docs.parquet" or "data.v2" must NOT match, it should
# fall through to the filesystem reader and give a path error there
_TABLE_ID_RE = re.compile(
    r"^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)+$"
)


def _has_iceberg(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001 (classpath probe)
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def read_docs(spark: SparkSession, source: str) -> DataFrame:
    """Read the docs corpus from a table identifier or a parquet path
    and project it to the canonical input_hint shape."""
    from posik_engine_spark.jobs.build_index import adapt_source

    looks_like_file = source.lower().endswith(
        (".parquet", ".pq", ".orc", ".json", ".csv")
    )
    if not os.path.exists(source) and not looks_like_file and _TABLE_ID_RE.match(source):
        if _has_iceberg(spark):
            df = spark.read.format("iceberg").load(source)
        else:
            df = spark.table(source)
        cols = set(df.columns)
        if not set(DOCS_COLUMNS) <= cols:
            raise ValueError(f"table {source} lacks docs columns: {sorted(cols)}")
        return df.select(*DOCS_COLUMNS)
    return adapt_source(spark, source)
