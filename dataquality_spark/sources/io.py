"""Storage layer behind one thin module (SURVEY.md §4.2, §7 risk 4).

Production target is an Iceberg `pages` table partitioned by
days(warc_ts) (+ hashed-host bucketing) so warc_ts predicates and the
resume anti-join prune at the scan. The sandbox has no Iceberg jars, so
the default path is plain Parquet with the derived `partition_id` column
used as a physical partition directory — identical semantics (pruning,
manifests, dynamic-partition-overwrite idempotence), different catalog.

Reference ancestry: table access by fixed identifier
(/root/reference/agents/unity_sql_agent.py:82-86) and the fixed declared
schema discipline (main.py:378-433) — we read with an explicit schema,
never inference, and fail fast on drift (pipeline.assert_schema).
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, DoubleType, LongType, StringType,
                               StructField, StructType, TimestampType)

from .. import config as C

PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def _pages_schema_with_fingerprint() -> StructType:
    """Contract schema + the optional ingest fingerprint column
    (config.FINGERPRINT_COL = crc32 of the text bytes, materialized at
    write time by pipeline.with_dup_fingerprint)."""
    return StructType(list(PAGES_SCHEMA.fields) +
                      [StructField(C.FINGERPRINT_COL, LongType())])


def read_pages(spark: SparkSession, path_or_table: str,
               columns: list[str] | None = None) -> DataFrame:
    """Read the pages corpus (parquet/jsonl path or catalog table name).

    If the parquet files carry the OPTIONAL ingest fingerprint column
    (pipeline.with_dup_fingerprint), it rides along so the dedup-flags
    branch scans slim rows instead of re-reading text. The presence
    check is a footer-only schema probe — declaring the column when the
    files lack it would null-fill every fingerprint and silently corrupt
    the dedup ranking, so it is included only when physically present.
    Catalog tables expose their real schema already, so the column rides
    along there with no probe.
    """
    if path_or_table.endswith((".jsonl", ".json", ".jsonl.gz", ".json.gz")):
        df = read_pages_jsonl(spark, path_or_table)
    elif path_or_table.endswith(".parquet") or "/" in path_or_table:
        try:
            footer_cols = spark.read.parquet(path_or_table).schema.names
        except Exception:
            footer_cols = []
        schema = (_pages_schema_with_fingerprint()
                  if C.FINGERPRINT_COL in footer_cols else PAGES_SCHEMA)
        df = spark.read.schema(schema).parquet(path_or_table)
    else:
        df = spark.read.table(path_or_table)  # Iceberg/catalog path
    if columns:
        df = df.select(*columns)  # column pruning reaches the scan
    return df


# JSON wire schema: html travels base64-encoded (JSON has no binary
# type); warc_ts as an ISO-8601 string parsed by the reader.
_PAGES_JSON_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", StringType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])


def read_pages_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Pages corpus from JSON-lines exports (crawler/exporter
    interchange): declared schema (no inference scan — at 10^12 docs a
    sampling pass is a full extra read), `html` carried as base64 and
    decoded to the contract's BINARY, malformed lines dropped by the
    reader's default PERMISSIVE→null + a loud count available via
    `_corrupt_record` if callers opt in. Splittable when uncompressed;
    .gz files are one partition each — shard exports accordingly."""
    df = spark.read.schema(_PAGES_JSON_SCHEMA).json(path)
    return df.select(
        "url", "warc_ts",
        F.unbase64(F.col("html")).alias("html"),
        "text", "lang")


def read_pages_lenient(spark: SparkSession, path_or_table: str) -> DataFrame:
    """Schema-fallback chain (reference A13 analog, main.py:378-433 —
    declared schema first, tolerant mapping second, loud failure third):

    1. exact fixed-schema read (`read_pages`) when columns line up;
    2. else: case-insensitive column-name mapping + cast to the
       contract types (URL/Warc_TS/HTML drift from upstream exporters);
    3. else: ValueError listing exactly which contract columns could
       not be found (feeds errors.format_error_response suggestions).
    """
    if path_or_table.endswith(".parquet") or "/" in path_or_table:
        raw = spark.read.parquet(path_or_table)
    else:
        raw = spark.read.table(path_or_table)
    want = {f.name: f.dataType for f in PAGES_SCHEMA.fields}
    if set(want) <= set(raw.columns):
        return read_pages(spark, path_or_table)
    by_lower = {c.lower(): c for c in raw.columns}
    cols, missing = [], []
    for name, dtype in want.items():
        src = by_lower.get(name.lower())
        if src is None:
            missing.append(name)
            continue
        cols.append(F.col(f"`{src}`").cast(dtype).alias(name))
    if missing:
        raise ValueError(f"pages input is missing columns: {missing} "
                         f"(found: {sorted(raw.columns)})")
    # the optional ingest fingerprint survives case drift too
    fp_src = by_lower.get(C.FINGERPRINT_COL.lower())
    if fp_src is not None:
        cols.append(F.col(f"`{fp_src}`").cast("long")
                    .alias(C.FINGERPRINT_COL))
    return raw.select(*cols)


def write_decisions(decisions: DataFrame, out_dir: str) -> None:
    """Write decisions partitioned by partition_id, idempotently.

    Dynamic partition overwrite = only the partitions present in this
    batch are replaced, so resume re-processing a partially-written
    partition converges instead of duplicating.
    """
    (decisions.write
     .mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(C.PARTITION_COL)
     .parquet(out_dir))


def append_audit(audit_df: DataFrame, out_dir: str,
                 finished_at: datetime.datetime, elapsed_s: float):
    """Collect the audit rows once (Arrow), stamp the job's wall clock
    (`elapsed_s` up to `finished_at`) on each, append them to `out_dir`
    and return them as pandas; no rows, no write."""
    rows = audit_df.toPandas()
    if rows.empty:
        return rows
    finished_at = finished_at.astimezone()
    rows["started_at"] = finished_at - datetime.timedelta(seconds=elapsed_s)
    rows["finished_at"] = finished_at
    rows["docs_per_sec"] = round(rows.n_docs.sum() / max(elapsed_s, 1e-9), 3)
    schema = StructType(audit_df.schema.fields + [
        StructField("started_at", TimestampType(), False),
        StructField("finished_at", TimestampType(), False),
        StructField("docs_per_sec", DoubleType(), False)])
    (audit_df.sparkSession.createDataFrame(rows, schema=schema)
     .coalesce(1).write.mode("append").parquet(out_dir))
    return rows


def write_bucketed(df: DataFrame, table_name: str, bucket_col: str,
                   n_buckets: int = 64, path: str | None = None,
                   sort: bool = True, mode: str = "overwrite") -> None:
    """Persist as a Hive-bucketed, bucket-sorted parquet table — the
    co-located-join layout for every relation this engine repeatedly
    joins or aggregates on one key (url-keyed page snapshots for
    crawl_diff/exact dedup, host-keyed link edges for pagerank,
    doc_id-keyed embeddings for semdedup).

    Why it matters at 100 TB: a join between two tables bucketed by
    the join key with the same bucket count is planned with ZERO
    Exchange on either side (and zero Sort when bucket-sorted) — the
    shuffle that would otherwise move the full corpus happens ONCE at
    write time and is amortized over every subsequent query. The
    pytest proves the elision from the executed plan, not by
    assumption; the production Iceberg analog is
    sources/iceberg_spec.py's bucket(64, url) partition transform.

    `path` makes it an external table (data survives DROP TABLE);
    bucket pruning additionally lets point lookups on bucket_col read
    1/n_buckets of the files.
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive: {n_buckets}")
    w = (df.write.format("parquet").mode(mode)
         .bucketBy(n_buckets, bucket_col))
    if sort:
        w = w.sortBy(bucket_col)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name)
