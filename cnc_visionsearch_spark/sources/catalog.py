"""Table loading / catalog (SURVEY §2.1 S1-S4).

The reference persists state as one FAISS file + one SQLite file loaded
at startup (main.py:55-63, 36-52). Here every table is self-describing
Parquet read lazily; `load_tables` also registers temp views so the SQL
API sees the same catalog.

`derive_id_mapping` builds the reference's id_mapping table
(main.py:40-48) from the fixtures, per FIXTURES.md: str_id is a
formatted external id, faiss_id carries the dense-id semantics
(main.py:129-130), text_content comes from the documents corpus (the
OCR slot, main.py:131 — write-only in the reference).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cnc_visionsearch_spark.memo import LRU, file_fingerprint
from cnc_visionsearch_spark.schemas import ALL_TABLES

__all__ = [
    "table_path",
    "load_table",
    "load_tables",
    "memoized_point_value",
    "derive_id_mapping",
    "spread_scan",
    "write_bucketed_table",
]


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Handle memo for fixture-table reads (r11): every load_table used to
# pay a fresh spark.read.parquet — footer/schema read +
# InMemoryFileIndex build + the dtype-normalization py4j chatter — per
# QUERY CONSTRUCTION (~0.1-0.2s each, 1-3 tables per query). A
# DataFrame is an immutable lazy plan, so handing every caller the
# same handle changes nothing about execution: each action still
# scans the parquet. Keyed on the session (memo.py contract): the
# applicationId, so a restarted application re-reads schemas, and
# id(spark), so a sibling newSession() gets a handle bound to ITSELF.
# id() cannot be reused while the entry lives — the memoized
# DataFrame holds its session. Fixture dirs are immutable within a
# process; the hit path adds no stat and no py4j call.
_TABLES = LRU(256)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Defensive session conf, re-asserted on EVERY call including memo
    # hits (r12, advisor: a caller that mutates session tz/conf between
    # calls must not execute a memoized plan under the wrong conf —
    # these are cheap driver-local sets). The caller may hand us a
    # vanilla session (the round driver builds its own):
    # TIMESTAMP(NANOS) parquet needs the legacy read path, and
    # event-time queries (date_trunc, window rendering) must agree
    # with the UTC-naive oracle timestamps.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (
        spark.sparkContext.applicationId,
        id(spark),
        os.path.abspath(sf_dir),
        name,
    )
    hit = _TABLES.get(key)
    if hit is not None:
        return hit
    df = spark.read.parquet(table_path(sf_dir, name))
    # Fixture timestamp columns have shipped in two physical flavors
    # across driver rounds: TIMESTAMP(NANOS) (arrives as bigint nanos
    # under the legacy conf above) and tz-naive timestamp[us] (arrives
    # as TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ). Normalize
    # both to a plain UTC TIMESTAMP so downstream code (casts to long,
    # window(), lag/rolling frames) sees one type, and Spark's naive-UTC
    # rendering agrees with the DuckDB oracle's naive timestamps.
    if "ts" in df.columns and dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    _TABLES.put(key, df)
    return df


def spread_scan(df: DataFrame, *key_cols: str) -> DataFrame:
    """Unsplittable-input guard (optimization guide §2.5: "one huge
    unsplittable file ... repartition immediately after the read").

    The fixture tables are ONE parquet file with ONE row group, so a
    Spark scan — and everything codegen fuses into it (filters,
    partial aggregates, join probes) — runs as ONE effective task no
    matter how many byte-range splits the planner cuts: a row group is
    the parquet read atom. For scan stages that fuse CPU-dense work
    (decimal sums, md5/banding expressions) that serializes the whole
    stage on a single core.

    This helper repartitions the freshly-read frame across
    defaultParallelism, HASH-keyed on ``key_cols`` (a deterministic
    key: round-robin would pay the sort-before-repartition local sort
    AND is retry-unsafe per SPARK-38388), ONLY when the scan's file
    layout cannot reach the session's parallelism on its own:
    estimated splits = sum over input files of ceil(size /
    maxPartitionBytes). At production layouts (thousands of
    row-group-sized files) the estimate exceeds the core count and the
    frame is returned UNCHANGED — the repartition exists exactly when
    the input is too monolithic to parallelize, so the plan stays
    scale-correct (no always-on exchange).

    Predicate pushdown and column pruning pass through
    RepartitionByExpression (plan-checked: PushedFilters reach the
    scan below the exchange), so callers apply filters before or after
    indifferently. Measured r11 (interleaved min-of-6, sf0.1): TPC-H
    Q1 1.55s -> 0.83s.
    """
    import math

    spark = df.sparkSession
    p = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df
    # every file is at least one split: enough files parallelize alone
    if not files or len(files) >= p:
        return df
    fp = file_fingerprint(files)
    if fp is None:
        # remote/unstattable storage: assume a production layout
        return df
    # Spark's own parse of spark.sql.files.maxPartitionBytes (every
    # byte-size suffix, the default when unset)
    max_split = (
        spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    )
    splits = sum(max(1, math.ceil(size / max_split)) for _, size, _ in fp)
    if splits >= p:
        return df
    return df.repartition(p, *[F.col(c) for c in key_cols])


# Query PARAMETERS fetched from fixture tables (a query vector / query
# text picked by id): plain values, immutable with the fixture dirs.
_POINTS = LRU(256)


def memoized_point_value(
    spark: SparkSession, sf_dir: str, table: str, key_col: str, key, value_col: str
):
    """Pushed-predicate point lookup of one cell, memoized per
    (path, table, key, column) — shared by every registered query that
    derives its parameter (query vector, query text) from a fixture
    row, so repeat invocations don't pay the lookup job again."""
    memo_key = (sf_dir, table, key_col, key, value_col)
    miss = object()
    v = _POINTS.get(memo_key, miss)
    if v is miss:
        v = (
            load_table(spark, sf_dir, table)
            .filter(F.col(key_col) == key)
            .select(value_col)
            .first()[0]
        )
        _POINTS.put(memo_key, v)
    return v


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = ALL_TABLES,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


def derive_id_mapping(
    embeddings: DataFrame, documents: DataFrame
) -> DataFrame:
    """id_mapping(str_id, faiss_id, text_content) from the fixtures.

    faiss_id = vec_id + 1 reproduces the reference's dense-from-1 id
    space (main.py:129-130: COALESCE(MAX(faiss_id),0)+1 starting at 1);
    text_content joins in the document text by id (the OCR'd corpus
    slot). Deterministic, so a SQL oracle can derive the identical
    table.
    """
    base = embeddings.select(
        F.concat(F.lit("img_"), F.col("vec_id").cast("string")).alias("str_id"),
        (F.col("vec_id") + F.lit(1)).alias("faiss_id"),
        F.col("vec_id"),
    )
    docs = documents.select(F.col("doc_id"), F.col("text").alias("text_content"))
    return (
        base.join(docs, base.vec_id == docs.doc_id, "left")
        .select("str_id", "faiss_id", "text_content")
    )


def write_bucketed_table(
    df: DataFrame,
    name: str,
    key: str,
    path: str,
    n_buckets: int = 32,
) -> None:
    """Register ``df`` as a bucketed+sorted external table: data is
    hash-partitioned into ``n_buckets`` files by ``key`` AT WRITE TIME,
    so every later equi-join or aggregation on ``key`` between
    co-bucketed tables runs with ZERO exchange — the shuffle is paid
    once at layout time instead of per query. This is the co-located
    fact-fact join strategy for 100 TB (orderkey-bucketed orders x
    lineitem: the single biggest shuffle in the TPC-H-shaped workload
    disappears from every query that joins them).

    Bucket count should divide evenly into the cluster's parallelism
    and keep per-bucket files within executor memory at target scale;
    both join sides must use the SAME key and bucket count.
    """
    (
        df.write.bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", path)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(name)
    )
