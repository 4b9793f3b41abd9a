"""Format roundtrip tests (S4/S6): JSON-lines and CSV roundtrips with
declared schemas, and the binaryFile source feeding the multimodal
pipeline end-to-end.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from cnc_visionsearch_spark.operators.multimodal import media_metadata
from cnc_visionsearch_spark.sources.catalog import load_table
from cnc_visionsearch_spark.sources.formats import (
    read_binary_dir,
    read_csv,
    read_jsonl,
    write_csv,
    write_jsonl,
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def test_jsonl_roundtrip(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = str(tmp_path / "docs_json")
    write_jsonl(src, path)
    back = read_jsonl(spark, path, DOC_SCHEMA)
    assert back.count() == src.count()
    a = {tuple(r) for r in src.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = str(tmp_path / "docs_csv")
    write_csv(src, path)
    back = read_csv(spark, path, DOC_SCHEMA)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in src.collect()}


def test_binary_dir_feeds_multimodal(spark, tmp_path):
    """S4 end-to-end: files on disk -> binaryFile rows -> mapInPandas
    metadata, matching the on-disk byte sizes."""
    d = str(tmp_path / "blobs")
    os.makedirs(d)
    payloads = {f"img_{i}.bin": bytes([i]) * (100 + i) for i in range(5)}
    for name, data in payloads.items():
        with open(os.path.join(d, name), "wb") as f:
            f.write(data)

    files = read_binary_dir(spark, d, glob="*.bin")
    assert files.count() == 5
    media = files.select(
        F.element_at(F.split("path", "/"), -1).alias("fname"),
        F.col("content").alias("payload"),
    )
    meta = {r.fname: r.n_bytes for r in media_metadata(media).collect()}
    assert meta == {k: len(v) for k, v in payloads.items()}


def test_orc_roundtrip_with_partition_pruning(spark, tmp_path):
    """ORC read/write parity with parquet, including hive-partitioned
    layout pruning (PartitionFilters on the pruned scan)."""
    from cnc_visionsearch_spark.sources.formats import read_orc, write_orc
    from cnc_visionsearch_spark.sources.catalog import load_table
    from cnc_visionsearch_spark.plans import formatted_plan

    src = load_table(spark, "/root/testdata/sf0.01", "nation")
    path = str(tmp_path / "nation_orc")
    write_orc(src, path, partition_by=["n_regionkey"])
    back = read_orc(spark, path)
    assert back.count() == src.count()
    assert {r.n_name for r in back.collect()} == {r.n_name for r in src.collect()}
    pruned = back.filter(back.n_regionkey == 1)
    plan = formatted_plan(pruned)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("n_regionkey" in ln for ln in pf)


def test_compact_layout_shrinks_files_preserves_data_and_pruning(spark, tmp_path):
    """Compaction on a fragmented bucket-partitioned layout: file count
    drops, every row survives byte-identically, the hive partitioning
    (and thus PartitionFilters pruning) survives."""
    import glob

    from cnc_visionsearch_spark.plans import formatted_plan
    from cnc_visionsearch_spark.sources.formats import compact_layout

    src = load_table(spark, "/root/testdata/sf0.01", "customer")
    path = str(tmp_path / "frag")
    # fragment: 8 appends of ~8 files each into 3 partitions
    for i in range(8):
        (
            src.filter(F.col("c_custkey") % 8 == i)
            .withColumn("bucket", (F.col("c_custkey") % 3).cast("int"))
            .repartition(8)
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(path)
        )
    before = len(glob.glob(f"{path}/bucket=*/*.parquet"))
    want = {tuple(r) for r in spark.read.parquet(path).collect()}

    compact_layout(spark, path, partition_by=["bucket"], target_rows_per_file=10_000)

    after_files = glob.glob(f"{path}/bucket=*/*.parquet")
    assert len(after_files) < before
    got_df = spark.read.parquet(path)
    assert {tuple(r) for r in got_df.collect()} == want
    plan = formatted_plan(got_df.filter(F.col("bucket") == 1))
    assert any("PartitionFilters" in ln and "bucket" in ln for ln in plan.splitlines())


def test_spread_scan_guard_and_pushdown(spark, tmp_path):
    """r11: spread_scan repartitions ONLY when the scan's file layout
    cannot reach session parallelism (single monolithic file), is a
    NO-OP on many-file layouts (the production shape), keeps rows
    identical, and predicate pushdown still reaches the scan below the
    inserted exchange."""
    from cnc_visionsearch_spark.sources.catalog import spread_scan

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    p = spark.sparkContext.defaultParallelism

    spread = spread_scan(li, "l_orderkey")
    assert "repartition" in spread._jdf.queryExecution().logical().toString().lower()
    assert spread.count() == li.count()
    plan = (
        spread.filter(F.col("l_quantity") > 25)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity" in plan

    # many-file layout: estimated splits >= parallelism -> unchanged frame
    many = str(tmp_path / "many")
    li.repartition(p * 2).write.parquet(many)
    big = spark.read.parquet(many)
    # force the estimate over the threshold regardless of tiny file sizes
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
        assert spread_scan(big, "l_orderkey") is big
        # a terabyte split size (Spark reads "1t" as 2^40 bytes) leaves
        # the single-file table one split short of parallelism: spread
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1t")
        assert spread_scan(li, "l_orderkey") is not li
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_load_table_memo_keyed_on_application_id(spark, sf_dir):
    """r12 (verdict #7): the table-handle memo must key on the session's
    applicationId — a GC'd session's id() alone can be REUSED by a
    replacement session, which would silently serve a plan bound to a
    dead JVM. Pin the keying mechanism: every live entry is keyed by
    (applicationId, id(session), abs sf_dir, table), so a
    stopped-and-replaced session can only miss."""
    from cnc_visionsearch_spark import memo
    from cnc_visionsearch_spark.sources import catalog

    memo.clear()
    df = load_table(spark, sf_dir, "nation")
    app = spark.sparkContext.applicationId
    keys = list(catalog._TABLES)
    assert keys == [(app, id(spark), os.path.abspath(sf_dir), "nation")]
    assert isinstance(app, str) and app  # not a reusable CPython id()
    # a different applicationId (a replaced session) cannot alias in
    dead = ("application_dead_0000",) + keys[0][1:]
    assert catalog._TABLES.get(dead) is None
    # memo hit: same immutable handle for the same session
    assert load_table(spark, sf_dir, "nation") is df


def test_load_table_memo_separates_sibling_sessions(spark, sf_dir):
    """newSession() shares the SparkContext (and so the
    applicationId) but not the session state. A sibling must get a
    handle bound to ITSELF, never the first session's handle."""
    s2 = spark.newSession()
    df1 = load_table(spark, sf_dir, "nation")
    df2 = load_table(s2, sf_dir, "nation")
    assert df2 is not df1
    assert df1.sparkSession is spark and df2.sparkSession is s2
    assert load_table(s2, sf_dir, "nation") is df2
    assert df2.count() == df1.count()
