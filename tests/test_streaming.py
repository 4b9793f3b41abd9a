"""Structured Streaming tests (SURVEY §2.8): file-source replay of the
events fixture, watermarked windows vs their batch twins, late-data
drop, and the St1/St2 foreachBatch upsert sink.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from cnc_visionsearch_spark.operators.ann import (
    TLOG_PQ_CODES_STRIDE,
    read_codebook,
    read_pq_codes,
    read_pq_trained_codebook,
)
from cnc_visionsearch_spark.operators.graph_ann import _hnsw_entry
from cnc_visionsearch_spark.sources.catalog import load_table
from cnc_visionsearch_spark.streaming.pipelines import (
    read_event_stream,
    read_id_mapping,
    streaming_upsert_sink,
    tumbling_counts_stream,
)
from layout_files import live_md5s, scan_tags

SF = "/root/testdata/sf0.001"


def _write_chunks(spark, tmpdir, chunks):
    """Write each chunk DataFrame as one file-drop with increasing mtime
    so maxFilesPerTrigger=1 replays them in order."""
    stream_dir = os.path.join(tmpdir, "drops")
    os.makedirs(stream_dir, exist_ok=True)
    for i, chunk in enumerate(chunks):
        part = os.path.join(tmpdir, f"part{i}")
        chunk.coalesce(1).write.mode("overwrite").parquet(part)
        src = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
        dst = os.path.join(stream_dir, f"drop_{i}.parquet")
        os.rename(os.path.join(part, src), dst)
        os.utime(dst, (time.time() + i, time.time() + i))
    return stream_dir


def test_tumbling_stream_matches_batch(spark, tmp_path):
    """Replayed stream (complete mode) must equal the batch tumbling agg
    — same logical plan, streaming execution."""
    events = load_table(spark, SF, "events").limit(2000)
    chunks = [events.filter(F.col("event_id") % 3 == i) for i in range(3)]
    stream_dir = _write_chunks(spark, str(tmp_path), chunks)

    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = (
        tumbling_counts_stream(stream)
        .writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.ts_hour, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("select * from tumbling_test").collect()
    }
    want = {
        (r.ts_hour, r.event_type): (r.n_events, r.sum_value)
        for r in (
            events.groupBy(
                F.window("ts", "1 hour").alias("w"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(
                F.col("w.start").alias("ts_hour"),
                "event_type",
                "n_events",
                "sum_value",
            )
            .collect()
        )
    }
    assert got == want


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append mode: rows arriving behind the advanced watermark are
    dropped (the [EXT] late-data contract)."""
    events = load_table(spark, SF, "events")
    t0 = events.agg(F.min("ts")).first()[0]
    hours = events.withColumn(
        "h", (F.col("ts").cast("long") - F.lit(int(t0.timestamp()))) / 3600
    )
    early = hours.filter(F.col("h") < 2).drop("h")  # hours 0-1
    ahead = hours.filter((F.col("h") >= 6) & (F.col("h") < 8)).drop("h")
    late = hours.filter(F.col("h") < 1).drop("h")  # replayed hour-0 rows
    n_early0 = early.filter(
        F.col("ts") < F.lit(t0) + F.expr("INTERVAL 1 HOUR")
    ).count()
    # The watermark computed from a batch takes effect one batch later,
    # so an empty filler drop sits between 'ahead' and 'late': by the
    # time the late rows arrive the hour-0 window is finalized.
    stream_dir = _write_chunks(
        spark, str(tmp_path), [early, ahead, events.limit(0), late]
    )

    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("win_start"), "n")
        .writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    h0 = t0.replace(minute=0, second=0, microsecond=0)
    h0_rows = [
        r.n
        for r in spark.sql("select * from late_test").collect()
        if r.win_start == h0
    ]
    # hour-0 was finalized once the watermark (from the 'ahead' batch)
    # took effect; the late replay must be dropped — exactly one
    # emission, counting only the original early rows.
    assert h0_rows == [n_early0]


def test_streaming_upsert_dense_ids_and_text_only_update(spark, tmp_path):
    """St1/St2 via foreachBatch: dense ids survive batches; re-ingested
    str_id updates text only (reference main.py:119-134)."""
    b1 = spark.createDataFrame(
        [("img_b", "first b"), ("img_a", "first a")], "str_id: string, text_content: string"
    )
    b2 = spark.createDataFrame(
        [("img_a", "UPDATED a"), ("img_c", "first c")], "str_id: string, text_content: string"
    )
    stream_dir = _write_chunks(spark, str(tmp_path), [b1, b2])

    stream = (
        spark.readStream.schema("str_id string, text_content string")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    state_dir = os.path.join(str(tmp_path), "state")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    q = streaming_upsert_sink(stream, state_dir, ckpt).start()
    q.awaitTermination(120)

    final = {
        r.str_id: (r.faiss_id, r.text_content)
        for r in read_id_mapping(spark, state_dir).collect()
    }
    # batch1 assigns ids in str_id order from 1; batch2 appends img_c
    assert final["img_a"] == (1, "UPDATED a")
    assert final["img_b"] == (2, "first b")
    assert final["img_c"] == (3, "first c")


def _state_file_digests(root):
    """(relative path -> (size, mtime_ns)) for every parquet data file
    under the id_mapping state tree."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def test_streaming_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """Incremental-state contract: a micro-batch must leave every
    bucket it does not touch byte-untouched on disk (same files, same
    mtimes) — the round-1 full-table rewrite failed exactly this."""
    from cnc_visionsearch_spark.streaming.pipelines import N_BUCKETS, _bucket_expr

    ids = [f"img_{i:03d}" for i in range(60)]
    b1 = spark.createDataFrame(
        [(i, f"text {i}") for i in ids], "str_id: string, text_content: string"
    )
    single = ids[7]
    b2 = spark.createDataFrame(
        [(single, "UPDATED")], "str_id: string, text_content: string"
    )
    bmap = {
        r.str_id: r.b
        for r in spark.createDataFrame([(i,) for i in ids], "str_id: string")
        .withColumn("b", _bucket_expr())
        .collect()
    }
    target_bucket = bmap[single]
    assert len(set(bmap.values())) > 3  # the 60 ids span several buckets

    state_dir = os.path.join(str(tmp_path), "state")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    stream_dir = os.path.join(str(tmp_path), "drops")
    os.makedirs(stream_dir)

    def run_stream():
        stream = (
            spark.readStream.schema("str_id string, text_content string")
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        q = streaming_upsert_sink(stream, state_dir, ckpt).start()
        q.awaitTermination(120)

    _drop_one_file(spark, b1, stream_dir, "drop_0.parquet")
    run_stream()
    root = os.path.join(state_dir, "id_mapping")
    before = _state_file_digests(root)

    _drop_one_file(spark, b2, stream_dir, "drop_1.parquet")
    run_stream()
    after = _state_file_digests(root)

    # every data file of an untouched bucket survives identically
    for rel, sig in before.items():
        if f"bucket={target_bucket}" not in rel:
            assert after.get(rel) == sig, f"untouched bucket rewritten: {rel}"
    # the new version dir contains ONLY the touched bucket
    new_files = set(after) - set(before)
    assert new_files
    assert all(f"bucket={target_bucket}" in rel for rel in new_files)
    # and the state itself is correct
    final = {
        r.str_id: (r.faiss_id, r.text_content)
        for r in read_id_mapping(spark, state_dir).collect()
    }
    assert len(final) == 60
    assert final[single] == (sorted(ids).index(single) + 1, "UPDATED")


def _drop_one_file(spark, df, stream_dir, name):
    import glob
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    src = glob.glob(os.path.join(tmp, "*.parquet"))[0]
    dst = os.path.join(stream_dir, name)
    shutil.move(src, dst)
    shutil.rmtree(tmp, ignore_errors=True)


def test_stateful_running_stats_converge_to_batch(spark, tmp_path):
    """applyInPandasWithState: per-user state survives micro-batches;
    the last emission per user equals the batch aggregate."""
    from pyspark.sql.functions import col

    from cnc_visionsearch_spark.streaming.stateful import running_user_stats

    events = load_table(spark, SF, "events").limit(1500)
    chunks = [events.filter(F.col("event_id") % 3 == i) for i in range(3)]
    stream_dir = _write_chunks(spark, str(tmp_path), chunks)

    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = (
        running_user_stats(stream)
        .writeStream.format("memory")
        .queryName("stateful_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # memory sink in update mode appends every emission; the LAST row
    # per user is the final state
    emitted = spark.sql("select * from stateful_test").collect()
    final: dict[int, tuple] = {}
    for r in emitted:  # collect preserves emission order per batch
        final[r.user_id] = (r.n_events, r.n_errors, round(r.sum_value, 6))

    want = {
        r.user_id: (r.n, r.e, round(r.s, 6))
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(col("event_type") == "error", 1).otherwise(0)).alias("e"),
            F.sum("value").alias("s"),
        )
        .collect()
    }
    assert final == want


def test_streaming_dedup_drops_redelivered_events(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a replayed drop (same event_ids
    re-delivered in a later trigger within the watermark) must emit each
    event exactly once — batch distinct over the union gives the same
    multiset."""
    from cnc_visionsearch_spark.streaming.pipelines import dedup_event_stream

    events = load_table(spark, SF, "events").limit(600)
    first = events.filter(F.col("event_id") % 2 == 0)
    redelivered = first.filter(F.col("event_id") % 4 == 0)  # half arrive twice
    second = events.filter(F.col("event_id") % 2 == 1)
    stream_dir = _write_chunks(
        spark, str(tmp_path), [first, redelivered.union(second)]
    )

    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = (
        dedup_event_stream(stream, watermark="10 days")
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        r.event_id for r in spark.sql("select event_id from dedup_test").collect()
    )
    want = sorted(r.event_id for r in events.collect())
    assert got == want


def test_streaming_lsh_ingest_lands_in_pruned_partitions(spark, tmp_path):
    """Streaming ANN ingest: vectors appended across two micro-batches
    land in the bucket-partitioned layout; the layout's bucket spread
    matches the batch signature computation, and a bucket-filtered read
    prunes partitions (PartitionFilters) while seeing BOTH batches'
    arrivals."""
    import os

    from cnc_visionsearch_spark.operators.ann import (
        hyperplane_signature,
        hyperplanes,
    )
    from cnc_visionsearch_spark.operators.knn import with_normalized
    from cnc_visionsearch_spark.plans import formatted_plan
    from cnc_visionsearch_spark.streaming.pipelines import lsh_ingest_stream

    emb = load_table(spark, SF, "embeddings")
    chunks = [emb.filter(F.col("vec_id") % 2 == i) for i in range(2)]
    stream_dir = _write_chunks(spark, str(tmp_path), chunks)

    out = str(tmp_path / "lsh_layout")
    q = lsh_ingest_stream(
        spark, stream_dir, out, str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    layout = spark.read.parquet(out)
    assert layout.count() == emb.count()  # both batches arrived

    # bucket assignment matches the batch-side signature computation
    planes = hyperplanes(64, 6, 42)
    want = {
        (r.vec_id, r.b)
        for r in with_normalized(emb)
        .select("vec_id", hyperplane_signature("nvec", planes).alias("b"))
        .collect()
    }
    got = {(r.vec_id, r.lsh_bucket) for r in layout.select("vec_id", "lsh_bucket").collect()}
    assert got == want

    # a probe-style bucket filter prunes partitions
    some_bucket = next(iter(got))[1]
    pruned = layout.filter(F.col("lsh_bucket") == some_bucket)
    pf = [
        ln
        for ln in formatted_plan(pruned).splitlines()
        if "PartitionFilters" in ln
    ]
    assert pf and any("lsh_bucket" in ln for ln in pf)
    # hive layout on disk: one dir per bucket
    assert any(d.startswith("lsh_bucket=") for d in os.listdir(out))


def test_streaming_funnel_converges_to_batch(spark, tmp_path):
    """Time-ordered drops (non-overlapping micro-batches): the stateful
    streaming funnel's final per-user stages must reproduce the batch
    query's stage totals exactly."""
    from cnc_visionsearch_spark.registry import all_queries
    from cnc_visionsearch_spark.streaming.pipelines import read_event_stream
    from cnc_visionsearch_spark.streaming.stateful import streaming_funnel_stage

    ev = load_table(spark, SF, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    mid = ev.agg(F.percentile_approx("ts", 0.5)).first()[0]
    chunks = [ev.filter(F.col("ts") <= mid), ev.filter(F.col("ts") > mid)]
    stream_dir = _write_chunks(spark, str(tmp_path), chunks)

    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1).filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    q = (
        streaming_funnel_stage(stream)
        .writeStream.format("memory")
        .queryName("funnel_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # memory sink in update mode appends each batch's updated rows;
    # stage is monotone nondecreasing so the final stage is the max
    # (last() over the unordered sink table would be nondeterministic)
    rows = spark.sql(
        "select user_id, max(stage) as stage from funnel_stream group by user_id"
    ).collect()
    got = {
        "view": sum(1 for r in rows if r.stage >= 1),
        "click": sum(1 for r in rows if r.stage >= 2),
        "purchase": sum(1 for r in rows if r.stage >= 3),
    }
    want = {
        r.stage: r.n_users
        for r in all_queries()["events_funnel_conversion"](spark, SF).collect()
    }
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join (purchases within 1h
    after an error, same user) must emit exactly the batch join's rows
    once the replay drains — both inputs replayed out of order across
    chunks to exercise the state buffers."""
    from cnc_visionsearch_spark.streaming.pipelines import (
        purchase_after_error_stream,
    )

    events = load_table(spark, SF, "events").limit(3000)
    # contiguous time-range chunks: the watermark advances monotonically
    # (an interleaved replay would — correctly — drop cross-chunk rows
    # as beyond-watermark late data; see test_watermark_drops_late)
    day = F.dayofmonth("ts")
    chunks = [
        events.filter(day <= 10),
        events.filter((day > 10) & (day <= 20)),
        events.filter(day > 20),  # open-ended: keeps day 31 if present
    ]
    stream_dir = _write_chunks(spark, str(tmp_path), chunks)

    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = (
        purchase_after_error_stream(stream, stream)
        .writeStream.format("memory")
        .queryName("ss_join_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.error_id, r.purchase_id)
        for r in spark.sql("select * from ss_join_test").collect()
    }

    e = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", F.col("ts").alias("ets")
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
    )
    want = {
        (r.error_id, r.purchase_id)
        for r in e.join(
            p,
            (F.col("user_id") == F.col("pu"))
            & (F.col("pts") >= F.col("ets"))
            & (F.col("pts") <= F.col("ets") + F.expr("INTERVAL 3600 SECONDS")),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_transform_with_state_converges_to_batch(spark, tmp_path):
    """The Spark 4 transformWithStateInPandas API: last emission per
    user after the replay drains must equal the batch aggregate.
    Requires google.protobuf (the state-server wire format), absent in
    this container — skips cleanly here, runs where deps exist (same
    policy as the faiss/PIL branches, test_real_deps.py)."""
    import pytest

    pytest.importorskip("google.protobuf.descriptor")
    from cnc_visionsearch_spark.streaming.stateful import running_user_totals_tws

    events = load_table(spark, SF, "events").limit(2000)
    chunks = [events.filter(F.col("event_id") % 3 == i) for i in range(3)]
    stream_dir = _write_chunks(spark, str(tmp_path), chunks)

    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = (
        running_user_totals_tws(stream)
        .writeStream.format("memory")
        .queryName("tws_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    # memory sink in update mode appends each batch's updates; keep the
    # LAST row per user (monotone n_events identifies it)
    last = {}
    for r in spark.sql("select * from tws_test").collect():
        if r.user_id not in last or r.n_events > last[r.user_id].n_events:
            last[r.user_id] = r
    want = {
        r.user_id: r
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(last) == set(want)
    for uid, got in last.items():
        assert got.n_events == want[uid].n
        assert abs(got.sum_value - want[uid].s) < 1e-6


def test_compact_id_mapping_after_many_batches(spark, tmp_path):
    """~20 micro-batches accrete one small file per touched bucket per
    batch; compaction must (a) shrink the file count to ~one per
    bucket, (b) leave the mapping rows identical, (c) keep the
    crash-safe manifest layout (single live version, valid counter) so
    further upserts continue correctly."""
    from cnc_visionsearch_spark.streaming.pipelines import (
        compact_id_mapping,
        _read_manifest,
    )

    chunks = []
    for b in range(20):
        rows = [(f"img_{b:02d}_{j}", f"text {b}/{j}") for j in range(3)]
        # batch 10+ also re-ingests an old id: exercises the update path
        if b >= 10:
            rows.append((f"img_{b - 10:02d}_0", f"UPDATED in {b}"))
        chunks.append(
            spark.createDataFrame(rows, "str_id: string, text_content: string")
        )
    stream_dir = _write_chunks(spark, str(tmp_path), chunks)
    state_dir = os.path.join(str(tmp_path), "state")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    stream = (
        spark.readStream.schema("str_id string, text_content string")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = streaming_upsert_sink(stream, state_dir, ckpt).start()
    q.awaitTermination(300)

    root = os.path.join(state_dir, "id_mapping")

    def n_files():
        return sum(
            1
            for dp, _d, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        )

    before_rows = sorted(
        map(tuple, read_id_mapping(spark, state_dir).collect())
    )
    before_files = n_files()
    man_before = _read_manifest(state_dir)

    compact_id_mapping(spark, state_dir)

    after_rows = sorted(map(tuple, read_id_mapping(spark, state_dir).collect()))
    assert after_rows == before_rows  # compaction never changes results
    after_files = n_files()
    assert after_files < before_files, (before_files, after_files)
    man = _read_manifest(state_dir)
    # all buckets point at the single fresh version; counter preserved
    assert len(set(man["buckets"].values())) == 1
    assert man["max_faiss_id"] == man_before["max_faiss_id"]
    assert man["version"] == man_before["version"] + 1
    # <= one file per bucket after compaction
    assert after_files <= len(man["buckets"])
    # old version dirs are GC'd: only the live one remains
    vdirs = [d for d in os.listdir(root) if d.startswith("v_")]
    assert vdirs == [sorted(set(man["buckets"].values()))[0]]

    # the state is still writable with correct MAX+1 semantics
    extra = spark.createDataFrame(
        [("img_new_after_compact", "hello")],
        "str_id: string, text_content: string",
    )
    stream_dir2 = _write_chunks(spark, str(tmp_path / "again"), [extra])
    stream2 = (
        spark.readStream.schema("str_id string, text_content string")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir2)
    )
    q2 = streaming_upsert_sink(
        stream2, state_dir, os.path.join(str(tmp_path), "ckpt2")
    ).start()
    q2.awaitTermination(120)
    final = {
        r.str_id: r.faiss_id for r in read_id_mapping(spark, state_dir).collect()
    }
    assert final["img_new_after_compact"] == man["max_faiss_id"] + 1
    assert len(final) == len(before_rows) + 1


def test_ivf_ingest_stream_extends_persisted_index(spark, tmp_path):
    """Streaming twin of the batch append path: micro-batches of new
    embeddings land in the persisted IVF layout's cell partitions (and
    its PQ code table) against the frozen codebook; a probe after the
    stream commits equals a probe over the full corpus with the same
    codebook, and pre-existing files survive byte-identical."""
    from cnc_visionsearch_spark.operators.ann import (
        ivf_assign,
        ivf_build,
        ivf_probe,
        ivf_topk,
        pq_build,
    )
    from cnc_visionsearch_spark.operators.knn import with_normalized
    from cnc_visionsearch_spark.streaming.pipelines import ivf_ingest_stream

    emb = with_normalized(load_table(spark, SF, "embeddings"))
    path = str(tmp_path / "ivf")
    ivf_build(emb.filter(F.col("vec_id") < 300), path, n_cells=8)
    pq_build(spark, path, m=8)

    before_cells = live_md5s(path)
    before_codes = live_md5s(path, base=TLOG_PQ_CODES_STRIDE)

    rest = emb.filter(F.col("vec_id") >= 300).select(
        "vec_id", "embedding", "label"
    )
    chunks = [
        rest.filter(F.col("vec_id") % 3 == i) for i in range(3)
    ]
    stream_dir = _write_chunks(spark, str(tmp_path), chunks)
    q = ivf_ingest_stream(
        spark,
        stream_dir,
        path,
        os.path.join(str(tmp_path), "ckpt"),
        pq_m=8,
    ).start()
    q.awaitTermination(180)

    after_cells = live_md5s(path)
    after_codes = live_md5s(path, base=TLOG_PQ_CODES_STRIDE)
    for rel, digest in before_cells.items():
        assert after_cells.get(rel) == digest
    for rel, digest in before_codes.items():
        assert after_codes.get(rel) == digest

    # probe over the streamed-into layout == full-corpus probe under
    # the frozen codebook (ids and distances)
    cents = read_codebook(spark, path)
    raw = emb.filter(F.col("vec_id") == 301).select("nvec").first()[0]
    qv = [float(x) for x in raw]
    want = [
        (r.vec_id, r.distance)
        for r in ivf_topk(ivf_assign(emb, cents), cents, qv, k=10, nprobe=4).collect()
    ]
    got = [
        (r.vec_id, r.distance)
        for r in ivf_probe(spark, path, qv, k=10, nprobe=4).collect()
    ]
    assert got == want
    assert got[0][0] == 301 and got[0][1] == 0.0  # streamed vector found
    # code table is complete: 8 codes for every vector incl. streamed
    n_vec = emb.count()
    assert (
        read_pq_codes(spark, path).count() == n_vec * 8
    )


def test_kmv_sketch_stream_merges_to_batch_sketch(spark, tmp_path):
    """Streaming KMV: per-shard k-minima maintained across micro-batches
    must MERGE (re-min of the union) to exactly the batch k-minima over
    the same input — the associative-merge contract every distributed
    sketch rests on. State is bounded (k BIGINTs per shard) no matter
    how many events stream through."""
    from cnc_visionsearch_spark.streaming.stateful import (
        KMV_K,
        kmv_hash,
        kmv_sketch_stream,
    )

    # deterministic subset: limit() on an unordered scan can pick a
    # different row set per execution if partition planning shifts
    events = load_table(spark, SF, "events").filter(F.col("event_id") < 1500)
    chunks = [events.filter(F.col("event_id") % 3 == i) for i in range(3)]
    stream_dir = _write_chunks(spark, str(tmp_path), chunks)

    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = (
        kmv_sketch_stream(stream)
        .writeStream.format("memory")
        .queryName("kmv_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    emitted = spark.sql("select * from kmv_test").collect()
    # memory-sink row order across micro-batches is not contractual, so
    # do not pick a "last" emission — union EVERY emitted minima set.
    # This is order-free AND still exact: each shard's final state
    # contains the true global minima that live in that shard, and any
    # stale/extra values in earlier emissions are genuine observed
    # hashes that the global [:K] cut discards.
    per_shard_rows: dict[int, list[list[int]]] = {}
    for r in emitted:
        per_shard_rows.setdefault(r.shard, []).append(list(r.minima))
        assert len(r.minima) <= KMV_K
        assert list(r.minima) == sorted(r.minima)

    merged = sorted(
        set().union(*(set(m) for rows in per_shard_rows.values() for m in rows))
    )[:KMV_K]
    batch = [
        r.hv
        for r in events.select(kmv_hash(F.col("user_id")).alias("hv"))
        .distinct()
        .orderBy("hv")
        .limit(KMV_K)
        .collect()
    ]
    assert merged == batch


def test_ivf_ingest_stream_extends_trained_codes(spark, tmp_path):
    """A layout carrying a TRAINED code table stays coherent under
    streaming ingest: streamed vectors appear in pq_trained_codes
    encoded against the frozen trained codebook (equal to a one-shot
    re-encode of the union) — otherwise the trained-ADC probe would
    never see them."""
    from cnc_visionsearch_spark.operators.ann import (
        ivf_build,
        pq_assign,
        pq_trained_build,
    )
    from cnc_visionsearch_spark.operators.knn import with_normalized
    from cnc_visionsearch_spark.streaming.pipelines import ivf_ingest_stream

    emb = with_normalized(load_table(spark, SF, "embeddings"))
    path = str(tmp_path / "ivf")
    ivf_build(emb.filter(F.col("vec_id") < 300), path, n_cells=8)
    pq_trained_build(spark, path, m=16, k_star=128, iters=1)

    rest = emb.filter(F.col("vec_id") >= 300).select(
        "vec_id", "embedding", "label"
    )
    stream_dir = _write_chunks(
        spark, str(tmp_path / "in"), [rest.filter(F.col("vec_id") % 2 == i) for i in range(2)]
    )
    q = ivf_ingest_stream(
        spark,
        stream_dir,
        path,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    ).start()
    q.awaitTermination(180)

    cb = read_pq_trained_codebook(spark, path)
    expect = {
        (r.vec_id, r.sub_j, r.code)
        for r in pq_assign(emb, cb, m=16).collect()
    }
    got = {
        (r.vec_id, r.sub_j, r.code)
        for r in read_pq_codes(spark, path, trained=True)
        .select("vec_id", "sub_j", "code")
        .collect()
    }
    assert got == expect


def test_knn_serving_stream_matches_batch_probe(spark, tmp_path):
    """The streaming serving job answers each micro-batch from the
    persisted IVF layout via the SAME probe operator as the batch
    kNN join — the union of streamed answers must equal the one-shot
    batch answer for the same query set."""
    from cnc_visionsearch_spark.operators.ann import (
        ivf_build,
        ivf_knn_join_probe,
    )
    from cnc_visionsearch_spark.operators.knn import with_normalized
    from cnc_visionsearch_spark.streaming.pipelines import knn_serving_stream

    emb = with_normalized(load_table(spark, SF, "embeddings"))
    path = str(tmp_path / "ivf")
    ivf_build(emb, path, n_cells=8)

    qset = emb.filter(F.col("vec_id") < 6).select(
        "vec_id", "embedding", "label"
    )
    stream_dir = _write_chunks(
        spark,
        str(tmp_path / "in"),
        [qset.filter(F.col("vec_id") % 2 == i) for i in range(2)],
    )
    out = str(tmp_path / "answers")
    q = knn_serving_stream(
        spark,
        stream_dir,
        path,
        out,
        str(tmp_path / "ckpt"),
        k=5,
        nprobe=4,
        max_files_per_trigger=1,
    ).start()
    q.awaitTermination(180)

    streamed = {
        (r.qid, r.vec_id, r.distance)
        for r in spark.read.parquet(out).collect()
    }
    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"), F.col("nvec").alias("qvec")
    )
    batch = {
        (r.qid, r.vec_id, r.distance)
        for r in ivf_knn_join_probe(spark, path, queries, k=5, nprobe=4).collect()
    }
    assert streamed == batch and len(batch) == 30


def test_inverted_ingest_stream_extends_postings(spark, tmp_path):
    """Streaming document drops append into the inverted layout: after
    two micro-batches, a phrase probe over the layout equals the
    full-corpus rescan, and the base build's files are byte-identical
    (appends add files, never rewrite)."""
    from cnc_visionsearch_spark.operators.text_index import (
        inverted_build,
        phrase_probe,
    )
    from cnc_visionsearch_spark.streaming.pipelines import inverted_ingest_stream

    docs = load_table(spark, SF, "documents")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    chunks = [docs.filter(F.col("doc_id") % 4 == i) for i in (1, 3)]

    idx = str(tmp_path / "inverted")
    inverted_build(base, idx, n_buckets=8)

    before = live_md5s(idx)
    stream_dir = _write_chunks(spark, str(tmp_path), chunks)
    q = inverted_ingest_stream(
        spark, stream_dir, idx, str(tmp_path / "ckpt_inv"),
        n_buckets=8, max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    after = live_md5s(idx)
    assert set(before) <= set(after) and len(after) > len(before)
    for p, sz in before.items():
        assert after[p] == sz  # resident files untouched

    probe = phrase_probe(spark, idx, "slow", "fast", n_buckets=8)
    got = {(r.doc_id, r.n_occurrences) for r in probe.collect()}
    sp = F.split("text", " ")
    want = {
        (r.doc_id, r.n)
        for r in docs.select(
            "doc_id",
            F.size(
                F.filter(
                    F.transform(
                        F.sequence(F.lit(1), F.size(sp) - 1),
                        lambda j: (F.element_at(sp, j) == "slow")
                        & (F.element_at(sp, j + 1) == "fast"),
                    ),
                    lambda x: x,
                )
            ).alias("n"),
        )
        .filter(F.col("n") > 0)
        .collect()
    }
    assert got == want


def test_inverted_postings_compaction_preserves_probe(spark, tmp_path):
    """St5 for the text tier: streaming appends accrete one file per
    micro-batch per bucket; inverted_compact must shrink the file count
    to one per bucket while keeping phrase-probe results identical and
    the bucket pruning intact."""
    from cnc_visionsearch_spark.operators.text_index import (
        inverted_append,
        inverted_build,
        inverted_compact,
        phrase_probe,
        term_bucket,
    )

    docs = load_table(spark, SF, "documents")
    idx = str(tmp_path / "inv")
    inverted_build(docs.filter(F.col("doc_id") % 2 == 0), idx, n_buckets=4)
    for i in (1, 3):  # two appends -> extra files per touched bucket
        inverted_append(docs.filter(F.col("doc_id") % 4 == i), idx, n_buckets=4)

    def n_files():
        return len(live_md5s(idx))

    before_files = n_files()
    before = {
        (r.doc_id, r.n_occurrences)
        for r in phrase_probe(spark, idx, "slow", "fast", n_buckets=4).collect()
    }
    inverted_compact(spark, idx)
    assert n_files() < before_files
    probe = phrase_probe(spark, idx, "slow", "fast", n_buckets=4)
    after = {(r.doc_id, r.n_occurrences) for r in probe.collect()}
    assert after == before and after
    assert scan_tags(probe) == {term_bucket(t, 4) for t in ("slow", "fast")}


def test_bm25_serving_stream_matches_batch_probe(spark, tmp_path):
    """Streaming lexical serving answers each micro-batch from the
    persisted inverted layout via the SAME bm25_multi_probe operator
    as the batch query — the union of streamed answers must equal the
    one-shot batch answer for the same query set."""
    from cnc_visionsearch_spark.operators.text_index import (
        bm25_multi_probe,
        inverted_build,
    )
    from cnc_visionsearch_spark.streaming.pipelines import bm25_serving_stream

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "inv")
    inverted_build(docs, path, n_buckets=8)

    qs = [
        (0, ["hash", "join"]),
        (1, ["stream", "scan"]),
        (2, ["query", "window", "table"]),
        (3, ["vector"]),
    ]
    qdf = spark.createDataFrame(
        [(q, ts) for q, ts in qs], "qid bigint, terms array<string>"
    )
    stream_dir = _write_chunks(
        spark,
        str(tmp_path / "in"),
        [qdf.filter(F.col("qid") % 2 == i) for i in range(2)],
    )
    out = str(tmp_path / "answers")
    bm25_serving_stream(
        spark,
        stream_dir,
        path,
        out,
        str(tmp_path / "ckpt"),
        k=5,
        n_buckets=8,
        max_files_per_trigger=1,
    ).start().awaitTermination(180)

    streamed = {
        (r.qid, r.doc_id, r.n_terms, r.score_q)
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        (r.qid, r.doc_id, r.n_terms, r.score_q)
        for r in bm25_multi_probe(spark, path, qs, n_buckets=8, k=5).collect()
    }
    assert streamed == batch and streamed


def test_ewma_trend_stream_matches_batch_fold(spark, tmp_path):
    """The streaming EWMA carries two doubles of keyed state; applied
    over the same hourly series in hour order it must land on levels
    BIT-IDENTICAL to the batch events_ewma_trend fold."""
    import math

    from cnc_visionsearch_spark.queries_analytics import events_ewma_trend
    from cnc_visionsearch_spark.streaming.stateful import ewma_trend_stream

    hourly = (
        load_table(spark, SF, "events")
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cut = hourly.agg(F.expr("percentile(cast(h as long), 0.5)")).first()[0]
    chunks = [
        hourly.filter(F.col("h").cast("long") <= cut),
        hourly.filter(F.col("h").cast("long") > cut),
    ]
    stream_dir = _write_chunks(spark, str(tmp_path / "in"), chunks)
    schema = hourly.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    out_rows = []
    q = (
        ewma_trend_stream(stream)
        .writeStream.outputMode("update")
        .foreachBatch(
            lambda df, bid: out_rows.extend(df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    final = {}
    for r in out_rows:  # last update per type wins
        final[r.event_type] = r
    batch = {r.event_type: r for r in events_ewma_trend(spark, SF).collect()}
    assert set(final) == set(batch) and final
    for et, b in batch.items():
        s = final[et]
        assert s.n_points == b.n_hours
        assert int(math.floor(s.ewma_fast * 1e9 + 0.5)) == b.ewma_fast_q
        assert int(math.floor(s.ewma_slow * 1e9 + 0.5)) == b.ewma_slow_q


def test_hnsw_ingest_stream_inserts_reachable_nodes(spark, tmp_path):
    """Streaming twin of the hierarchy's insert-by-search append: new
    embeddings streamed into a persisted hnsw_build layout become
    reachable by later searches (through edges appended into the
    touched (layer, bucket) partitions), pre-existing graph files
    survive byte-identical except touched back-edge partitions, and
    the entry artifact is promoted if a streamed node out-levels it."""
    from cnc_visionsearch_spark.operators.graph_ann import (
        hnsw_build,
        hnsw_search,
    )
    from cnc_visionsearch_spark.operators.knn import with_normalized
    from cnc_visionsearch_spark.streaming.pipelines import hnsw_ingest_stream

    emb = with_normalized(load_table(spark, SF, "embeddings")).select(
        "vec_id", "nvec"
    )
    path = str(tmp_path / "hnsw")
    hnsw_build(
        emb.filter(F.col("vec_id") < 300), path, m=8, m_upper=6
    )
    base_entry_lvl = int(
        _hnsw_entry(spark, path)["level"]
    )

    raw = load_table(spark, SF, "embeddings")
    # 40 streamed nodes: insert-by-search costs O(batch) index
    # searches, so the test streams a bounded slice
    rest = raw.filter(
        (F.col("vec_id") >= 300) & (F.col("vec_id") < 340)
    ).select("vec_id", "embedding", "label")
    chunks = [rest.filter(F.col("vec_id") % 2 == i) for i in range(2)]
    stream_dir = _write_chunks(spark, str(tmp_path), chunks)
    q = hnsw_ingest_stream(
        spark, stream_dir, path, os.path.join(str(tmp_path), "ck_h")
    ).start()
    q.awaitTermination(300)

    # every streamed node reachable by a search FOR it
    for vid in (301, 333):
        qv = [
            float(x)
            for x in emb.filter(F.col("vec_id") == vid).select("nvec").first()[0]
        ]
        ids = [i for i, _ in hnsw_search(spark, path, qv, k=5, ef=16, hops=4)]
        assert vid in ids
    # entry level can only stay or rise
    assert (
        int(_hnsw_entry(spark, path)["level"])
        >= base_entry_lvl
    )


def test_sequence_match_stream_matches_batch_regex(spark, tmp_path):
    """The streaming DFA (4 longs of keyed state, no string ever
    materialized) must land on exactly the batch regex's
    non-overlapping match counts and longest-match lengths,
    aggregated to the registered query's histogram."""
    from cnc_visionsearch_spark.queries_events import (
        events_sequence_pattern_match,
    )
    from cnc_visionsearch_spark.streaming.stateful import (
        sequence_match_stream,
    )

    ev = load_table(spark, SF, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    cut = ev.agg(F.expr("percentile(cast(ts as long), 0.5)")).first()[0]
    chunks = [
        ev.filter(F.col("ts").cast("long") <= cut),
        ev.filter(F.col("ts").cast("long") > cut),
    ]
    stream_dir = _write_chunks(spark, str(tmp_path / "in"), chunks)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    out_rows = []
    q = (
        sequence_match_stream(stream)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: out_rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    final = {}
    for r in out_rows:  # last update per user wins
        final[r.user_id] = r
    # aggregate to the registered query's histogram
    from collections import defaultdict

    hist = defaultdict(lambda: [0, 0])  # n_matches -> [n_users, max_run]
    for r in final.values():
        h = hist[r.n_matches]
        h[0] += 1
        h[1] = max(h[1], r.longest)
    batch = {
        r.n_matches: (r.n_users, r.max_run_len)
        for r in events_sequence_pattern_match(spark, SF).collect()
    }
    assert {k: tuple(v) for k, v in hist.items()} == batch and batch


def test_percolator_stream_matches_batch(spark, tmp_path):
    """Streaming percolation is stateless per micro-batch (a doc's
    alert decision depends only on the doc), so the union of streamed
    alerts over chunked document drops must equal one-shot batch
    percolation over the same corpus — and must agree with the
    index-served registered query's per-alert match counts."""
    from cnc_visionsearch_spark.operators.text_index import percolate_docs
    from cnc_visionsearch_spark.streaming.pipelines import percolator_stream

    queries = [
        ("alert_hash_join", ("hash", "join")),
        ("alert_stream_scan", ("stream", "scan")),
        ("alert_dead_rule", ("zzzunseen",)),
    ]
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    stream_dir = _write_chunks(
        spark,
        str(tmp_path / "in"),
        [docs.filter(F.col("doc_id") % 2 == i) for i in range(2)],
    )
    out = str(tmp_path / "alerts")
    percolator_stream(
        spark,
        stream_dir,
        out,
        str(tmp_path / "ckpt"),
        queries,
        max_files_per_trigger=1,
    ).start().awaitTermination(180)

    streamed = {
        (r.query_name, r.doc_id)
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        (r.query_name, r.doc_id)
        for r in percolate_docs(docs, queries).collect()
    }
    assert streamed == batch and streamed
    # the dead rule fires nowhere; live rules fire somewhere
    assert not {q for q, _ in streamed if q == "alert_dead_rule"}
    assert {q for q, _ in streamed} == {"alert_hash_join", "alert_stream_scan"}


def test_percolator_stream_checkpoint_resume_no_duplicates(spark, tmp_path):
    """Exactly-once across restart: rerunning the stream on the SAME
    checkpoint after a new document drop processes only the new file —
    alerts from the first run are not re-emitted (no duplicate
    (query_name, doc_id) pairs), and the union equals one-shot batch
    percolation over everything."""
    import os
    import time as _time

    from cnc_visionsearch_spark.operators.text_index import percolate_docs
    from cnc_visionsearch_spark.streaming.pipelines import percolator_stream

    queries = [("alert_hash_join", ("hash", "join"))]
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    chunks = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    in_dir = str(tmp_path / "in")
    stream_dir = _write_chunks(spark, in_dir, chunks[:2])
    out = str(tmp_path / "alerts")
    ckpt = str(tmp_path / "ckpt")

    percolator_stream(
        spark, stream_dir, out, ckpt, queries, max_files_per_trigger=1
    ).start().awaitTermination(120)
    first = [
        (r.query_name, r.doc_id) for r in spark.read.parquet(out).collect()
    ]
    assert len(first) == len(set(first))

    # drop a third file, resume on the same checkpoint
    part = str(tmp_path / "part_late")
    chunks[2].coalesce(1).write.mode("overwrite").parquet(part)
    src = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
    dst = os.path.join(stream_dir, "drop_late.parquet")
    os.rename(os.path.join(part, src), dst)
    os.utime(dst, (_time.time() + 60, _time.time() + 60))

    percolator_stream(
        spark, stream_dir, out, ckpt, queries, max_files_per_trigger=1
    ).start().awaitTermination(120)
    both = [
        (r.query_name, r.doc_id) for r in spark.read.parquet(out).collect()
    ]
    assert len(both) == len(set(both)), "restart re-emitted alerts"
    batch = {
        (r.query_name, r.doc_id)
        for r in percolate_docs(docs, queries).collect()
    }
    assert set(both) == batch and len(both) > len(first)


def test_holt_trend_stream_matches_batch_fold(spark, tmp_path):
    """The streaming Holt operator carries (level, trend) as integer
    keyed state; applied over the same daily series in day order it
    must land EXACTLY on the batch events_holt_linear_forecast fold
    (the recurrence is all-integer, so equality is ==, not approx)."""
    from cnc_visionsearch_spark.queries_events import (
        events_holt_linear_forecast,
    )
    from cnc_visionsearch_spark.streaming.stateful import holt_trend_stream

    daily = (
        load_table(spark, SF, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            (
                F.count(F.lit(1)).cast("bigint")
                * F.lit(1000000000).cast("bigint")
            ).alias("y_q")
        )
    )
    cut = daily.agg(F.expr("percentile(unix_date(day), 0.5)")).first()[0]
    chunks = [
        daily.filter(F.expr("unix_date(day)") <= cut),
        daily.filter(F.expr("unix_date(day)") > cut),
    ]
    stream_dir = _write_chunks(spark, str(tmp_path / "in"), chunks)
    stream = (
        spark.readStream.schema(daily.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    out_rows = []
    q = (
        holt_trend_stream(stream)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: out_rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    final = {}
    for r in out_rows:  # last update per type wins
        final[r.event_type] = r
    batch = {
        r.event_type: r
        for r in events_holt_linear_forecast(spark, SF).collect()
    }
    assert set(final) == set(batch) and final
    for et, b in batch.items():
        s = final[et]
        assert s.n_days == b.n_days
        assert s.level_q == b.level_q
        assert s.trend_q == b.trend_q
        assert s.forecast7_q == b.forecast7_q


def test_burst_segmentation_stream_matches_batch_fold(spark, tmp_path):
    """The streaming burst DP carries the Viterbi (cost, bursts, dwell)
    triples as integer keyed state; applied over the same hourly series
    in hour order it must land EXACTLY on the batch
    events_burst_segmentation fold (all-integer — equality, not
    approx)."""
    from cnc_visionsearch_spark.queries_events import (
        events_burst_segmentation,
    )
    from cnc_visionsearch_spark.streaming.stateful import (
        burst_segmentation_stream,
    )

    hourly = (
        load_table(spark, SF, "events")
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    # the baseline rate is a corpus fact shipped to the stream as a
    # parameter — computed exactly like the batch query's aggregate
    r0 = {
        r.event_type: int(r.r0)
        for r in hourly.groupBy("event_type")
        .agg(F.expr("CAST(SUM(y) div count(*) AS BIGINT)").alias("r0"))
        .collect()
    }
    cut = hourly.agg(F.expr("percentile(cast(h as long), 0.5)")).first()[0]
    chunks = [
        hourly.filter(F.col("h").cast("long") <= cut),
        hourly.filter(F.col("h").cast("long") > cut),
    ]
    stream_dir = _write_chunks(spark, str(tmp_path / "in"), chunks)
    stream = (
        spark.readStream.schema(hourly.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    out_rows = []
    q = (
        burst_segmentation_stream(stream, r0)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: out_rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    final = {}
    for r in out_rows:  # last update per type wins
        final[r.event_type] = r
    batch = {
        r.event_type: r
        for r in events_burst_segmentation(spark, SF).collect()
    }
    assert set(final) == set(batch) and final
    for et, b in batch.items():
        s = final[et]
        assert s.n_hours == b.n_hours
        assert s.path_cost_q == b.path_cost_q
        assert s.n_bursts == b.n_bursts
        assert s.burst_hours == b.burst_hours


def test_hll_sketch_stream_registers_match_batch(spark, tmp_path):
    """Streaming HLL: per-type registers maintained across micro-batches
    must equal the batch register table over the same input EXACTLY
    (register max is associative + idempotent — the merge contract),
    and the emitted harmonic denominator must equal the batch fold.
    State is 64 BIGINTs per type no matter the stream volume."""
    from cnc_visionsearch_spark.queries_sketches_ext import _hll_registers
    from cnc_visionsearch_spark.streaming.stateful import (
        HLL_M,
        hll_sketch_stream,
    )

    events = load_table(spark, SF, "events").filter(F.col("event_id") < 1500)
    chunks = [events.filter(F.col("event_id") % 3 == i) for i in range(3)]
    stream_dir = _write_chunks(spark, str(tmp_path), chunks)

    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = (
        hll_sketch_stream(stream)
        .writeStream.format("memory")
        .queryName("hll_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    emitted = spark.sql("select * from hll_test").collect()
    # update-mode emissions: keep the sketch with the largest register
    # mass per key (register values only grow, so element-wise max over
    # all emissions IS the final state — order-free)
    final: dict[str, list[int]] = {}
    for r in emitted:
        assert len(r.regs) == HLL_M
        cur = final.setdefault(r.event_type, [0] * HLL_M)
        final[r.event_type] = [max(a, b) for a, b in zip(cur, r.regs)]

    batch = _hll_registers(events, F.col("event_type")).collect()
    batch_regs: dict[str, list[int]] = {}
    for r in batch:
        batch_regs.setdefault(r.scope, [0] * HLL_M)[r.bucket] = r.m_j
    assert final == batch_regs

    # harmonic denominator check against the final streamed emissions
    for et, regs in final.items():
        expect = sum(1 << (27 - r) if r > 0 else 1 << 27 for r in regs)
        best = max(
            (r for r in emitted if r.event_type == et),
            key=lambda r: sum(r.regs),
        )
        assert best.harmonic_q == expect


def test_minhash_dedup_stream_absorbs_batches(spark, tmp_path):
    """Streaming incremental near-dedup (the continuous form of
    dedup_incremental_minhash): batch 1 is tagged against the base
    store then ABSORBED, so batch 2's re-sent copy of a batch-1 doc
    comes back neardup_of_store; and batch 2's verdicts equal a
    one-shot probe whose store is base UNION batch1 (stream == batch,
    the St8 contract)."""
    from cnc_visionsearch_spark.operators.dedup import (
        minhash_banded,
        minhash_lsh_pairs,
        minhash_store_probe,
        write_minhash_meta,
    )
    from cnc_visionsearch_spark.streaming.pipelines import (
        minhash_dedup_stream,
    )

    d = load_table(spark, SF, "documents")
    base = d.filter(F.col("doc_id") < 100).select("doc_id", "text")
    store_b = str(tmp_path / "store_banded")
    store_d = str(tmp_path / "store_docs")
    minhash_banded(base, num_hashes=16, bands=4, shingle_n=3).write.parquet(
        store_b
    )
    # a pre-existing store must arrive STAMPED: the stream refuses to
    # assume a geometry for resident data it did not band itself
    write_minhash_meta(store_b, num_hashes=16, bands=4, shingle_n=3)
    base.write.parquet(store_d)

    b1 = (
        d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
        .select("doc_id", "text")
        .union(
            d.filter(F.col("doc_id") < 10).select(
                (F.col("doc_id") + 10000).alias("doc_id"), "text"
            )
        )
    )
    b2 = (
        d.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 200))
        .select("doc_id", "text")
        .union(
            d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 110))
            .select((F.col("doc_id") + 20000).alias("doc_id"), "text")
        )
    )
    stream_dir = _write_chunks(spark, str(tmp_path), [b1, b2])
    out = str(tmp_path / "verdicts")
    q = minhash_dedup_stream(
        spark,
        stream_dir,
        store_b,
        store_d,
        out,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    ).start()
    q.awaitTermination(300)

    streamed = {
        r.doc_id: r.verdict for r in spark.read.parquet(out).collect()
    }
    # batch-1 re-sends of BASE docs: dup of store
    assert all(streamed[10000 + i] == "neardup_of_store" for i in range(10))
    # batch-2 re-sends of BATCH-1 docs: the store absorbed batch 1
    assert all(
        streamed[20000 + i] == "neardup_of_store" for i in range(100, 110)
    )

    # stream == batch: batch-2 verdicts must equal a one-shot probe
    # against base UNION batch1
    grown_docs = base.union(b1)
    grown_banded = minhash_banded(
        grown_docs, num_hashes=16, bands=4, shingle_n=3
    )
    pairs = minhash_store_probe(b2, grown_banded, grown_docs)
    inb = minhash_lsh_pairs(b2, jaccard_threshold=0.3)
    os_ids = {r.batch_id for r in pairs.select("batch_id").distinct().collect()}
    ib_ids = {r.id_b for r in inb.select("id_b").distinct().collect()}
    want = {
        r.doc_id: (
            "neardup_of_store"
            if r.doc_id in os_ids
            else "neardup_in_batch"
            if r.doc_id in ib_ids
            else "new"
        )
        for r in b2.select("doc_id").collect()
    }
    got_b2 = {k: v for k, v in streamed.items() if k in want}
    assert got_b2 == want


def test_minhash_dedup_stream_rejects_unstamped_resident_store(
    spark, tmp_path
):
    """A PRE-EXISTING store holding data but no _META.json sidecar is
    rejected up front: blind-stamping it with the stream's own
    geometry would assert h16/b4/s3 for bands nobody verified — the
    silent zero-candidate mismatch the sidecar exists to prevent. A
    fresh (empty) path is still stamped and accepted."""
    import pytest

    from cnc_visionsearch_spark.operators.dedup import (
        minhash_banded,
        read_minhash_meta,
    )
    from cnc_visionsearch_spark.streaming.pipelines import (
        minhash_dedup_stream,
    )

    d = load_table(spark, SF, "documents")
    base = d.filter(F.col("doc_id") < 20).select("doc_id", "text")
    store_b = str(tmp_path / "sb")
    (tmp_path / "in").mkdir()  # readStream validates the source path
    # resident data banded under a DIFFERENT geometry, no sidecar
    minhash_banded(base, num_hashes=32, bands=8, shingle_n=3).write.parquet(
        store_b
    )
    with pytest.raises(ValueError, match="no _META.json"):
        minhash_dedup_stream(
            spark,
            str(tmp_path / "in"),
            store_b,
            str(tmp_path / "sd"),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
        )
    # a store path with NO resident data gets stamped with the
    # stream's own geometry (the stream owns that store's lifecycle)
    fresh = str(tmp_path / "fresh")
    minhash_dedup_stream(
        spark,
        str(tmp_path / "in"),
        fresh,
        str(tmp_path / "sd"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt2"),
    )
    assert read_minhash_meta(fresh)["num_hashes"] == 16


def test_minhash_dedup_stream_replay_exclusion_mechanism(spark, tmp_path):
    """Replay safety: after a batch's bands are absorbed with its
    provenance key, probing with that key EXCLUDED must yield the same
    pairs as probing the pre-absorb store — i.e. a foreachBatch replay
    that re-runs after its own absorb cannot self-match and flip
    verdicts to neardup_of_store."""
    from cnc_visionsearch_spark.operators.dedup import (
        minhash_banded,
        minhash_store_probe,
    )

    d = load_table(spark, SF, "documents")
    base = d.filter(F.col("doc_id") < 100).select("doc_id", "text")
    batch = (
        d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 140))
        .select("doc_id", "text")
    )
    store_b = str(tmp_path / "sb")
    minhash_banded(base, num_hashes=16, bands=4, shingle_n=3).withColumn(
        "_src_batch", F.lit(None).cast("string")
    ).write.parquet(store_b)
    pre = spark.read.parquet(store_b)
    want = sorted(
        (r.batch_id, r.store_id)
        for r in minhash_store_probe(batch, pre, base).collect()
    )
    # simulate the crash-after-absorb state: batch's own bands landed
    minhash_banded(batch, num_hashes=16, bands=4, shingle_n=3).withColumn(
        "_src_batch", F.lit("run:1")
    ).write.mode("append").parquet(store_b)
    grown = spark.read.parquet(store_b)
    # WITHOUT exclusion the batch self-matches (every doc pairs itself)
    unsafe = minhash_store_probe(batch, grown, base.union(batch))
    assert unsafe.filter(F.col("batch_id") == F.col("store_id")).count() > 0
    # WITH the provenance exclusion the replay sees the pre-absorb view
    replay = grown.filter(
        F.coalesce(F.col("_src_batch"), F.lit("")) != F.lit("run:1")
    )
    got = sorted(
        (r.batch_id, r.store_id)
        for r in minhash_store_probe(batch, replay, base).collect()
    )
    assert got == want


def test_maxsim_serving_stream_matches_batch_probe(spark, tmp_path):
    """Streaming late-interaction serving answers each micro-batch via
    the SAME maxsim_multi_probe operator as text_maxsim_batch_topk —
    the union of streamed answers must equal the one-shot batch answer
    for the same query set (stream == batch, no ranking drift)."""
    from cnc_visionsearch_spark.operators.maxsim import maxsim_multi_probe
    from cnc_visionsearch_spark.operators.text_index import inverted_build
    from cnc_visionsearch_spark.streaming.pipelines import (
        maxsim_serving_stream,
    )

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "inv")
    inverted_build(docs, path, n_buckets=8)

    qs = [
        (0, ["vector", "window"]),
        (1, ["stream", "scan"]),
        (2, ["hash", "join", "table"]),
        (3, ["query"]),
    ]
    qdf = spark.createDataFrame(
        [(q, ts) for q, ts in qs], "qid bigint, terms array<string>"
    )
    stream_dir = _write_chunks(
        spark,
        str(tmp_path / "in"),
        [qdf.filter(F.col("qid") % 2 == i) for i in range(2)],
    )
    out = str(tmp_path / "answers")
    maxsim_serving_stream(
        spark,
        stream_dir,
        path,
        SF,
        out,
        str(tmp_path / "ckpt"),
        k=5,
        n_buckets=8,
        max_files_per_trigger=1,
    ).start().awaitTermination(180)

    streamed = {
        (r.qid, r.doc_id, r.score_q)
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        (r.qid, r.doc_id, r.score_q)
        for r in maxsim_multi_probe(
            spark, path, qs, docs, n_buckets=8, k=5,
            min_token_hits="all",
        ).collect()
    }
    assert streamed == batch and streamed
