"""Structured Streaming pipelines (SURVEY §2.8).

The reference is an online record-at-a-time stateful service; its
streaming semantics map to Structured Streaming as:

- St1 incremental ingest with upsert -> file/Kafka source ->
  ``foreachBatch`` applying :func:`operators.ingest.upsert_id_mapping`
  per micro-batch (matched => text-only update; not matched => insert
  with dense ids — exactly main.py:119-134, serialized per batch like
  the reference's single SQLite writer).
- St2 MAX+1 id counter -> the per-batch row_number + running max inside
  the same foreachBatch.
- St3 persistence on shutdown only (main.py:168-173, crash loses the
  index) -> per-micro-batch checkpointing: strictly stronger, noted as
  an intentional semantic upgrade.

[EXT] event-time analytics: watermarked tumbling/sliding/session
windows over the `events` shape — the streaming twins of the batch
queries in queries_events.py (same logical plans + watermark).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cnc_visionsearch_spark.operators.ingest import upsert_id_mapping
from cnc_visionsearch_spark.schemas import EVENTS
from cnc_visionsearch_spark.session import local_frame

__all__ = [
    "read_event_stream",
    "tumbling_counts_stream",
    "sliding_counts_stream",
    "session_window_stream",
    "streaming_upsert_sink",
    "compact_id_mapping",
    "dedup_event_stream",
    "purchase_after_error_stream",
    "lsh_ingest_stream",
    "ivf_ingest_stream",
    "shard_ingest_stream",
    "hnsw_ingest_stream",
    "inverted_ingest_stream",
    "ivf_delete_stream",
    "bm25_serving_stream",
    "read_id_mapping",
    "knn_serving_stream",
    "maxsim_serving_stream",
    "minhash_dedup_stream",
    "percolator_stream",
    "token_ivf_ingest_stream",
    "tlog_upsert_stream",
]


def _stream_run_id(checkpoint: str, path_hash_fallback: bool) -> str:
    """The streaming query's OWN persisted UUID (written by Structured
    Streaming into ``{checkpoint}/metadata``) — stable across restarts
    of one checkpoint, FRESH after a wipe, so run-scoped keys derived
    from it can never collide with an older run's committed state.

    ``path_hash_fallback`` governs exotic checkpoint filesystems where
    the metadata file is unreadable: True falls back to a hash of the
    checkpoint PATH — acceptable ONLY where a post-wipe collision is a
    bounded nuisance (minhash_dedup_stream: replay exclusion hides a
    few resident rows from one probe). Where a collision LOSES WRITES
    (tlog_upsert_stream: the old run's txn keys make the new run's
    early batches commit nothing), pass False — raising beats silent
    data loss."""
    try:
        with open(os.path.join(checkpoint, "metadata")) as fh:
            return json.load(fh)["id"][:12]
    except Exception:
        if path_hash_fallback:
            import hashlib

            return hashlib.md5(checkpoint.encode()).hexdigest()[:12]
        raise ValueError(
            f"streaming checkpoint {checkpoint} has no readable "
            "metadata id — refusing a path-derived run id: after a "
            "checkpoint wipe it would reuse the previous run's txn "
            "keys and silently drop that run's batch numbers"
        )


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """File-source stream of events parquet drops (S4 streaming analog).

    At scale this is a Kafka source; the file source keeps the same
    unbounded-DataFrame semantics and is what tests replay against.
    """
    return (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def tumbling_counts_stream(
    events: DataFrame, watermark: str = "1 hour", window: str = "1 hour"
) -> DataFrame:
    """Watermarked tumbling window counts — late rows beyond the
    watermark are dropped (the [EXT] late-data semantics; the reference
    has no analog)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("ts_hour"), "event_type", "n_events", "sum_value")
    )


def sliding_counts_stream(
    events: DataFrame,
    watermark: str = "1 hour",
    window: str = "1 hour",
    slide: str = "30 minutes",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "n_events")
    )


def session_window_stream(
    events: DataFrame, watermark: str = "1 hour", gap: str = "30 minutes"
) -> DataFrame:
    """session_window() — the native streaming form of the batch
    sessionization in queries_events.py (gap-merged state per user)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_event_stream(
    events: DataFrame, watermark: str = "1 hour", keys: list[str] | None = None
) -> DataFrame:
    """Streaming exact-dedup: dropDuplicatesWithinWatermark keeps the
    first arrival per key and discards re-deliveries that land within
    the watermark horizon — the streaming twin of operators/dedup.py's
    batch exact_dedup, and the standard at-least-once -> effectively-
    once repair for replayed sources (Kafka redelivery, file re-drops).

    State is one entry per key with event-time eviction: unlike plain
    dropDuplicates (state grows forever on an unbounded stream), the
    watermark bounds state to keys seen within the horizon — the only
    formulation that survives an unbounded 100 TB/day stream.
    """
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def purchase_after_error_stream(
    purchases: DataFrame,
    errors: DataFrame,
    lo_seconds: int = 0,
    hi_seconds: int = 3600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: purchases within [lo, hi] seconds
    after an error by the same user — the streaming twin of the batch
    range join (operators/skew.py::range_join_bucketed, same
    predicate as `events_range_purchases_after_error`).

    Both sides carry a watermark and the join condition bounds event
    time on both inputs, so Spark derives state-eviction horizons for
    BOTH join buffers (a stream-stream join without time bounds buffers
    forever — the unbounded-state trap). State per side ≈ watermark
    horizon × arrival rate, keyed on user_id: bounded, shardable,
    skew-splittable — the only stream-stream join shape that survives
    an unbounded source.
    """
    e = (
        errors.filter(F.col("event_type") == "error")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id"),
            F.col("ts").alias("error_ts"),
        )
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
    )
    return e.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("error_ts") + F.expr(f"INTERVAL {lo_seconds} SECONDS"))
        & (F.col("purchase_ts") <= F.col("error_ts") + F.expr(f"INTERVAL {hi_seconds} SECONDS")),
    ).select("error_id", "user_id", "error_ts", "purchase_id", "purchase_ts", "value")


def lsh_ingest_stream(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint: str,
    n_planes: int = 6,
    seed: int = 42,
    dim: int = 64,
    max_files_per_trigger: int = 10,
):
    """Streaming ANN ingest: new embedding drops get their hyperplane
    signature computed on arrival (same seeded planes the batch probe
    uses) and append into the bucket-partitioned layout that
    `lsh_topk`-style probes prune — so a probe launched any time after
    a micro-batch commits sees the new vectors, and still reads only
    ~1/2^P of the files (PartitionFilters on lsh_bucket).

    This is the streaming half of the LSH tier's build-once story:
    ingest is O(batch) appends into existing partitions (parquet file
    adds — no rewrite of resident data), probe cost is unchanged.
    Returns the started StreamingQuery.
    """
    from cnc_visionsearch_spark.operators.ann import (
        hyperplane_signature,
        hyperplanes,
    )
    from cnc_visionsearch_spark.operators.knn import with_normalized
    from cnc_visionsearch_spark.schemas import EMBEDDINGS

    stream = (
        spark.readStream.schema(EMBEDDINGS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_path)
    )
    planes = hyperplanes(dim, n_planes, seed)
    enriched = with_normalized(stream).withColumn(
        "lsh_bucket", hyperplane_signature("nvec", planes)
    )
    return (
        enriched.writeStream.format("parquet")
        .partitionBy("lsh_bucket")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def ivf_ingest_stream(
    spark: SparkSession,
    in_path: str,
    index_path: str,
    checkpoint: str,
    pq_m: int | None = None,
    max_files_per_trigger: int = 10,
):
    """Streaming ingest into a PERSISTED :func:`operators.ann.ivf_build`
    layout — the streaming twin of the batch append path, and together
    with it the full living-corpus story the reference serves online
    (``index.add_with_ids``, main.py:134): each micro-batch of new
    embeddings is assigned against the layout's frozen codebook and
    appended into its cell domains as a blind commit (``ivf_append``);
    when the layout carries a PQ code table and ``pq_m`` is set, codes
    append in the same batch (``pq_append``). Probes launched after any
    micro-batch commit see the new vectors at unchanged cost — cell
    pruning does not care how many batches built the files. One file
    per cell per batch accretes exactly like the upsert state's
    buckets; the maintenance pass (maintenance.run_index_maintenance)
    compacts it.

    Returns the configured DataStreamWriter — call ``.start()``.
    """
    from cnc_visionsearch_spark.operators.ann import (
        ivf_append,
        pq_append,
        read_pq_trained_codebook,
    )
    from cnc_visionsearch_spark.operators.knn import with_normalized
    from cnc_visionsearch_spark.schemas import EMBEDDINGS

    # the trained codebook is FROZEN at build time, so resolve its
    # geometry ONCE here instead of paying a parquet read + aggregate
    # job on every micro-batch of a long-running stream
    trained_m: int | None = None
    trained_cb = read_pq_trained_codebook(spark, index_path)
    if trained_cb is not None:
        trained_m = int(trained_cb.agg(F.max("sub_j")).first()[0] + 1)

    stream = (
        spark.readStream.schema(EMBEDDINGS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_path)
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        normed = with_normalized(batch_df)
        ivf_append(s, index_path, normed)
        if pq_m is not None:
            pq_append(s, index_path, normed, m=pq_m)
        # layouts carrying a TRAINED code table stay coherent too: a
        # streamed vector missing from pq_trained_codes would be
        # invisible to the trained-ADC probe path forever
        if trained_m is not None:
            from cnc_visionsearch_spark.operators.ann import pq_trained_append

            pq_trained_append(s, index_path, normed, m=trained_m)

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def shard_ingest_stream(
    spark: SparkSession,
    in_path: str,
    index_path: str,
    checkpoint: str,
    max_files_per_trigger: int = 10,
):
    """Streaming ingest into a PERSISTED :func:`operators.ann.shard_build`
    layout — the shard tier's twin of :func:`ivf_ingest_stream` (r11,
    completing the St4 symmetry for the newly-transactional tier): each
    micro-batch of new embeddings lands in its id-mod shard partitions
    via ``shard_append``; probes launched after any committed batch see
    the union at unchanged cost. The ingest is EXACTLY-ONCE: the append
    commit carries a (run id, batch id) txn key, so an at-least-once
    foreachBatch replay commits nothing — the tlog_upsert_stream
    doctrine, idempotence in the TABLE's protocol. Returns the started
    StreamingQuery.
    """
    from cnc_visionsearch_spark.operators.ann import shard_append
    from cnc_visionsearch_spark.operators.knn import with_normalized
    from cnc_visionsearch_spark.schemas import EMBEDDINGS

    stream = (
        spark.readStream.schema(EMBEDDINGS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_path)
    )
    _rid: dict = {}

    def _run_id() -> str:
        if "v" not in _rid:
            _rid["v"] = _stream_run_id(checkpoint, path_hash_fallback=False)
        return _rid["v"]

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        txn = (f"shard_ingest:{_run_id()}", batch_id)
        shard_append(s, index_path, with_normalized(batch_df), txn=txn)

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def inverted_ingest_stream(
    spark: SparkSession,
    in_path: str,
    index_path: str,
    checkpoint: str,
    n_buckets: int = 16,
    max_files_per_trigger: int = 10,
):
    """Streaming ingest for the inverted text index: each micro-batch
    of new documents gets its postings computed (batch-local group-by —
    a document arrives whole, so its postings are complete within the
    batch) and appended into the term-bucket layout that phrase probes
    prune. The text-tier twin of ivf_ingest_stream: probes launched
    after any committed batch see the new documents at unchanged pruned
    cost; resident files are never rewritten. The ingest is
    EXACTLY-ONCE: the commit's txn key (run id, batch id) makes
    at-least-once foreachBatch replays commit nothing (the
    tlog_upsert_stream doctrine — idempotence in the TABLE's protocol).
    Returns the started StreamingQuery.
    """
    from cnc_visionsearch_spark.operators.text_index import inverted_append
    from cnc_visionsearch_spark.schemas import DOCUMENTS

    stream = (
        spark.readStream.schema(DOCUMENTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_path)
    )
    _rid: dict = {}

    def _run_id() -> str:
        if "v" not in _rid:
            _rid["v"] = _stream_run_id(checkpoint, path_hash_fallback=False)
        return _rid["v"]

    def apply_batch(batch_df, _batch_id):
        txn = (f"inv_ingest:{_run_id()}", _batch_id)
        inverted_append(batch_df, index_path, n_buckets=n_buckets, txn=txn)

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def ivf_delete_stream(
    spark: SparkSession,
    in_path: str,
    index_path: str,
    checkpoint: str,
    max_files_per_trigger: int = 10,
):
    """Streaming deletes against a persisted IVF layout: drops of
    (vec_id) rows become tombstone appends (``ivf_delete``) per
    micro-batch, so a probe after any commit no longer returns the
    deleted vectors — the third leg of the streaming CRUD story
    (upsert: :func:`streaming_upsert_sink`; insert:
    :func:`ivf_ingest_stream`). The collect is bounded by the
    micro-batch's distinct id count (delete batches are request-scale,
    never corpus-scale). Physical removal stays deferred to
    ``ivf_vacuum`` on the maintenance schedule.

    Returns the configured DataStreamWriter — call ``.start()``.
    """
    from cnc_visionsearch_spark.operators.ann import ivf_delete

    stream = (
        spark.readStream.schema("vec_id bigint")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_path)
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        ids = [
            r.vec_id for r in batch_df.select("vec_id").distinct().collect()
        ]
        if ids:
            ivf_delete(batch_df.sparkSession, index_path, sorted(ids))

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


# ------------------------------------------------- incremental upsert state
#
# id_mapping state layout (St1/St2 at scale):
#
#   state_dir/id_mapping/
#     MANIFEST.json             <- {"version": k, "max_faiss_id": m,
#                                   "buckets": {"3": "v_000007", ...}}
#     v_000007/bucket=3/*.parquet
#     v_000008/bucket=0/*.parquet ...
#
# Rows live in N_BUCKETS hash buckets of str_id (xxhash64 — stable
# across runs/engines). A micro-batch rewrites ONLY the buckets its
# str_ids land in, into a NEW version directory; the manifest maps each
# bucket to the version that last wrote it. The swap is a single
# atomic os.replace of MANIFEST.json, so a crash at any point leaves
# the previous state fully readable (orphan version dirs are GC'd on
# the next successful batch). Per-batch I/O is O(touched buckets +
# batch), not O(|table|) — the property the round-1 full-rewrite sink
# lacked. With Delta available the same semantics are one MERGE INTO.

N_BUCKETS = 16


def _bucket_expr(n_buckets: int = N_BUCKETS):
    return F.pmod(F.xxhash64(F.col("str_id")), F.lit(n_buckets)).cast("int")


def _manifest_path(state_dir: str) -> str:
    return os.path.join(state_dir, "id_mapping", "MANIFEST.json")


def _read_manifest(state_dir: str) -> dict | None:
    try:
        with open(_manifest_path(state_dir)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


_EMPTY_MAPPING = "str_id string, faiss_id long, text_content string"


def read_id_mapping(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current id_mapping view: one path per bucket, resolved through
    the manifest (each bucket's latest version dir)."""
    man = _read_manifest(state_dir)
    root = os.path.join(state_dir, "id_mapping")
    if not man or not man["buckets"]:
        return local_frame(spark, [], _EMPTY_MAPPING)
    paths = [
        os.path.join(root, ver, f"bucket={b}") for b, ver in man["buckets"].items()
    ]
    return spark.read.schema(_EMPTY_MAPPING).parquet(*paths)


def streaming_upsert_sink(
    batches: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    spark: SparkSession | None = None,
    n_buckets: int = N_BUCKETS,
):
    """foreachBatch sink reproducing St1/St2: each micro-batch of
    (str_id, text_content) rows is upserted into the bucket-partitioned
    id_mapping state at ``state_dir`` with reference semantics
    (matched -> text-only update, main.py:123-126; new -> dense MAX+1
    ids, main.py:129-131).

    Incremental: the batch's str_ids select their hash buckets; only
    those buckets are read (existence probe + update) and rewritten
    (new version dir + atomic manifest swap). The global MAX+1 counter
    comes from the manifest, not a table scan. Read the state back with
    :func:`read_id_mapping`.

    Returns a configured DataStreamWriter — call ``.start()`` to run
    (trigger=availableNow, checkpointed at ``checkpoint_dir``).
    """
    root = os.path.join(state_dir, "id_mapping")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        man = _read_manifest(state_dir) or {
            "version": 0,
            "max_faiss_id": 0,
            "buckets": {},
            "n_buckets": n_buckets,
        }
        # The bucket function is part of the state layout: resuming
        # with a different n_buckets would hash existing str_ids into
        # different buckets, miss them in the existence probe, and
        # re-insert them under fresh dense ids. Refuse loudly.
        state_n = int(man.get("n_buckets", n_buckets))
        if state_n != n_buckets:
            raise ValueError(
                f"id_mapping state at {state_dir!r} was built with "
                f"n_buckets={state_n}, got n_buckets={n_buckets}; "
                "re-bucketing requires a full state rewrite"
            )
        # batch may contain the same str_id twice: keep the last row
        # (reference processes records serially; "last write wins")
        dedup = (
            batch_df.groupBy("str_id")
            .agg(F.max_by("text_content", "seq").alias("text_content"))
            if "seq" in batch_df.columns
            else batch_df.dropDuplicates(["str_id"])
        )
        touched = sorted(
            r[0]
            for r in dedup.select(_bucket_expr(n_buckets).alias("b"))
            .distinct()
            .collect()
        )
        tpaths = [
            os.path.join(root, man["buckets"][str(b)], f"bucket={b}")
            for b in touched
            if str(b) in man["buckets"]
        ]
        current = (
            s.read.schema(_EMPTY_MAPPING).parquet(*tpaths)
            if tpaths
            else local_frame(s, [], _EMPTY_MAPPING)
        )
        updated = upsert_id_mapping(current, dedup, known_max=man["max_faiss_id"])
        ver = f"v_{man['version'] + 1:06d}"
        vdir = os.path.join(root, ver)
        (
            updated.withColumn("bucket", _bucket_expr(n_buckets))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(vdir)
        )
        new_max = (
            s.read.schema(_EMPTY_MAPPING + ", bucket int")
            .parquet(vdir)
            .agg(F.coalesce(F.max("faiss_id"), F.lit(0)))
            .first()[0]
        )
        new_man = {
            "version": man["version"] + 1,
            "max_faiss_id": max(int(new_max), int(man["max_faiss_id"])),
            "buckets": {**man["buckets"], **{str(b): ver for b in touched}},
            "n_buckets": n_buckets,
        }
        tmp = _manifest_path(state_dir) + f".tmp{batch_id}"
        with open(tmp, "w") as f:
            json.dump(new_man, f)
        os.replace(tmp, _manifest_path(state_dir))  # atomic swap
        # GC: version dirs no longer referenced by any bucket
        live = set(new_man["buckets"].values())
        for d in os.listdir(root):
            if d.startswith("v_") and d not in live:
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)

    return (
        batches.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def compact_id_mapping(
    spark: SparkSession, state_dir: str, files_per_bucket: int = 1
) -> None:
    """Manifest-aware small-file compaction for the upsert state
    (VERDICT r3 §Next-round #5): the bucket-versioned sink accretes one
    file per touched bucket per micro-batch — after K batches a bucket
    holds up to K small files, and at 100 TB that is metadata death for
    every later read (the same disease :func:`sources.formats
    .compact_layout` treats for plain layouts, solved here through the
    manifest instead of a directory swap).

    Rewrites the CURRENT state (all buckets, resolved through the
    manifest) into one fresh version directory with ``files_per_bucket``
    files per bucket, then atomically repoints every bucket at it.
    Crash-safety is the sink's own mechanism, reused: the manifest swap
    is the last step, so death at any earlier point leaves the old
    state fully readable and the half-written version dir is orphan-GC'd
    by the next successful batch or compaction. Results are identical
    before/after by construction (same rows, new files). Run from the
    maintenance schedule, not the ingest path.
    """
    man = _read_manifest(state_dir)
    if not man or not man["buckets"]:
        return  # empty state: nothing to compact
    root = os.path.join(state_dir, "id_mapping")
    n_buckets = int(man.get("n_buckets", N_BUCKETS))
    ver = f"v_{man['version'] + 1:06d}"
    vdir = os.path.join(root, ver)
    current = read_id_mapping(spark, state_dir)
    (
        current.withColumn("bucket", _bucket_expr(n_buckets))
        # repartition BY the partition column: each bucket lands in one
        # task -> files_per_bucket files per hive partition (a bare
        # repartition(n) would emit up to n files per bucket again)
        .repartition(n_buckets * files_per_bucket, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(vdir)
    )
    new_man = {
        "version": man["version"] + 1,
        "max_faiss_id": man["max_faiss_id"],
        "buckets": {b: ver for b in man["buckets"]},
        "n_buckets": n_buckets,
    }
    tmp = _manifest_path(state_dir) + ".tmp_compact"
    with open(tmp, "w") as f:
        json.dump(new_man, f)
    os.replace(tmp, _manifest_path(state_dir))  # atomic swap, LAST step
    live = set(new_man["buckets"].values())
    for d in os.listdir(root):
        if d.startswith("v_") and d not in live:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def knn_serving_stream(
    spark: SparkSession,
    in_path: str,
    index_path: str,
    out_path: str,
    checkpoint: str,
    k: int = 5,
    nprobe: int = 4,
    max_files_per_trigger: int = 10,
):
    """The reference's online ``/search_drawing`` (main.py:138-165) as
    a STREAMING serving job: a stream of query vectors, each
    micro-batch answered with its top-k neighbors from the PERSISTED
    IVF layout (stream-static: the index is the static side, probed —
    never rebuilt — per batch via the same ``ivf_knn_join_probe``
    operator the batch kNN-join query uses, so online and batch
    results cannot drift). Results append to ``out_path`` as
    (qid, vec_id, distance) parquet; the checkpoint gives
    exactly-once batches over the file source.

    This is the honest Spark answer to online serving (BASELINE.json:
    sub-second point lookups belong on a serving tier, not Spark):
    micro-batch latency in seconds, but arbitrarily high query
    THROUGHPUT — each batch pays one partition-pruned corpus read for
    ALL its queries. Returns the configured DataStreamWriter — call
    ``.start()``.
    """
    from cnc_visionsearch_spark.operators.ann import ivf_knn_join_probe
    from cnc_visionsearch_spark.operators.knn import with_normalized
    from cnc_visionsearch_spark.schemas import EMBEDDINGS

    stream = (
        spark.readStream.schema(EMBEDDINGS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_path)
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        queries = with_normalized(batch_df).select(
            F.col("vec_id").alias("qid"), F.col("nvec").alias("qvec")
        )
        ivf_knn_join_probe(
            s, index_path, queries, k=k, nprobe=nprobe
        ).write.mode("overwrite").parquet(f"{out_path}/batch={batch_id}")

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def bm25_serving_stream(
    spark: SparkSession,
    in_path: str,
    index_path: str,
    out_path: str,
    checkpoint: str,
    k: int = 5,
    n_buckets: int = 16,
    max_files_per_trigger: int = 10,
):
    """Streaming lexical serving — the text twin of
    :func:`knn_serving_stream`, and the online form of the README's
    declared-but-unimplemented ``/search_by_text`` (README.md:96-103)
    done over the LEXICAL index: a stream of (qid, terms) queries,
    each micro-batch answered with BM25 top-k from the PERSISTED
    inverted layout via the SAME ``bm25_multi_probe`` operator the
    batch query uses (stream-static; one pruned postings read answers
    the whole batch, so online and batch rankings cannot drift).
    Results append to ``out_path`` as (qid, doc_id, n_terms, score_q)
    parquet; the checkpoint gives exactly-once batches over the file
    source. The per-batch term collect is bounded by the batch's
    query count — the driver round-trip that buys bucket partition
    pruning, same trade as the batch probe. Returns the configured
    DataStreamWriter — call ``.start()``.
    """
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from cnc_visionsearch_spark.operators.text_index import bm25_multi_probe

    schema = StructType(
        [
            StructField("qid", LongType()),
            StructField("terms", ArrayType(StringType())),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_path)
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        queries = [
            (r.qid, list(r.terms)) for r in batch_df.collect()
        ]  # bounded: one row per query in the micro-batch
        bm25_multi_probe(
            s, index_path, queries, n_buckets=n_buckets, k=k
        ).write.mode("overwrite").parquet(f"{out_path}/batch={batch_id}")

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def maxsim_serving_stream(
    spark: SparkSession,
    in_path: str,
    index_path: str,
    docs_sf_dir: str,
    out_path: str,
    checkpoint: str,
    k: int = 5,
    n_buckets: int = 16,
    max_files_per_trigger: int = 10,
    min_token_hits="all",
):
    """Streaming late-interaction serving — the maxsim twin of
    :func:`bm25_serving_stream`, completing the retrieval-tier
    structure (every tier has batch + streaming forms): a stream of
    (qid, terms) queries, each micro-batch answered with exact maxsim
    top-k over candidates from the PERSISTED inverted layout via the
    SAME ``maxsim_multi_probe`` operator the batch query
    (text_maxsim_batch_topk) uses — stream-static, one pruned postings
    read + one semi-join-pruned candidate-text read per trigger, so
    online and batch rankings cannot drift (test-pinned). Results
    append to ``out_path`` as (qid, doc_id, score_q) parquet; the
    checkpoint gives exactly-once batches over the file source. The
    per-batch query collect is bounded by the batch's query count.
    Returns the configured DataStreamWriter — call ``.start()``."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from cnc_visionsearch_spark.operators.maxsim import maxsim_multi_probe
    from cnc_visionsearch_spark.sources.catalog import load_table

    schema = StructType(
        [
            StructField("qid", LongType()),
            StructField("terms", ArrayType(StringType())),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_path)
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        queries = [
            (r.qid, list(r.terms)) for r in batch_df.collect()
        ]  # bounded: one row per query in the micro-batch
        docs = load_table(s, docs_sf_dir, "documents")
        maxsim_multi_probe(
            s,
            index_path,
            queries,
            docs,
            n_buckets=n_buckets,
            k=k,
            # default matches text_maxsim_batch_topk's r9 operating
            # point (conjunction candidates) so online and batch
            # rankings stay identical by construction
            min_token_hits=min_token_hits,
        ).write.mode("overwrite").parquet(f"{out_path}/batch={batch_id}")

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def token_ivf_ingest_stream(
    spark: SparkSession,
    in_path: str,
    index_path: str,
    checkpoint: str,
    max_files_per_trigger: int = 10,
):
    """Streaming ingest into a PERSISTED token-IVF layout
    (operators/maxsim.token_ivf_build) — the maxsim tier's living-
    corpus story, same shape as inverted_ingest_stream /
    hnsw_ingest_stream: each micro-batch of documents runs
    ``token_ivf_append`` (new docs' tokens assigned against the
    FROZEN build-time centroids, unseen tokens extend the vocabulary
    table, new (cell, doc) rows land as new files in their cell
    partitions — resident files byte-untouched). Probes launched
    after any commit reach the new docs through the appended
    partitions at unchanged scan shape; per-batch work is O(batch).
    Returns the configured DataStreamWriter — call ``.start()``."""
    from cnc_visionsearch_spark.operators.maxsim import token_ivf_append
    from cnc_visionsearch_spark.schemas import DOCUMENTS

    stream = (
        spark.readStream.schema(DOCUMENTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_path)
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # per-id dedup: an at-least-once source may re-deliver a doc
        # within one micro-batch; doc_cells rows are distinct per
        # (cell, doc) anyway, so replays across batches are harmless
        # (duplicate rows change no candidate set). max(text) per id,
        # NOT dropDuplicates: a re-delivery with DIVERGENT text bakes
        # whichever row scanned first into the PERSISTED layout —
        # max(text) keeps the streamed layout deterministic and equal
        # to the one-shot append twin (the minhash_store_probe
        # verdict-kernel rule, operators/dedup.py)
        token_ivf_append(
            batch_df.groupBy("doc_id").agg(F.max("text").alias("text")),
            index_path,
        )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def hnsw_ingest_stream(
    spark: SparkSession,
    in_path: str,
    index_path: str,
    checkpoint: str,
    max_files_per_trigger: int = 10,
):
    """Streaming ingest into a PERSISTED
    :func:`operators.graph_ann.hnsw_build` layout — the streaming twin
    of the hierarchy's batch append, completing the graph tier's
    living-corpus story (the reference's own online path IS HNSW
    insert, main.py:134): each micro-batch of new embeddings runs
    :func:`operators.graph_ann.hnsw_append` — every node draws its
    hash level, descends, finds neighbors BY SEARCHING each layer, and
    appends out+back edges into the touched (layer, bucket)
    domains; a node that out-levels the current entry promotes it (a
    meta commit) between batches. Searches launched after any commit
    reach the new nodes through the appended edges at unchanged scan
    cost. Per-batch work is O(batch) index searches — the insert cost
    profile HNSW itself has — so keep micro-batches small relative to
    serving load; edge-file accretion compacts via the normal
    maintenance pass like every other append layout.

    Returns the configured DataStreamWriter — call ``.start()``.
    """
    from cnc_visionsearch_spark.operators.graph_ann import hnsw_append
    from cnc_visionsearch_spark.operators.knn import with_normalized
    from cnc_visionsearch_spark.schemas import EMBEDDINGS

    stream = (
        spark.readStream.schema(EMBEDDINGS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_path)
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        normed = with_normalized(batch_df).select("vec_id", "nvec")
        hnsw_append(s, index_path, normed)

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def percolator_stream(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint: str,
    queries: list[tuple[str, tuple[str, ...]]],
    max_files_per_trigger: int = 10,
):
    """Streaming percolation — standing alert queries matched against
    a stream of incoming documents, the online direction percolation
    exists for (a saved search fires the moment a matching doc
    arrives, not on the next index rebuild). Each micro-batch runs
    :func:`~cnc_visionsearch_spark.operators.text_index.percolate_docs`
    — stateless, no keyed state, no watermark, no driver collect: the
    stored queries broadcast, the batch's tokens join them, alerts
    append to ``out_path`` as (query_name, doc_id) parquet. Batch and
    stream share the operator, so the union of streamed alerts equals
    one-shot batch percolation over the same corpus (test-pinned).
    At 100 TB-scale query inventories the broadcast becomes a
    term-keyed shuffle join against the persisted query index; the
    per-batch plan is otherwise unchanged. Returns the configured
    DataStreamWriter — call ``.start()``."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from cnc_visionsearch_spark.operators.text_index import percolate_docs

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_path)
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        percolate_docs(batch_df, queries).write.mode("overwrite").parquet(
            f"{out_path}/batch={batch_id}"
        )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def minhash_dedup_stream(
    spark: SparkSession,
    in_path: str,
    store_banded_path: str,
    store_docs_path: str,
    out_path: str,
    checkpoint: str,
    jaccard_threshold: float = 0.3,
    absorb: bool = True,
    max_files_per_trigger: int = 10,
):
    """Streaming incremental near-dedup — the continuous form of
    ``dedup_incremental_minhash`` (queries_dedup_ext): each micro-batch
    of documents is MinHash-banded (O(batch) shingle hashing), probed
    against the PERSISTED signature/bucket store
    (operators/dedup.minhash_store_probe — stream-static, the resident
    corpus is never re-shingled), near-dups WITHIN the batch fall to
    the min-id keeper, and per-doc verdicts
    (doc_id, verdict in {neardup_of_store, neardup_in_batch, new})
    append to ``out_path`` as parquet.

    With ``absorb=True`` (the production lifecycle) every batch's
    banded rows and doc text are APPENDED to the store after tagging —
    the inverted_append pattern — so batch k+1 sees batch k as
    resident: stream verdicts equal a batch probe whose store already
    contains the earlier batches (test-pinned).

    Replay safety (foreachBatch is at-least-once): absorbed band rows
    carry a ``_src_batch`` provenance key (run id derived from the
    checkpoint identity + batch id), and the probe for a batch
    EXCLUDES store rows carrying its own key — so a crash between the
    absorb and the checkpoint commit replays the batch WITHOUT
    self-matching its already-absorbed rows, and the
    ``mode("overwrite")`` verdict write lands the same verdicts again.
    Double-absorbed band rows are harmless for later batches
    (candidates are DISTINCT pairs) and duplicate doc-text rows are
    neutralized by the probe's deterministic per-id max(text)
    aggregation (operators/dedup.minhash_store_probe — identical-text
    replays verify unchanged; a divergent-text redelivery verifies
    against one deterministic row, never file-scan order). The base store
    may omit ``_src_batch`` (read with mergeSchema; missing values are
    never excluded), and the run-scoped key means a NEW stream over
    the same store never mistakes an older run's resident rows for
    its own. Returns the configured DataStreamWriter — call
    ``.start()``."""
    from cnc_visionsearch_spark.operators.dedup import (
        minhash_banded,
        minhash_lsh_pairs,
        minhash_store_probe,
        read_minhash_meta,
        tag_minhash_verdicts,
        write_minhash_meta,
    )
    from cnc_visionsearch_spark.schemas import DOCUMENTS

    # the stream probes and absorbs with the fixed h16/b4/s3 geometry
    # below, so a store IT CREATES is stamped with that _META.json
    # sidecar up front; every probe then validates against the sidecar
    # and raises on mismatch instead of silently joining zero
    # candidates (r7 verdict #3). Stamping is restricted to stores
    # with no resident data: blind-stamping a PRE-EXISTING unstamped
    # store would assert a geometry nobody verified — laundering the
    # exact silent zero-candidate mismatch the sidecar exists to
    # prevent — so that case raises (stamp it with write_minhash_meta
    # after checking how it was built).
    if read_minhash_meta(store_banded_path) is None:
        has_data = os.path.isdir(store_banded_path) and any(
            not f.startswith((".", "_"))
            for f in os.listdir(store_banded_path)
        )
        if has_data:
            raise ValueError(
                f"MinHash store {store_banded_path} holds data but no "
                "_META.json geometry sidecar — refusing to assume "
                "h16/b4/s3 for a store this stream did not build; "
                "stamp it with write_minhash_meta(num_hashes, bands, "
                "shingle_n) matching how it was banded"
            )
        write_minhash_meta(
            store_banded_path, num_hashes=16, bands=4, shingle_n=3
        )

    # run id via _stream_run_id; the path-hash fallback is acceptable
    # HERE because a post-wipe collision only over-excludes a few
    # resident rows from one replayed probe (bounded nuisance), never
    # loses writes
    _rid: dict = {}

    def _run_id() -> str:
        if "v" not in _rid:
            _rid["v"] = _stream_run_id(checkpoint, path_hash_fallback=True)
        return _rid["v"]

    # explicit store schema (NO per-batch mergeSchema: footer-merge
    # cost would grow with every absorbed file); a base store written
    # without _src_batch reads the column as NULL — never excluded
    store_schema = (
        "doc_id bigint, band_id int, band_sig string, _src_batch string"
    )

    stream = (
        spark.readStream.schema(DOCUMENTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_path)
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        # per-id dedup FIRST: the within-batch LSH tier and the verdict
        # join must see one row per doc under at-least-once delivery
        # (the probe dedups internally, but shingle counts in the
        # in-batch Jaccard would inflate and the output would carry
        # duplicate verdict rows)
        batch = batch_df.select("doc_id", "text").dropDuplicates(["doc_id"])
        prov = f"{_run_id()}:{batch_id}"
        store_banded = s.read.schema(store_schema).parquet(
            store_banded_path
        ).filter(F.coalesce(F.col("_src_batch"), F.lit("")) != F.lit(prov))
        store_docs = s.read.parquet(store_docs_path)
        pairs = minhash_store_probe(
            batch,
            store_banded,
            store_docs,
            jaccard_threshold=jaccard_threshold,
            store_path=store_banded_path,
        )
        inb = minhash_lsh_pairs(
            batch, jaccard_threshold=jaccard_threshold
        )
        tagged = tag_minhash_verdicts(batch, pairs, inb)
        tagged.write.mode("overwrite").parquet(f"{out_path}/batch={batch_id}")
        if absorb:
            minhash_banded(
                batch, num_hashes=16, bands=4, shingle_n=3
            ).withColumn("_src_batch", F.lit(prov)).write.mode(
                "append"
            ).parquet(store_banded_path)
            batch.write.mode("append").parquet(store_docs_path)

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )



def tlog_upsert_stream(
    spark: SparkSession,
    in_path: str,
    tlog_path: str,
    checkpoint: str,
    max_files_per_trigger: int = 10,
):
    """Streaming upserts into a TRANSACTIONAL id_mapping table
    (sources/tlog.py) — the exactly-once form of ``upsert_stream``:
    each micro-batch of (str_id, text_content) rows commits ONE
    :func:`operators.ingest.tlog_merge_upsert` MERGE whose ``txn``
    key is (this stream's run id, batch id), so an at-least-once
    foreachBatch replay finds its own txn already in the log and
    commits NOTHING — idempotence lives in the TABLE's commit
    protocol (Delta's SetTransaction doctrine), not in output-path
    overwrite conventions. Concurrent writers (another stream, a
    batch backfill) are arbitrated by the same log: bucket-disjoint
    update merges interleave freely, conflicting merges lose the
    commit race and recompute against the fresh snapshot
    (run_transaction). Returns the configured DataStreamWriter —
    call ``.start()``."""
    from pyspark.sql.types import StringType, StructField, StructType

    from cnc_visionsearch_spark.operators.ingest import tlog_merge_upsert
    from cnc_visionsearch_spark.sources.tlog import TLog, run_transaction

    schema = StructType(
        [
            StructField("str_id", StringType()),
            StructField("text_content", StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_path)
    )
    _rid: dict = {}

    def _run_id() -> str:
        # the streaming query's persisted UUID — NO path-hash fallback
        # here: a post-wipe collision would reuse the old run's txn
        # keys, making the new run's early batches commit NOTHING
        # (silent write loss); _stream_run_id raises instead
        if "v" not in _rid:
            _rid["v"] = _stream_run_id(checkpoint, path_hash_fallback=False)
        return _rid["v"]

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        t = TLog(tlog_path)
        # max(text_content) per id: deterministic under at-least-once
        # redelivery with divergent text (the verdict-kernel rule)
        batch = batch_df.groupBy("str_id").agg(
            F.max("text_content").alias("text_content")
        )
        run_transaction(
            lambda: tlog_merge_upsert(
                t, batch, txn=(f"stream-{_run_id()}", int(batch_id))
            )
        )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
