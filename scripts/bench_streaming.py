"""Streaming serving latency evidence (VERDICT r4 #6): per-micro-batch
latency of the two online serving jobs — knn_serving_stream (vector
top-k from the persisted IVF layout) and bm25_serving_stream (lexical
top-k from the persisted inverted layout) — measured from Spark's own
StreamingQueryProgress (durationMs.triggerExecution), at
$SPARK_GRAFT_SF_DIR (default sf0.1).

Emits STREAM_BENCH.json at the repo root:

    {"sf_dir": ..., "knn_serving": {"n_batches": N, "queries_per_batch":
     Q, "median_ms": m, "p95_ms": p}, "bm25_serving": {...}}

Each stream is driven with maxFilesPerTrigger=1 over a file source of
N_BATCHES parquet files (Q queries per file), trigger availableNow —
so every data batch is a real serve: one partition-pruned index read
answering the whole batch. This is micro-batch serving (seconds-scale
latency, arbitrarily high throughput), the honest Spark shape
BASELINE.md's sub-second point-lookup row calls out — SCALE.md's
serving row cites these numbers.

Usage: python scripts/bench_streaming.py
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cnc_visionsearch_spark.operators.knn import with_normalized  # noqa: E402
from cnc_visionsearch_spark.session import get_session  # noqa: E402
from cnc_visionsearch_spark.sources.catalog import load_table  # noqa: E402

N_BATCHES = 12
KNN_QPB = 10  # query vectors per micro-batch
BM25_QPB = 5  # term queries per micro-batch
PERC_DPB = 50  # incoming documents per percolation micro-batch


def _batch_stats(query, queries_per_batch: int) -> dict:
    durs = [
        p["durationMs"]["triggerExecution"]
        for p in query.recentProgress
        if p["numInputRows"] > 0
    ]
    durs.sort()
    return {
        "n_batches": len(durs),
        "queries_per_batch": queries_per_batch,
        "median_ms": statistics.median(durs) if durs else None,
        "p95_ms": durs[max(0, int(len(durs) * 0.95) - 1)] if durs else None,
    }


N_PASSES = 2  # per-stream best-median across passes: single-shot
# medians on a shared VM see multi-second CPU-steal bursts (identical
# runs measured 1.3s vs 5.9s medians back to back) — the bench.py
# min-of-passes doctrine applied to streaming


def measure(spark, sf_dir, ivf_path, inv_path) -> dict:
    from cnc_visionsearch_spark.queries_analytics import _PERC_QUERIES
    from cnc_visionsearch_spark.streaming.pipelines import (
        bm25_serving_stream,
        knn_serving_stream,
        percolator_stream,
    )

    work = tempfile.mkdtemp(prefix="stream_bench_")
    out: dict = {}
    try:
        # ---- kNN serving: N_BATCHES files of KNN_QPB query vectors
        emb = load_table(spark, sf_dir, "embeddings")
        qpool = emb.filter(F.col("vec_id") < N_BATCHES * KNN_QPB)
        knn_in = f"{work}/knn_in"
        for i in range(N_BATCHES):
            qpool.filter(F.col("vec_id") % N_BATCHES == i).coalesce(
                1
            ).write.mode("append").parquet(knn_in)
        q = knn_serving_stream(
            spark,
            knn_in,
            ivf_path,
            f"{work}/knn_out",
            f"{work}/knn_ckpt",
            k=5,
            nprobe=4,
            max_files_per_trigger=1,
        ).start()
        q.awaitTermination(600)
        out["knn_serving"] = _batch_stats(q, KNN_QPB)

        # ---- BM25 serving: N_BATCHES files of BM25_QPB term queries
        terms_pool = [
            ["hash", "join"],
            ["table", "index"],
            ["query", "scan"],
            ["data", "filter"],
            ["sort", "merge"],
        ]
        bm_in = f"{work}/bm25_in"
        for i in range(N_BATCHES):
            rows = [
                (i * BM25_QPB + j, terms_pool[j % len(terms_pool)])
                for j in range(BM25_QPB)
            ]
            spark.createDataFrame(
                rows, "qid bigint, terms array<string>"
            ).coalesce(1).write.mode("append").parquet(bm_in)
        q2 = bm25_serving_stream(
            spark,
            bm_in,
            inv_path,
            f"{work}/bm25_out",
            f"{work}/bm25_ckpt",
            k=5,
            n_buckets=16,
            max_files_per_trigger=1,
        ).start()
        q2.awaitTermination(600)
        out["bm25_serving"] = _batch_stats(q2, BM25_QPB)

        # ---- maxsim serving (r8): same query stream shape as BM25,
        # answered with exact late-interaction maxsim over candidates
        # from the persisted inverted layout (maxsim_multi_probe — the
        # operator the batch query text_maxsim_batch_topk shares)
        from cnc_visionsearch_spark.streaming.pipelines import (
            maxsim_serving_stream,
        )

        mx_in = f"{work}/maxsim_in"
        for i in range(N_BATCHES):
            rows = [
                (i * BM25_QPB + j, terms_pool[j % len(terms_pool)])
                for j in range(BM25_QPB)
            ]
            spark.createDataFrame(
                rows, "qid bigint, terms array<string>"
            ).coalesce(1).write.mode("append").parquet(mx_in)
        q2b = maxsim_serving_stream(
            spark,
            mx_in,
            inv_path,
            sf_dir,
            f"{work}/maxsim_out",
            f"{work}/maxsim_ckpt",
            k=5,
            n_buckets=16,
            max_files_per_trigger=1,
        ).start()
        q2b.awaitTermination(600)
        out["maxsim_serving"] = _batch_stats(q2b, BM25_QPB)

        # ---- percolator: N_BATCHES files of PERC_DPB incoming docs
        # matched against the registered stored-query set (here
        # "queries_per_batch" records DOCS per micro-batch — the
        # percolation unit of work is the incoming document)
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        perc_in = f"{work}/perc_in"
        for i in range(N_BATCHES):
            docs.filter(F.col("doc_id") % N_BATCHES == i).limit(
                PERC_DPB
            ).coalesce(1).write.mode("append").parquet(perc_in)
        q3 = percolator_stream(
            spark,
            perc_in,
            f"{work}/perc_out",
            f"{work}/perc_ckpt",
            queries=list(_PERC_QUERIES),
            max_files_per_trigger=1,
        ).start()
        q3.awaitTermination(600)
        out["percolator"] = _batch_stats(q3, PERC_DPB)

        # ---- HLL cardinality sketch: N_BATCHES event files through the
        # register-max keyed state (r6 — the mergeable-sketch serving
        # path; rows per batch = events, the sketch's unit of work)
        from cnc_visionsearch_spark.streaming.pipelines import (
            read_event_stream,
        )
        from cnc_visionsearch_spark.streaming.stateful import (
            hll_sketch_stream,
        )

        ev = load_table(spark, sf_dir, "events")
        hll_in = f"{work}/hll_in"
        hll_epb = 2000
        for i in range(N_BATCHES):
            ev.filter(F.col("event_id") % N_BATCHES == i).limit(
                hll_epb
            ).coalesce(1).write.mode("append").parquet(hll_in)
        q4 = (
            hll_sketch_stream(
                read_event_stream(spark, hll_in, max_files_per_trigger=1)
            )
            .writeStream.format("noop")
            .option("checkpointLocation", f"{work}/hll_ckpt")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q4.awaitTermination(600)
        out["hll_sketch"] = _batch_stats(q4, hll_epb)

        # ---- incremental MinHash dedup (r7): N_BATCHES document drops
        # tagged against the persisted banded store, each batch ABSORBED
        # after tagging (queries_per_batch records DOCS per micro-batch;
        # the unit of work is tag + band + append)
        from cnc_visionsearch_spark.operators.dedup import (
            minhash_banded,
            write_minhash_meta,
        )
        from cnc_visionsearch_spark.streaming.pipelines import (
            minhash_dedup_stream,
        )

        dd = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        base = dd.filter(F.col("doc_id") % (N_BATCHES + 1) == N_BATCHES)
        store_b = f"{work}/mh_store_banded"
        store_d = f"{work}/mh_store_docs"
        minhash_banded(base, num_hashes=16, bands=4, shingle_n=3).write.parquet(
            store_b
        )
        # a pre-existing store must arrive stamped (the stream refuses
        # to assume geometry for resident data it did not band)
        write_minhash_meta(store_b, num_hashes=16, bands=4, shingle_n=3)
        base.write.parquet(store_d)
        mh_in = f"{work}/mh_in"
        mh_dpb = 50
        for i in range(N_BATCHES):
            dd.filter(F.col("doc_id") % (N_BATCHES + 1) == i).limit(
                mh_dpb
            ).coalesce(1).write.mode("append").parquet(mh_in)
        q5 = minhash_dedup_stream(
            spark,
            mh_in,
            store_b,
            store_d,
            f"{work}/mh_out",
            f"{work}/mh_ckpt",
            max_files_per_trigger=1,
        ).start()
        q5.awaitTermination(600)
        out["minhash_dedup"] = _batch_stats(q5, mh_dpb)

        # ---- transactional upsert ingest: N_BATCHES files of upsert
        # rows MERGEd into a tlog id_mapping table (exactly-once via
        # table txns; the unit of work is touched-bucket read + merge
        # + bucketed rewrite + commit)
        from cnc_visionsearch_spark.operators.ingest import (
            tlog_init_id_mapping,
        )
        from cnc_visionsearch_spark.sources.catalog import derive_id_mapping
        from cnc_visionsearch_spark.sources.tlog import TLog
        from cnc_visionsearch_spark.streaming.pipelines import (
            tlog_upsert_stream,
        )

        mapping = derive_id_mapping(
            load_table(spark, sf_dir, "embeddings"),
            load_table(spark, sf_dir, "documents"),
        )
        tl_path = f"{work}/tlog_idmap"
        tlog_init_id_mapping(TLog(tl_path), mapping, n_buckets=16)
        tl_in = f"{work}/tl_in"
        tl_rpb = 50  # upsert rows per micro-batch (half update/half new)
        for i in range(N_BATCHES):
            (
                dd.filter(F.col("doc_id") % N_BATCHES == i)
                .limit(tl_rpb)
                .select(
                    F.when(
                        F.col("doc_id") % 2 == 0,
                        F.concat(F.lit("img_"), F.col("doc_id").cast("string")),
                    )
                    .otherwise(
                        F.concat(
                            F.lit("new_"),
                            F.lit(i),
                            F.lit("_"),
                            F.col("doc_id").cast("string"),
                        )
                    )
                    .alias("str_id"),
                    F.substring("text", 1, 40).alias("text_content"),
                )
                .coalesce(1)
                .write.mode("append")
                .parquet(tl_in)
            )
        q6 = tlog_upsert_stream(
            spark,
            tl_in,
            tl_path,
            f"{work}/tl_ckpt",
            max_files_per_trigger=1,
        ).start()
        q6.awaitTermination(600)
        out["tlog_upsert"] = _batch_stats(q6, tl_rpb)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # machine-capacity stamp (the bench.py r10 doctrine): a shared VM
    # can deliver a fraction of its advertised cores — record it so a
    # cross-round serving comparison reads the capacity first
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from bench import _parallel_calibration

    par_start = _parallel_calibration()
    spark = get_session(app_name="stream-bench")
    from cnc_visionsearch_spark.queries_analytics import ensure_inverted_built
    from cnc_visionsearch_spark.queries_ann import ensure_ivf_built

    ivf_path = ensure_ivf_built(spark, sf_dir, n_cells=8)
    inv_path = ensure_inverted_built(spark, sf_dir)
    runs = [measure(spark, sf_dir, ivf_path, inv_path) for _ in range(N_PASSES)]
    out: dict = {
        "sf_dir": sf_dir,
        "machine": {
            "parallel_start": par_start,
            "parallel_end": _parallel_calibration(),
            "ncpu": os.cpu_count(),
        },
        "passes": runs,
        "aggregate": (
            f"per-stream BEST-MEDIAN of {N_PASSES} passes (shared-VM "
            "CPU-steal bursts inflate single runs; raw passes recorded)"
        ),
    }
    for k in runs[0]:
        out[k] = min(
            (r[k] for r in runs),
            key=lambda d: d["median_ms"] if d["median_ms"] is not None else 1e18,
        )

    dest = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "STREAM_BENCH.json",
    )
    with open(dest, "w") as fh:
        json.dump(out, fh, indent=2)
    print(json.dumps({k: v for k, v in out.items() if k != "passes"}))
    spark.stop()


if __name__ == "__main__":
    main()
