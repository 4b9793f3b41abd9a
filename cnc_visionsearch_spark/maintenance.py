"""Maintenance runbook: the periodic job a deployment schedules beside
the ingest/delete streams, composing the repo's maintenance primitives
in their correct order. None of this runs on the query path — probes
and sinks stay O(batch)/O(probe); this job bounds the costs that
accrete between runs:

1. **Vacuum** (:func:`operators.ann.ivf_vacuum`,
   :func:`operators.text_index.inverted_vacuum`, both calls to the one
   tombstone vacuum :func:`sources.tlog.vacuum_tombstones`): apply
   tombstones physically — one rewrite commit over the touched
   cells/buckets, restoring tombstone-free probe plans; each reports
   whether it committed.
2. **Compact** (:func:`sources.tlog.compact_domains` over the IVF cells
   and both PQ code tables; :func:`operators.text_index.inverted_compact`
   and :func:`operators.graph_ann.nsw_compact` when their paths are
   passed; :func:`streaming.pipelines.compact_id_mapping` for the
   upsert state): bound the one-file-per-domain-per-batch accretion of
   the append/upsert paths, each as one rewrite commit.
3. **Audit** (cell-population skew, the ann_ivf_cell_skew measure):
   report whether append drift against the frozen codebook warrants an
   ``ivf_build`` re-train — the one maintenance action this job does
   NOT take automatically (re-training changes cell boundaries and
   deserves an operator decision plus a fresh layout version).

Ordering matters: vacuum BEFORE compact (compaction rewrites would
otherwise carry soon-to-be-deleted rows), audit last (it reads the
settled layout).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

__all__ = ["run_index_maintenance", "forget_vectors"]


def _n_files(t, tag_pred) -> int:
    """Live parquet files of the log's domains satisfying ``tag_pred``."""
    from cnc_visionsearch_spark.memo import file_fingerprint

    snap = t.snapshot()
    dirs = [
        os.path.join(t.root, p)
        for p, b in snap.files
        if b is not None and tag_pred(b)
    ]
    fp = file_fingerprint(dirs) or ()
    return sum(1 for name, _, _ in fp if name.endswith(".parquet"))


def _compacted(spark, t, tag_pred, bucket_expr, schema=None) -> dict:
    """Compact the domains satisfying ``tag_pred``; report live files."""
    from cnc_visionsearch_spark.sources.tlog import compact_domains

    before = _n_files(t, tag_pred)
    compact_domains(spark, t, [(tag_pred, bucket_expr)], schema)
    return {"before": before, "after": _n_files(t, tag_pred)}


def run_index_maintenance(
    spark: SparkSession,
    index_path: str | None = None,
    state_dir: str | None = None,
    inverted_path: str | None = None,
    nsw_path: str | None = None,
    skew_retrain_threshold: float = 3.0,
) -> dict:
    """Run the maintenance pass; return a report dict (live file counts
    before/after, skew audit, retrain recommendation). Idempotent — a
    second run on a settled layout commits nothing."""
    from cnc_visionsearch_spark.operators import ann
    from cnc_visionsearch_spark.sources.tlog import open_layout
    from cnc_visionsearch_spark.streaming.pipelines import compact_id_mapping

    report: dict = {}
    if index_path is not None:
        t = open_layout(index_path)
        report["vacuum_applied"] = ann.ivf_vacuum(spark, index_path)
        gap = ann.TLOG_TAG_STRIDE_GAP
        for sub, base in (
            ("cells", 0),
            ("pq_codes", ann.TLOG_PQ_CODES_STRIDE),
            ("pq_trained_codes", ann.TLOG_PQ_TRAINED_CODES_STRIDE),
        ):
            if not ann._family(t.snapshot(), base):
                continue
            report[f"{sub}_files"] = _compacted(
                spark,
                t,
                lambda b, base=base: base <= b < base + gap,
                (F.lit(base) + F.col("cell_id")).cast("int"),
            )
        per_cell = (
            ann.read_cells(spark, index_path)
            .groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        row = per_cell.agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n").alias("n_vectors"),
            F.max("n").alias("max_cell"),
        ).first()
        skew = float(row.max_cell) * float(row.n_cells) / float(row.n_vectors)
        report["skew_ratio"] = round(skew, 4)
        report["recommend_retrain"] = skew >= skew_retrain_threshold
    # the inverted layout's delete lifecycle: apply tombstones
    # physically BEFORE compaction (vacuum rewrites touched buckets;
    # compacting first would churn files the vacuum rewrites again);
    # physical removal of unreferenced files rides the table's
    # retention-gated tlog vacuum
    if inverted_path is not None:
        from cnc_visionsearch_spark.operators.text_index import (
            inverted_compact,
            inverted_vacuum,
        )

        t = open_layout(inverted_path)
        report["inverted_vacuum_applied"] = inverted_vacuum(
            spark, inverted_path
        )
        n_buckets = int(t.snapshot().meta["n_buckets"])
        before = _n_files(t, lambda b: b < n_buckets)
        inverted_compact(spark, inverted_path)
        t.vacuum()
        report["postings_files"] = {
            "before": before,
            "after": _n_files(t, lambda b: b < n_buckets),
        }
    if nsw_path is not None:
        from cnc_visionsearch_spark.operators.graph_ann import (
            _GRAPH_SCHEMA,
            _meta,
        )

        n_buckets = int(_meta(nsw_path)["n_buckets"])
        report["nsw_graph_files"] = _compacted(
            spark,
            open_layout(nsw_path),
            lambda b: b < n_buckets,
            F.col("src_bucket"),
            _GRAPH_SCHEMA,
        )
    if state_dir is not None:
        root = os.path.join(state_dir, "id_mapping")

        def n_files(root: str) -> int:
            return sum(
                1
                for _dp, _d, fs in os.walk(root)
                for f in fs
                if f.endswith(".parquet")
            )

        before = n_files(root) if os.path.exists(root) else 0
        compact_id_mapping(spark, state_dir)
        report["id_mapping_files"] = {
            "before": before,
            "after": n_files(root) if os.path.exists(root) else 0,
        }
    return report


def forget_vectors(
    spark: SparkSession,
    ids: list[int],
    ivf_paths: tuple[str, ...] = (),
    shard_paths: tuple[str, ...] = (),
    inverted_paths: tuple[str, ...] = (),
    doc_ids: list[int] | None = None,
) -> dict:
    """Right-to-be-forgotten runbook: ONE call tombstones an id set
    across EVERY derived layout of a corpus — IVF cells (which also
    shields the layout's PQ and RQ code tables: their live reads hide
    the same tombstone set), sharded layouts, and inverted text indexes (by
    ``doc_ids``, defaulting to ``ids`` — the canonical layout keys
    vectors and documents by the same dense id).

    The point is atomicity of INTENT, not of execution: each per-layout
    delete is an O(batch) tombstone append (resident files untouched,
    idempotent — re-running after a partial failure converges), so a
    compliance job can drive this from a deletion queue and re-run
    until the audit (queries: ``forget_audit``) reports the ids dark
    everywhere. Physical removal rides the normal maintenance pass
    (:func:`run_index_maintenance` vacuums every layout it is given).

    Graph tiers (NSW/HNSW) are deliberately NOT in the runbook: graph
    deletion needs edge repair (the reason the reference's HNSW cannot
    delete at all, main.py:119-126) — those layouts drop forgotten
    vectors at their next periodic rebuild, and because their probes
    re-score hits against layouts that DO honor tombstones when
    composed (cascade/hybrid paths), the serving surface goes dark
    immediately even while graph edges linger.

    Returns ``{path: n_ids}`` per layout touched.
    """
    from cnc_visionsearch_spark.operators.ann import ivf_delete, shard_delete
    from cnc_visionsearch_spark.operators.text_index import inverted_delete

    report: dict = {}
    for p in ivf_paths:
        ivf_delete(spark, p, ids)
        report[p] = len(ids)
    for p in shard_paths:
        shard_delete(spark, p, ids)
        report[p] = len(ids)
    for p in inverted_paths:
        inverted_delete(spark, p, list(doc_ids if doc_ids is not None else ids))
        report[p] = len(ids)
    return report
