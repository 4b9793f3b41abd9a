"""Residual quantizer (RQ) tier: two-level trained vector codec.

The step FAISS takes from IVF-Flat to IVF+residual coding (and the
basis of additive/residual quantizers in ScaNN/LSQ): a COARSE k-means
codebook partitions the space (level 1 — it doubles as the IVF cell
structure, so the probe partition-prunes on it), then a SECOND k-means
is trained on the residuals ``v - c1(v)`` (level 2), and each vector is
stored as the code pair ``(c1, c2)`` with reconstruction
``c1.cv + c2.cv``. Versus one-level PQ at the same byte budget, the
residual level concentrates codewords where the coarse quantizer is
coarse — ``ann_rq_distortion`` emits the exact fixed-point evidence
that level 2 strictly reduces reconstruction error.

Training arithmetic is :func:`~cnc_visionsearch_spark.operators.ann
.pq_train_codebook` with ``m=1`` (whole-vector k-means) — the SAME
bit-stable Lloyd contract every trained tier here follows (fixed-point
integer centroid sums, (distance, code) lexicographic tie-breaks), so
a DuckDB oracle replays both levels exactly (queries_ann_trained.py
``_rq_km_chain``).

Scale contract: training is bounded by the same id-stride sample cap
as PQ (never the full corpus); codes are m*2 small ints per vector
partitioned by ``c1`` so probes read only the probed cells' files; the
two codebooks (k1 + k2 rows) broadcast. Reference parity: this tier
serves the same top-k contract as /root/reference/main.py:138-165,
trading the in-RAM HNSW graph for a disk-resident coded layout.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cnc_visionsearch_spark.functions.vector import fixed_point_q, l2_sq, vec_lit
from cnc_visionsearch_spark.operators.ann import (
    TLOG_RQ_CODES_STRIDE,
    TLOG_RQ_MODEL_L1_TAG,
    TLOG_RQ_MODEL_L2_TAG,
    _family,
    _live,
)
from cnc_visionsearch_spark.session import local_frame
from cnc_visionsearch_spark.sources.tlog import TLog, open_layout, read_tags, retag


def _cb_df(spark, cb_rows, k: int):
    """Materialize pq_train_codebook's m=1 output [(0, code, cv), ...]
    as a (code, cv) DataFrame."""
    rows = [(int(c), [float(x) for x in v]) for (_sj, c, v) in cb_rows]
    if len(rows) > k:
        raise ValueError(f"codebook has {len(rows)} rows, expected <= {k}")
    return local_frame(spark, rows, "code int, cv array<double>")


def argmin_code(
    df: DataFrame, cb: DataFrame, vec_col: str, id_col: str = "vec_id"
) -> DataFrame:
    """(id, code) — nearest codeword per vector under the (distance,
    code) lexicographic tie-break every trained tier uses. The
    crossJoin side is the BROADCAST codebook — bounded by k by
    construction, never data."""
    return (
        df.crossJoin(F.broadcast(cb))
        .select(
            id_col,
            F.struct(
                l2_sq(vec_col, "cv").alias("d"), F.col("code").alias("c")
            ).alias("dc"),
        )
        .groupBy(id_col)
        .agg(F.min("dc").alias("mn"))
        .select(id_col, F.col("mn.c").alias("code"))
    )


def rq_train(
    emb: DataFrame,
    k1: int = 16,
    k2: int = 32,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "nvec",
    train_cap: int = 100_000,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the two-level residual quantizer; returns
    ``(cb1, cb2, codes)`` where cb1/cb2 are (code, cv) codebooks and
    codes is (id, c1, c2) over the full input.

    Level 1 is whole-vector k-means (pq_train_codebook m=1). Residuals
    ``v - cb1[c1]`` are exact per-element IEEE subtraction on both
    engines (zip_with / list_transform), so level 2's training set is
    bit-identical cross-engine and the whole codec replays in SQL.
    """
    from cnc_visionsearch_spark.operators.ann import pq_train_codebook

    spark = emb.sparkSession
    cb1 = _cb_df(
        spark,
        pq_train_codebook(
            emb, m=1, k_star=k1, iters=iters, id_col=id_col,
            vec_col=vec_col, train_cap=train_cap,
        ),
        k1,
    )
    a1 = argmin_code(emb, cb1, vec_col, id_col).withColumnRenamed(
        "code", "c1"
    )
    # the residual set feeds level 2's max-id and init collects, every
    # Lloyd round and the code write: checkpoint it (lazily, on its
    # first use) so the level-1 crossJoin + argmin + joins run once
    res = (
        emb.join(a1, id_col)
        .join(F.broadcast(cb1.withColumnRenamed("code", "c1")), "c1")
        .select(
            id_col,
            "c1",
            F.zip_with(vec_col, "cv", lambda a, b: a - b).alias("rvec"),
        )
        .localCheckpoint(eager=False)
    )
    cb2 = _cb_df(
        spark,
        pq_train_codebook(
            res, m=1, k_star=k2, iters=iters, id_col=id_col,
            vec_col="rvec", train_cap=train_cap,
        ),
        k2,
    )
    a2 = argmin_code(res, cb2, "rvec", id_col).withColumnRenamed(
        "code", "c2"
    )
    codes = res.select(id_col, "c1").join(a2, id_col).select(id_col, "c1", "c2")
    return cb1, cb2, codes


def read_rq_codebooks(spark, path: str) -> "tuple[DataFrame, DataFrame]":
    """(cb1, cb2): the snapshot's model-tagged files."""
    t = open_layout(path)
    snap = t.snapshot()
    return (
        read_tags(spark, t, snap, [TLOG_RQ_MODEL_L1_TAG]),
        read_tags(spark, t, snap, [TLOG_RQ_MODEL_L2_TAG]),
    )


def read_rq_codes(spark, path: str, c1s=None) -> DataFrame:
    """The live (id, c1, c2) code table: one snapshot's code files minus
    the ids tombstoned in that snapshot (the layout's shared tombstone
    set — ivf_delete hides a vector from this tier too). ``c1s`` prunes
    at the LOG level (only those coarse cells' files enter the scan)."""
    t = open_layout(path)
    snap = t.snapshot()
    if c1s is None:
        c1s = _family(snap, TLOG_RQ_CODES_STRIDE)
    id_col = snap.meta.get("id_col", "vec_id")
    return _live(
        spark,
        t,
        snap,
        [TLOG_RQ_CODES_STRIDE + int(c) for c in sorted(set(c1s))],
        schema=f"{id_col} bigint, c1 int, c2 int",
    )


def rq_build(
    spark,
    path: str,
    emb: DataFrame,
    k1: int = 16,
    k2: int = 32,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "nvec",
) -> None:
    """Persist the RQ layout into the log at ``path`` (typically an
    :func:`~cnc_visionsearch_spark.operators.ann.ivf_build` layout's;
    a fresh path starts a log of its own): the model (k1+k2 rows) under
    its reserved tags and the codes under per-c1 (coarse cell) stride
    domains, so probes prune to the probed cells at the log level
    exactly like the IVF tiers.

    Models + codes land as ONE rewrite commit, any previous RQ
    artifacts removed in the same commit. The training input is the
    caller's ``emb`` (outside the log), so the commit declares only the
    RQ domains it replaces."""
    cb1, cb2, codes = rq_train(
        emb, k1=k1, k2=k2, iters=iters, id_col=id_col, vec_col=vec_col
    )
    t = TLog(path)  # a build may start a layout of its own
    snap = t.snapshot()
    adds = retag(t.write_data(cb1.coalesce(1)), TLOG_RQ_MODEL_L1_TAG)
    adds += retag(t.write_data(cb2.coalesce(1)), TLOG_RQ_MODEL_L2_TAG)
    adds += t.write_data(
        codes,
        bucket_expr=(F.lit(TLOG_RQ_CODES_STRIDE) + F.col("c1")).cast("int"),
    )
    old_tags = [
        b
        for _p, b in snap.files
        if b in (TLOG_RQ_MODEL_L1_TAG, TLOG_RQ_MODEL_L2_TAG)
    ] + [TLOG_RQ_CODES_STRIDE + c for c in _family(snap, TLOG_RQ_CODES_STRIDE)]
    t.commit(
        adds=adds,
        removes=snap.files_in(sorted(set(old_tags))),
        read_version=snap.version,
        op="rewrite",
        domains=sorted({a["bucket"] for a in adds} | set(old_tags)),
    )


def rq_probe_topk(
    spark,
    path: str,
    qvec: list[float],
    emb: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    depth: int = 80,
    id_col: str = "vec_id",
    vec_col: str = "nvec",
) -> DataFrame:
    """Serve top-k from the persisted RQ layout: rank coarse cells by
    query-to-centroid distance, read ONLY the top ``nprobe`` cells'
    code partitions (file pruning on c1), estimate each candidate's
    distance against the RECONSTRUCTION cb1[c1]+cb2[c2] (per-row
    codegen fold; production would precompute per-cell LUTs, same
    result), keep the best ``depth``, and fp64-rescore those from the
    canonical embeddings table. Probe cells are planner state: a
    <= nprobe driver-side collect, like every IVF probe here. Codes
    come from :func:`read_rq_codes`' live read, so deletes via
    ivf_delete disappear from this tier immediately too."""
    qcol = vec_lit(qvec)
    cb1, cb2 = read_rq_codebooks(spark, path)
    probe_cells = [
        int(r.code)
        for r in cb1.select("code", l2_sq("cv", qcol).alias("d"))
        .orderBy(F.col("d").asc(), F.col("code").asc())
        .limit(nprobe)
        .collect()  # bounded: <= nprobe rows by construction
    ]
    codes = read_rq_codes(spark, path, probe_cells).filter(
        F.col("c1").isin(probe_cells)
    )
    recon = F.zip_with("cv1", "cv2", lambda a, b: a + b)
    cand = (
        codes.join(
            F.broadcast(
                cb1.select(F.col("code").alias("c1"), F.col("cv").alias("cv1"))
            ),
            "c1",
        )
        .join(
            F.broadcast(
                cb2.select(F.col("code").alias("c2"), F.col("cv").alias("cv2"))
            ),
            "c2",
        )
        .select(id_col, l2_sq(qcol, recon).alias("est"))
        .orderBy(F.col("est").asc(), F.col(id_col).asc())
        .limit(depth)
        .select(id_col)
    )
    return (
        emb.join(F.broadcast(cand), id_col)
        .select(id_col, l2_sq(vec_col, qcol).alias("distance"))
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
    )


def rq_distortion(
    spark, path: str, emb: DataFrame, id_col: str = "vec_id",
    vec_col: str = "nvec",
) -> DataFrame:
    """Exact fixed-point reconstruction-error ledger per codec stage:
    'coarse' (v vs cb1[c1]) and 'residual' (v vs cb1[c1]+cb2[c2]).
    The residual row must come in strictly lower — the evidence the
    second level earns its bytes. One corpus scan, both codebooks
    broadcast; output is 2 rows."""
    cb1, cb2 = read_rq_codebooks(spark, path)
    codes = read_rq_codes(spark, path)
    joined = (
        emb.join(codes, id_col)
        .join(
            F.broadcast(
                cb1.select(F.col("code").alias("c1"), F.col("cv").alias("cv1"))
            ),
            "c1",
        )
        .join(
            F.broadcast(
                cb2.select(F.col("code").alias("c2"), F.col("cv").alias("cv2"))
            ),
            "c2",
        )
    )
    recon = F.zip_with("cv1", "cv2", lambda a, b: a + b)
    per_vec = joined.select(
        "c1",
        "c2",
        fixed_point_q(l2_sq(vec_col, "cv1")).alias("e1"),
        fixed_point_q(l2_sq(vec_col, recon)).alias("e2"),
    )
    coarse = per_vec.agg(
        F.countDistinct("c1").cast("bigint").alias("n_codes"),
        F.sum("e1").cast("bigint").alias("err_q"),
    ).select(F.lit("coarse").alias("stage"), "n_codes", "err_q")
    resid = per_vec.agg(
        F.countDistinct("c2").cast("bigint").alias("n_codes"),
        F.sum("e2").cast("bigint").alias("err_q"),
    ).select(F.lit("residual").alias("stage"), "n_codes", "err_q")
    return coarse.unionAll(resid).orderBy("stage")


def ensure_rq_built(
    spark,
    ivf_path: str,
    emb: DataFrame,
    k1: int = 16,
    k2: int = 32,
    iters: int = 3,
) -> str:
    """Idempotent RQ build co-located with the IVF artifacts: train +
    persist once per (corpus content, geometry) — the marker lives
    beside ensure_ivf_built's, so content-fingerprint invalidation of
    the corpus tag invalidates this layout too."""
    marker = os.path.join(ivf_path, f"_RQ_k{k1}_{k2}_t{iters}")
    if not os.path.exists(marker):
        rq_build(spark, ivf_path, emb, k1=k1, k2=k2, iters=iters)
        open(marker, "w").close()
    return ivf_path


def rq_append(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "nvec",
) -> None:
    """Append a batch into an existing RQ layout under the FROZEN
    codebooks — the same incremental contract as ivf_append /
    pq_trained_append: new vectors are coded with the persisted
    level-1 and level-2 models (never retrained), their (c1, c2) rows
    land as ONE blind append commit under their c1 stride domains,
    resident files stay byte-identical. Codebook drift accumulates in
    reconstruction error, repaired by re-running rq_build as periodic
    maintenance."""
    t = open_layout(path)
    cb1, cb2 = read_rq_codebooks(spark, path)
    a1 = argmin_code(batch, cb1, vec_col, id_col).withColumnRenamed(
        "code", "c1"
    )
    res = (
        batch.join(a1, id_col)
        .join(F.broadcast(cb1.withColumnRenamed("code", "c1")), "c1")
        .select(
            id_col,
            "c1",
            F.zip_with(vec_col, "cv", lambda a, b: a - b).alias("rvec"),
        )
    )
    a2 = argmin_code(res, cb2, "rvec", id_col).withColumnRenamed(
        "code", "c2"
    )
    out = res.select(id_col, "c1").join(a2, id_col).select(
        id_col, "c1", "c2"
    )
    t.commit(
        adds=t.write_data(
            out,
            bucket_expr=(F.lit(TLOG_RQ_CODES_STRIDE) + F.col("c1")).cast("int"),
        )
    )
