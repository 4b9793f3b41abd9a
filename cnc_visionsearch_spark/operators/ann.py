"""Approximate-nearest-neighbor tier (SURVEY §4, §7.5).

The reference's ANN structure is a single in-RAM FAISS HNSW index
(main.py:60-62, M=32, efSearch=300) — a design that cannot hold a
100 TB corpus in one process. The Spark-native replacements here all
share one shape: a cheap *coarse* structure prunes the corpus to a
small candidate set, then the exact codegen'd distance ranks the
candidates. Three tiers, increasing specialization:

1. **Random-hyperplane LSH** (:func:`hyperplane_signature`,
   :func:`lsh_topk`): sign-bit signature over P seeded hyperplanes;
   query scans only its own Hamming-0 bucket (optionally neighbors).
   Fully deterministic (seeded numpy hyperplanes embedded as literal
   arrays, sequential-fold dots), so results are oracle-checkable even
   though recall < 1.

2. **IVF** (:func:`ivf_assign`, :func:`ivf_topk`): an inverted-file
   index with a deterministic coarse quantizer (every (n/C)-th vector
   by id is a centroid — at real scale you'd train k-means once and
   broadcast it, the query path is identical). Vectors live in the cell
   of their nearest centroid; a query probes the `nprobe` nearest
   cells. The 100 TB layout: the embeddings table as a transaction log
   (sources/tlog.py) with one conflict domain per cell_id — probing =
   log-level file pruning, reading nprobe/C of the data.

3. **Sharded local index** (:func:`sharded_topk`): the
   BASELINE.json "batch FAISS index build" pattern — hash-shard the
   corpus, `applyInPandas` builds/searches one local index per shard
   (FAISS HNSW M=32/efSearch=300 when faiss is installed, exact numpy
   otherwise — this container has no faiss), then a global top-k merge
   of k*S candidate rows. Candidates are RE-SCORED with the exact JVM
   expression so final distances are bit-identical to the exact tier
   (the Python side only selects candidates; floats never cross back).

Recall gates (not hash-match) for the approximate tiers live in
tests/test_ann.py, mirroring SURVEY §5.3.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cnc_visionsearch_spark.functions.vector import dot, fixed_point_q, l2_sq, vec_lit
from cnc_visionsearch_spark.memo import LRU, file_fingerprint
from cnc_visionsearch_spark.session import local_frame
from cnc_visionsearch_spark.sources.tlog import (
    TLog,
    compact_domains,
    delete_ids,
    open_layout,
    read_live,
    read_tags,
    retag,
    vacuum_tombstones,
)

__all__ = [
    "hyperplanes",
    "hyperplane_signature",
    "lsh_topk",
    "ivf_centroids",
    "ivf_assign",
    "ivf_topk",
    "ivf_build",
    "ivf_append",
    "ivf_delete",
    "ivf_vacuum",
    "ivf_rebalance",
    "ivf_exact_pruned_search",
    "ivf_probe",
    "ivf_probe_cells",
    "read_shards",
    "shard_build",
    "shard_append",
    "shard_compact",
    "shard_delete",
    "shard_vacuum",
    "sharded_topk",
    "sharded_topk_persisted",
    "mllib_lsh_model",
    "mllib_lsh_topk",
    "mllib_similarity_join",
    "mllib_minhash_jaccard_join",
    "pq_subvectors",
    "pq_codebook",
    "pq_assign",
    "pq_build",
    "pq_append",
    "pq_train_codebook",
    "pq_trained_build",
    "pq_trained_append",
    "ivf_cell_radii",
    "ivf_range_search",
    "ivf_knn_join_probe",
]


# Accuracy-first probe default, chosen from measured recall (RECALL.json,
# cnc_visionsearch_spark/recall.py): on the isotropic fixture with the
# untrained stride quantizer, nprobe=7 of 8 cells reaches recall@10
# ~0.97 vs exact — the BASELINE.md ">= 0.95" quality gate — mirroring
# how the reference's HNSW efSearch=300 beam (main.py:30-31) is
# effectively exhaustive on its corpus. Latency-sensitive callers pass
# a lower nprobe explicitly (the registered nprobe=4 queries document
# that trade at recall ~0.74).
DEFAULT_NPROBE = 7


# --------------------------------------------------------------- LSH tier


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Seeded Gaussian hyperplanes (deterministic across runs/engines).

    Rounded to 6 decimals so the literal values embedded in Spark plans
    and SQL oracle text are exactly the same doubles.
    """
    rng = np.random.RandomState(seed)
    planes = rng.randn(n_planes, dim).round(6)
    return [[float(x) for x in row] for row in planes]


def hyperplane_signature(
    vec_col: Column | str, planes: list[list[float]]
) -> Column:
    """Sign-bit LSH signature as a BIGINT bucket id.

    bit_i = 1 iff dot(v, plane_i) >= 0; bucket = sum(bit_i << i).
    Pure codegen: P sequential-fold dot products per row, no UDF —
    at 100 TB this is one linear scan co-resident with ingestion.
    """
    bucket = F.lit(0).cast("bigint")
    for i, plane in enumerate(planes):
        pcol = vec_lit(plane)
        bit = F.when(dot(vec_col, pcol) >= 0.0, F.lit(1 << i).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        bucket = bucket + bit
    return bucket


def lsh_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "nvec",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k within the query's LSH bucket (Hamming-0 probe).

    Plan: signature projection -> bucket equality filter (a pushable
    predicate when the table is written partitioned/bucketed by
    `lsh_bucket`) -> exact distance on the surviving fraction (~1/2^P)
    -> TakeOrderedAndProject. Deterministic, so oracle-checkable; the
    recall/latency trade is governed by n_planes exactly like
    efSearch governs the reference's HNSW beam (main.py:31).
    """
    dim = len(query_vec)
    planes = hyperplanes(dim, n_planes, seed)
    qsig = 0
    for i, plane in enumerate(planes):
        acc = 0.0
        for x, p in zip(query_vec, plane):
            acc = acc + x * p
        if acc >= 0.0:
            qsig += 1 << i
    qcol = vec_lit(query_vec)
    return (
        emb.withColumn("lsh_bucket", hyperplane_signature(vec_col, planes))
        .filter(F.col("lsh_bucket") == qsig)
        .select(F.col(id_col), l2_sq(vec_col, qcol).alias("distance"))
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
    )


# --------------------------------------------------------------- IVF tier


def ivf_centroids(emb: DataFrame, n_cells: int, id_col: str = "vec_id",
                  vec_col: str = "nvec") -> DataFrame:
    """Deterministic coarse quantizer: every (max_id//n_cells)-th vector.

    Stand-in for a trained k-means codebook (which would be trained
    once offline and broadcast); cell ids are 0..n_cells-1. Querying
    is identical either way — only centroid quality differs.

    ASSUMES ids in ``id_col`` are dense-ish from 0 (the engine's
    canonical layout, schemas.EMBEDDINGS + the MAX+1 dense-id ingest
    invariant): sparse/offset ids yield fewer than n_cells centroids
    and shrink probe coverage. Raises on an empty table rather than
    crashing in int(None) arithmetic.
    """
    max_id = emb.agg(F.max(id_col)).first()[0]
    if max_id is None:
        raise ValueError(
            "ivf_centroids: embeddings table is empty — an IVF codebook "
            "needs at least one vector (empty-index guard, reference "
            "main.py:147-148)"
        )
    stride = max(int(max_id) // n_cells, 1)
    return (
        emb.filter((F.col(id_col) % stride == 0) & (F.col(id_col) / stride < n_cells))
        .select(
            (F.col(id_col) / stride).cast("int").alias("cell_id"),
            F.col(vec_col).alias("centroid"),
        )
    )


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "nvec",
) -> DataFrame:
    """Assign every vector to its nearest centroid's cell.

    Broadcast the (tiny) codebook, cross join, min_by — one scan, no
    corpus shuffle. At scale, write the result PARTITIONED BY cell_id:
    probe-time cell pruning then becomes parquet partition pruning.
    """
    c = F.broadcast(centroids)
    scored = emb.crossJoin(c).withColumn(
        "cdist", l2_sq(F.col(vec_col), F.col("centroid"))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.min_by(
                F.struct("cell_id", "cdist"), F.struct("cdist", "cell_id")
            ).alias("best")
        )
        .select(F.col(id_col), F.col("best.cell_id").alias("cell_id"))
        .join(emb, id_col)
    )


def ivf_topk(
    emb_with_cells: DataFrame,
    centroids: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = DEFAULT_NPROBE,
    vec_col: str = "nvec",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF probe: rank cells by centroid distance, scan the nprobe
    nearest cells, exact top-k within them.

    With the corpus partitioned by cell_id the filter is partition
    pruning: the 100 TB scan reads nprobe/n_cells of the files.
    """
    qcol = vec_lit(query_vec)
    probe_cells = [
        r.cell_id
        for r in centroids.select(
            "cell_id", l2_sq(F.col("centroid"), qcol).alias("cdist")
        )
        .orderBy(F.col("cdist").asc(), F.col("cell_id").asc())
        .limit(nprobe)
        .collect()
    ]
    return (
        emb_with_cells.filter(F.col("cell_id").isin(probe_cells))
        .select(F.col(id_col), l2_sq(F.col(vec_col), qcol).alias("distance"))
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
    )


# ----------------------------------------------- build/probe persistence
#
# The reference builds its FAISS index ONCE at startup (main.py:60-66)
# and serves every query from it; round-1 code rebuilt the IVF/shard
# structures inside each query. These writers split build from probe:
# build materializes the derived layout as parquet artifacts, probe
# reads them — paying scan-of-nprobe-cells, never rebuild.


# Layout conflict-domain tags (the log's per-file bucket field): cells
# files carry their cell_id (0..TLOG_TAG_STRIDE_GAP-1, split children
# included); the auxiliary subtables get reserved tags far above any
# real cell count.
TLOG_CODEBOOK_TAG = 100_000
TLOG_RADII_TAG = 100_001
TLOG_IVF_TOMBS_TAG = 100_002
# Composed-codec code tables tag their conflict domains as STRIDE +
# partition-key, so a vacuum rewriting cell c's vectors and its PQ
# codes declares BOTH domains; strides are spaced 10_000 apart and
# builds validate n_cells below the gap (same aliasing guard as
# TLOG_HNSW_LAYER_STRIDE).
TLOG_PQ_CODES_STRIDE = 200_000  # + cell_id (stride-codebook codes)
TLOG_PQ_TRAINED_CODES_STRIDE = 210_000  # + cell_id (trained codes)
TLOG_RQ_CODES_STRIDE = 220_000  # + c1 (residual-quantizer codes)
TLOG_TAG_STRIDE_GAP = 10_000
TLOG_PQ_TRAINED_MODEL_TAG = 100_003  # m*k*-row trained codebook
TLOG_RQ_MODEL_L1_TAG = 100_004  # coarse codebook (k1 rows)
TLOG_RQ_MODEL_L2_TAG = 100_005  # residual codebook (k2 rows)


def _family(snap, base: int) -> list[int]:
    """Partition keys of the live files tagged ``base + key`` (key below
    the stride gap): base 0 lists the layout's cell ids — including a
    rebalance's split children — base TLOG_PQ_CODES_STRIDE the cells
    holding stride-PQ codes, and so on."""
    return sorted(
        {
            b - base
            for _p, b in snap.files
            if b is not None and base <= b < base + TLOG_TAG_STRIDE_GAP
        }
    )


def read_codebook(spark, path: str) -> DataFrame:
    """The layout's coarse quantizer (the snapshot's codebook-tagged
    files) as a DataFrame."""
    t = open_layout(path)
    return read_tags(spark, t, t.snapshot(), [TLOG_CODEBOOK_TAG])


def _live(spark, t: TLog, snap, tags, schema=None) -> DataFrame:
    """The vector layouts' live read: ``tags`` of ``snap`` minus the
    ids tombstoned in that same snapshot (IVF, its code tables and the
    shard layout share one tombstone tag)."""
    id_col = snap.meta.get("id_col", "vec_id")
    return read_live(spark, t, snap, tags, TLOG_IVF_TOMBS_TAG, id_col, schema)


def read_cells(spark, path: str, cell_ids=None) -> DataFrame:
    """The layout's live cell table: one snapshot's cell files minus
    the rows tombstoned in that snapshot. ``cell_ids`` prunes at the
    LOG level: only those cells' files enter the scan. Cells with no
    live file (emptied by a vacuum) read as an empty frame with the
    table's columns."""
    t = open_layout(path)
    snap = t.snapshot()
    every = _family(snap, 0)
    out = _live(
        spark, t, snap, sorted(cell_ids) if cell_ids is not None else every
    )
    if out is None and every:
        out = read_tags(spark, t, snap, every).limit(0)
    return out


def read_pq_codes(
    spark, path: str, cell_ids=None, trained: bool = False
) -> DataFrame:
    """The layout's live PQ code table (one snapshot's code files minus
    its tombstoned ids), pruned at the LOG level to ``cell_ids`` via the
    stride-tagged live files."""
    stride = (
        TLOG_PQ_TRAINED_CODES_STRIDE if trained else TLOG_PQ_CODES_STRIDE
    )
    t = open_layout(path)
    snap = t.snapshot()
    cells = (
        sorted(cell_ids) if cell_ids is not None else _family(snap, stride)
    )
    id_col = snap.meta.get("id_col", "vec_id")
    return _live(
        spark,
        t,
        snap,
        [stride + c for c in cells],
        schema=f"{id_col} bigint, sub_j int, code int, cell_id int",
    )


def read_pq_trained_codebook(spark, path: str) -> DataFrame:
    """The trained PQ model (m*k* rows)."""
    t = open_layout(path)
    return read_tags(spark, t, t.snapshot(), [TLOG_PQ_TRAINED_MODEL_TAG])


def _tag_rows(path: str, tag: int) -> list[dict]:
    """Driver-side rows of a metadata-sized subtable (codebook, radii)
    — footer-reads the snapshot's files tagged ``tag`` via the memoized
    :func:`_metadata_rows`; no Spark job."""
    t = open_layout(path)
    rows: list[dict] = []
    for p in t.snapshot().files_in([tag]):
        rows.extend(_metadata_rows(os.path.join(path, p)))
    return rows


def _codebook_rows(path: str) -> list[dict]:
    """Driver-side codebook rows for probe planning."""
    return _tag_rows(path, TLOG_CODEBOOK_TAG)


def _radii_rows(path: str) -> list[dict]:
    """Driver-side cell_radii rows: possibly several partial-maxima
    files (build + appends) — callers max-merge per cell."""
    return _tag_rows(path, TLOG_RADII_TAG)


def _write_geometry(path: str, **geometry) -> None:
    """Sidecar recording the layout's build parameters (local-FS JSON;
    a cluster deployment writes it through the Hadoop FS API). Appends
    read it back so a caller cannot silently append with mismatched
    geometry."""
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, "_GEOMETRY.json.tmp")
    with open(tmp, "w") as f:
        json.dump(geometry, f)
    os.replace(tmp, os.path.join(path, "_GEOMETRY.json"))


def read_geometry(path: str) -> dict:
    with open(os.path.join(path, "_GEOMETRY.json")) as f:
        return json.load(f)


def _new_layout(path: str, n_domains: int, what: str) -> TLog:
    """An empty log at ``path`` for a build: ``n_domains`` partition
    keys must stay below the tag stride gap (larger values alias into
    the reserved and code-table tag ranges), and a log that already
    holds commits is refused — a second init would append a duplicate
    index."""
    if n_domains >= TLOG_TAG_STRIDE_GAP:
        raise ValueError(
            f"{what}={n_domains} must stay below the reserved tag stride "
            f"gap ({TLOG_TAG_STRIDE_GAP}) — larger values alias its "
            "conflict domains into reserved tag ranges"
        )
    t = TLog(path)
    if t.latest_version() != 0:
        raise ValueError(
            f"layout {path} already holds {t.latest_version()} "
            "commit(s); wipe to rebuild"
        )
    return t


def _member_radii(assigned: DataFrame, cents: DataFrame, vec_col: str):
    """(cell_id, radius): max member-to-centroid L2 distance per cell."""
    return (
        assigned.join(F.broadcast(cents), "cell_id")
        .select(
            "cell_id", F.sqrt(l2_sq(vec_col, "centroid")).alias("member_d")
        )
        .groupBy("cell_id")
        .agg(F.max("member_d").alias("radius"))
    )


def ivf_build(
    emb: DataFrame,
    path: str,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "nvec",
    centroids: DataFrame | None = None,
) -> None:
    """Materialize the IVF index at ``path`` as ONE atomic init commit:
    the codebook (n_cells rows), the cells (the full embeddings table,
    one conflict domain per cell_id) and the per-cell radii. Run once
    per corpus version — the S2 index-save step for the ANN tier. At
    100 TB this is the one shuffle-free scan + bucketed write; every
    later probe reads nprobe/n_cells of the files via log-level file
    pruning. Later batches extend the layout with :func:`ivf_append`
    (blind commits) — no rebuild; vacuum/rebalance are rewrite commits
    declaring the cell domains they touch.

    ``centroids`` (cell_id INT, centroid ARRAY<DOUBLE>) plugs in a
    TRAINED codebook — e.g. the k-means iterate from
    queries_pipeline.emb_kmeans_refine — in place of the deterministic
    stride quantizer. Probe/append semantics are identical either way
    (the codebook is read back from the layout); only centroid quality
    changes, which is the knob that moves recall-at-nprobe on clustered
    production data (RECALL.json documents the untrained floor).
    """
    spark = emb.sparkSession
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(emb, n_cells, id_col, vec_col)
    )
    t = _new_layout(path, n_cells, "ivf_build: n_cells")
    adds = retag(t.write_data(cents.coalesce(1)), TLOG_CODEBOOK_TAG)
    # freeze the centroids by reading back the WRITTEN (not yet
    # committed) codebook files — assignment must not recompute a
    # nondeterministic centroid job, and the whole build must land as
    # ONE commit (a reader may never see a codebook-only table)
    cents = spark.read.parquet(*[os.path.join(path, a["path"]) for a in adds])
    assigned = ivf_assign(emb, cents, id_col, vec_col)
    adds += t.write_data(assigned, bucket_expr=F.col("cell_id"))
    adds += retag(
        t.write_data(_member_radii(assigned, cents, vec_col).coalesce(1)),
        TLOG_RADII_TAG,
    )
    t.commit(
        adds=adds,
        op="append",
        meta={
            "kind": "ivf",
            "n_cells": n_cells,
            "id_col": id_col,
            "vec_col": vec_col,
        },
        base_version=0,
    )
    _write_geometry(path, n_cells=n_cells, id_col=id_col, vec_col=vec_col)


def ivf_append(
    spark,
    path: str,
    new_emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "nvec",
) -> None:
    """Append a batch of vectors into an EXISTING :func:`ivf_build`
    layout — the batch twin of the reference's online
    ``index.add_with_ids`` (main.py:134), and the piece that makes a
    living 100 TB corpus affordable: daily ingest assigns only the NEW
    vectors against the persisted codebook (broadcast, one batch-sized
    scan) and adds files into their cell domains. Existing files stay
    byte-identical; probes see the union with unchanged semantics (same
    codebook -> same probe order).

    ONE blind append commit: cell adds (tagged by cell_id) + the
    BATCH's radii rows under the radii tag — readers aggregate
    max(radius) per cell across files (appended vectors can only GROW a
    radius, so per-file partial maxima merge losslessly), which keeps
    concurrent appends conflict-free: nothing is read-modify-written.

    The codebook is frozen at build time — appends never move it, so
    cell boundaries (and therefore every previously written file) stay
    valid. When drift accumulates (cell-size skew growing), re-run
    :func:`ivf_build` as the periodic re-train (or split hot cells with
    :func:`ivf_rebalance`), exactly like a FAISS deployment
    periodically re-trains its coarse quantizer.
    """
    t = open_layout(path)
    cents = read_codebook(spark, path)
    assigned = ivf_assign(new_emb, cents, id_col, vec_col)
    adds = t.write_data(assigned, bucket_expr=F.col("cell_id"))
    adds += retag(
        t.write_data(_member_radii(assigned, cents, vec_col).coalesce(1)),
        TLOG_RADII_TAG,
    )
    t.commit(adds=adds, op="append")


def ivf_delete(spark, path: str, ids: list[int], id_col: str = "vec_id") -> None:
    """Tombstone delete from an :func:`ivf_build` layout — the operation
    the REFERENCE CANNOT perform (HNSW has no delete: re-ingesting an
    existing id updates text only and leaves the stale vector resident
    forever, main.py:119-126). A delete commits the ids blind under the
    reserved tombstone tag; every probe anti-joins the (broadcast-small)
    tombstone set, so deleted vectors disappear from results
    immediately while resident data files stay untouched — O(batch)
    like the appends. Physical removal is deferred to
    :func:`ivf_vacuum` (or the next full rebuild). The codebook is NOT
    edited: it is a quantizer, not data — a deleted vector that served
    as a stride centroid keeps partitioning space perfectly well."""
    delete_ids(spark, open_layout(path), TLOG_IVF_TOMBS_TAG, ids, id_col)


def _stride_family(stride: int, part_col: str):
    """The (tag predicate, tag column) of a stride-tagged code table."""
    return (
        lambda b: stride <= b < stride + TLOG_TAG_STRIDE_GAP,
        (F.lit(stride) + F.col(part_col)).cast("int"),
    )


def ivf_vacuum(spark, path: str, id_col: str = "vec_id") -> bool:
    """Apply accumulated tombstones physically as ONE rewrite commit
    (:func:`~cnc_visionsearch_spark.sources.tlog.vacuum_tombstones`):
    the cells holding deleted rows are rewritten without them and the
    tombstone files are dropped; untouched cells keep their files. The
    code tables (stride PQ and trained PQ — partitioned by cell_id —
    and RQ, partitioned by its own coarse cell ``c1``) ride the SAME
    commit, so dropping the tombstones can never resurrect a deleted id
    on any probe path. Cell radii stay valid: they are UPPER bounds and
    deletes can only shrink true radii — a rebuild re-tightens them.
    Returns whether it committed."""
    return vacuum_tombstones(
        spark,
        open_layout(path),
        TLOG_IVF_TOMBS_TAG,
        id_col,
        [
            (lambda b: b < TLOG_TAG_STRIDE_GAP, F.col("cell_id")),
            _stride_family(TLOG_PQ_CODES_STRIDE, "cell_id"),
            _stride_family(TLOG_PQ_TRAINED_CODES_STRIDE, "cell_id"),
            _stride_family(TLOG_RQ_CODES_STRIDE, "c1"),
        ],
    )


def shard_delete(
    spark, path: str, ids: list[int], id_col: str = "vec_id"
) -> None:
    """Tombstone delete from a :func:`shard_build` layout — same
    contract as :func:`ivf_delete`: O(batch) blind tombstone commit,
    resident files untouched, probes exclude the ids immediately
    (:func:`sharded_topk_persisted` filters tombstones BEFORE the
    per-shard local search, so per-shard candidate sets are computed
    over surviving rows and the exact-merge guarantee holds). Physical
    removal: :func:`shard_vacuum`.
    """
    delete_ids(spark, open_layout(path), TLOG_IVF_TOMBS_TAG, ids, id_col)


def shard_vacuum(spark, path: str, id_col: str = "vec_id") -> bool:
    """Apply a shard layout's tombstones physically as ONE rewrite
    commit declaring the touched shard domains plus the tombstone
    domain (:func:`~cnc_visionsearch_spark.sources.tlog.vacuum_tombstones`).
    Returns whether it committed."""
    return vacuum_tombstones(
        spark,
        open_layout(path),
        TLOG_IVF_TOMBS_TAG,
        id_col,
        [(lambda b: b < TLOG_TAG_STRIDE_GAP, F.col("shard"))],
    )


def shard_compact(spark, path: str) -> None:
    """Settle every shard domain holding more than one live file into
    one file, as ONE rewrite commit declaring the touched domains —
    the append-accretion bound (St5) for the shard tier, mirroring
    nsw_compact/inverted_compact. Probe results are unchanged by
    construction (same rows, fewer files)."""
    compact_domains(
        spark,
        open_layout(path),
        [(lambda b: b < TLOG_TAG_STRIDE_GAP, F.col("shard"))],
    )


def ivf_probe(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = DEFAULT_NPROBE,
    vec_col: str = "nvec",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF query against a materialized :func:`ivf_build` layout.

    Reads the (tiny) codebook, ranks cells by centroid distance on the
    driver (nprobe rows — not a distributed job), then scans ONLY the
    nprobe nearest cells: :func:`read_cells` resolves them to their live
    files in the log, so the scan touches nprobe/n_cells of the files
    (asserted in tests). Result is bit-identical to
    :func:`ivf_topk` over the same codebook.
    """
    qcol = vec_lit(query_vec)
    probed = ivf_probe_cells(spark, path, query_vec, nprobe)
    cells = read_cells(spark, path, probed).filter(
        F.col("cell_id").isin(probed)
    )
    return (
        cells.select(F.col(id_col), l2_sq(F.col(vec_col), qcol).alias("distance"))
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
    )


_ARTIFACT_ROWS = LRU(256)


def _metadata_rows(dir_path: str) -> list[dict]:
    """Driver-side read of a metadata-sized layout artifact (codebook,
    cell_radii: n_cells rows) via pyarrow — no Spark job. Memoized per
    directory, keyed on its :func:`file_fingerprint`, so an
    append/rebuild that refreshes the artifact invalidates the cache
    while steady-state probes pay zero I/O. This is the planner-side
    role these artifacts play at 100 TB: the coarse quantizer lives
    with the query planner (exactly where FAISS keeps it), and ranking
    nprobe cells must not cost a cluster job.
    """
    fp = file_fingerprint([dir_path])
    if fp is None:
        raise FileNotFoundError(f"layout artifact {dir_path} is unreadable")
    hit = _ARTIFACT_ROWS.get(dir_path)
    if hit is not None and hit[0] == fp:
        return hit[1]
    import pyarrow.parquet as pap

    rows: list[dict] = []
    for name, _, _ in fp:
        if name.endswith(".parquet"):
            rows.extend(pap.read_table(name).to_pylist())
    _ARTIFACT_ROWS.put(dir_path, (fp, rows))
    return rows


def _seq_l2_sq(a, b) -> float:
    """Sequential-fold squared L2 in index order — the same operation
    order as the JVM expression (functions.vector.l2_sq: zip_with then
    aggregate over a double fold) and the SQL oracles' list fold, so
    driver-side cell ranking is bit-identical to the cluster-side
    expression it replaces."""
    acc = 0.0
    for x, y in zip(a, b):
        t = float(x) - float(y)
        acc += t * t
    return acc


def ivf_probe_cells(
    spark, path: str, query_vec: list[float], nprobe: int = DEFAULT_NPROBE
) -> list[int]:
    """The nprobe cell ids nearest the query, ranked on the driver from
    the materialized codebook (n_cells rows — metadata, not data);
    ties break by cell_id. Shared by every probe variant over an
    :func:`ivf_build` layout so probe semantics cannot diverge.

    The codebook is read driver-side (:func:`_metadata_rows`, memoized)
    rather than through a Spark job: probe planning is a query-planner
    step, and at any scale it must cost microseconds, not a cluster
    round-trip. Distances use the same sequential fold as the codegen
    expression, so the chosen cell set is identical to the previous
    cluster-ranked implementation (and to the SQL oracles' replay).
    ``spark`` stays in the signature for call-site compatibility.
    """
    q = [float(x) for x in query_vec]
    scored = sorted(
        (_seq_l2_sq(r["centroid"], q), int(r["cell_id"]))
        for r in _codebook_rows(path)
    )
    return [cid for _, cid in scored[:nprobe]]


def read_shards(spark, path: str, shard_ids=None) -> DataFrame:
    """The layout's live shard table (one snapshot's shard files minus
    its tombstoned ids), pruned at the LOG level via ``shard_ids`` ->
    live-file tags."""
    t = open_layout(path)
    snap = t.snapshot()
    tags = (
        sorted(shard_ids)
        if shard_ids is not None
        else list(range(int(snap.meta["num_shards"])))
    )
    out = _live(spark, t, snap, tags)
    if out is None:  # a probe against an emptied layout
        geo = read_geometry(path)
        return local_frame(
            spark, [],
            f"{geo['id_col']} bigint, {geo['vec_col']} array<double>, "
            "shard int",
        )
    return out


def shard_build(
    emb: DataFrame,
    path: str,
    num_shards: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "nvec",
) -> None:
    """Materialize the sharded-index layout at ``path``: embeddings
    split by shard (= id pmod num_shards) as ONE init commit with
    per-shard conflict domains. This is the BASELINE 'batch FAISS index
    build' write step: the layout pins shard membership so probes skip
    the hash shuffle that :func:`sharded_topk` pays per query. Appends
    are blind commits, deletes blind tombstone commits, vacuum/compact
    rewrite commits declaring their touched shard domains — racing
    mutations into disjoint shards serialize, overlapping ones
    conflict-and-recompute under run_transaction. Extend with
    :func:`shard_append` — no rebuild.
    """
    # pmod, not %: Java remainder keeps the dividend's sign, so a
    # negative id would land in a NEGATIVE shard tag that read_shards'
    # range(num_shards) pruning never lists — the row would be
    # invisible to every probe. pmod == Python % for a positive
    # modulus, so shard_vacuum's driver-side touched-set math
    # (id % num_shards over tombstone ids) agrees exactly.
    sharded = emb.withColumn(
        "shard", F.pmod(F.col(id_col), F.lit(num_shards)).cast("int")
    )
    t = _new_layout(path, num_shards, "shard_build: num_shards")
    t.commit(
        adds=t.write_data(sharded, bucket_expr=F.col("shard")),
        op="append",
        meta={
            "kind": "shards",
            "num_shards": num_shards,
            "id_col": id_col,
            "vec_col": vec_col,
        },
        base_version=0,
    )
    _write_geometry(
        path, num_shards=num_shards, id_col=id_col, vec_col=vec_col
    )


def shard_append(
    spark,
    path: str,
    new_emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "nvec",
    txn: "tuple[str, int] | None" = None,
) -> None:
    """Append a batch into an existing :func:`shard_build` layout as
    ONE blind append commit tagged by shard: conflict-free against
    other appends and against vacuums/compacts of OTHER shards
    (disjoint domains); existing files byte-untouched.

    Shard membership (id pmod num_shards) comes from the layout's
    geometry sidecar — a caller cannot silently append with a different
    modulus and corrupt shard membership. ``txn`` (app, seq) makes an
    at-least-once replay — e.g. a restarted streaming micro-batch —
    commit nothing (the exactly-once contract of the tlog's txn key).
    """
    geo = read_geometry(path)
    num_shards = int(geo["num_shards"])
    if geo.get("id_col", id_col) != id_col or geo.get("vec_col", vec_col) != vec_col:
        raise ValueError(
            f"shard_append: layout at {path!r} was built with columns "
            f"({geo.get('id_col')}, {geo.get('vec_col')}), got "
            f"({id_col}, {vec_col})"
        )
    t = open_layout(path)
    sharded = new_emb.withColumn(
        "shard", F.pmod(F.col(id_col), F.lit(num_shards)).cast("int")
    )
    t.commit(
        adds=t.write_data(sharded, bucket_expr=F.col("shard")),
        txn=txn,
    )


def sharded_topk_persisted(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "nvec",
    id_col: str = "vec_id",
) -> DataFrame:
    """Sharded kNN probe over a :func:`shard_build` layout.

    The layout is already split by shard, so per-shard local search
    runs as ``mapInPandas`` over the scan partitions — ZERO shuffle
    before the candidate merge (vs. sharded_topk's groupBy-shard hash
    exchange of the whole corpus per query). With exact local search
    (the numpy fallback) the candidate union provably contains the
    global top-k; with FAISS HNSW it holds at the recall the beam
    reaches (gated in test_real_deps). Either way the JVM-side re-score
    + TakeOrdered ranks candidates bit-identically to the exact tier
    (Python only nominates candidate ids; floats never cross back).
    """
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    search = _local_topk_fn(q, k, id_col, vec_col)

    def per_partition(batches):
        # top-k per Arrow batch (bounded memory; the union of per-batch
        # top-ks is a superset of the global top-k, restored exactly by
        # the JVM re-score + TakeOrdered)
        for pdf in batches:
            if len(pdf):
                yield search(pdf)

    # the live read filters tombstones BEFORE the local search: per-shard
    # top-k is then computed over surviving rows, preserving the
    # exact-merge guarantee (filtering after would starve the candidate
    # set)
    emb = read_shards(spark, path)
    cand_ids = emb.select(id_col, vec_col).mapInPandas(
        per_partition, schema=f"{id_col} bigint"
    )
    qcol = vec_lit(query_vec)
    # candidate side is bounded by construction (<= k rows per Arrow
    # batch), but it hides behind a mapInPandas so Catalyst has no size
    # estimate and would plan a sort-merge join shuffling the corpus —
    # broadcast the provably-small side instead
    return (
        F.broadcast(cand_ids).join(emb, id_col)
        .select(F.col(id_col), l2_sq(F.col(vec_col), qcol).alias("distance"))
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
    )


# ------------------------------------------------------ sharded-index tier


def _local_topk_fn(qvec: np.ndarray, k: int, id_col: str, vec_col: str):
    """Per-shard local index search for applyInPandas.

    Uses FAISS HNSW (M=32, efSearch=300 — the reference's build knobs,
    main.py:30-31) when available; exact numpy scan otherwise. Returns
    candidate ids only — the caller re-scores JVM-side.
    """
    try:  # pragma: no cover - faiss not in the test container
        import faiss

        def search(pdf):
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
            index = faiss.IndexHNSWFlat(mat.shape[1], 32)
            index.hnsw.efSearch = 300
            index.add(mat)
            _, idx = index.search(qvec.astype(np.float32)[None, :], min(k, len(pdf)))
            rows = pdf.iloc[[i for i in idx[0] if i >= 0]]
            return rows[[id_col]]

    except ImportError:

        def search(pdf):
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d = mat - qvec[None, :]
            dist = (d * d).sum(axis=1)
            order = np.lexsort((pdf[id_col].to_numpy(), dist))[:k]
            return pdf.iloc[order][[id_col]]

    return search


def sharded_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    num_shards: int = 8,
    vec_col: str = "nvec",
    id_col: str = "vec_id",
) -> DataFrame:
    """Global top-k via per-shard local indexes + candidate merge.

    Build/search: hash-shard on id -> applyInPandas searches each shard
    with a local index (FAISS if present) -> k rows per shard come back
    -> exact JVM re-score + global TakeOrderedAndProject over k*S rows.
    Distances in the result are computed by the same codegen'd
    expression as the exact tier (numpy/FAISS only pick candidates), so
    with exact local search this is bit-identical to knn_single.
    """
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    search = _local_topk_fn(q, k, id_col, vec_col)

    def per_shard(_key, pdf):
        return search(pdf)

    sharded = emb.withColumn(
        "shard", (F.col(id_col) % num_shards).cast("int")
    )
    cand_ids = sharded.groupBy("shard").applyInPandas(
        per_shard, schema=f"{id_col} bigint"
    )
    qcol = vec_lit(query_vec)
    return (
        cand_ids.join(emb, id_col)
        .select(F.col(id_col), l2_sq(F.col(vec_col), qcol).alias("distance"))
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
    )


# ------------------------------------------------------ MLlib LSH tier


def mllib_lsh_model(
    emb: DataFrame,
    vec_col: str = "nvec",
    bucket_length: float = 0.5,
    num_tables: int = 4,
    seed: int = 42,
):
    """Fit MLlib's BucketedRandomProjectionLSH over the embeddings
    (BASELINE spark_approach: "MLlib/DataFrame for batch index build").

    Returns (model, featurized_df). Euclidean-distance LSH over
    L2-normalized vectors ranks by cosine, exactly like the exact tier
    (SURVEY §1.1). Seeded, so the model is reproducible; excluded from
    the hash-match oracle gate because the hyperplanes live inside
    MLlib — gated by recall tests instead (SURVEY §5.3).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    feats = emb.withColumn("features", array_to_vector(F.col(vec_col)))
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_tables,
        seed=seed,
    )
    model = lsh.fit(feats)
    return model, model.transform(feats)


def mllib_lsh_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "nvec",
    id_col: str = "vec_id",
    bucket_length: float = 0.5,
    num_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """approxNearestNeighbors over the fitted LSH model; output schema
    matches the exact tier: (id, distance) with distance = squared L2
    (MLlib reports euclidean; squared to match reference main.py:155
    score semantics)."""
    from pyspark.ml.linalg import Vectors

    model, feats = mllib_lsh_model(emb, vec_col, bucket_length, num_tables, seed)
    q = Vectors.dense([float(x) for x in query_vec])
    hits = model.approxNearestNeighbors(feats, q, k, distCol="eucl")
    return hits.select(
        F.col(id_col),
        (F.col("eucl") * F.col("eucl")).alias("distance"),
    ).orderBy(F.col("distance").asc(), F.col(id_col).asc())


def mllib_similarity_join(
    emb: DataFrame,
    threshold: float,
    vec_col: str = "nvec",
    id_col: str = "vec_id",
    bucket_length: float = 0.5,
    num_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """MLlib ``approxSimilarityJoin`` over the BRP-LSH model: all pairs
    within ``threshold`` EUCLIDEAN distance (over normalized vectors =
    cosine-ranked, SURVEY §1.1). Returns (id_a, id_b, distance) with
    id_a < id_b, distance = squared L2 to match the exact tier's score
    semantics. The candidate set is LSH-bucketed (same-bucket pairs
    only) — the 100 TB similarity-join shape; recall vs the exact
    all-pairs scorer is gated in tests, not hash-matched.
    """
    model, feats = mllib_lsh_model(emb, vec_col, bucket_length, num_tables, seed)
    joined = model.approxSimilarityJoin(feats, feats, threshold, distCol="eucl")
    return (
        joined.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            (F.col("eucl") * F.col("eucl")).alias("distance"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .orderBy(F.col("distance").asc(), F.col("id_a").asc(), F.col("id_b").asc())
    )


def mllib_minhash_jaccard_join(
    docs: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """MLlib ``MinHashLSH.approxSimilarityJoin`` for Jaccard text dedup
    (the SURVEY §2 J3 row's second primitive, complementing the
    hand-rolled minhash_lsh_pairs): token shingles -> sparse binary
    vectors (HashingTF) -> MinHash tables -> bucketed pair join at
    ``threshold`` JACCARD DISTANCE (1 - similarity). Returns
    (id_a, id_b, jaccard_dist), id_a < id_b. Recall-gated in tests vs
    the exact shingle scorer; MLlib's hash family lives JVM-side so the
    pair set is approximate, never hash-match gated.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from cnc_visionsearch_spark.functions.text import shingles_from_tokens, tokens

    shingled = docs.select(
        F.col(id_col),
        F.array_distinct(
            shingles_from_tokens(tokens(F.col(text_col)), 3)
        ).alias("sh"),
    ).filter(F.size("sh") > 0)
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(shingled)
    mh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_tables, seed=seed
    )
    model = mh.fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, threshold, distCol="jaccard_dist")
    return (
        joined.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.col("jaccard_dist"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .orderBy(F.col("jaccard_dist").asc(), F.col("id_a").asc(), F.col("id_b").asc())
    )


# --------------------------------------------------- product quantization


def pq_subvectors(
    df: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "nvec",
    out_col: str = "sv",
) -> DataFrame:
    """(id, sub_j, sv) — each vector split into ``m`` contiguous
    subvectors (dim/m components each). The decomposition step of
    product quantization [Jegou et al., PQ for NN search, TPAMI'11]:
    quantizing subspaces independently gives m*log2(k*) bits/vector
    with k*^m effective codewords.
    """
    subs = F.expr(
        f"transform(sequence(0, {m - 1}), "
        f"j -> struct(j AS sub_j, slice({vec_col}, j * int(size({vec_col}) / {m}) + 1, "
        f"int(size({vec_col}) / {m})) AS sv))"
    )
    # dim % m != 0 would silently drop the trailing dimensions from
    # every code and ADC estimate — fail loudly instead
    chk = F.assert_true(
        F.size(F.col(vec_col)) % m == 0,
        F.lit(f"pq_subvectors: vector dim must be divisible by m={m}"),
    )
    return df.select(
        F.col(id_col), F.explode(F.when(chk.isNull(), subs)).alias("s")
    ).select(id_col, F.col("s.sub_j").alias("sub_j"), F.col("s.sv").alias(out_col))


def pq_codebook(
    centroid_vectors: DataFrame,
    m: int = 8,
    code_col: str = "cell_id",
    vec_col: str = "centroid",
) -> DataFrame:
    """(code, sub_j, cv) — per-subspace codebook derived from the same
    deterministic stride-sampled vectors the IVF tier uses as
    centroids (:func:`ivf_centroids`): codeword ``c`` of subspace ``j``
    is subvector ``j`` of stride-vector ``c``. A trained PQ codebook
    (k-means per subspace) drops into the identical (code, sub_j, cv)
    shape; only codeword quality differs, never the query plan.
    """
    return pq_subvectors(
        centroid_vectors, m, id_col=code_col, vec_col=vec_col, out_col="cv"
    ).select(F.col(code_col).alias("code"), "sub_j", "cv")


def pq_assign(
    emb: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "nvec",
) -> DataFrame:
    """(id, sub_j, code) — nearest codeword per (vector, subspace).

    One corpus scan: subvector explode (m rows/vector of dim/m doubles)
    → broadcast join with the m*k*-row codebook → min(struct(dist,
    code)) per (id, subspace), ties by code. No corpus shuffle beyond
    the (id, sub_j) aggregate; at 100 TB the emitted code table is
    m bytes/vector — the 32x compression that makes exhaustive ADC
    scans affordable.
    """
    subs = pq_subvectors(emb, m, id_col, vec_col)
    scored = subs.join(F.broadcast(codebook), "sub_j").select(
        F.col(id_col),
        "sub_j",
        F.struct(l2_sq("sv", "cv").alias("d"), F.col("code").alias("c")).alias("dc"),
    )
    return scored.groupBy(id_col, "sub_j").agg(
        F.min("dc")["c"].alias("code")
    )


def _write_codes(t, codes: DataFrame, stride: int) -> list[dict]:
    """Adds for a code table keyed by cell_id under ``stride``'s tag
    family."""
    return t.write_data(
        codes, bucket_expr=(F.lit(stride) + F.col("cell_id")).cast("int")
    )


def pq_build(
    spark,
    path: str,
    m: int = 8,
    vec_col: str = "nvec",
    id_col: str = "vec_id",
) -> None:
    """Materialize the PQ code table for an :func:`ivf_build` layout at
    ``path``: codes derived from the layout's own codebook, one
    conflict domain per cell_id — the same pruning axis as the vectors,
    so an IVF-probed ADC scan reads nprobe/n_cells of a table that is
    m bytes/vector instead of the raw vectors. Run once per corpus
    version, after (or as part of) the IVF build.

    The code table lands as ONE rewrite commit whose domains are ALL
    cell ids (the build's read set) plus the PQ code domains it
    writes: a cell append racing the build conflicts — correctly,
    because the code table must cover the appended rows to keep the
    codes == re-encode-of-union invariant — and the caller's
    run_transaction recomputes over the union. A re-run replaces the
    previous code files in the same commit shape.
    """
    t = open_layout(path)
    snap = t.snapshot()
    cell_ids = _family(snap, 0)
    cb = pq_codebook(read_codebook(spark, path), m)
    cells = read_tags(spark, t, snap, cell_ids)
    codes = pq_assign(cells, cb, m, id_col=id_col, vec_col=vec_col).join(
        cells.select(id_col, "cell_id"), id_col
    )
    code_tags = [TLOG_PQ_CODES_STRIDE + c for c in cell_ids]
    t.commit(
        adds=_write_codes(t, codes, TLOG_PQ_CODES_STRIDE),
        removes=snap.files_in(code_tags),
        read_version=snap.version,
        op="rewrite",
        domains=cell_ids + code_tags,
    )


def pq_append(
    spark,
    path: str,
    new_emb: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "nvec",
) -> None:
    """Append a batch's PQ codes into an existing :func:`pq_build`
    layout — the code-table twin of :func:`ivf_append`. Codes are
    per-vector functions of the FROZEN codebook, so appending a batch's
    codes leaves every existing code file byte-identical and exactly
    equals a full re-encode of the union (asserted in tests). Cell ids
    come from the same persisted codebook the vectors were appended
    under, so the code table and the vector table stay partitioned on
    the same axis. ONE blind append commit (frozen codebook — no
    read-modify-write; only a racing vacuum of the same PQ domains
    conflicts).
    """
    t = open_layout(path)
    cents = read_codebook(spark, path)
    cb = pq_codebook(cents, m)
    assigned = ivf_assign(new_emb, cents, id_col, vec_col)
    codes = pq_assign(assigned, cb, m, id_col=id_col, vec_col=vec_col).join(
        assigned.select(id_col, "cell_id"), id_col
    )
    t.commit(adds=_write_codes(t, codes, TLOG_PQ_CODES_STRIDE))


def pq_train_codebook(
    emb: DataFrame,
    m: int = 16,
    k_star: int = 128,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "nvec",
    train_cap: int = 100_000,
) -> list[tuple[int, int, list[float]]]:
    """Train per-subspace PQ codebooks (Jegou et al. TPAMI'11 §III):
    ``iters`` Lloyd iterations per subspace, initialized from the same
    deterministic stride sample the IVF tier uses. Returns the trained
    codebook as ``[(sub_j, code, cv), ...]`` rows.

    Scale contract (the FAISS-training analog — faiss trains its PQ on
    a bounded sample, never the full corpus): the training set is the
    deterministic id-stride sample of at most ~``train_cap`` vectors,
    so every per-iteration job is bounded regardless of corpus size. At
    fixture scale the stride is 1 (full corpus). Per iteration: one
    assign pass over the sample (broadcast m*k*-row codebook, shuffle
    keyed (id, sub_j)) + one (sub_j, code, dim) aggregate whose result
    — m*k**(dim/m) rows — is collected as the next codebook. Driver
    traffic is the MODEL (bounded by geometry), never data.

    Bit-stability across engines (the determinism contract every
    iterative op here follows — see emb_kmeans_refine): centroid
    updates are fixed-point integer sums (order-independent) dequantized
    as ``double(sum_q) / double(n) / 1e9`` — pure IEEE ops a DuckDB
    oracle reproduces exactly; assignment ties break lexicographically
    on (distance, code) via struct min. Codewords with no members keep
    their previous value (standard empty-cluster rule).
    """
    spark = emb.sparkSession
    max_id = emb.agg(F.max(id_col)).first()[0]
    if max_id is None:
        raise ValueError(
            "pq_train_codebook: cannot train on an empty embeddings "
            "table (same empty-index guard as ivf_centroids)"
        )
    t_stride = max((int(max_id) + 1) // train_cap, 1)
    train = pq_subvectors(
        emb.filter(F.col(id_col) % t_stride == 0), m, id_col, vec_col
    ).persist()
    try:
        # init stride from the SOURCE max id; init rows additionally
        # carry the train-sample filter (they select from `train`) —
        # matching the oracle chain's kstr-over-tsrc + cb0-over-train
        s = max(int(max_id) // k_star, 1)
        init_rows = (
            train.filter(
                (F.col(id_col) % s == 0) & (F.col(id_col) / s < k_star)
            )
            .select(
                (F.col(id_col) / s).cast("int").alias("code"),
                "sub_j",
                F.col("sv").alias("cv"),
            )
            .collect()
        )
        cb: dict[tuple[int, int], list[float]] = {
            (r.sub_j, r.code): [float(x) for x in r.cv] for r in init_rows
        }
        if not cb:
            raise ValueError(
                "pq_train_codebook: id-stride init selected no codewords "
                f"(max_id={max_id}, k_star={k_star}) — ids must be dense "
                "enough that some id % stride == 0 lands under k_star"
            )
        w = len(next(iter(cb.values())))
        schema = "sub_j int, code int, cv array<double>"
        for _ in range(iters):
            cb_df = local_frame(
                spark, [(sj, c, v) for (sj, c), v in sorted(cb.items())], schema
            )
            # argmin codeword per (vector, subspace); carrying sv inside
            # the struct rides the (d, code) lexicographic min (codes are
            # distinct, so (d, code) alone decides) and saves a re-join
            assigned = (
                train.join(F.broadcast(cb_df), "sub_j")
                .select(
                    id_col,
                    "sub_j",
                    F.struct(
                        l2_sq("sv", "cv").alias("d"),
                        F.col("code").alias("c"),
                        F.col("sv").alias("sv"),
                    ).alias("dcs"),
                )
                .groupBy(id_col, "sub_j")
                .agg(F.min("dcs").alias("mn"))
            )
            sums = (
                assigned.select(
                    "sub_j",
                    F.col("mn.c").alias("code"),
                    F.posexplode("mn.sv").alias("dim", "x"),
                )
                .groupBy("sub_j", "code", "dim")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(fixed_point_q("x")).alias("sum_q"),
                )
                .collect()
            )
            upd: dict[tuple[int, int], dict[int, float]] = {}
            for r in sums:
                upd.setdefault((r.sub_j, r.code), {})[r.dim] = (
                    float(r.sum_q) / float(r.n) / 1e9
                )
            for key, dims in upd.items():
                cb[key] = [dims[d] for d in range(w)]
        return [(sj, c, v) for (sj, c), v in sorted(cb.items())]
    finally:
        train.unpersist()


def pq_trained_build(
    spark,
    path: str,
    m: int = 16,
    k_star: int = 128,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "nvec",
) -> None:
    """Materialize the TRAINED-codebook PQ tier over an
    :func:`ivf_build` layout: the m*k*-row model under its reserved tag
    + the codes under per-cell trained-stride domains (same pruning
    axis as the vectors and the stride-PQ codes). The trained tier
    exists because the stride codebook is an untrained placeholder
    whose ADC ranking is weak (RECALL.json documents the floor);
    k-means-trained codewords move ADC recall@10 to >= 0.95 at the
    default rescore depth on the same fixture. Run once per corpus
    version; probes only ever read the artifacts.

    Model + codes land as ONE rewrite commit whose domains include all
    cell ids — the same racing-cell-append conflict contract as
    :func:`pq_build`, with the model frozen by reading back the WRITTEN
    (uncommitted) model files before encoding, exactly like ivf_build
    freezes its centroids.
    """
    t = open_layout(path)
    snap = t.snapshot()
    cell_ids = _family(snap, 0)
    cells = read_tags(spark, t, snap, cell_ids)
    rows = pq_train_codebook(cells, m, k_star, iters, id_col, vec_col)
    cb_df = local_frame(spark, rows, "sub_j int, code int, cv array<double>")
    adds = retag(t.write_data(cb_df.coalesce(1)), TLOG_PQ_TRAINED_MODEL_TAG)
    cb = spark.read.parquet(*[os.path.join(path, a["path"]) for a in adds])
    codes = pq_assign(cells, cb, m, id_col=id_col, vec_col=vec_col).join(
        cells.select(id_col, "cell_id"), id_col
    )
    adds += _write_codes(t, codes, TLOG_PQ_TRAINED_CODES_STRIDE)
    trained_tags = [TLOG_PQ_TRAINED_CODES_STRIDE + c for c in cell_ids]
    t.commit(
        adds=adds,
        removes=snap.files_in(trained_tags + [TLOG_PQ_TRAINED_MODEL_TAG]),
        read_version=snap.version,
        op="rewrite",
        domains=cell_ids + trained_tags + [TLOG_PQ_TRAINED_MODEL_TAG],
    )


def pq_trained_append(
    spark,
    path: str,
    new_emb: DataFrame,
    m: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "nvec",
) -> None:
    """Append a batch's codes into an existing :func:`pq_trained_build`
    layout — the trained-tier twin of :func:`pq_append`. The trained
    codebook is FROZEN at build time (exactly like FAISS: the PQ is
    trained once on a sample, then encodes every later add), so a
    batch append equals a full re-encode of the union (tests assert
    it) and existing code files stay byte-identical. Re-train = re-run
    :func:`pq_trained_build` as periodic maintenance. ONE blind append
    commit (frozen model, no read-modify-write).
    """
    t = open_layout(path)
    cb = read_pq_trained_codebook(spark, path)
    assigned = ivf_assign(new_emb, read_codebook(spark, path), id_col, vec_col)
    codes = pq_assign(assigned, cb, m, id_col=id_col, vec_col=vec_col).join(
        assigned.select(id_col, "cell_id"), id_col
    )
    t.commit(adds=_write_codes(t, codes, TLOG_PQ_TRAINED_CODES_STRIDE))


def _compute_cell_radii(spark, path: str, vec_col: str = "nvec") -> DataFrame:
    """One layout scan + broadcast codebook + n_cells-row aggregate."""
    return _member_radii(
        read_cells(spark, path), read_codebook(spark, path), vec_col
    )


def ivf_cell_radii(spark, path: str, vec_col: str = "nvec") -> DataFrame:
    """(cell_id, radius) — max member-to-centroid L2 distance per cell
    of an :func:`ivf_build` layout, read from the PERSISTED radii files
    (the build/append commits keep them current as per-file partial
    maxima, merged here), recomputed with one layout scan when the
    layout carries none. The radius is what makes range-search cell
    pruning LOSSLESS: by the triangle inequality no vector of cell c
    can lie within R of the query if d(q, centroid_c) - radius_c > R.
    """
    t = open_layout(path)
    rf = read_tags(spark, t, t.snapshot(), [TLOG_RADII_TAG])
    if rf is None:
        return _compute_cell_radii(spark, path, vec_col)
    return rf.groupBy("cell_id").agg(F.max("radius").alias("radius"))


def _merged_radii(path: str) -> dict[int, float]:
    """cell_id -> radius, max-merged over the partial-maxima files."""
    rad: dict[int, float] = {}
    for x in _radii_rows(path):
        cid = int(x["cell_id"])
        rad[cid] = max(rad.get(cid, 0.0), float(x["radius"]))
    return rad


def ivf_range_search(
    spark,
    path: str,
    query_vec: list[float],
    r2: float,
    vec_col: str = "nvec",
    id_col: str = "vec_id",
) -> DataFrame:
    """Radius (range) search over an :func:`ivf_build` layout — the
    FAISS ``range_search`` analog: every vector with squared-L2
    distance <= ``r2`` from the query. Cells are pruned by the
    triangle inequality (d(q, centroid) - cell_radius > R cannot hold
    any match), so the scan reads only surviving cell partitions —
    EXACTLY the flat scan's result set, just cheaper (the DuckDB
    oracle for the registered query IS the flat scan: hash-match
    proves losslessness). On the isotropic fixture the untrained
    cells are wide (radius ~ sqrt(2)) so pruning rarely fires —
    tests demonstrate the skip on clustered data, where this is the
    operation's payoff.
    """
    import math

    qcol = vec_lit(query_vec)
    r = math.sqrt(r2)
    q = [float(x) for x in query_vec]
    rad = _merged_radii(path)
    if rad:
        # planner-side pruning: codebook + radii are metadata-sized
        # (n_cells rows) persisted artifacts — rank driver-side like
        # ivf_probe_cells, zero cluster jobs before the pruned scan.
        # math.sqrt == JVM sqrt (both IEEE-754 correctly rounded), so
        # the keep set matches the previous cluster-computed bound.
        keep = [
            int(c["cell_id"])
            for c in _codebook_rows(path)
            if math.sqrt(_seq_l2_sq(c["centroid"], q)) - rad[int(c["cell_id"])]
            <= r
        ]
    else:
        # a layout without radii files: one scan to recompute them,
        # then the same bounded n_cells-row collect
        radii = ivf_cell_radii(spark, path, vec_col)
        cents = read_codebook(spark, path)
        keep = [
            row.cell_id
            for row in cents.join(radii, "cell_id")
            .select(
                "cell_id",
                (F.sqrt(l2_sq("centroid", qcol)) - F.col("radius")).alias("lb"),
            )
            .collect()
            if row.lb <= r
        ]
    cells = read_cells(spark, path, keep).filter(
        F.col("cell_id").isin(keep)
    )
    return cells.select(
        F.col(id_col), l2_sq(F.col(vec_col), qcol).alias("distance")
    ).filter(F.col("distance") <= r2)


def ivf_knn_join_probe(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "nvec",
    broadcast_probes: bool = True,
) -> DataFrame:
    """Batch kNN JOIN against a persisted :func:`ivf_build` layout:
    every query row gets its top-k neighbors. The probe set
    (|queries| x nprobe rows, bounded by construction) broadcasts; the
    corpus read is pruned to the UNION of probed cell partitions and
    scanned ONCE for the whole batch; WindowGroupLimit ranks per
    query. The bounded driver-side collect is <= n_cells distinct cell
    ids (ivf_probe_cells' contract). Shared by the registered
    ann_ivf_knn_join query and the streaming serving job
    (streaming.pipelines.knn_serving_stream), so batch and online
    semantics cannot drift.

    ``broadcast_probes=False`` drops the broadcast hint on the probe
    set and joins it to the cells by a plain cell_id equi-join
    (shuffle/AQE's call) — REQUIRED when the query batch is itself
    corpus-sized (the NSW graph build routes the whole corpus through
    this probe as its candidate generator, graph_ann.nsw_build
    candidates='ivf'); broadcasting a corpus-sized probe set would be
    the OOM the hint exists to prevent.
    """
    from pyspark.sql import Window

    cents = read_codebook(spark, path)
    ranked = (
        queries.crossJoin(F.broadcast(cents))
        .withColumn("cdist", l2_sq("centroid", qvec_col))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(qid_col).orderBy(
                    F.col("cdist").asc(), F.col("cell_id").asc()
                )
            ),
        )
        .filter(F.col("rn") <= nprobe)
        .select(qid_col, qvec_col, "cell_id")
    )
    probed = [r.cell_id for r in ranked.select("cell_id").distinct().collect()]
    cells = read_cells(spark, path, probed).filter(
        F.col("cell_id").isin(probed)
    )
    probe_side = F.broadcast(ranked) if broadcast_probes else ranked
    cand = probe_side.join(cells, "cell_id")
    w = Window.partitionBy(qid_col).orderBy(
        l2_sq(vec_col, qvec_col).asc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("distance", l2_sq(vec_col, qvec_col))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(qid_col, id_col, "distance")
    )


def ivf_rebalance(
    spark,
    path: str,
    max_splits: int = 1,
    min_factor: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "nvec",
) -> list[dict]:
    """Split the hottest cells of an :func:`ivf_build` layout in two —
    the maintenance step that keeps probe cost flat as appends skew a
    frozen codebook (the skew the layout's skew-audit query surfaces).
    FAISS answers drift with a periodic full re-train; at 100 TB a full
    rebuild rewrites every cell, while a split rewrites ONLY the hot
    cells — the incremental middle ground.

    Per split, deterministically: members of the hot cell are
    reassigned to two children seeded by the cell's min- and max-id
    vectors (ties to the lo seed), children get fresh cell ids past the
    current max, and the codebook swaps the parent centroid for the two
    seeds; the radii drop the parents' rows and gain the children's.
    All splits land as ONE rewrite commit (hot cells' files, the
    codebook and the radii files out; children, new codebook and new
    radii in) declaring those domains, so a reader sees the layout
    before or after, never a half-split one, and a racing append into a
    hot cell conflicts instead of being lost. Probes need no code
    change: the probe path reads the codebook, so the next query simply
    sees more, smaller cells; the UNION of members is untouched
    (full-coverage probes are bit-identical before/after —
    test-pinned), and recall-at-nprobe over the hot region improves
    because the two children can be pruned independently.

    Hot = live rows > ``min_factor`` × mean live rows (tombstones
    excluded from the census), largest first, at most ``max_splits``
    cells, never a cell of < 2 rows. Returns a report of performed
    splits: ``{"cell_id", "n_rows", "lo_cell", "hi_cell"}``.
    Cost: one metadata-sized census + one cell-bounded rewrite per
    split — O(hot cells), never a corpus scan.

    A layout with PQ code tables is refused before any write: the
    stride codebook derives from the IVF codebook a split changes, and
    the split cell's codes would stay under the parent's cell domain.
    """
    t = open_layout(path)
    snap = t.snapshot()
    if _family(snap, TLOG_PQ_CODES_STRIDE) or _family(
        snap, TLOG_PQ_TRAINED_CODES_STRIDE
    ):
        raise ValueError(
            f"ivf_rebalance: {path} carries stride-PQ/trained-PQ code tables, "
            "which a split would leave stale; rebuild the layout instead"
        )
    cell_ids = _family(snap, 0)
    live = read_live(spark, t, snap, cell_ids, TLOG_IVF_TOMBS_TAG, id_col)
    census = {
        int(r["cell_id"]): int(r["n"])
        for r in live.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }  # bounded: one row per cell — planner state
    if not census:
        return []
    mean = sum(census.values()) / len(census)
    hot = sorted(
        (c for c, n in census.items() if n > min_factor * mean and n >= 2),
        key=lambda c: (-census[c], c),
    )[:max_splits]
    if not hot:
        return []
    codebook = {
        int(r["cell_id"]): [float(x) for x in r["centroid"]]
        for r in _codebook_rows(path)
    }
    radii = _merged_radii(path)
    next_id = max([*census, *cell_ids, *codebook]) + 1
    adds: list[dict] = []
    report = []
    for c in hot:
        members = read_tags(spark, t, snap, [c])
        lo_seed = [
            float(x)
            for x in members.orderBy(F.col(id_col).asc()).select(vec_col).first()[0]
        ]
        hi_seed = [
            float(x)
            for x in members.orderBy(F.col(id_col).desc()).select(vec_col).first()[0]
        ]
        lo_cell, hi_cell = next_id, next_id + 1
        next_id += 2
        lo_col = vec_lit(lo_seed)
        hi_col = vec_lit(hi_seed)
        rea = members.withColumn(
            "cell_id",
            F.when(
                l2_sq(vec_col, lo_col) <= l2_sq(vec_col, hi_col),
                F.lit(lo_cell),
            ).otherwise(F.lit(hi_cell)),
        )
        # a seed pair can capture all rows: then only one child gets files
        adds += t.write_data(rea, bucket_expr=F.col("cell_id"))
        seeds = local_frame(
            spark, [(lo_cell, lo_seed), (hi_cell, hi_seed)],
            "cell_id int, centroid array<double>",
        )
        radii.pop(c, None)
        for r in _member_radii(rea, seeds, vec_col).collect():  # <= 2 rows
            radii[int(r["cell_id"])] = float(r["radius"])
        codebook.pop(c, None)
        codebook[lo_cell], codebook[hi_cell] = lo_seed, hi_seed
        report.append(
            {"cell_id": c, "n_rows": census[c], "lo_cell": lo_cell, "hi_cell": hi_cell}
        )
    adds += retag(
        t.write_data(
            local_frame(
                spark, sorted(codebook.items()), "cell_id int, centroid array<double>"
            ).coalesce(1)
        ),
        TLOG_CODEBOOK_TAG,
    )
    adds += retag(
        t.write_data(
            local_frame(
                spark, sorted(radii.items()), "cell_id int, radius double"
            ).coalesce(1)
        ),
        TLOG_RADII_TAG,
    )
    kids = [x for r in report for x in (r["lo_cell"], r["hi_cell"])]
    n_cells = int(snap.meta.get("n_cells", len(census))) + len(report)
    t.commit(
        adds=adds,
        removes=snap.files_in(hot + [TLOG_CODEBOOK_TAG, TLOG_RADII_TAG]),
        read_version=snap.version,
        op="rewrite",
        domains=hot + kids + [TLOG_CODEBOOK_TAG, TLOG_RADII_TAG],
        meta={"n_cells": n_cells},
    )
    geo = read_geometry(path)
    geo["n_cells"] = n_cells
    _write_geometry(path, **geo)
    return report


def ivf_exact_pruned_search(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "nvec",
) -> tuple[list[tuple[int, float]], list[int]]:
    """EXACT top-k at ANN cost — triangle-inequality cell pruning over
    an :func:`ivf_build` layout (the FAISS IVFFlat exact-search trick,
    and the exact counterpart of the recall-gated nprobe probes): for
    every cell, ``lb_c = max(0, d(q, centroid_c) - radius_c)²`` lower-
    bounds the distance of ANY member (triangle inequality, radii from
    the persisted radii files). Cells are visited in
    ascending-``lb`` order (ties by cell_id), each visit ONE
    file-pruned scan collecting that cell's top-k (k rows —
    planner state); the walk stops at the first cell whose bound the
    current kth-best already beats, which proves no unvisited cell can
    improve the answer. Result is bit-identical to brute force — the
    registered query's oracle IS plain exact top-k — while typically
    scanning a fraction of the cells; unlike nprobe there is NO recall
    knob to tune and no gate to monitor.

    Returns ``(top_k [(id, distance)...], scanned_cell_ids)``.
    """
    import math

    cents = _codebook_rows(path)
    radii = _merged_radii(path)
    q = [float(x) for x in query_vec]
    def _lb(c):
        g = max(
            0.0,
            math.sqrt(_seq_l2_sq(c["centroid"], q))
            - radii.get(int(c["cell_id"]), 0.0),
        )
        return g * g  # g*g, not pow(g, 2): bit-stable vs the SQL replay

    order = sorted((_lb(c), int(c["cell_id"])) for c in cents)
    qcol = vec_lit(q)
    best: list[tuple[float, int]] = []  # (distance, id), ascending
    scanned: list[int] = []
    # geometric batch doubling: visiting cells one job each would mean
    # O(n_cells) sequential jobs when pruning is weak (the isotropic
    # worst case) — instead scan 1, 1, 2, 4, ... cells per job, bound-
    # checking between batches. Scanning a cell the one-at-a-time walk
    # would have skipped only costs read volume, never correctness
    # (extra candidates cannot displace true top-k members), and the
    # walk stays O(log n_cells) jobs end to end. The one-at-a-time
    # scanned-set semantics (what ann_ivf_exact_pruned_stats replays)
    # are preserved by re-deriving the certificate per cell below.
    i = 0
    batch = 1
    while i < len(order):
        if len(best) >= k and best[k - 1][0] <= order[i][0]:
            break  # no unvisited cell can beat the kth-best
        chunk = order[i : i + batch]
        # within the chunk, keep only cells the sequential walk could
        # reach before its stop bound — the rest are read-avoided
        take = [c for lb, c in chunk if len(best) < k or best[k - 1][0] > lb]
        w = Window.partitionBy("cell_id").orderBy(
            F.col("d").asc(), F.col(id_col).asc()
        )
        rows = (
            read_cells(spark, path, take)
            .filter(F.col("cell_id").isin(take))
            .select("cell_id", id_col, l2_sq(vec_col, qcol).alias("d"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)  # per-cell top-k, one job
            .collect()
        )
        by_cell: dict[int, list[tuple[float, int]]] = {}
        for r in rows:
            by_cell.setdefault(int(r["cell_id"]), []).append(
                (float(r["d"]), int(r[id_col]))
            )
        # replay the sequential certificate inside the chunk so the
        # reported scanned set matches the one-at-a-time walk exactly
        for lb, cell_id in chunk:
            if len(best) >= k and best[k - 1][0] <= lb:
                i = len(order)  # outer walk stops here too
                break
            scanned.append(cell_id)
            best = sorted(best + sorted(by_cell.get(cell_id, []))[:k])[:k]
        else:
            i += len(chunk)
            batch *= 2
            continue
        break
    return [(i, d) for d, i in best], scanned
