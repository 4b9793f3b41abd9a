"""ANN-tier queries (SURVEY §4, §7.5) — deterministic approximate
search, so even the *approximate* tiers are oracle-checkable: the
pruning structures (seeded hyperplanes, stride centroids) are pure
functions of the data, and candidate scoring uses the same
sequential-fold double arithmetic on both engines. Recall-vs-exact
gates live in tests/test_ann.py (SURVEY §5.3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cnc_visionsearch_spark.operators.ann import (
    read_cells,
    read_codebook,
    read_pq_codes,
)
from cnc_visionsearch_spark.operators.ann import (
    hyperplane_signature,
    hyperplanes,
    ivf_assign,
    ivf_build,
    ivf_centroids,
    ivf_probe,
    lsh_topk,
    shard_build,
    sharded_topk_persisted,
)
from cnc_visionsearch_spark.functions.vector import (
    fixed_point_q,
    int8_dequant,
    l2_sq,
    unit,
    vec_lit,
)
from cnc_visionsearch_spark.memo import file_fingerprint
from cnc_visionsearch_spark.operators.knn import with_normalized
from cnc_visionsearch_spark.registry import register
from cnc_visionsearch_spark.sources.catalog import load_table

_DIM = 64  # fixture embedding dimension (FIXTURES.md)
_N_PLANES = 6
_SEED = 42

# Build artifacts live outside the (read-only) testdata tree, keyed by
# corpus (sf dir basename + content fingerprint) and build geometry in
# the directory name, so a rebuild happens only when the corpus or the
# geometry changes. One protocol builds and publishes every artifact
# (build_once): build into a private stage directory, write _BUILT into
# it last, rename the stage onto the artifact path. A reader therefore
# sees a whole artifact or none, a losing racer drops its stage, and no
# session deletes a directory another one is still building. Local-FS
# rename is the publish step in local mode; a cluster deployment swaps
# it for a catalog entry / rename-without-overwrite on the Hadoop FS.
_ARTIFACT_ROOT = os.environ.get("SPARK_GRAFT_ANN_DIR", "/tmp/cnc_ann_artifacts")


def artifact_path(sf_dir: str, name: str, table: str = "embeddings") -> str:
    """Path of the artifact ``name`` derived from ``table`` of the
    corpus at ``sf_dir``; reads the artifact root at call time."""
    return f"{_ARTIFACT_ROOT}/{_corpus_tag(sf_dir, table)}/{name}"


def _built(path: str, log: bool) -> bool:
    """Done check: ``_BUILT`` is there — and, for a transaction-log
    layout, a ``_tlog/`` too (a marker without a log is a layout of the
    retired tmp+rename format, which is rebuilt, never read)."""
    return os.path.exists(os.path.join(path, "_BUILT")) and (
        not log or os.path.isdir(os.path.join(path, "_tlog"))
    )


def build_once(path: str, build, log: bool = True) -> str:
    """Build the artifact at ``path`` unless it is already built;
    return ``path``. ``build(stage)`` writes the whole artifact into a
    fresh private sibling directory; the stage gets ``_BUILT`` last and
    is renamed onto ``path`` (the Delta Lake rule: write everything,
    then make it visible in one atomic step). If another session
    published ``path`` meanwhile, the stage is dropped. A directory at
    ``path`` that is not built (a retired-format or marker-less
    layout) is stale: it is moved aside, the stage renamed in, and the
    moved-aside copy deleted. Nothing else is ever deleted. ``log``
    False marks an artifact that is not a transaction-log layout."""
    import contextlib
    import errno
    import shutil
    import uuid

    if _built(path, log):
        return path
    stage = f"{path}.stage.{os.getpid()}.{uuid.uuid4().hex}"
    moved = []
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        build(stage)
        os.makedirs(stage, exist_ok=True)
        open(os.path.join(stage, "_BUILT"), "w").close()
        while True:
            try:
                os.rename(stage, path)
                break
            except OSError as e:
                if e.errno not in (errno.ENOTEMPTY, errno.EEXIST):
                    raise
            if _built(path, log):
                break  # another session published first: drop the stage
            moved.append(f"{path}.stale.{uuid.uuid4().hex}")
            with contextlib.suppress(FileNotFoundError):  # moved by another
                os.rename(path, moved[-1])
    finally:
        for d in (stage, *moved):
            shutil.rmtree(d, ignore_errors=True)
    return path


def _corpus_tag(sf_dir: str, table: str = "embeddings") -> str:
    """Corpus key = sf-dir basename + a CONTENT fingerprint of the
    source parquet (relative name, size, mtime_ns of every data
    file). The fixtures are regenerated between driver rounds with the
    same path, so a basename-only key would happily serve an IVF/PQ
    layout built from last round's corpus against this round's oracles.
    Any content change flips the fingerprint -> a fresh artifact dir ->
    rebuild; stale dirs are just dead files under /tmp."""
    import hashlib

    src = os.path.join(sf_dir, f"{table}.parquet")
    fp = file_fingerprint([src]) or ()
    rel = [(os.path.relpath(n, src), size, mt) for n, size, mt in fp]
    h = hashlib.md5(repr(rel).encode())
    base = os.path.basename(sf_dir.rstrip("/")) or "corpus"
    return f"{base}-{h.hexdigest()[:12]}"


def ensure_ivf_built(spark: SparkSession, sf_dir: str, n_cells: int = 8) -> str:
    """Idempotent IVF build: materialize codebook + cell-partitioned
    layout once per (corpus content, n_cells); return the artifact
    path."""
    return build_once(
        artifact_path(sf_dir, f"ivf_c{n_cells}"),
        lambda stage: ivf_build(
            with_normalized(load_table(spark, sf_dir, "embeddings")),
            stage,
            n_cells=n_cells,
        ),
    )


def ensure_shards_built(
    spark: SparkSession, sf_dir: str, num_shards: int = 8
) -> str:
    """Idempotent shard-layout build for the sharded-index tier."""
    return build_once(
        artifact_path(sf_dir, f"shards_s{num_shards}"),
        lambda stage: shard_build(
            with_normalized(load_table(spark, sf_dir, "embeddings")),
            stage,
            num_shards=num_shards,
        ),
    )

_NORM_CTE = """
normed AS (
  SELECT vec_id, label,
    list_transform(
      embedding::DOUBLE[],
      x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y*y)))
    ) AS nvec
  FROM embeddings
)
"""

_L2SQ = "list_sum(list_transform(range(1, len({a})+1), i -> ({a}[i]-{b}[i])**2))"


def _planes_cte() -> str:
    """The seeded hyperplanes as a SQL VALUES CTE (same doubles as the
    Spark literals — both parse the identical 6-decimal text)."""
    rows = []
    for i, plane in enumerate(hyperplanes(_DIM, _N_PLANES, _SEED)):
        arr = "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"
        rows.append(f"({i}, {arr})")
    return "planes(i, p) AS (VALUES " + ", ".join(rows) + ")"


_SIG_CTE = f"""
sigs AS (
  SELECT vec_id,
    CAST(SUM(CASE WHEN list_sum(list_transform(range(1, len(nvec)+1),
                    j -> nvec[j] * p[j])) >= 0
         THEN (1::BIGINT << i) ELSE 0::BIGINT END) AS BIGINT) AS lsh_bucket
  FROM normed, planes
  GROUP BY vec_id
)
"""


def _norm_query_vec(spark: SparkSession, sf_dir: str, vec_id: int) -> list[float]:
    """Fetch + normalize one query vector (driver-side: it is a query
    PARAMETER, not data). Memoized via the shared catalog point-lookup
    memo — repeating the pushed-predicate read per invocation would
    bill every vector query one extra Spark job."""
    from cnc_visionsearch_spark.sources.catalog import memoized_point_value

    raw = memoized_point_value(spark, sf_dir, "embeddings", "vec_id", vec_id, "embedding")
    return unit(raw)


@register(
    "ann_lsh_bucket_histogram",
    oracle=f"""
WITH {_NORM_CTE}, {_planes_cte()}, {_SIG_CTE}
SELECT lsh_bucket, CAST(count(*) AS BIGINT) AS n_vectors,
  CAST(min(vec_id) AS BIGINT) AS sample_id
FROM sigs GROUP BY lsh_bucket
""",
    doc="LSH build step: sign-bit signatures over 6 seeded hyperplanes; "
    "bucket population histogram. Pure codegen scan — the structure an "
    "ingest pipeline co-computes and partitions by at 100 TB.",
)
def ann_lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
    planes = hyperplanes(_DIM, _N_PLANES, _SEED)
    return (
        emb.withColumn("lsh_bucket", hyperplane_signature("nvec", planes))
        .groupBy("lsh_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("sample_id"),
        )
    )


@register(
    "ann_lsh_topk",
    oracle=f"""
WITH {_NORM_CTE}, {_planes_cte()}, {_SIG_CTE},
q AS (
  SELECT n.nvec AS qvec, s.lsh_bucket AS qsig
  FROM normed n JOIN sigs s USING (vec_id) WHERE n.vec_id = 3
)
SELECT s.vec_id, {_L2SQ.format(a="n.nvec", b="q.qvec")} AS distance
FROM sigs s JOIN normed n USING (vec_id), q
WHERE s.lsh_bucket = q.qsig
ORDER BY distance ASC, s.vec_id ASC
LIMIT 10
""",
    doc="LSH probe: query scans only its own bucket (~1/2^6 of the "
    "corpus) then exact-ranks. Approximate by recall, deterministic by "
    "computation — hash-matchable. tests/test_ann.py gates recall. "
    "ROLE: CANDIDATES-ONLY / teaching tier (RECALL.json role field): "
    "single-bucket recall at the default 6 planes is ~0.16 mean on "
    "the isotropic fixture — use it as a candidate generator under an "
    "exact re-score (ann_lsh_multiprobe_topk widens coverage), and "
    "serve from the trained-PQ or NSW/HNSW tiers (mean >= 0.95).",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
    q = _norm_query_vec(spark, sf_dir, 3)
    return lsh_topk(emb, q, k=10, n_planes=_N_PLANES, seed=_SEED)


_IVF_CTE = f"""
stride AS (SELECT greatest(max(vec_id) // 8, 1) AS s FROM embeddings),
centroids AS (
  SELECT CAST(vec_id // s AS INT) AS cell_id, nvec AS centroid
  FROM normed, stride
  WHERE vec_id % s = 0 AND vec_id // s < 8
),
assigned AS (
  SELECT vec_id, cell_id, nvec FROM (
    SELECT n.vec_id, c.cell_id, n.nvec,
      row_number() OVER (
        PARTITION BY n.vec_id
        ORDER BY {_L2SQ.format(a="n.nvec", b="c.centroid")} ASC, c.cell_id ASC
      ) AS rn
    FROM normed n, centroids c
  ) WHERE rn = 1
)
"""


@register(
    "ann_ivf_cells",
    oracle=f"""
WITH {_NORM_CTE}, {_IVF_CTE}
SELECT cell_id, CAST(count(*) AS BIGINT) AS n_vectors,
  CAST(min(vec_id) AS BIGINT) AS sample_id
FROM assigned GROUP BY cell_id
""",
    doc="IVF build: nearest-centroid cell assignment (broadcast codebook, "
    "one scan, no corpus shuffle); cell histogram. At scale the table is "
    "written PARTITIONED BY cell_id so probes become partition pruning.",
)
def ann_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
    cents = ivf_centroids(emb, n_cells=8)
    return (
        ivf_assign(emb, cents)
        .groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("sample_id"),
        )
    )


@register(
    "ann_ivf_topk",
    oracle=f"""
WITH {_NORM_CTE}, {_IVF_CTE},
q AS (SELECT nvec AS qvec FROM normed WHERE vec_id = 3),
probe AS (
  SELECT cell_id FROM centroids, q
  ORDER BY {_L2SQ.format(a="centroid", b="qvec")} ASC, cell_id ASC
  LIMIT 4
)
SELECT a.vec_id, {_L2SQ.format(a="a.nvec", b="q.qvec")} AS distance
FROM assigned a, q
WHERE a.cell_id IN (SELECT cell_id FROM probe)
ORDER BY distance ASC, a.vec_id ASC
LIMIT 10
""",
    doc="IVF probe over the MATERIALIZED ivf_build layout (codebook "
    "parquet + cell-partitioned cells/): rank cells by centroid "
    "distance, scan nprobe=4 of 8 cell PARTITIONS (partition pruning, "
    "not a filter over a full scan), exact top-k within. Build cost is "
    "paid once per corpus version (ensure_ivf_built), probes pay "
    "nprobe/n_cells of a scan — the reference's build-once/serve-many "
    "index lifecycle (main.py:60-66).",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = ensure_ivf_built(spark, sf_dir, n_cells=8)
    q = _norm_query_vec(spark, sf_dir, 3)
    return ivf_probe(spark, path, q, k=10, nprobe=4)


@register(
    "knn_sharded_topk",
    oracle=f"""
WITH {_NORM_CTE},
q AS (SELECT nvec AS qvec FROM normed WHERE vec_id = 1)
SELECT vec_id, {_L2SQ.format(a="nvec", b="qvec")} AS distance
FROM normed, q
ORDER BY distance ASC, vec_id ASC
LIMIT 10
""",
    doc="Sharded-local-index kNN over the MATERIALIZED shard_build "
    "layout (BASELINE 'batch FAISS build' pattern): the corpus is "
    "written partitioned by shard once; probes run local search "
    "(FAISS HNSW M=32/efSearch=300 if installed, exact numpy here) as "
    "mapInPandas over the already-co-located shard partitions — zero "
    "shuffle before the candidate merge — then exact JVM re-score + "
    "global top-k, bit-identical to knn_single_topk (shared oracle).",
)
def knn_sharded_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = ensure_shards_built(spark, sf_dir, num_shards=8)
    q = _norm_query_vec(spark, sf_dir, 1)
    return sharded_topk_persisted(spark, path, q, k=10)


_RECON_CTE = """
recon AS (
  SELECT vec_id, v,
    CASE WHEN amax = 0 THEN list_transform(v, x -> 0.0)
         ELSE list_transform(v, x ->
            least(greatest(floor(x * 127.0 / amax + 0.5), -127.0), 127.0)
            * amax / 127.0)
    END AS rv
  FROM (
    SELECT vec_id, embedding::DOUBLE[] AS v,
      list_aggregate(list_transform(embedding::DOUBLE[], x -> abs(x)), 'max') AS amax
    FROM embeddings
  )
)
"""


@register(
    "ann_int8_rescore_topk",
    oracle=f"""
WITH {_RECON_CTE},
qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 5),
cand AS (
  SELECT r.vec_id, r.v,
    {_L2SQ.format(a="r.rv", b="qv.q")} AS qdist
  FROM recon r, qv
  ORDER BY qdist ASC, r.vec_id ASC
  LIMIT 40
)
SELECT c.vec_id, {_L2SQ.format(a="c.v", b="qv.q")} AS distance
FROM cand c, qv
ORDER BY distance ASC, c.vec_id ASC
LIMIT 10
""",
    doc="Asymmetric int8 search: candidate scan scores the DEQUANTIZED "
    "corpus (the 4x-smaller storage tier — at 100 TB this is the only "
    "column the scan reads) against the full-precision query, takes "
    "top-40 via TakeOrderedAndProject, then exact fp64 re-score of the "
    "40 candidates picks the final 10. Same build-once/probe-cheap "
    "story as IVF, orthogonal knob (memory instead of selectivity); "
    "composes with the cell/bucket layouts. Deterministic: the quant "
    "chain and both distance folds are identical double chains on both "
    "engines, ties break by vec_id.",
)
def ann_int8_rescore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    raw = emb.filter(F.col("vec_id") == 5).select("embedding").first()[0]
    qcol = vec_lit(raw)
    staged = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        int8_dequant("embedding").alias("rv"),
    )
    cand = (
        staged.select("vec_id", "v", l2_sq("rv", qcol).alias("qdist"))
        .orderBy(F.col("qdist").asc(), F.col("vec_id").asc())
        .limit(40)
    )
    return (
        cand.select("vec_id", l2_sq("v", qcol).alias("distance"))
        .orderBy(F.col("distance").asc(), F.col("vec_id").asc())
        .limit(10)
    )


@register(
    "ann_ivf_int8_topk",
    oracle=f"""
WITH {_NORM_CTE}, {_IVF_CTE},
q AS (SELECT nvec AS qvec FROM normed WHERE vec_id = 3),
probe AS (
  SELECT cell_id FROM centroids, q
  ORDER BY {_L2SQ.format(a="centroid", b="qvec")} ASC, cell_id ASC
  LIMIT 4
),
pruned AS (
  SELECT a.vec_id, a.nvec FROM assigned a
  WHERE a.cell_id IN (SELECT cell_id FROM probe)
),
rq AS (
  SELECT vec_id, nvec,
    list_aggregate(list_transform(nvec, x -> abs(x)), 'max') AS amax
  FROM pruned
),
recon AS (
  SELECT vec_id, nvec,
    CASE WHEN amax = 0 THEN list_transform(nvec, x -> 0.0)
         ELSE list_transform(nvec, x ->
            least(greatest(floor(x * 127.0 / amax + 0.5), -127.0), 127.0)
            * amax / 127.0)
    END AS rv
  FROM rq
),
cand AS (
  SELECT r.vec_id, r.nvec,
    {_L2SQ.format(a="r.rv", b="q.qvec")} AS qdist
  FROM recon r, q
  ORDER BY qdist ASC, r.vec_id ASC LIMIT 20
)
SELECT c.vec_id, {_L2SQ.format(a="c.nvec", b="q.qvec")} AS distance
FROM cand c, q
ORDER BY distance ASC, c.vec_id ASC
LIMIT 10
""",
    doc="Composed ANN tiers: IVF partition pruning x int8 quantized "
    "scoring — the two knobs are orthogonal and this query proves they "
    "stack. Scan = nprobe/n_cells of the FILES (PartitionFilters on "
    "the persisted ivf_build layout) and, at scale, the 4x-smaller "
    "quantized column; candidate top-20 by dequantized distance, then "
    "fp64 re-score picks the final 10. The memory knob (int8) and the "
    "selectivity knob (nprobe) compose because both act before the "
    "exact re-score, which restores full precision on a constant-size "
    "candidate set.",
)
def ann_ivf_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.ann import ivf_probe_cells

    path = ensure_ivf_built(spark, sf_dir, n_cells=8)
    q = _norm_query_vec(spark, sf_dir, 3)
    qcol = vec_lit(q)
    probed = ivf_probe_cells(spark, path, q, nprobe=4)
    cells = read_cells(spark, path, probed).filter(
        F.col("cell_id").isin(probed)
    )
    staged = cells.select("vec_id", "nvec", int8_dequant("nvec").alias("rv"))
    cand = (
        staged.select("vec_id", "nvec", l2_sq("rv", qcol).alias("qdist"))
        .orderBy(F.col("qdist").asc(), F.col("vec_id").asc())
        .limit(20)
    )
    return (
        cand.select("vec_id", l2_sq("nvec", qcol).alias("distance"))
        .orderBy(F.col("distance").asc(), F.col("vec_id").asc())
        .limit(10)
    )


# --------------------------------------------------- product quantization

# PQ oracle building blocks: m=8 subspaces of dim/8 components; codebook
# = subvectors of the stride centroids (same deterministic quantizer as
# IVF); assignment = lexicographic-min (distance, code). DuckDB list
# slices are 1-based end-INCLUSIVE: v[j*w+1 : j*w+w].
_PQ_M = 8


def _pq_sql(source: str = "normed") -> str:
    """PQ oracle CTE chunk (w/subs/cbsubs/codes) parameterized by the
    vector-source CTE — one definition of the subtle slice arithmetic
    (1-based end-inclusive ``[j*w+1 : j*w+w]``) for every PQ oracle.
    Code assignment is per-vector, so codes over any ``source`` subset
    equal the global codes restricted to it."""
    return f"""
w AS (SELECT CAST(len(nvec) // {_PQ_M} AS INT) AS w FROM normed LIMIT 1),
subs AS (
  SELECT vec_id, j.j AS sub_j, nvec[j.j*w+1 : j.j*w+w] AS sv
  FROM {source}, w, (SELECT unnest(range({_PQ_M})) AS j) j
),
cbsubs AS (
  SELECT cell_id AS code, j.j AS sub_j, centroid[j.j*w+1 : j.j*w+w] AS cv
  FROM centroids, w, (SELECT unnest(range({_PQ_M})) AS j) j
),
codes AS (
  SELECT vec_id, sub_j,
    min(struct_pack(d := {_L2SQ.format(a="sv", b="cv")}, c := code)).c AS code
  FROM subs JOIN cbsubs USING (sub_j)
  GROUP BY vec_id, sub_j
)
"""


_PQ_CTE = _pq_sql("normed")


def ensure_pq_built(spark: SparkSession, sf_dir: str, n_cells: int = 8) -> str:
    """Idempotent PQ-code build over the IVF layout: persist the
    cell-partitioned (vec_id, sub_j, code) table once per corpus; the
    probed ADC scan then reads nprobe/n_cells of a table that is
    m bytes/vector instead of the raw vectors."""
    from cnc_visionsearch_spark.operators.ann import pq_build

    path = ensure_ivf_built(spark, sf_dir, n_cells=n_cells)
    # marker carries m: a different subspace count is a different code
    # table, not a cache hit (corpus content is already in the path via
    # _corpus_tag's fingerprint)
    if not os.path.exists(os.path.join(path, f"_PQ_BUILT_m{_PQ_M}")):
        pq_build(spark, path, m=_PQ_M)
        open(os.path.join(path, f"_PQ_BUILT_m{_PQ_M}"), "w").close()
    return path


@register(
    "ann_pq_code_histogram",
    oracle=f"""
WITH {_NORM_CTE}, {_IVF_CTE}, {_PQ_CTE}
SELECT sub_j, code, CAST(count(*) AS BIGINT) AS n_vectors,
  CAST(min(vec_id) AS BIGINT) AS sample_id
FROM codes GROUP BY sub_j, code
""",
    doc="Product-quantization code assignment (Jegou et al. TPAMI'11) "
    "over the stride codebook: per-(subspace, codeword) population — "
    "the codebook-utilization audit a PQ build job emits. One corpus "
    "scan: subvector explode -> broadcast m*k*-row codebook -> "
    "min(struct(dist, code)) per (vector, subspace); the code table "
    "out is m bytes/vector (32x compression at dim=64/fp32). "
    "Deterministic: codebook is the IVF stride quantizer, ties break "
    "lexicographically on (distance, code) via struct min.",
)
def ann_pq_code_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.ann import (
        ivf_centroids,
        pq_assign,
        pq_codebook,
    )

    emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
    cb = pq_codebook(ivf_centroids(emb, 8), m=_PQ_M)
    codes = pq_assign(emb, cb, m=_PQ_M)
    return codes.groupBy("sub_j", "code").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("vec_id").alias("sample_id"),
    )


@register(
    "ann_pq_adc_topk",
    oracle=f"""
WITH {_NORM_CTE}, {_IVF_CTE}, {_PQ_CTE},
q AS (SELECT nvec AS qv FROM normed WHERE vec_id = 7),
qsubs AS (
  SELECT c.sub_j, c.code, c.cv, qv[c.sub_j*w+1 : c.sub_j*w+w] AS qsv
  FROM cbsubs c, q, w
),
qd AS (
  SELECT sub_j, code, {_L2SQ.format(a="cv", b="qsv")} AS qdist
  FROM qsubs
),
est AS (
  SELECT vec_id,
    CAST(SUM(CAST(floor(qdist * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS adc
  FROM codes JOIN qd USING (sub_j, code)
  GROUP BY vec_id
),
cand AS (
  SELECT vec_id FROM est ORDER BY adc ASC, vec_id ASC LIMIT 40
)
SELECT n.vec_id, {_L2SQ.format(a="n.nvec", b="q.qv")} AS distance
FROM normed n JOIN cand USING (vec_id), q
ORDER BY distance ASC, n.vec_id ASC
LIMIT 10
""",
    doc="PQ asymmetric-distance (ADC) search: the query stays "
    "full-precision, every corpus vector is its m-byte code, and the "
    "estimated distance is a sum of m table lookups — the classic "
    "memory-bound ANN scan (Jegou et al. TPAMI'11). Plan: the m*k* "
    "lookup table (query-vs-codeword distances) is computed once and "
    "broadcast; the corpus-side scan touches ONLY the code table "
    "(m bytes/vector, 32x less I/O than raw vectors); ADC top-40 "
    "candidates are re-scored fp64 for the exact final 10 — same "
    "candidates-then-rescore composition as the int8 and IVF tiers. "
    "ADC terms are decimal-summed so the estimate is "
    "order-independent. ROLE: CANDIDATES-ONLY / teaching tier "
    "(RECALL.json role field): the UNTRAINED stride codebook ranks "
    "at ~0.27 mean recall@10 on the isotropic fixture even with the "
    "40-deep exact re-score — this query demonstrates the ADC scan "
    "shape; production serving runs the TRAINED codebook twin "
    "ann_pq_trained_topk (mean 1.0 at its default depth).",
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.ann import pq_codebook

    # probe the PERSISTED code table (built once per corpus) — the scan
    # below touches m-byte codes, never raw vectors, until the re-score.
    # The live read keeps deletes coherent across EVERY probe path of a
    # layout (no plan change on delete-free layouts).
    path = ensure_pq_built(spark, sf_dir)
    cb = pq_codebook(read_codebook(spark, path), m=_PQ_M)
    codes = read_pq_codes(spark, path)
    emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
    q = _norm_query_vec(spark, sf_dir, 7)
    qcol = vec_lit(q)
    w = len(q) // _PQ_M
    # query-vs-codeword lookup table: m*k* rows, computed once, broadcast
    qd = cb.select(
        "sub_j",
        "code",
        l2_sq(
            F.col("cv"),
            F.slice(qcol, F.col("sub_j") * w + 1, w),
        ).alias("qdist"),
    )
    est = (
        codes.join(F.broadcast(qd), ["sub_j", "code"])
        .groupBy("vec_id")
        .agg(F.sum(fixed_point_q("qdist")).alias("adc"))
    )
    cand = est.orderBy(F.col("adc").asc(), F.col("vec_id").asc()).limit(40)
    return (
        emb.join(F.broadcast(cand.select("vec_id")), "vec_id")
        .select("vec_id", l2_sq("nvec", qcol).alias("distance"))
        .orderBy(F.col("distance").asc(), F.col("vec_id").asc())
        .limit(10)
    )


@register(
    "ann_ivf_knn_join",
    oracle=f"""
WITH {_NORM_CTE}, {_IVF_CTE},
queries AS (SELECT vec_id AS qid, nvec AS qvec FROM normed WHERE vec_id < 5),
probe AS (
  SELECT qid, cell_id FROM (
    SELECT q.qid, c.cell_id,
      row_number() OVER (
        PARTITION BY q.qid
        ORDER BY {_L2SQ.format(a="c.centroid", b="q.qvec")} ASC, c.cell_id ASC
      ) AS rn
    FROM queries q, centroids c
  ) WHERE rn <= 4
),
cand AS (
  SELECT p.qid, a.vec_id, a.nvec
  FROM probe p JOIN assigned a USING (cell_id)
)
SELECT qid, vec_id, distance FROM (
  SELECT c.qid, c.vec_id,
    {_L2SQ.format(a="c.nvec", b="q.qvec")} AS distance,
    row_number() OVER (
      PARTITION BY c.qid
      ORDER BY {_L2SQ.format(a="c.nvec", b="q.qvec")} ASC, c.vec_id ASC
    ) AS rn
  FROM cand c JOIN queries q USING (qid)
) WHERE rn <= 5
""",
    doc="Approximate kNN JOIN through the IVF index — the batch "
    "primitive behind embedding dedup / retrieval at scale: EVERY "
    "query in a batch gets its nprobe nearest cells (broadcast "
    "codebook, per-query rank — the probe set is |queries| x nprobe "
    "rows, bounded by construction -> broadcast), then ONE equi-join "
    "on cell_id against the cell-assigned corpus (at 100 TB: the "
    "persisted cell-PARTITIONED layout, so only probed cells' files "
    "are read), exact distance + WindowGroupLimit top-k per query. "
    "The corpus is scanned once for the whole batch — vs once per "
    "query in the single-probe path — and never shuffles: the "
    "bounded probe side moves instead.",
)
def ann_ivf_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.ann import ivf_knn_join_probe

    # probe the PERSISTED ivf_build layout — the build is never re-run
    # inside the query; the shared ivf_knn_join_probe operator also
    # backs the streaming serving job, so batch and online semantics
    # cannot drift
    path = ensure_ivf_built(spark, sf_dir, n_cells=8)
    emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("nvec").alias("qvec")
    )
    return ivf_knn_join_probe(spark, path, queries, k=5, nprobe=4)


@register(
    "ann_ivf_pq_topk",
    oracle=f"""
WITH {_NORM_CTE}, {_IVF_CTE},
q AS (SELECT nvec AS qv FROM normed WHERE vec_id = 11),
probe AS (
  SELECT cell_id FROM centroids, q
  ORDER BY {_L2SQ.format(a="centroid", b="qv")} ASC, cell_id ASC
  LIMIT 4
),
pruned AS (
  SELECT a.vec_id, a.nvec FROM assigned a
  WHERE a.cell_id IN (SELECT cell_id FROM probe)
),
{_pq_sql("pruned").strip().rstrip()},
qsubs AS (
  SELECT c.sub_j, c.code, c.cv, qv[c.sub_j*w+1 : c.sub_j*w+w] AS qsv
  FROM cbsubs c, q, w
),
qd AS (
  SELECT sub_j, code, {_L2SQ.format(a="cv", b="qsv")} AS qdist FROM qsubs
),
est AS (
  SELECT vec_id,
    CAST(SUM(CAST(floor(qdist * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS adc
  FROM codes JOIN qd USING (sub_j, code)
  GROUP BY vec_id
),
cand AS (SELECT vec_id FROM est ORDER BY adc ASC, vec_id ASC LIMIT 30)
SELECT p.vec_id, {_L2SQ.format(a="p.nvec", b="q.qv")} AS distance
FROM pruned p JOIN cand USING (vec_id), q
ORDER BY distance ASC, p.vec_id ASC
LIMIT 10
""",
    doc="Triple-composed ANN: IVF partition pruning x PQ/ADC code scan "
    "x fp64 re-score. The probe reads nprobe/n_cells of the FILES "
    "(persisted cell-partitioned layout), scores ONLY the m-byte PQ "
    "codes of the pruned slice against the broadcast query-codeword "
    "lookup table (32x less I/O than raw vectors), and re-scores the "
    "ADC top-30 at full precision. Selectivity (nprobe), memory (PQ), "
    "and exactness (re-score depth) are three independent knobs that "
    "stack because each acts before the next — same composition law "
    "as ann_ivf_int8_topk, one tier deeper.",
)
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.ann import (
        ivf_probe_cells,
        pq_codebook,
    )

    path = ensure_pq_built(spark, sf_dir, n_cells=8)
    q = _norm_query_vec(spark, sf_dir, 11)
    qcol = vec_lit(q)
    probed = ivf_probe_cells(spark, path, q, nprobe=4)
    pruned = read_cells(spark, path, probed).filter(
        F.col("cell_id").isin(probed)
    )
    cb = pq_codebook(read_codebook(spark, path), m=8)
    # the ADC scan reads the PERSISTED cell-partitioned code table with
    # the same partition filter — m bytes/vector, no raw vectors until
    # the re-score (a live read like every probe path)
    codes = read_pq_codes(spark, path, probed).filter(
        F.col("cell_id").isin(probed)
    )
    w = len(q) // 8
    qd = cb.select(
        "sub_j",
        "code",
        l2_sq(F.col("cv"), F.slice(qcol, F.col("sub_j") * w + 1, w)).alias("qdist"),
    )
    est = (
        codes.join(F.broadcast(qd), ["sub_j", "code"])
        .groupBy("vec_id")
        .agg(F.sum(fixed_point_q("qdist")).alias("adc"))
    )
    cand = est.orderBy(F.col("adc").asc(), F.col("vec_id").asc()).limit(30)
    return (
        pruned.join(F.broadcast(cand.select("vec_id")), "vec_id")
        .select("vec_id", l2_sq("nvec", qcol).alias("distance"))
        .orderBy(F.col("distance").asc(), F.col("vec_id").asc())
        .limit(10)
    )
