"""Trained-codebook PQ tier (SURVEY §4; Jegou et al. TPAMI'11 §III).

The stride PQ codebook in queries_ann.py is an untrained placeholder —
deliberately SQL-derivable, but its ADC ranking on the isotropic
fixture is weak (RECALL.json documents the floor: mean 0.27 at the
default rescore depth). This module adds the tier a production
deployment actually runs: per-subspace k-means codebooks trained with
Lloyd iterations, persisted into the IVF layout once per corpus
version, probed via the identical ADC-then-rescore composition. On the
same fixture the trained tier reaches recall@10 ≥ 0.95 at the default
knobs (m=16, k*=128, 5 iterations, rescore depth 120) — the BASELINE.md
quality gate the reference meets with HNSW M=32/efSearch=300
(/root/reference/main.py:30-31).

Cross-engine determinism (how a TRAINED model can still hash-match a
DuckDB oracle): every Lloyd update is a fixed-point integer sum
(order-independent) dequantized as ``double(sum_q)/double(n)/1e9`` —
pure IEEE ops both engines perform bit-identically — and every
assignment breaks ties lexicographically on (distance, code). The
oracle replays the same 5 iterations as generated chained CTEs
(:func:`_trained_cb_chain`); the engine trains distributed
(operators/ann.py pq_train_codebook) with the codebook — a bounded
model, never data — collected per iteration.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cnc_visionsearch_spark.operators.ann import (
    read_cells,
    read_pq_codes,
    read_pq_trained_codebook,
)
from cnc_visionsearch_spark.functions.vector import (
    FIXED_POINT_SQL,
    fixed_point_q,
    l2_sq,
    vec_lit,
)
from cnc_visionsearch_spark.operators.knn import with_normalized
from cnc_visionsearch_spark.queries_ann import (
    _DIM,
    _IVF_CTE,
    _L2SQ,
    _NORM_CTE,
    _norm_query_vec,
    artifact_path,
    build_once,
    ensure_ivf_built,
)
from cnc_visionsearch_spark.registry import register
from cnc_visionsearch_spark.session import local_frame
from cnc_visionsearch_spark.sources.catalog import load_table

_M = 16  # subspaces (width 4 at dim=64): finer than the stride tier's 8
_KSTAR = 128  # codewords per subspace
_ITERS = 5  # Lloyd iterations — recall saturates by 5 on the fixture
_DEPTH = 120  # ADC candidate depth re-scored fp64 (6% of sf0.1 corpus)
_TRAIN_CAP = 100_000  # FAISS-style bounded training sample


def _trained_cb_chain(
    train_where: str = "",
    m: int | None = None,
    k_star: int | None = None,
    iters: int | None = None,
) -> str:
    """The trained codebook as a generated CTE chain ending in
    ``cbt(sub_j, code, cv)`` — one Lloyd iteration per block, exactly
    the arithmetic of operators/ann.py pq_train_codebook. Assumes a
    preceding ``normed`` CTE. DuckDB list slices are 1-based
    end-inclusive: ``v[j*w+1 : j*w+w]`` is subvector ``j``. With
    ``m=1`` the "subspace" is the whole vector and the chain trains a
    COARSE quantizer (the IVF codebook) instead of a product one —
    identical arithmetic, different geometry. Every CTE read more than
    once (by the chain or by the oracles around it) is MATERIALIZED:
    inlined, ``cb{i}``'s two readers would double the work of every
    earlier iteration, 2^iters-fold in all.
    """
    m = _M if m is None else m
    k_star = _KSTAR if k_star is None else k_star
    iters = _ITERS if iters is None else iters
    fx = FIXED_POINT_SQL.format(x="x")
    where = f" WHERE {train_where}" if train_where else ""
    parts = [
        f"""
tw AS MATERIALIZED (SELECT CAST(len(nvec) // {m} AS INT) AS w FROM normed LIMIT 1),
tsubs AS MATERIALIZED (
  SELECT vec_id, j.j AS sub_j, nvec[j.j*w+1 : j.j*w+w] AS sv
  FROM normed, tw, (SELECT unnest(range({m})) AS j) j
),
tsrc AS MATERIALIZED (SELECT vec_id, sub_j, sv FROM tsubs{where}),
tstr AS (SELECT greatest((max(vec_id) + 1) // {_TRAIN_CAP}, 1) AS ts FROM tsrc),
train AS MATERIALIZED (
  SELECT t.vec_id, t.sub_j, t.sv FROM tsrc t, tstr WHERE t.vec_id % ts = 0
),
kstr AS (SELECT greatest(max(vec_id) // {k_star}, 1) AS s FROM tsrc),
cb0 AS MATERIALIZED (
  SELECT CAST(t.vec_id // s AS INT) AS code, t.sub_j, t.sv AS cv
  FROM train t, kstr WHERE t.vec_id % s = 0 AND t.vec_id // s < {k_star}
)"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        mat = " MATERIALIZED" if i < iters else ""  # cb{iters}: cbt only
        parts.append(
            f""",
asg{i} AS (
  SELECT t.vec_id, t.sub_j,
    min(struct_pack(d := {_L2SQ.format(a="t.sv", b="c.cv")}, c := c.code)).c AS code
  FROM train t JOIN cb{p} c USING (sub_j)
  GROUP BY t.vec_id, t.sub_j
),
ex{i} AS (
  SELECT a.sub_j, a.code, unnest(range(1, len(t.sv) + 1)) - 1 AS dim,
    unnest(t.sv) AS x
  FROM asg{i} a JOIN train t ON a.vec_id = t.vec_id AND a.sub_j = t.sub_j
),
agg{i} AS (
  SELECT sub_j, code, dim, CAST(count(*) AS BIGINT) AS n,
    CAST(SUM({fx}) AS BIGINT) AS sum_q
  FROM ex{i} GROUP BY sub_j, code, dim
),
upd{i} AS (
  SELECT sub_j, code,
    list(CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE) / 1000000000.0 ORDER BY dim) AS cv
  FROM agg{i} GROUP BY sub_j, code
),
cb{i} AS{mat} (
  SELECT o.sub_j, o.code, coalesce(u.cv, o.cv) AS cv
  FROM cb{p} o LEFT JOIN upd{i} u ON o.sub_j = u.sub_j AND o.code = u.code
)"""
        )
    parts.append(f",\ncbt AS MATERIALIZED (SELECT sub_j, code, cv FROM cb{iters})")
    return "".join(parts)


_CBT_CHAIN = _trained_cb_chain()

# full-corpus code assignment under the trained codebook
_FCODES_CTE = f"""
fcodes AS (
  SELECT s.vec_id, s.sub_j,
    min(struct_pack(d := {_L2SQ.format(a="s.sv", b="c.cv")}, c := c.code)).c AS code
  FROM tsubs s JOIN cbt c USING (sub_j)
  GROUP BY s.vec_id, s.sub_j
)
"""


def ensure_pq_trained_built(spark: SparkSession, sf_dir: str) -> str:
    """Idempotent trained-PQ build over the IVF layout: train the
    codebook + persist the cell-partitioned code table once per
    (corpus content, geometry); probes only read artifacts."""
    from cnc_visionsearch_spark.operators.ann import pq_trained_build

    path = ensure_ivf_built(spark, sf_dir, n_cells=8)
    marker = os.path.join(
        path, f"_PQ_TRAINED_m{_M}_k{_KSTAR}_t{_ITERS}"
    )
    if not os.path.exists(marker):
        pq_trained_build(spark, path, m=_M, k_star=_KSTAR, iters=_ITERS)
        open(marker, "w").close()
    return path


@register(
    "ann_pq_trained_topk",
    oracle=f"""
WITH {_NORM_CTE}, {_CBT_CHAIN}, {_FCODES_CTE},
q AS (SELECT nvec AS qv FROM normed WHERE vec_id = 11),
lut AS (
  SELECT c.sub_j, c.code,
    {_L2SQ.format(a="c.cv", b="qv[c.sub_j*w+1 : c.sub_j*w+w]")} AS qdist
  FROM cbt c, q, tw
),
est AS (
  SELECT vec_id,
    CAST(SUM({FIXED_POINT_SQL.format(x="qdist")}) AS BIGINT) AS adc
  FROM fcodes JOIN lut USING (sub_j, code)
  GROUP BY vec_id
),
cand AS (SELECT vec_id FROM est ORDER BY adc ASC, vec_id ASC LIMIT {_DEPTH})
SELECT n.vec_id, {_L2SQ.format(a="n.nvec", b="q.qv")} AS distance
FROM normed n JOIN cand USING (vec_id), q
ORDER BY distance ASC, n.vec_id ASC
LIMIT 10
""",
    doc="ADC search over the TRAINED per-subspace k-means codebook "
    "(m=16, k*=128, 5 bit-stable Lloyd iterations — operators/ann.py "
    "pq_train_codebook), probing the persisted pq_trained_codes "
    "artifact. Same memory-bound scan shape as ann_pq_adc_topk — "
    "broadcast m*k* lookup table, m-byte codes, order-independent "
    "fixed-point ADC sums, fp64 re-score of the top candidates — but "
    "the trained codewords lift ADC recall@10 from the stride tier's "
    "~0.27 to >= 0.95 at rescore depth 120 (RECALL.json), meeting the "
    "BASELINE.md quality gate the reference hits with HNSW "
    "M=32/efSearch=300. The training cost is one bounded-sample build "
    "per corpus version; the query plan is unchanged.",
)
def ann_pq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = ensure_pq_trained_built(spark, sf_dir)
    cb = read_pq_trained_codebook(spark, path)
    codes = read_pq_codes(spark, path, trained=True)
    emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
    q = _norm_query_vec(spark, sf_dir, 11)
    qcol = vec_lit(q)
    w = len(q) // _M
    lut = cb.select(
        "sub_j",
        "code",
        l2_sq(F.col("cv"), F.slice(qcol, F.col("sub_j") * w + 1, w)).alias(
            "qdist"
        ),
    )
    est = (
        codes.join(F.broadcast(lut), ["sub_j", "code"])
        .groupBy("vec_id")
        .agg(F.sum(fixed_point_q("qdist")).alias("adc"))
    )
    cand = est.orderBy(F.col("adc").asc(), F.col("vec_id").asc()).limit(_DEPTH)
    return (
        emb.join(F.broadcast(cand.select("vec_id")), "vec_id")
        .select("vec_id", l2_sq("nvec", qcol).alias("distance"))
        .orderBy(F.col("distance").asc(), F.col("vec_id").asc())
        .limit(10)
    )


@register(
    "ann_pq_trained_distortion",
    oracle=f"""
WITH {_NORM_CTE}, {_CBT_CHAIN},
tderr AS (
  SELECT s.sub_j,
    min(struct_pack(d := {_L2SQ.format(a="s.sv", b="c.cv")}, c := c.code)) AS mn
  FROM tsubs s JOIN cbt c USING (sub_j)
  GROUP BY s.vec_id, s.sub_j
),
trained AS (
  SELECT sub_j,
    CAST(count(DISTINCT mn.c) AS BIGINT) AS n_codes_trained,
    CAST(SUM({FIXED_POINT_SQL.format(x="mn.d")}) AS BIGINT) AS err_q_trained
  FROM tderr GROUP BY sub_j
),
iderr AS (
  SELECT s.sub_j,
    min(struct_pack(d := {_L2SQ.format(a="s.sv", b="c.cv")}, c := c.code)) AS mn
  FROM tsubs s JOIN cb0 c USING (sub_j)
  GROUP BY s.vec_id, s.sub_j
),
init AS (
  SELECT sub_j,
    CAST(count(DISTINCT mn.c) AS BIGINT) AS n_codes_init,
    CAST(SUM({FIXED_POINT_SQL.format(x="mn.d")}) AS BIGINT) AS err_q_init
  FROM iderr GROUP BY sub_j
)
SELECT t.sub_j, t.n_codes_trained, t.err_q_trained, i.n_codes_init,
  i.err_q_init
FROM trained t JOIN init i ON t.sub_j = i.sub_j
""",
    doc="Training-effectiveness audit for the trained PQ tier: "
    "per-subspace codebook utilization and total quantization "
    "distortion (exact fixed-point sums) under the TRAINED codebook "
    "vs the stride INITIALIZATION it started from — the evidence a "
    "PQ build job emits to prove the Lloyd iterations moved the "
    "codebook (distortion strictly drops on every subspace; "
    "tests/test_ann_trained.py asserts it). Two assign passes over "
    "the corpus subvectors, both broadcast-codebook scans keyed "
    "(vec_id, sub_j); output is m rows.",
)
def ann_pq_trained_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.ann import pq_codebook, pq_subvectors

    path = ensure_pq_trained_built(spark, sf_dir)
    emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
    subs = pq_subvectors(emb, _M)
    trained_cb = read_pq_trained_codebook(spark, path)
    # init codebook reconstructed EXACTLY like the oracle's cb0: stride
    # s from the full-corpus max id, membership additionally filtered
    # to the ts training sample — ivf_centroids(emb, ...) alone would
    # skip the ts filter and diverge once the corpus exceeds _TRAIN_CAP
    max_id = int(emb.agg(F.max("vec_id")).first()[0])
    ts = max((max_id + 1) // _TRAIN_CAP, 1)
    s = max(max_id // _KSTAR, 1)
    init_vecs = emb.filter(
        (F.col("vec_id") % ts == 0)
        & (F.col("vec_id") % s == 0)
        & (F.col("vec_id") / s < _KSTAR)
    ).select(
        (F.col("vec_id") / s).cast("int").alias("cell_id"),
        F.col("nvec").alias("centroid"),
    )
    init_cb = pq_codebook(init_vecs, m=_M)

    def per_subspace(cb: DataFrame, n_alias: str, e_alias: str) -> DataFrame:
        mn = (
            subs.join(F.broadcast(cb), "sub_j")
            .select(
                "vec_id",
                "sub_j",
                F.struct(
                    l2_sq("sv", "cv").alias("d"), F.col("code").alias("c")
                ).alias("dc"),
            )
            .groupBy("vec_id", "sub_j")
            .agg(F.min("dc").alias("mn"))
        )
        return mn.groupBy("sub_j").agg(
            F.countDistinct("mn.c").alias(n_alias),
            F.sum(fixed_point_q("mn.d")).alias(e_alias),
        )

    t = per_subspace(trained_cb, "n_codes_trained", "err_q_trained")
    i = per_subspace(init_cb, "n_codes_init", "err_q_init")
    return t.join(i, "sub_j").select(
        "sub_j",
        "n_codes_trained",
        "err_q_trained",
        "n_codes_init",
        "err_q_init",
    )


# -------------------------------------------- frozen-codebook append path

_APPEND_SPLIT = 400  # head = vec_id < 400 trains; tail appends frozen


def ensure_pq_trained_appended(spark: SparkSession, sf_dir: str) -> str:
    """Idempotent APPENDED trained-PQ layout: build (IVF + trained
    codebook + codes) over the head of the corpus, then append the tail
    against the FROZEN codebooks — materializing the living-corpus
    lifecycle so a registered probe can hash-gate it."""
    from cnc_visionsearch_spark.operators.ann import (
        ivf_append,
        ivf_build,
        pq_trained_append,
        pq_trained_build,
    )

    def build(path):
        emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
        head = emb.filter(F.col("vec_id") < _APPEND_SPLIT)
        tail = emb.filter(F.col("vec_id") >= _APPEND_SPLIT)
        ivf_build(head, path, n_cells=8)
        pq_trained_build(spark, path, m=_M, k_star=_KSTAR, iters=_ITERS)
        ivf_append(spark, path, tail)
        pq_trained_append(spark, path, tail, m=_M)

    return build_once(
        artifact_path(sf_dir, f"ivf_trained_app_m{_M}_k{_KSTAR}_t{_ITERS}"), build
    )


@register(
    "ann_pq_trained_append_histogram",
    oracle=f"""
WITH {_NORM_CTE}, {_trained_cb_chain(f"vec_id < {_APPEND_SPLIT}")}, {_FCODES_CTE}
SELECT sub_j, code, CAST(count(*) AS BIGINT) AS n_vectors,
  CAST(min(vec_id) AS BIGINT) AS sample_id
FROM fcodes GROUP BY sub_j, code
""",
    doc="The trained tier's living-corpus contract under the hash "
    "gate: the codebook TRAINS on the head of the corpus (vec_id < "
    "400), the tail arrives later and is encoded by pq_trained_append "
    "against the FROZEN codebook — so the appended code table must "
    "equal a one-shot encode of the union under the head-trained "
    "codebook, which is exactly what the oracle computes (training "
    "CTEs restricted to the head, final assignment over everything). "
    "The probe reads only the persisted appended layout. Same "
    "contract the stride tier pins with ann_pq_append_code_histogram; "
    "here the MODEL itself (not just the codes) came from the "
    "truncated history, mirroring how FAISS trains once on an early "
    "sample and encodes every later add.",
)
def ann_pq_trained_append_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    path = ensure_pq_trained_appended(spark, sf_dir)
    codes = read_pq_codes(spark, path, trained=True)
    return codes.groupBy("sub_j", "code").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("vec_id").alias("sample_id"),
    )


# ------------------------------------------------------- radius search


@register(
    "ann_ivf_range_search",
    oracle=f"""
WITH {_NORM_CTE},
q AS (SELECT nvec AS qv FROM normed WHERE vec_id = 5)
SELECT n.vec_id, {_L2SQ.format(a="n.nvec", b="q.qv")} AS distance
FROM normed n, q
WHERE {_L2SQ.format(a="n.nvec", b="q.qv")} <= 1.55
""",
    doc="Radius (range) search — the FAISS range_search analog the "
    "reference's HNSW index family also exposes: every vector within "
    "squared-L2 1.55 of the query. The engine probes the persisted "
    "IVF layout with TRIANGLE-INEQUALITY cell pruning (skip cell c "
    "when d(q, centroid_c) - radius_c > R, radii from ivf_cell_radii) "
    "— pruning is mathematically lossless, so the oracle is simply "
    "the FLAT scan and the hash-match PROVES no in-range vector was "
    "pruned. On the isotropic fixture the untrained cells are wide "
    "and pruning rarely fires (documented; "
    "tests/test_ann_trained.py::test_range_search_prunes_clustered_cells "
    "shows the skip on clustered data, where probing reads a fraction "
    "of the partitions). Scan cost: pruned cell partitions only, "
    "codegen distance filter, no shuffle, no top-k ordering — range "
    "semantics return the full in-radius set.",
)
def ann_ivf_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.ann import ivf_range_search

    path = ensure_ivf_built(spark, sf_dir, n_cells=8)
    q = _norm_query_vec(spark, sf_dir, 5)
    return ivf_range_search(spark, path, q, r2=1.55)


# --------------------------------------------- trained COARSE quantizer


def ensure_ivf_trained_built(spark: SparkSession, sf_dir: str) -> str:
    """Idempotent IVF layout whose codebook is k-means TRAINED (m=1
    Lloyd chain over whole vectors) instead of the stride placeholder —
    the production coarse quantizer, plugged in through ivf_build's
    trained-codebook slot. Probe/append/delete semantics are identical;
    only centroid quality differs."""
    from cnc_visionsearch_spark.operators.ann import (
        ivf_build,
        pq_train_codebook,
    )

    def build(path):
        emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
        rows = pq_train_codebook(emb, m=1, k_star=8, iters=_ITERS)
        cents = local_frame(
            spark, [(code, cv) for _sj, code, cv in rows],
            "cell_id int, centroid array<double>",
        )
        ivf_build(emb, path, n_cells=8, centroids=cents)

    return build_once(artifact_path(sf_dir, f"ivf_trained_c8_t{_ITERS}"), build)


@register(
    "ann_ivf_trained_topk",
    oracle=f"""
WITH {_NORM_CTE}, {_trained_cb_chain(m=1, k_star=8)},
centroids AS (SELECT code AS cell_id, cv AS centroid FROM cbt),
assigned AS (
  SELECT vec_id, cell_id, nvec FROM (
    SELECT n.vec_id, c.cell_id, n.nvec,
      row_number() OVER (
        PARTITION BY n.vec_id
        ORDER BY {_L2SQ.format(a="n.nvec", b="c.centroid")} ASC, c.cell_id ASC
      ) AS rn
    FROM normed n, centroids c
  ) WHERE rn = 1
),
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
    doc="IVF probe over a layout whose COARSE quantizer is k-means "
    "TRAINED (5 bit-stable Lloyd iterations over whole vectors — the "
    "m=1 degenerate of the PQ training chain), plugged in through "
    "ivf_build's trained-codebook slot. This closes the loop the "
    "stride tier documents ('at real scale you'd train k-means once "
    "and broadcast it'): the full production configuration — trained "
    "codebook, partitioned layout, nprobe=4 partition-pruned probe — "
    "under the hash gate, oracle replaying the coarse training as "
    "chained CTEs. On clustered production data THIS is the layout "
    "whose nprobe recall beats the stride cells; on the isotropic "
    "fixture the gain is structural, not recall (RECALL.json notes).",
)
def ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.ann import ivf_probe

    path = ensure_ivf_trained_built(spark, sf_dir)
    q = _norm_query_vec(spark, sf_dir, 3)
    return ivf_probe(spark, path, q, k=10, nprobe=4)


@register(
    "ann_ivf_pq_trained_topk",
    oracle=f"""
WITH {_NORM_CTE}, {_IVF_CTE}, {_CBT_CHAIN}, {_FCODES_CTE},
q AS (SELECT nvec AS qv FROM normed WHERE vec_id = 21),
probe AS (
  SELECT cell_id FROM centroids, q
  ORDER BY {_L2SQ.format(a="centroid", b="qv")} ASC, cell_id ASC
  LIMIT 7
),
pruned AS (
  SELECT a.vec_id, a.nvec FROM assigned a
  WHERE a.cell_id IN (SELECT cell_id FROM probe)
),
lut AS (
  SELECT c.sub_j, c.code,
    {_L2SQ.format(a="c.cv", b="qv[c.sub_j*w+1 : c.sub_j*w+w]")} AS qdist
  FROM cbt c, q, tw
),
est AS (
  SELECT f.vec_id,
    CAST(SUM({FIXED_POINT_SQL.format(x="qdist")}) AS BIGINT) AS adc
  FROM fcodes f JOIN pruned p USING (vec_id) JOIN lut USING (sub_j, code)
  GROUP BY f.vec_id
),
cand AS (SELECT vec_id FROM est ORDER BY adc ASC, vec_id ASC LIMIT {_DEPTH})
SELECT p.vec_id, {_L2SQ.format(a="p.nvec", b="q.qv")} AS distance
FROM pruned p JOIN cand USING (vec_id), q
ORDER BY distance ASC, p.vec_id ASC
LIMIT 10
""",
    doc="The PRODUCTION composed probe: IVF partition pruning x "
    "TRAINED-codebook PQ/ADC x fp64 re-score — the trained twin of "
    "ann_ivf_pq_topk (whose stride codebook is a documented-weak "
    "placeholder, RECALL.json pq mean 0.27). nprobe=7 prunes the cell "
    "partitions of BOTH the m-byte trained code table and the raw "
    "vectors; the ADC scan reads only probed cells' codes against the "
    f"broadcast m*k* lookup table; the ADC top-{_DEPTH} re-scores at "
    "full precision. Composed recall@10 at these defaults is gated "
    ">= 0.95 in tests/test_ann_trained.py and recorded in RECALL.json "
    "(ivf_pq_trained_composed) — this is the default the bench tracks "
    "and the configuration a 100 TB deployment runs.",
)
def ann_ivf_pq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.ann import (
        DEFAULT_NPROBE,
        ivf_probe_cells,
    )

    path = ensure_pq_trained_built(spark, sf_dir)
    q = _norm_query_vec(spark, sf_dir, 21)
    qcol = vec_lit(q)
    probed = ivf_probe_cells(spark, path, q, nprobe=DEFAULT_NPROBE)
    cb = read_pq_trained_codebook(spark, path)
    codes = read_pq_codes(spark, path, probed, trained=True).filter(
        F.col("cell_id").isin(probed)
    )
    w = _DIM // _M
    lut = cb.select(
        "sub_j",
        "code",
        l2_sq(F.col("cv"), F.slice(qcol, F.col("sub_j") * w + 1, w)).alias(
            "qdist"
        ),
    )
    est = (
        codes.join(F.broadcast(lut), ["sub_j", "code"])
        .groupBy("vec_id")
        .agg(F.sum(fixed_point_q("qdist")).alias("adc"))
    )
    cand = est.orderBy(F.col("adc").asc(), F.col("vec_id").asc()).limit(_DEPTH)
    pruned = read_cells(spark, path, probed).filter(
        F.col("cell_id").isin(probed)
    )
    return (
        pruned.join(F.broadcast(cand.select("vec_id")), "vec_id")
        .select("vec_id", l2_sq("nvec", qcol).alias("distance"))
        .orderBy(F.col("distance").asc(), F.col("vec_id").asc())
        .limit(10)
    )



@register(
    "ann_pq_trained_knn_join",
    oracle=f"""
WITH {_NORM_CTE}, {_CBT_CHAIN}, {_FCODES_CTE},
qs AS (
  SELECT vec_id AS qid, nvec AS qv FROM normed WHERE vec_id < 4
),
qsubs AS (
  SELECT q.qid, c.sub_j, c.code,
    {_L2SQ.format(a="c.cv", b="q.qv[c.sub_j*w+1 : c.sub_j*w+w]")} AS qdist
  FROM cbt c, qs q, tw
),
est AS (
  SELECT q.qid, f.vec_id,
    CAST(SUM({FIXED_POINT_SQL.format(x="q.qdist")}) AS BIGINT) AS adc
  FROM fcodes f JOIN qsubs q USING (sub_j, code)
  GROUP BY q.qid, f.vec_id
),
cand AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
      row_number() OVER (PARTITION BY qid ORDER BY adc ASC, vec_id ASC) AS rn
    FROM est
  ) WHERE rn <= 60
)
SELECT qid, vec_id, distance FROM (
  SELECT c.qid, n.vec_id,
    {_L2SQ.format(a="n.nvec", b="q.qv")} AS distance,
    row_number() OVER (
      PARTITION BY c.qid
      ORDER BY {_L2SQ.format(a="n.nvec", b="q.qv")} ASC, n.vec_id ASC
    ) AS rn
  FROM cand c JOIN normed n USING (vec_id) JOIN qs q ON q.qid = c.qid
) WHERE rn <= 5
""",
    doc="Batch kNN JOIN through the TRAINED-PQ tier: every query in a "
    "batch scans the m-byte code table ONCE (the per-query lookup "
    "tables — |queries| x m x k* rows, bounded — broadcast; ADC "
    "estimates are order-free fixed-point sums per (query, vector)), "
    "ADC top-60 per query re-scored fp64, WindowGroupLimit top-5. "
    "This is the trained tier's join primitive — the shape embedding "
    "dedup and retrieval fan-outs run at 100 TB, where the corpus "
    "side is 16 bytes/vector instead of raw vectors (16x less I/O "
    "than the exact batch join) and recall rides the trained "
    "codebook (RECALL.json). Completes the trained tier's surface: "
    "single probe, append lifecycle, streaming coherence, and now "
    "the batch join, all hash-gated.",
)
def ann_pq_trained_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    path = ensure_pq_trained_built(spark, sf_dir)
    cb = read_pq_trained_codebook(spark, path)
    codes = read_pq_codes(spark, path, trained=True)
    emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("nvec").alias("qv")
    )
    w = _DIM // _M
    luts = (
        queries.crossJoin(F.broadcast(cb))
        .select(
            "qid",
            "sub_j",
            "code",
            l2_sq(F.col("cv"), F.slice(F.col("qv"), F.col("sub_j") * w + 1, w)).alias(
                "qdist"
            ),
        )
    )
    est = (
        codes.join(F.broadcast(luts), ["sub_j", "code"])
        .groupBy("qid", "vec_id")
        .agg(F.sum(fixed_point_q("qdist")).alias("adc"))
    )
    wr = Window.partitionBy("qid").orderBy(F.col("adc").asc(), F.col("vec_id").asc())
    cand = est.withColumn("rn", F.row_number().over(wr)).filter(F.col("rn") <= 60)
    wd = Window.partitionBy("qid").orderBy(
        l2_sq("nvec", "qv").asc(), F.col("vec_id").asc()
    )
    return (
        F.broadcast(cand.select("qid", "vec_id"))
        .join(emb, "vec_id")
        .join(F.broadcast(queries), "qid")
        .withColumn("distance", l2_sq("nvec", "qv"))
        .withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") <= 5)
        .select("qid", "vec_id", "distance")
    )


# ---------------------------------------------------------------------------
# residual quantizer (RQ) tier — two-level trained codec

_RQ_K1 = 16  # coarse codewords (= IVF cells: level 1 partitions rq_codes)
_RQ_K2 = 32  # residual codewords
_RQ_ITERS = 3  # Lloyd iterations per level
_RQ_NPROBE = 4  # coarse cells probed
_RQ_DEPTH = 80  # reconstruction-ranked candidates rescored fp64


def _rq_km_chain(pfx: str, src: str, vcol: str, k: int, iters: int) -> str:
    """One whole-vector k-means as a generated CTE chain ending in
    ``{pfx}cbt(code, cv)`` — the m=1 specialization of
    :func:`_trained_cb_chain` with every CTE name prefixed, so TWO
    chains (coarse + residual) compose in one oracle. Arithmetic is
    exactly operators/ann.py pq_train_codebook's: id-stride init and
    training sample, (distance, code) struct-min assignment,
    fixed-point integer centroid sums."""
    fx = FIXED_POINT_SQL.format(x="x")
    parts = [
        f"""
{pfx}tstr AS (
  SELECT greatest((max(vec_id) + 1) // {_TRAIN_CAP}, 1) AS ts FROM {src}
),
{pfx}train AS MATERIALIZED (
  SELECT s.vec_id, s.{vcol} AS v FROM {src} s, {pfx}tstr
  WHERE s.vec_id % ts = 0
),
{pfx}kstr AS (SELECT greatest(max(vec_id) // {k}, 1) AS s FROM {src}),
{pfx}cb0 AS MATERIALIZED (
  SELECT CAST(t.vec_id // s AS INT) AS code, t.v AS cv
  FROM {pfx}train t, {pfx}kstr
  WHERE t.vec_id % s = 0 AND t.vec_id // s < {k}
)"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f""",
{pfx}asg{i} AS (
  SELECT t.vec_id,
    min(struct_pack(d := {_L2SQ.format(a="t.v", b="c.cv")}, c := c.code)).c
      AS code
  FROM {pfx}train t, {pfx}cb{p} c
  GROUP BY t.vec_id
),
{pfx}ex{i} AS (
  SELECT a.code, unnest(range(1, len(t.v) + 1)) - 1 AS dim, unnest(t.v) AS x
  FROM {pfx}asg{i} a JOIN {pfx}train t USING (vec_id)
),
{pfx}agg{i} AS (
  SELECT code, dim, CAST(count(*) AS BIGINT) AS n,
    CAST(SUM({fx}) AS BIGINT) AS sum_q
  FROM {pfx}ex{i} GROUP BY code, dim
),
{pfx}upd{i} AS (
  SELECT code,
    list(CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE) / 1000000000.0
         ORDER BY dim) AS cv
  FROM {pfx}agg{i} GROUP BY code
),
{pfx}cb{i} AS MATERIALIZED (
  SELECT o.code, coalesce(u.cv, o.cv) AS cv
  FROM {pfx}cb{p} o LEFT JOIN {pfx}upd{i} u USING (code)
)"""
        )
    parts.append(f",\n{pfx}cbt AS MATERIALIZED (SELECT code, cv FROM {pfx}cb{iters})")
    return "".join(parts)


# the shared RQ model + code-assignment CTE block: coarse chain ->
# full-corpus coarse assignment -> residuals -> residual chain ->
# full-corpus residual assignment
_RQ_MODEL_CTES = f"""{_rq_km_chain("r1", "normed", "nvec", _RQ_K1, _RQ_ITERS)},
r1asgf AS MATERIALIZED (
  SELECT n.vec_id,
    min(struct_pack(d := {_L2SQ.format(a="n.nvec", b="c.cv")}, c := c.code)).c
      AS c1
  FROM normed n, r1cbt c GROUP BY n.vec_id
),
res AS MATERIALIZED (
  SELECT n.vec_id,
    list_transform(range(1, len(n.nvec) + 1), i -> n.nvec[i] - c.cv[i])
      AS rvec
  FROM normed n JOIN r1asgf a USING (vec_id) JOIN r1cbt c ON c.code = a.c1
),{_rq_km_chain("r2", "res", "rvec", _RQ_K2, _RQ_ITERS)},
r2asgf AS MATERIALIZED (
  SELECT r.vec_id,
    min(struct_pack(d := {_L2SQ.format(a="r.rvec", b="c.cv")}, c := c.code)).c
      AS c2
  FROM res r, r2cbt c GROUP BY r.vec_id
)"""


def ensure_rq(spark: SparkSession, sf_dir: str) -> str:
    from cnc_visionsearch_spark.operators.rq import ensure_rq_built

    path = ensure_ivf_built(spark, sf_dir, n_cells=8)
    emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
    return ensure_rq_built(
        spark, path, emb, k1=_RQ_K1, k2=_RQ_K2, iters=_RQ_ITERS
    )


@register(
    "ann_rq_trained_topk",
    oracle=f"""
WITH {_NORM_CTE}, {_RQ_MODEL_CTES},
q AS (SELECT nvec AS qv FROM normed WHERE vec_id = 11),
cells AS (
  SELECT code AS c1 FROM r1cbt, q
  ORDER BY {_L2SQ.format(a="cv", b="qv")} ASC, code ASC LIMIT {_RQ_NPROBE}
),
cand0 AS (
  SELECT a1.vec_id,
    list_transform(range(1, len(b1.cv) + 1), i -> b1.cv[i] + b2.cv[i])
      AS recon
  FROM r1asgf a1
  JOIN cells USING (c1)
  JOIN r2asgf a2 USING (vec_id)
  JOIN r1cbt b1 ON b1.code = a1.c1
  JOIN r2cbt b2 ON b2.code = a2.c2
),
cand AS (
  SELECT c.vec_id FROM cand0 c, q
  ORDER BY {_L2SQ.format(a="c.recon", b="qv")} ASC, c.vec_id ASC
  LIMIT {_RQ_DEPTH}
)
SELECT n.vec_id, {_L2SQ.format(a="n.nvec", b="q.qv")} AS distance
FROM normed n JOIN cand USING (vec_id), q
ORDER BY distance ASC, n.vec_id ASC
LIMIT 10
""",
    doc="Top-k served from the persisted RESIDUAL QUANTIZER layout "
    f"(operators/rq.py; k1={_RQ_K1} coarse + k2={_RQ_K2} residual "
    f"codewords, {_RQ_ITERS} bit-stable Lloyd iterations each): the "
    "coarse codebook doubles as the IVF partitioner — rank cells by "
    f"query-to-centroid distance, read ONLY the top {_RQ_NPROBE} "
    "cells' code partitions (file pruning on c1), estimate distance "
    "against the two-level reconstruction cb1[c1]+cb2[c2], rescore "
    f"the best {_RQ_DEPTH} fp64 from the canonical table. The FAISS "
    "IVF-Flat -> IVF+RQ step: candidates rank on coded "
    "reconstructions (2 small ints/vector resident) instead of raw "
    "vectors, shrinking the scanned bytes by ~dim*4/8x while the "
    "rescore repairs codec error. The oracle replays BOTH k-means "
    "levels as generated CTE chains — a trained two-level codec that "
    "still hash-matches across engines. ROLE: CANDIDATES-ONLY / "
    "storage-teaching tier (RECALL.json role field): k1*k2 = 512 "
    "effective reconstructions rank at ~0.33 mean recall@10 on the "
    "isotropic fixture at the default nprobe/depth — its value is "
    "the 8-byte/vector coded layout (ann_rq_distortion ledger); "
    "recall-critical serving stays on the trained-PQ tier.",
)
def ann_rq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.rq import rq_probe_topk

    path = ensure_rq(spark, sf_dir)
    emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
    q = _norm_query_vec(spark, sf_dir, 11)
    return rq_probe_topk(
        spark,
        path,
        q,
        emb,
        k=10,
        nprobe=_RQ_NPROBE,
        depth=_RQ_DEPTH,
    )


@register(
    "ann_rq_distortion",
    oracle=f"""
WITH {_NORM_CTE}, {_RQ_MODEL_CTES},
per0 AS (
  SELECT n.vec_id, n.nvec, a1.c1, a2.c2, b1.cv AS cv1,
    list_transform(range(1, len(b1.cv) + 1), i -> b1.cv[i] + b2.cv[i])
      AS recon
  FROM normed n
  JOIN r1asgf a1 USING (vec_id)
  JOIN r2asgf a2 USING (vec_id)
  JOIN r1cbt b1 ON b1.code = a1.c1
  JOIN r2cbt b2 ON b2.code = a2.c2
),
per AS (
  SELECT c1, c2,
    {FIXED_POINT_SQL.format(x=_L2SQ.format(a="nvec", b="cv1"))} AS e1,
    {FIXED_POINT_SQL.format(x=_L2SQ.format(a="nvec", b="recon"))} AS e2
  FROM per0
)
SELECT 'coarse' AS stage, CAST(count(DISTINCT c1) AS BIGINT) AS n_codes,
  CAST(SUM(e1) AS BIGINT) AS err_q
FROM per
UNION ALL
SELECT 'residual' AS stage, CAST(count(DISTINCT c2) AS BIGINT) AS n_codes,
  CAST(SUM(e2) AS BIGINT) AS err_q
FROM per
ORDER BY stage
""",
    doc="Codec-stage distortion ledger for the RQ tier: exact "
    "fixed-point reconstruction error of the coarse stage (v vs "
    "cb1[c1]) and of the full residual codec (v vs cb1[c1]+cb2[c2]), "
    "plus codeword utilization per stage. The residual row coming in "
    "strictly lower is the evidence the second level earns its bytes "
    "(tests/test_ann_trained.py pins it). One corpus scan, both "
    "codebooks broadcast, 2 output rows — the audit a build job "
    "emits next to the layout, twin of ann_pq_trained_distortion.",
)
def ann_rq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.rq import rq_distortion

    path = ensure_rq(spark, sf_dir)
    emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
    return rq_distortion(spark, path, emb)


# ------------------------------------- OPQ-lite: dim-assignment evidence

_OPQ_M = 8  # subspaces for the grouping comparison
_OPQ_K = 8  # stride codebook size per grouping


@register(
    "ann_opq_dim_balance_distortion",
    oracle=f"""
WITH {_NORM_CTE},
comp AS (
  SELECT vec_id, unnest(range(1, len(nvec) + 1)) - 1 AS dim,
    unnest(nvec) AS x
  FROM normed
),
e AS (
  SELECT dim, CAST(SUM({FIXED_POINT_SQL.format(x="x * x")}) AS BIGINT) AS e_q
  FROM comp GROUP BY dim
),
dd AS (SELECT CAST(count(*) AS BIGINT) AS d FROM e),
ranked AS (
  SELECT dim, e_q,
    CAST(row_number() OVER (ORDER BY e_q DESC, dim ASC) AS BIGINT) - 1 AS r0
  FROM e
),
assign AS (
  SELECT dim, e_q,
    least(dim // (d // {_OPQ_M}), {_OPQ_M - 1}) AS sub_c,
    CASE WHEN ((r0 // {_OPQ_M}) % 2) = 0 THEN r0 % {_OPQ_M}
         ELSE {_OPQ_M - 1} - (r0 % {_OPQ_M}) END AS sub_b
  FROM ranked, dd
),
stride AS (SELECT greatest(max(vec_id) // {_OPQ_K}, 1) AS s FROM embeddings),
cb AS (
  SELECT vec_id // s AS code, unnest(range(1, len(nvec) + 1)) - 1 AS dim,
    unnest(nvec) AS cx
  FROM normed, stride
  WHERE vec_id % s = 0 AND vec_id // s < {_OPQ_K}
),
j AS (
  SELECT comp.vec_id, comp.dim, cb.code,
    CAST({FIXED_POINT_SQL.format(x="(x - cx) * (x - cx)")} AS BIGINT) AS dq
  FROM comp JOIN cb USING (dim)
),
ja AS (SELECT j.*, a.sub_c, a.sub_b FROM j JOIN assign a USING (dim)),
pc AS (SELECT vec_id, code, sub_c AS sub_j, CAST(SUM(dq) AS BIGINT) AS d2
       FROM ja GROUP BY 1, 2, 3),
mc AS (SELECT vec_id, sub_j, MIN(d2) AS mind FROM pc GROUP BY 1, 2),
ec AS (SELECT sub_j, CAST(SUM(mind) AS BIGINT) AS err_q_contig
       FROM mc GROUP BY sub_j),
gc AS (SELECT sub_c AS sub_j, CAST(SUM(e_q) AS BIGINT) AS energy_q_contig
       FROM assign GROUP BY 1),
pb AS (SELECT vec_id, code, sub_b AS sub_j, CAST(SUM(dq) AS BIGINT) AS d2
       FROM ja GROUP BY 1, 2, 3),
mb AS (SELECT vec_id, sub_j, MIN(d2) AS mind FROM pb GROUP BY 1, 2),
eb AS (SELECT sub_j, CAST(SUM(mind) AS BIGINT) AS err_q_balanced
       FROM mb GROUP BY sub_j),
gb AS (SELECT sub_b AS sub_j, CAST(SUM(e_q) AS BIGINT) AS energy_q_balanced
       FROM assign GROUP BY 1)
SELECT CAST(gc.sub_j AS BIGINT) AS sub_j, energy_q_contig, err_q_contig,
  energy_q_balanced, err_q_balanced
FROM gc JOIN ec USING (sub_j) JOIN gb USING (sub_j) JOIN eb USING (sub_j)
""",
    doc="OPQ-lite dimension-assignment evidence (the knob behind "
    "Optimized Product Quantization, Ge et al. CVPR'13, minus the "
    "learned rotation): compare per-subspace ENERGY and quantization "
    "DISTORTION when the embedding axes are grouped CONTIGUOUSLY "
    f"(the stride PQ tier's layout) vs ENERGY-SNAKE-BALANCED across "
    f"{_OPQ_M} subspaces (rank dims by exact quantized energy, deal "
    "them boustrophedon so every subspace gets an even mix of hot "
    "and cold axes — a pure PERMUTATION, so it composes with any "
    "codebook and costs nothing at encode time). Contiguous grouping "
    "concentrates variance in few subspaces -> their codebooks "
    "saturate while cold subspaces waste entries; the balanced "
    "columns show the spread this removes. Fully exact: per-dim "
    "energies, per-(vec, code, subspace) distances, and per-subspace "
    "distortions are all 1e-9-quantized-then-BIGINT-summed (the "
    "dim-exploded twin of the in-row _L2SQ fold — exploded grouping "
    "cannot rely on double addition order), assignment is integer "
    "rank arithmetic, the codebook is the deterministic stride "
    f"sample (k = {_OPQ_K}). Plan: ONE (vec, dim, x) explode joins "
    "the broadcast k*d codebook rows and the broadcast d-row "
    "assignment table, then three keyed reductions per grouping — "
    "scan-bound, shuffles carry quantized scalars; at 100 TB this is "
    "the audit a PQ build job runs BEFORE spending cluster-days "
    "training codebooks on a layout the axis order already crippled.",
)
def ann_opq_dim_balance_distortion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
    comp = emb.select("vec_id", F.posexplode("nvec").alias("dim", "x"))
    e = comp.groupBy("dim").agg(
        F.sum(fixed_point_q(F.col("x") * F.col("x"))).alias("e_q")
    )
    # d dims and the stride are planner state (d <= a few hundred, one
    # MAX row) — same doctrine as the inertia-curve codebooks
    d = _DIM
    ranked = e.select(
        "dim",
        "e_q",
        (
            F.row_number()
            .over(Window.orderBy(F.col("e_q").desc(), F.col("dim").asc()))
            .cast("bigint")
            - 1
        ).alias("r0"),
    )
    m = _OPQ_M
    assign = ranked.select(
        "dim",
        "e_q",
        F.least(
            F.expr(f"dim div {d // m}").cast("bigint"), F.lit(m - 1).cast("bigint")
        ).alias("sub_c"),
        F.expr(
            f"CASE WHEN ((r0 div {m}) % 2) = 0 THEN r0 % {m} "
            f"ELSE {m - 1} - (r0 % {m}) END"
        )
        .cast("bigint")
        .alias("sub_b"),
    )
    from cnc_visionsearch_spark.operators.ann import ivf_centroids

    # the stride codebook IS ivf_centroids' deterministic sample (same
    # stride arithmetic as the oracle's stride CTE, plus its
    # empty-table guard)
    cb = ivf_centroids(emb, _OPQ_K).select(
        F.col("cell_id").cast("bigint").alias("code"),
        F.posexplode("centroid").alias("dim", "cx"),
    )
    j = comp.join(F.broadcast(cb), "dim").select(
        "vec_id",
        "dim",
        "code",
        fixed_point_q(
            (F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))
        ).alias("dq"),
    )
    ja = j.join(F.broadcast(assign.select("dim", "sub_c", "sub_b")), "dim")
    # the exploded joined base feeds both groupings — one barrier, not
    # two recomputes of the n*d*k join
    ja = ja.localCheckpoint(eager=False)

    def grouping(sub_col: str, err_alias: str, en_alias: str):
        err = (
            ja.groupBy("vec_id", "code", F.col(sub_col).alias("sub_j"))
            .agg(F.sum("dq").alias("d2"))
            .groupBy("vec_id", "sub_j")
            .agg(F.min("d2").alias("mind"))
            .groupBy("sub_j")
            .agg(F.sum("mind").cast("bigint").alias(err_alias))
        )
        en = assign.groupBy(F.col(sub_col).alias("sub_j")).agg(
            F.sum("e_q").cast("bigint").alias(en_alias)
        )
        return en.join(err, "sub_j")
    c = grouping("sub_c", "err_q_contig", "energy_q_contig")
    b = grouping("sub_b", "err_q_balanced", "energy_q_balanced")
    return c.join(b, "sub_j").select(
        F.col("sub_j").cast("bigint").alias("sub_j"),
        "energy_q_contig",
        "err_q_contig",
        "energy_q_balanced",
        "err_q_balanced",
    )
