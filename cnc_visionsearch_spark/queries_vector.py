"""Vector-search queries — the reference's core surface (SURVEY §2.5,
§2.3, §3.2), re-expressed as Catalyst-optimizable plans.

Reference behavior mirrored (file:line cites into /root/reference):
- L2-normalize at insert and query (main.py:87, 145)
- squared-L2 score over normalized vectors = cosine ranking
  (main.py:60, 155; SURVEY §1.1)
- top_k default 10 ascending (main.py:139, 158)
- hits joined to str_id metadata, unmapped ids dropped = inner join
  (main.py:157-163)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cnc_visionsearch_spark.functions.vector import (
    abs_max,
    cosine_sim,
    int8_dequant_errors,
    l2_norm,
    vec_lit,
)
from cnc_visionsearch_spark.operators.knn import (
    attach_metadata,
    knn_join,
    knn_single,
    with_normalized,
)
from cnc_visionsearch_spark.registry import register
from cnc_visionsearch_spark.sources.catalog import derive_id_mapping, load_table

# Shared oracle CTE: normalized embeddings in double precision.
# DuckDB folds list_sum sequentially in array order — bit-identical to
# Spark's aggregate() left fold (verified empirically).
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


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int) -> list:
    """Raw query vector by id (a query PARAMETER — memoized via the
    shared catalog point-lookup memo)."""
    from cnc_visionsearch_spark.sources.catalog import memoized_point_value

    return memoized_point_value(
        spark, sf_dir, "embeddings", "vec_id", vec_id, "embedding"
    )


@register(
    "knn_single_topk",
    oracle=f"""
WITH {_NORM_CTE},
q AS (SELECT nvec AS qvec FROM normed WHERE vec_id = 1)
SELECT vec_id, {_L2SQ.format(a="nvec", b="qvec")} AS distance
FROM normed, q
ORDER BY distance ASC, vec_id ASC
LIMIT 10
""",
    doc="W1: exact top-10 kNN for one query vector (reference main.py:155). "
    "Plan: scan -> codegen distance -> TakeOrderedAndProject (no shuffle).",
)
def knn_single_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
    return knn_single(emb, _query_vec(spark, sf_dir, 1), k=10)


@register(
    "knn_search_with_metadata",
    oracle=f"""
WITH {_NORM_CTE},
q AS (SELECT nvec AS qvec FROM normed WHERE vec_id = 1),
id_mapping AS (
  SELECT 'img_' || e.vec_id AS str_id, e.vec_id + 1 AS faiss_id, d.text AS text_content
  FROM embeddings e LEFT JOIN documents d ON e.vec_id = d.doc_id
),
hits AS (
  SELECT vec_id, {_L2SQ.format(a="nvec", b="qvec")} AS distance
  FROM normed, q
  ORDER BY distance ASC, vec_id ASC
  LIMIT 10
)
SELECT m.str_id, h.distance
FROM hits h JOIN id_mapping m ON h.vec_id + 1 = m.faiss_id
ORDER BY h.distance ASC, m.str_id ASC
""",
    doc="The full /search_drawing lifecycle (reference main.py:138-165): "
    "embed->topk->metadata join. J1 broadcast join replaces the k-iteration "
    "SQLite point-lookup loop.",
)
def knn_search_with_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
    docs = load_table(spark, sf_dir, "documents")
    id_map = derive_id_mapping(emb, docs)
    hits = knn_single(emb, _query_vec(spark, sf_dir, 1), k=10).withColumn(
        "faiss_id_probe", F.col("vec_id") + 1
    )
    out = attach_metadata(hits, id_map, hit_id="faiss_id_probe", map_id="faiss_id")
    return out.select("str_id", "distance").orderBy(
        F.col("distance").asc(), F.col("str_id").asc()
    )


@register(
    "knn_join_batch",
    oracle=f"""
WITH {_NORM_CTE},
q AS (SELECT vec_id AS query_id, nvec AS qvec FROM normed WHERE vec_id < 8),
pairs AS (
  SELECT q.query_id, n.vec_id,
         {_L2SQ.format(a="n.nvec", b="q.qvec")} AS distance
  FROM normed n, q
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY distance ASC, vec_id ASC) AS rank
  FROM pairs
)
SELECT query_id, vec_id, distance, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
""",
    doc="J4: batch kNN join — k nearest corpus rows per query row. Broadcast "
    "query side; corpus side streams (never shuffled in full); WindowGroupLimit "
    "makes the rank filter a partial top-k.",
)
def knn_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("nvec")
    )
    out = knn_join(queries, emb, k=3)
    return out.select(
        "query_id", "vec_id", "distance", F.col("rank").cast("int").alias("rank")
    )


@register(
    "cosine_topk",
    oracle="""
WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS de FROM embeddings),
q AS (SELECT de AS qe FROM d WHERE vec_id = 2)
SELECT vec_id,
  list_sum(list_transform(range(1, len(de)+1), i -> de[i]*qe[i]))
    / (sqrt(list_sum(list_transform(de, x -> x*x)))
       * sqrt(list_sum(list_transform(qe, x -> x*x)))) AS cosine
FROM d, q
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
""",
    doc="F7 cosine variant on raw (un-normalized) vectors — shows the metric "
    "family; same codegen'd higher-order-function shape.",
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _query_vec(spark, sf_dir, 2)
    qcol = vec_lit(qvec)
    return (
        emb.select(
            "vec_id", cosine_sim(F.col("embedding"), qcol).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
    )


@register(
    "embedding_group_stats",
    oracle="""
SELECT label,
  CAST(count(*) AS BIGINT) AS n,
  CAST(SUM(CAST(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x)))
       AS DECIMAL(18,6))) AS DOUBLE) AS sum_norm,
  CAST(min(vec_id) AS BIGINT) AS min_id,
  CAST(max(vec_id) AS BIGINT) AS max_id
FROM embeddings
GROUP BY label
""",
    doc="A3: grouped stats over the vector store (per-label counts, exact "
    "decimal-summed norms). HashAggregate partial+final, no sort.",
)
def embedding_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(l2_norm("embedding").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_norm"),
        F.min("vec_id").alias("min_id"),
        F.max("vec_id").alias("max_id"),
    )


@register(
    "ingest_guard_stats",
    oracle="""
SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_embedding,
  CAST(SUM(CASE WHEN list_sum(list_transform(embedding::DOUBLE[], x -> x*x)) = 0
           THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vectors,
  (count(*) = 0) AS index_empty
FROM embeddings
""",
    doc="P4/P5 guards (reference main.py:114-115, 147-148, 152-153): the "
    "null-embedding filter and empty-index short-circuit as a corpus "
    "health scan — the checks an ingest job runs before touching the "
    "index (the zero-vector count flags rows the no-guard normalize "
    "would NaN, SURVEY §7f).",
)
def ingest_guard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("embedding").isNull(), 1).otherwise(0)).alias(
            "n_null_embedding"
        ),
        F.sum(
            F.when(l2_norm("embedding") * l2_norm("embedding") == 0.0, 1).otherwise(0)
        ).alias("n_zero_vectors"),
        (F.count(F.lit(1)) == 0).alias("index_empty"),
    )


@register(
    "embedding_int8_quant_report",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
m AS (SELECT vec_id, v,
        list_aggregate(list_transform(v, x -> abs(x)), 'max') AS amax
      FROM e),
err AS (
  SELECT vec_id, CAST(amax / 127.0 AS DOUBLE) AS scale,
    CASE WHEN amax = 0 THEN list_transform(v, x -> 0.0)
         ELSE list_transform(v, x ->
            abs(x - least(greatest(floor(x * 127.0 / amax + 0.5), -127.0),
                          127.0) * amax / 127.0))
    END AS errs,
    len(v) AS d
  FROM m)
SELECT vec_id, scale,
  CAST(list_aggregate(errs, 'sum') / d AS DOUBLE) AS mean_abs_err,
  CAST(list_aggregate(errs, 'max') AS DOUBLE) AS max_abs_err
FROM err
""",
    doc="Symmetric int8 scalar quantization report (the 4x-smaller "
    "embedding storage tier for a 100 TB corpus): per-vector scale "
    "(amax/127) and mean/max absolute reconstruction error. Fully "
    "codegen element lambdas, one scan, no shuffle — the same pass that "
    "would write the quantized column. Error bound sanity: max_abs_err "
    "<= scale/2 by construction (round-half-up within the clamp range). "
    "See functions/vector.py::int8_dequant_errors for the determinism "
    "contract with the DuckDB oracle.",
)
def embedding_int8_quant_report(spark: SparkSession, sf_dir: str) -> DataFrame:

    emb = load_table(spark, sf_dir, "embeddings")
    # Two projections: the error array materializes ONCE per row, then
    # the stats consume it (three references to the raw expression would
    # re-run the whole quant chain 3x per row; CollapseProject leaves
    # multi-referenced non-cheap expressions un-inlined).
    staged = emb.select(
        "vec_id",
        (abs_max("embedding") / F.lit(127.0)).alias("scale"),
        int8_dequant_errors("embedding").alias("errs"),
    )
    return staged.select(
        "vec_id",
        "scale",
        (
            F.aggregate("errs", F.lit(0.0), lambda acc, x: acc + x)
            / F.size("errs").cast("double")
        ).alias("mean_abs_err"),
        F.array_max("errs").alias("max_abs_err"),
    )
