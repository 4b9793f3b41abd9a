"""Exact k-nearest-neighbor operators (SURVEY §2.5 W1, §2.3 J1/J4).

The reference's core operator is ``index.search(q, k)`` (main.py:155):
HNSW beam search over L2-normalized vectors, ascending squared-L2,
``-1``-padded, each hit joined back to ``str_id`` by a per-hit SQLite
point lookup (main.py:157-163, inner-join semantics — unmapped ids are
silently dropped).

Spark-first re-expression:

* ``knn_single``: one query vector against the embeddings table.
  Physical plan = parquet scan -> codegen'd distance projection ->
  ``TakeOrderedAndProject`` (per-partition partial top-k, driver merge
  of k*num_partitions rows). NO shuffle, NO full sort — this is the
  plan that survives a 100 TB embeddings table: cost is one scan at
  full parallelism plus a trivial merge.

* ``knn_join``: a whole table of queries, k neighbors each — the batch
  generalization of ``/search_drawing``. The query side is broadcast
  (queries << corpus in every realistic pipeline), the corpus is
  streamed through a crossJoin (so the 100 TB side is never shuffled),
  and per-query top-k uses ``row_number`` over (qid, dist) which Spark
  >=3.5 executes as WindowGroupLimit: a per-partition partial top-k
  BEFORE the shuffle, so shuffle volume is k rows per query per
  partition, not |corpus| x |queries|.

* ``attach_metadata``: the J1 hits->id_mapping join as a broadcast hash
  join (the mapping table is small relative to the corpus), replacing
  the reference's k-iteration point-lookup loop.

Determinism: distances tie-break by ascending id (FIXTURES.md oracle
rule) so top-k row sets are stable across engines.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cnc_visionsearch_spark.functions.vector import (
    dot,
    l2_normalize,
    l2_sq,
    unit,
    vec_lit,
)

__all__ = [
    "with_normalized",
    "knn_single",
    "knn_join",
    "knn_join_chunked",
    "attach_metadata",
]


def with_normalized(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "nvec",
    zero_guard: bool = False,
) -> DataFrame:
    """Add an L2-normalized copy of ``vec_col`` (reference main.py:87).

    Delegates to l2_normalize, which evaluates the norm once per ROW
    (zip_with against array_repeat — see that function's note on why a
    materialized norm column does NOT survive CollapseProject).
    """
    return df.withColumn(out_col, l2_normalize(vec_col, zero_guard=zero_guard))


def _distance_expr(metric: str, a: Column | str, b: Column | str) -> Column:
    if metric == "l2_sq":
        return l2_sq(a, b)
    if metric == "dot":
        # ascending-distance convention: negate similarity
        return -dot(a, b)
    if metric == "cosine":
        # on pre-normalized vectors cosine distance = 1 - dot
        return F.lit(1.0) - dot(a, b)
    raise ValueError(f"unknown metric {metric!r} (l2_sq|dot|cosine)")


def knn_single(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "nvec",
    id_col: str = "vec_id",
    metric: str = "l2_sq",
    normalize_query: bool = True,
) -> DataFrame:
    """Top-k nearest rows to one query vector.

    Mirrors ``/search_drawing`` (reference main.py:138-165): the query
    vector is L2-normalized (main.py:145->87), distances are squared L2
    (main.py:155), result ascending by distance (main.py:158), k rows
    (``top_k`` default 10, main.py:139). The ``-1`` padding filter
    (main.py:159) has no analog: Spark simply returns < k rows when the
    corpus is smaller than k.

    ``embeddings`` must already carry normalized vectors in ``vec_col``
    (use :func:`with_normalized`); at scale that table is written once,
    normalized, and served to every query.

    The query is normalized driver-side by :func:`unit` (a zero query
    gives NaN distances as a result, like the reference's numpy
    ``x / 0.0``) and enters the plan as one parsed :func:`vec_lit`
    literal.

    Returns (id_col, distance) ascending, ties broken by id.
    """
    q = unit(query_vec) if normalize_query else query_vec
    qcol = vec_lit(q)
    dist = _distance_expr(metric, F.col(vec_col), qcol)
    return (
        embeddings.select(F.col(id_col), dist.alias("distance"))
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    query_vec: str = "nvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "nvec",
    metric: str = "l2_sq",
) -> DataFrame:
    """k nearest corpus rows for EVERY query row (SURVEY §2.3 J4).

    Plan shape (scale rationale in module docstring): broadcast the
    query side, stream the corpus through a nested-loop cross join with
    a codegen'd distance, then per-query top-k via row_number — Spark
    rewrites rank<=k over (partitionBy qid orderBy dist) into
    WindowGroupLimit (partial top-k before the shuffle).

    Returns (query_id, vec_id, distance, rank), rank 1..k ascending
    distance, ties by corpus id.
    """
    q = queries.select(
        F.col(query_id).alias("__qid"), F.col(query_vec).alias("__qvec")
    )
    c = corpus.select(F.col(corpus_id), F.col(corpus_vec).alias("__cvec"))
    dist = _distance_expr(metric, "__cvec", "__qvec")
    pairs = c.crossJoin(F.broadcast(q)).select(
        F.col("__qid").alias(query_id),
        F.col(corpus_id),
        dist.alias("distance"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("distance").asc(), F.col(corpus_id).asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_join_chunked(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_chunks: int | None = None,
    chunk_rows: int = 100_000,
    query_id: str = "query_id",
    query_vec: str = "nvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "nvec",
    metric: str = "l2_sq",
) -> DataFrame:
    """kNN join for query sides too large to broadcast whole.

    :func:`knn_join` broadcasts ALL queries — right until the query
    table exceeds the broadcast budget (~8GB hard cap; far less in
    practice). This variant splits the query side into broadcast-sized
    chunks by a deterministic id-hash, runs the broadcast kNN join per
    chunk, and unions the results: the 100 TB corpus is re-SCANNED per
    chunk but never shuffled, which is the right trade because a scan
    is cheap and linear while shuffling the corpus on a join key is
    not. (The alternative — shuffling both sides — only wins when
    |queries| approaches |corpus|, at which point use the LSH/IVF tiers
    to block the pair space instead.)

    Results are identical to knn_join: chunking partitions the query
    rows, and each query's top-k depends only on that query.

    Pass ``n_chunks`` explicitly when the caller knows the query-side
    size (an ingest pipeline always does) — that keeps the plan free of
    any sizing job. Only when it is None does the fallback pay one
    count() of the (small, by-construction) query side to ceil-divide
    by ``chunk_rows``.
    """
    if n_chunks is None:
        n_chunks = max(
            1, -(-queries.count() // chunk_rows)  # ceil division, one count job
        )
    if n_chunks == 1:
        return knn_join(
            queries, corpus, k, query_id, query_vec, corpus_id, corpus_vec, metric
        )
    parts = []
    for i in range(n_chunks):
        chunk = queries.filter(F.pmod(F.hash(F.col(query_id)), F.lit(n_chunks)) == i)
        parts.append(
            knn_join(
                chunk, corpus, k, query_id, query_vec, corpus_id, corpus_vec, metric
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def attach_metadata(
    hits: DataFrame,
    id_mapping: DataFrame,
    hit_id: str = "vec_id",
    map_id: str = "faiss_id",
    keep: Sequence[str] = ("str_id",),
) -> DataFrame:
    """Join kNN hits to the id_mapping table (SURVEY §2.3 J1).

    Reference semantics (main.py:157-163): per-hit point lookup; hits
    whose faiss_id has no mapping row are silently dropped -> INNER
    join. The mapping table is broadcast: at 100 TB the corpus is huge
    but the id map is ~GBs, so this is a map-side join with zero
    shuffle of the hits.
    """
    m = F.broadcast(id_mapping.select(F.col(map_id), *[F.col(c) for c in keep]))
    return hits.join(m, on=hits[hit_id] == m[map_id], how="inner").drop(map_id)
