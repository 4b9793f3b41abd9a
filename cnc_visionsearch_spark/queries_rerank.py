"""MMR (maximal-marginal-relevance) diversity re-rank over the kNN
candidate set — the standard answer to "top-k returns 10 near-copies"
in retrieval serving (Carbonell & Goldstein 1998).

Pipeline: exact top-N candidates (distributed scan -> codegen distance
-> TakeOrderedAndProject, same path as `knn_single_topk`), pairwise
candidate-candidate cosines (N x N broadcast self-join, N=20), then the
inherently-sequential greedy selection of k=5. Every score is QUANTIZED
to a BIGINT (floor(x * 1e9 + 0.5)) before any comparison, so the greedy
argmax runs on identical integers in Spark and in the DuckDB oracle —
which replays the loop exactly with a recursive CTE (FIXTURES.md
determinism rules: quantize before cross-engine compares).

Scale: candidate generation and the N^2 similarity matrix are
distributed; the greedy loop itself touches only the COLLECTED integer
matrix — O(N^2) = 400 values, bounded by construction (N and k are
query parameters, never data-proportional; the probe-cell selection in
operators/ann.py documents the same bounded-collect pattern). At
100 TB the candidate stage is served by an ANN tier
(`ann_ivf_topk`-shaped) instead of the exact scan; the re-rank cost is
unchanged.

Reference parity: the reference returns raw FAISS order (main.py:158)
— no diversity pass — so this is [EXT] surface; relevance is the same
squared-L2-over-normalized score (main.py:155), re-expressed as
quantized cosine (SURVEY §1.1: ||a-b||^2 = 2 - 2 a.b).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cnc_visionsearch_spark.functions.vector import dot, l2_sq
from cnc_visionsearch_spark.operators.knn import with_normalized
from cnc_visionsearch_spark.registry import register
from cnc_visionsearch_spark.session import local_frame
from cnc_visionsearch_spark.sources.catalog import load_table

_TOP_N = 20
_K = 5
_Q_ID = 1

_L2SQ = "list_sum(list_transform(range(1, len({a})+1), i -> ({a}[i]-{b}[i])**2))"
_DOT = "list_sum(list_transform(range(1, len({a})+1), i -> {a}[i]*{b}[i]))"


def _quant(col) -> F.Column:
    # floor(x*1e9 + 0.5) as BIGINT — the FIXTURES.md cross-engine grid
    return F.floor(col * F.lit(1e9) + F.lit(0.5)).cast("long")


def mmr_candidates(
    spark: SparkSession, sf_dir: str, top_n: int = _TOP_N
) -> tuple[DataFrame, DataFrame]:
    """(cand, sims): top-N candidates with quantized relevance, and the
    N x N quantized pairwise-cosine matrix (self-pairs excluded)."""
    emb = load_table(spark, sf_dir, "embeddings")
    nd = with_normalized(emb).select("vec_id", "nvec")
    q = nd.filter(F.col("vec_id") == _Q_ID).select(F.col("nvec").alias("qvec"))
    cand = (
        nd.crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("id"),
            "nvec",
            _quant(F.lit(1.0) - l2_sq("nvec", "qvec") / F.lit(2.0)).alias("relq"),
        )
        .orderBy(F.desc("relq"), F.asc("id"))
        .limit(top_n)
    )
    # the candidate set feeds both sides of the pair join and the
    # greedy collect: materialize once (N rows)
    cand = cand.localCheckpoint(eager=True)
    a = cand.select(F.col("id").alias("ia"), F.col("nvec").alias("va"))
    b = cand.select(F.col("id").alias("ib"), F.col("nvec").alias("vb"))
    sims = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("ia") != F.col("ib"))
        .select("ia", "ib", _quant(dot("va", "vb")).alias("simq"))
    )
    return cand.select("id", "relq"), sims


def mmr_select(
    cand_rows: list, sim_rows: list, k: int = _K
) -> list[tuple[int, int, int]]:
    """Greedy MMR on quantized integers: identical arithmetic to the
    oracle's recursive CTE. lambda=0.5 folds away: argmax of
    (relq - max simq to selected), ties by ascending id."""
    relq = {r.id: r.relq for r in cand_rows}
    simq = {(r.ia, r.ib): r.simq for r in sim_rows}
    first = max(relq, key=lambda i: (relq[i], -i))
    picked = [(1, first, relq[first])]
    sel = [first]
    while len(sel) < min(k, len(relq)):
        best = max(
            (i for i in relq if i not in sel),
            key=lambda i: (relq[i] - max(simq[(i, j)] for j in sel), -i),
        )
        sel.append(best)
        picked.append((len(sel), best, relq[best]))
    return picked


@register(
    "knn_mmr_rerank",
    oracle=f"""
WITH RECURSIVE
normed AS (
  SELECT vec_id, list_transform(
      embedding::DOUBLE[],
      x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y*y)))
    ) AS nvec
  FROM embeddings
),
q AS (SELECT nvec AS qvec FROM normed WHERE vec_id = {_Q_ID}),
cand AS (
  SELECT vec_id AS id, nvec,
    CAST(FLOOR((1.0 - ({_L2SQ.format(a="nvec", b="qvec")})/2.0)*1e9 + 0.5) AS BIGINT) AS relq
  FROM normed, q
  ORDER BY relq DESC, id ASC
  LIMIT {_TOP_N}
),
sims AS (
  SELECT a.id AS ia, b.id AS ib,
    CAST(FLOOR(({_DOT.format(a="a.nvec", b="b.nvec")})*1e9 + 0.5) AS BIGINT) AS simq
  FROM cand a JOIN cand b ON a.id <> b.id
),
mmr AS (
  SELECT 1 AS rank,
    (SELECT id FROM cand ORDER BY relq DESC, id ASC LIMIT 1) AS id,
    [(SELECT id FROM cand ORDER BY relq DESC, id ASC LIMIT 1)] AS sel
  UNION ALL
  SELECT mmr.rank + 1, nxt.id, list_append(mmr.sel, nxt.id)
  FROM mmr, LATERAL (
    SELECT c.id,
      c.relq - (SELECT MAX(s.simq) FROM sims s
                WHERE s.ia = c.id AND list_contains(mmr.sel, s.ib)) AS score
    FROM cand c
    WHERE NOT list_contains(mmr.sel, c.id)
    ORDER BY score DESC, c.id ASC
    LIMIT 1) nxt
  WHERE mmr.rank < {_K}
)
SELECT m.rank, m.id AS vec_id, c.relq
FROM mmr m JOIN cand c ON c.id = m.id
""",
    doc="Diversity re-rank: greedy MMR (lambda=0.5, k=5) over the exact "
    "top-20, all scores on the 1e9 integer grid; the oracle replays the "
    "greedy loop with a recursive CTE. Self-match ranks first "
    "(relq = 1e9), then picks trade relevance against redundancy.",
)
def knn_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand, sims = mmr_candidates(spark, sf_dir)
    # bounded collect: N + N*(N-1) integer rows (N=20) — the greedy
    # step is inherently sequential; its input is parameter-sized,
    # never data-proportional (same pattern as IVF probe-cell
    # selection, operators/ann.py)
    picked = mmr_select(cand.collect(), sims.collect())
    return local_frame(spark, picked, "rank int, vec_id bigint, relq bigint")
