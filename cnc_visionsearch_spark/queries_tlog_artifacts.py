"""Derived artifacts under the transaction log (r8 verdict #1): the
inverted text index, the IVF vector layout, the shard layout and the
banded MinHash store each run their FULL mutation lifecycle — build,
append, delete, vacuum/compact — as tlog commits (sources/tlog.py),
with conflict detection between DIFFERENT mutations of one artifact.

Each query replays a deterministic lifecycle against a DuckDB oracle
that recomputes the FINAL state from raw tables — a hash match proves
the committed mutation chain equals a from-scratch build (the
append==rebuild / delete==never-indexed contracts, with concurrent-
writer arbitration). Reads go through the SAME seams every probe uses
(read_postings/read_doclens, read_cells/read_codebook,
read_minhash_store). Racing-writer serializability is
pinned by tests/test_tlog_artifacts.py (append+vacuum per artifact:
disjoint domains serialize, overlapping ones raise TLogConflictError
and recompute).

REGISTRATION ORDER: imports LAST in registry._load_all — past the
frozen 50-entry driver window.

Reference contract: main.py:119-134 (the reference's only mutable
store is SQLite behind a single-writer lock; these artifacts have no
reference analog and REQUIRE arbitration at 100 TB, where ingest,
delete and compaction are separate long-running jobs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cnc_visionsearch_spark.functions.vector import fixed_point_q, l2_sq, vec_lit
from cnc_visionsearch_spark.queries_ann import (
    _L2SQ,
    _NORM_CTE,
    _norm_query_vec,
    artifact_path,
    build_once,
)
from cnc_visionsearch_spark.queries_ann_incremental import _IVF_APPEND_CTE
from cnc_visionsearch_spark.queries_dedup_ext import _INCR_MINHASH_ORACLE
from cnc_visionsearch_spark.registry import register
from cnc_visionsearch_spark.sources.catalog import load_table

# lifecycle constants — small, prime-ish, spread across both the base
# and the appended slice so vacuum touches several buckets/cells
_INV_TERMS = ["vector", "index", "scan"]
_INV_DELETED = [5, 12, 77, 210, 233]
_IVF_DELETED = [3, 7, 450]


def ensure_tlog_inverted(spark: SparkSession, sf_dir: str) -> str:
    """Transactional inverted index lifecycle: build(docs<200) ->
    append(200-250) -> delete 5 ids -> vacuum (one rewrite commit,
    under the optimistic retry loop) -> compact. Every mutation is one
    atomic tlog commit; probes read through read_postings/read_doclens
    like every text probe."""
    from cnc_visionsearch_spark.operators.text_index import (
        inverted_append,
        inverted_build,
        inverted_compact,
        inverted_delete,
        inverted_vacuum,
    )
    from cnc_visionsearch_spark.sources.tlog import run_transaction

    def build(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        inverted_build(
            docs.filter(F.col("doc_id") < 200), path, n_buckets=16,
        )
        inverted_append(
            docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 250)),
            path,
        )
        inverted_delete(spark, path, _INV_DELETED)
        run_transaction(lambda: inverted_vacuum(spark, path))
        run_transaction(lambda: inverted_compact(spark, path))

    return build_once(
        artifact_path(sf_dir, "tlog_inverted_b16_lt250", "documents"), build
    )


@register(
    "tlog_inverted_lifecycle_bm25",
    oracle=f"""
WITH live AS (
  SELECT * FROM documents
  WHERE doc_id < 250
    AND doc_id NOT IN ({", ".join(str(i) for i in _INV_DELETED)})
),
dl AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
  FROM live
),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM live
),
qtok AS (SELECT doc_id, tok FROM tok
         WHERE tok IN ({", ".join(f"'{t}'" for t in _INV_TERMS)})),
tf AS (
  SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf
  FROM qtok GROUP BY doc_id, tok
),
dfreq AS (
  SELECT tok, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
  FROM qtok GROUP BY tok
),
corpus AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM live),
avg AS (SELECT sum(dl) / count(*) AS avgdl FROM dl),
perterm AS (
  SELECT tf.doc_id,
    CAST(floor(
      (((n_docs - df + 0.5) / (df + 0.5))
        * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
      * 1000000000.0 + 0.5) AS BIGINT) AS sq
  FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id), corpus, avg
),
bm25 AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
    CAST(sum(sq) AS BIGINT) AS score_q
  FROM perterm GROUP BY doc_id
)
SELECT doc_id, n_terms, score_q
FROM bm25
ORDER BY score_q DESC, doc_id ASC
LIMIT 10
""",
    doc="The inverted index's FULL mutation lifecycle as transaction-"
    "log commits (r8 verdict #1; sources/tlog.py): build -> append -> "
    "tombstone delete -> vacuum -> compact, each one atomic commit "
    "with term-bucket conflict domains (appends/deletes blind, "
    "vacuum/compact rewrites that conflict against racing mutations "
    "and recompute — Delta's append-wins arbitration, racing tests in "
    "tests/test_tlog_artifacts.py). The SAME bm25_probe that serves "
    "every text query ranks over the committed snapshot (read_postings/"
    "read_doclens); the oracle recomputes BM25 from the surviving "
    "raw text, so a hash match proves the five-commit chain equals a "
    "from-scratch build: no resurrection, no stale norms, no torn "
    "reads.",
)
def tlog_inverted_lifecycle_bm25(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cnc_visionsearch_spark.operators.text_index import bm25_probe

    path = ensure_tlog_inverted(spark, sf_dir)
    return bm25_probe(spark, path, _INV_TERMS).orderBy(
        F.col("score_q").desc(), F.col("doc_id").asc()
    ).limit(10)


def ensure_tlog_ivf(spark: SparkSession, sf_dir: str) -> str:
    """Transactional IVF lifecycle: build(base slice, frozen stride
    codebook) -> append(rest) -> delete 3 ids -> vacuum — mirroring
    ensure_appended_layout/ensure_deleted_layout but with every
    mutation a tlog commit (cell-id conflict domains; radii ride the
    commits as per-file partial maxima)."""
    from cnc_visionsearch_spark.operators.ann import (
        ivf_append,
        ivf_build,
        ivf_delete,
        ivf_vacuum,
    )
    from cnc_visionsearch_spark.operators.knn import with_normalized
    from cnc_visionsearch_spark.queries_ann_incremental import _SPLIT
    from cnc_visionsearch_spark.sources.tlog import run_transaction

    def build(path):
        emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
        ivf_build(
            emb.filter(F.col("vec_id") < _SPLIT), path, n_cells=8,
        )
        ivf_append(spark, path, emb.filter(F.col("vec_id") >= _SPLIT))
        ivf_delete(spark, path, _IVF_DELETED)
        run_transaction(lambda: ivf_vacuum(spark, path))

    return build_once(artifact_path(sf_dir, "tlog_ivf_c8"), build)


@register(
    "tlog_ivf_lifecycle_topk",
    oracle=f"""
WITH {_NORM_CTE}, {_IVF_APPEND_CTE},
q AS (SELECT nvec AS qvec FROM normed WHERE vec_id = 3),
probe AS (
  SELECT cell_id FROM centroids, q
  ORDER BY {_L2SQ.format(a="centroid", b="qvec")} ASC, cell_id ASC
  LIMIT 4
)
SELECT a.vec_id, {_L2SQ.format(a="a.nvec", b="q.qvec")} AS distance
FROM assigned a, q
WHERE a.cell_id IN (SELECT cell_id FROM probe)
  AND a.vec_id NOT IN ({", ".join(str(i) for i in _IVF_DELETED)})
ORDER BY distance ASC, a.vec_id ASC
LIMIT 10
""",
    doc="The IVF layout's mutation lifecycle as transaction-log "
    "commits: build (codebook+cells+radii, ONE atomic init commit) -> "
    "frozen-codebook append (blind: cell-tagged adds + partial-maxima "
    "radii, conflict-free against other appends) -> tombstone delete "
    "(blind) -> vacuum (a rewrite declaring the touched cell domains: "
    "a racing append into OTHER cells serializes cleanly — the "
    "disjoint-domain case tests/test_tlog_artifacts.py pins). The "
    "probe is the SAME ivf_probe every IVF query uses (read_cells/"
    "read_codebook; log-tag pruned cell reads). Query vector "
    "id 3 is ITSELF deleted, so the exact self-match must not "
    "appear; the oracle recomputes frozen-codebook semantics minus "
    "the deleted set from scratch.",
)
def tlog_ivf_lifecycle_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.ann import ivf_probe

    path = ensure_tlog_ivf(spark, sf_dir)
    q = _norm_query_vec(spark, sf_dir, 3)
    return ivf_probe(spark, path, q, k=10, nprobe=4)


_PQ_TLOG_DELETED = [3, 11, 450]


def ensure_tlog_ivf_pq(spark: SparkSession, sf_dir: str) -> str:
    """Transactional IVF+PQ lifecycle (r11 — composed codecs join the
    commit log): build(base, frozen codebook) -> pq_build (ONE rewrite
    commit declaring all cell domains as its read set) -> append(rest)
    + pq_append(rest) (both blind, frozen codebook/derived PQ model) ->
    delete 3 ids -> vacuum (ONE rewrite commit covering the touched
    cell AND pq-code domains — atomic no-resurrection)."""
    from cnc_visionsearch_spark.operators.ann import (
        ivf_append,
        ivf_build,
        ivf_delete,
        ivf_vacuum,
        pq_append,
        pq_build,
    )
    from cnc_visionsearch_spark.operators.knn import with_normalized
    from cnc_visionsearch_spark.queries_ann import _PQ_M
    from cnc_visionsearch_spark.queries_ann_incremental import _SPLIT
    from cnc_visionsearch_spark.sources.tlog import run_transaction

    def build(path):
        emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
        base = emb.filter(F.col("vec_id") < _SPLIT)
        rest = emb.filter(F.col("vec_id") >= _SPLIT)
        ivf_build(base, path, n_cells=8)
        run_transaction(lambda: pq_build(spark, path, m=_PQ_M))
        ivf_append(spark, path, rest)
        pq_append(spark, path, rest, m=_PQ_M)
        ivf_delete(spark, path, _PQ_TLOG_DELETED)
        run_transaction(lambda: ivf_vacuum(spark, path))

    return build_once(artifact_path(sf_dir, "tlog_ivf_pq_c8"), build)


def _tlog_pq_oracle() -> str:
    from cnc_visionsearch_spark.queries_ann import _pq_sql

    deleted = ", ".join(str(i) for i in _PQ_TLOG_DELETED)
    return f"""
WITH {_NORM_CTE}, {_IVF_APPEND_CTE},
q AS (SELECT nvec AS qv FROM normed WHERE vec_id = 11),
probe AS (
  SELECT cell_id FROM centroids, q
  ORDER BY {_L2SQ.format(a="centroid", b="qv")} ASC, cell_id ASC
  LIMIT 4
),
pruned AS (
  SELECT a.vec_id, a.nvec FROM assigned a
  WHERE a.cell_id IN (SELECT cell_id FROM probe)
    AND a.vec_id NOT IN ({deleted})
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
"""


@register(
    "tlog_ivf_pq_lifecycle_topk",
    oracle=_tlog_pq_oracle(),
    doc="The composed IVF x PQ codec's full mutation lifecycle as "
    "transaction-log commits (r11 — the r10 'shards and PQ/RQ code "
    "tables' exclusion closes): pq_build is ONE rewrite commit whose "
    "declared domains include every cell id it READ, so a cell append "
    "racing the build conflicts-and-recomputes instead of leaving "
    "appended vectors code-less (pinned in tests/"
    "test_tlog_artifacts.py); appends of vectors and codes are blind "
    "commits under their own domains; the vacuum rewrites the touched "
    "cell AND pq-code domains in the SAME commit — the vacuum's "
    "no-resurrection rule, atomic with the vector rewrite. The probe is the same IVF-pruned ADC-then-rescore "
    "composition as ann_ivf_pq_topk, reading through read_cells/"
    "read_pq_codes (log-tag pruned). Query id 11 is itself deleted; "
    "the oracle replays frozen-codebook append semantics minus the "
    "deleted set.",
)
def tlog_ivf_pq_lifecycle_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.ann import (
        ivf_probe_cells,
        pq_codebook,
        read_cells,
        read_codebook,
        read_pq_codes,
    )
    from cnc_visionsearch_spark.queries_ann import _PQ_M

    path = ensure_tlog_ivf_pq(spark, sf_dir)
    q = _norm_query_vec(spark, sf_dir, 11)
    qcol = vec_lit(q)
    probed = ivf_probe_cells(spark, path, q, nprobe=4)
    pruned = read_cells(spark, path, probed).filter(
        F.col("cell_id").isin(probed)
    )
    cb = pq_codebook(read_codebook(spark, path), m=_PQ_M)
    codes = read_pq_codes(spark, path, probed).filter(
        F.col("cell_id").isin(probed)
    )
    w = len(q) // _PQ_M
    qd = cb.select(
        "sub_j",
        "code",
        l2_sq(F.col("cv"), F.slice(qcol, F.col("sub_j") * w + 1, w)).alias(
            "qdist"
        ),
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


_RQ_TLOG_DELETED = [3, 11]


def ensure_tlog_rq(spark: SparkSession, sf_dir: str) -> str:
    """Transactional RQ lifecycle: ivf_build opens the log, rq_build
    lands models + codes as ONE rewrite commit (models under reserved
    tags, codes under per-c1 stride domains), delete tombstones blind,
    vacuum rewrites the touched c1 code domains (resolved by joining
    the codes against the tombstone ids) atomically with the vector
    rewrite."""
    from cnc_visionsearch_spark.operators.ann import (
        ivf_build,
        ivf_delete,
        ivf_vacuum,
    )
    from cnc_visionsearch_spark.operators.knn import with_normalized
    from cnc_visionsearch_spark.operators.rq import rq_build
    from cnc_visionsearch_spark.queries_ann_trained import (
        _RQ_ITERS,
        _RQ_K1,
        _RQ_K2,
    )
    from cnc_visionsearch_spark.sources.tlog import run_transaction

    def build(path):
        emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
        ivf_build(emb, path, n_cells=8)
        run_transaction(
            lambda: rq_build(
                spark, path, emb, k1=_RQ_K1, k2=_RQ_K2, iters=_RQ_ITERS
            )
        )
        ivf_delete(spark, path, _RQ_TLOG_DELETED)
        run_transaction(lambda: ivf_vacuum(spark, path))

    return build_once(artifact_path(sf_dir, f"tlog_rq_k{_RQ_K1}_{_RQ_K2}"), build)


def _tlog_rq_oracle() -> str:
    from cnc_visionsearch_spark.queries_ann_trained import (
        _RQ_DEPTH,
        _RQ_MODEL_CTES,
        _RQ_NPROBE,
    )

    deleted = ", ".join(str(i) for i in _RQ_TLOG_DELETED)
    return f"""
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
  WHERE a1.vec_id NOT IN ({deleted})
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
"""


@register(
    "tlog_rq_lifecycle_topk",
    oracle=_tlog_rq_oracle(),
    doc="The residual-quantizer tier's lifecycle as transaction-log "
    "commits: rq_build lands BOTH codebooks (reserved model tags) and "
    "the (c1, c2) code table (per-c1 stride domains) as ONE rewrite "
    "commit; deletes tombstone blind; the vacuum resolves the touched "
    "c1 domains by joining the code table against the tombstone ids "
    "(the c1 axis is model-assigned, not id-derivable) and rewrites "
    "them in the SAME commit as the vector cells. The probe is the "
    "same rq_probe_topk as ann_rq_trained_topk, its codebook and code "
    "reads dispatched through read_rq_codebooks/read_rq_codes. Query "
    "id 11 is itself deleted; the oracle replays both trained k-means "
    "levels minus the deleted set.",
)
def tlog_rq_lifecycle_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.knn import with_normalized
    from cnc_visionsearch_spark.operators.rq import rq_probe_topk
    from cnc_visionsearch_spark.queries_ann_trained import (
        _RQ_DEPTH,
        _RQ_NPROBE,
    )

    path = ensure_tlog_rq(spark, sf_dir)
    emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
    q = _norm_query_vec(spark, sf_dir, 11)
    return rq_probe_topk(
        spark, path, q, emb, k=10, nprobe=_RQ_NPROBE, depth=_RQ_DEPTH
    )


_SHARD_TLOG_DELETED = [9, 11, 450]


def ensure_tlog_shards(spark: SparkSession, sf_dir: str) -> str:
    """Transactional shard lifecycle (r10 verdict #3 — the last
    mutable ANN tier joins the commit log): build(base slice, ONE init
    commit) -> append(rest, blind) -> tombstone-delete 3 ids spanning
    both slices and three shard domains (blind) -> vacuum (a rewrite
    declaring the touched shard + tombstone domains) -> compact
    (settling the build+append two-file domains to one file each)."""
    from cnc_visionsearch_spark.operators.ann import (
        shard_append,
        shard_build,
        shard_compact,
        shard_delete,
        shard_vacuum,
    )
    from cnc_visionsearch_spark.operators.knn import with_normalized
    from cnc_visionsearch_spark.queries_ann_incremental import _SPLIT
    from cnc_visionsearch_spark.sources.tlog import TLog, run_transaction

    def build(path):
        emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
        shard_build(
            emb.filter(F.col("vec_id") < _SPLIT), path, num_shards=8,
        )
        shard_append(spark, path, emb.filter(F.col("vec_id") >= _SPLIT))
        shard_delete(spark, path, _SHARD_TLOG_DELETED)
        run_transaction(lambda: shard_vacuum(spark, path))
        run_transaction(lambda: shard_compact(spark, path))
        # post-lifecycle shape: every shard domain settled to ONE live
        # file, no tombstone files survive the vacuum
        from collections import Counter

        cnt = Counter(b for _p, b in TLog(path).snapshot().files)
        assert cnt and max(cnt.values()) == 1 and all(b < 8 for b in cnt)

    return build_once(artifact_path(sf_dir, "tlog_shards_s8"), build)


@register(
    "tlog_shard_lifecycle_topk",
    oracle=f"""
WITH {_NORM_CTE},
q AS (SELECT nvec AS qvec FROM normed WHERE vec_id = 9)
SELECT vec_id, {_L2SQ.format(a="nvec", b="qvec")} AS distance
FROM normed, q
WHERE vec_id NOT IN ({", ".join(str(i) for i in _SHARD_TLOG_DELETED)})
ORDER BY distance ASC, vec_id ASC
LIMIT 10
""",
    doc="The sharded-index tier's full mutation lifecycle as "
    "transaction-log commits (r10 verdict #3 closes the last "
    "mutex-only ANN tier): build (ONE init commit, per-shard conflict "
    "domains) -> id-mod append (blind commit, existing files "
    "byte-untouched) -> tombstone delete (blind, shared vector-layout "
    "tombstone tag) -> vacuum (ONE rewrite commit whose touched shard "
    "set is computed from the tombstone ids ALONE — shard membership "
    "is id mod num_shards, no data scan) -> compact (settling every "
    "two-file domain). Racing mutations into disjoint shards "
    "serialize; overlapping ones conflict-and-recompute under "
    "run_transaction (pinned in tests/test_tlog_artifacts.py). The "
    "probe is the SAME sharded_topk_persisted every shard query uses "
    "(read_shards: log-tag pruned snapshot reads). Query "
    "vector id 9 is ITSELF deleted, so the self-match must vanish; "
    "the oracle is the exact top-10 minus the deleted set — a hash "
    "match proves the commit chain equals a from-scratch build.",
)
def tlog_shard_lifecycle_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.ann import sharded_topk_persisted

    path = ensure_tlog_shards(spark, sf_dir)
    q = _norm_query_vec(spark, sf_dir, 9)
    return sharded_topk_persisted(spark, path, q, k=10)


def ensure_tlog_minhash_store(spark: SparkSession, sf_dir: str) -> str:
    """Transactional banded-MinHash store lifecycle: init(docs<200) ->
    append(200-250, txn-keyed) -> the SAME append REPLAYED (the
    at-least-once delivery case — the txn key makes it commit
    nothing, exactly-once proof) -> compact (dedupe + settle, a
    rewrite over every band domain)."""
    from cnc_visionsearch_spark.operators.dedup import (
        minhash_banded,
        minhash_store_append,
        minhash_store_compact,
        minhash_store_init,
    )
    from cnc_visionsearch_spark.sources.tlog import TLog, run_transaction

    def build(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        base = minhash_banded(
            docs.filter(F.col("doc_id") < 200),
            num_hashes=16, bands=4, shingle_n=3,
        )
        minhash_store_init(base, path, num_hashes=16, bands=4, shingle_n=3)
        day2 = minhash_banded(
            docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 250)),
            num_hashes=16, bands=4, shingle_n=3,
        )
        v1 = minhash_store_append(day2, path, txn=("day2", 1))
        v2 = minhash_store_append(day2, path, txn=("day2", 1))  # replay
        assert v2 == v1, "txn replay must commit nothing"
        run_transaction(lambda: minhash_store_compact(spark, path))
        t = TLog(path)
        # one file per band after compact; snapshot-isolated reads
        assert len(t.snapshot().files) == 4

    return build_once(
        artifact_path(sf_dir, "tlog_minhash_store_b4h16s3_lt250", "documents"),
        build,
    )


@register(
    "tlog_minhash_store_dedup",
    oracle=_INCR_MINHASH_ORACLE,
    doc="Cross-run incremental near-dedup probing the TRANSACTIONAL "
    "banded store — dedup_incremental_minhash's exact twin (the "
    "oracle is shared VERBATIM) with the store's lifecycle under "
    "tlog commits: init + txn-keyed append + the same append "
    "REPLAYED (commits nothing — the exactly-once contract the "
    "id_mapping streaming sink already has, now for a derived "
    "artifact) + compact (dedupe/settle as a rewrite over every band "
    "domain; racing appends conflict it, never the reverse). A hash "
    "match proves the five-commit store CONTENT equals the legacy "
    "single-writer build — arbitration added, semantics unchanged.",
)
def tlog_minhash_store_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_store_probe,
        read_minhash_store,
        tag_minhash_verdicts,
    )

    d = load_table(spark, sf_dir, "documents")
    store_docs = d.filter(F.col("doc_id") < 250).select("doc_id", "text")
    batch = (
        d.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 300))
        .select("doc_id", "text")
        .unionAll(
            d.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 270))
            .select((F.col("doc_id") + 10000).alias("doc_id"), "text")
        )
    )
    path = ensure_tlog_minhash_store(spark, sf_dir)
    pairs = minhash_store_probe(
        batch,
        read_minhash_store(spark, path),
        store_docs,
        jaccard_threshold=0.3,
        store_path=path,
    )
    inb = minhash_lsh_pairs(batch, jaccard_threshold=0.3)
    tagged = tag_minhash_verdicts(batch, pairs, inb)
    return tagged.groupBy("verdict").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("min_doc"),
        F.max("doc_id").cast("bigint").alias("max_doc"),
    )


# ---------------------------------------------------------------------------
# RESTORE (Delta's RESTORE TABLE ... TO VERSION, r9): roll back as a
# new commit — no data copied, history preserved, whole-table conflict
# domain so racing writers can never be silently dropped.


def ensure_tlog_restore(spark: SparkSession, sf_dir: str):
    """Deterministic restore lifecycle on its OWN table (never the
    shared tlog_idmap fixture): init -> merge batch1 -> RESTORE to
    version 1 (undoes the merge; meta high-water mark rolls back with
    the data, so later merges mint ids from the RESTORED state) ->
    merge batch2. Final state == batch2 applied to the initial
    mapping, batch1 fully absent."""
    from cnc_visionsearch_spark.operators.ingest import (
        tlog_init_id_mapping,
        tlog_merge_upsert,
    )
    from cnc_visionsearch_spark.queries_tlog import _idmap_path, _tlog_batches
    from cnc_visionsearch_spark.sources.catalog import derive_id_mapping
    from cnc_visionsearch_spark.sources.tlog import TLog

    def build(path):
        t = TLog(path)
        mapping = derive_id_mapping(
            load_table(spark, sf_dir, "embeddings"),
            load_table(spark, sf_dir, "documents"),
        )
        tlog_init_id_mapping(t, mapping, n_buckets=8)
        b1, b2 = _tlog_batches(spark, sf_dir)
        tlog_merge_upsert(t, b1, txn=("restore_hist", 1))
        t.restore(1)
        tlog_merge_upsert(t, b2, txn=("restore_hist", 2))

    return TLog(build_once(_idmap_path(sf_dir, "tlog_idmap_restore_b8"), build))


@register(
    "tlog_restore_semantics",
    oracle=None,  # set below: needs queries_tlog's CTE constants
    doc="RESTORE as a first-class commit (sources/tlog.py restore — "
    "the Delta RESTORE shape): version 2's merge is undone by "
    "re-pointing the live file set at version 1 (zero data copied, "
    "history intact — time travel still reads the undone state), the "
    "dense-id high-water mark rolls back WITH the data (meta rides "
    "the restore commit, so the post-restore merge mints ids from "
    "the restored state — no collisions, no gaps), and a later merge "
    "proceeds normally. The oracle replays init + ONLY the second "
    "batch over the raw tables: a hash match proves batch1 left no "
    "trace and the restored counter behaved. Declared whole-table "
    "(domains=None): a racing commit conflicts rather than being "
    "silently dropped (test-pinned).",
)
def tlog_restore_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.ingest import ID_MAPPING_SCHEMA

    t = ensure_tlog_restore(spark, sf_dir)
    base_max = int(t.snapshot(1).meta["max_faiss_id"])
    final = t.read(spark, schema=ID_MAPPING_SCHEMA)
    return final.filter(
        (F.col("faiss_id") > F.lit(base_max - 10))
        | F.col("str_id").isin("img_1", "img_2", "img_3")
    ).select(
        "str_id",
        F.col("faiss_id").cast("bigint").alias("faiss_id"),
        "text_content",
    )


def _restore_oracle() -> str:
    from cnc_visionsearch_spark.queries_ingest import _ID_MAPPING_CTE
    from cnc_visionsearch_spark.queries_tlog import _TLOG_BATCH2_SQL

    return f"""
WITH {_ID_MAPPING_CTE},
batch2 AS ({_TLOG_BATCH2_SQL}),
upd AS (
  SELECT m.str_id, m.faiss_id,
         COALESCE(b.text_content, m.text_content) AS text_content
  FROM id_mapping m LEFT JOIN batch2 b USING (str_id)
),
mx AS (SELECT COALESCE(MAX(faiss_id), 0) AS mx FROM id_mapping),
ins AS (
  SELECT b.str_id, mx + row_number() OVER (ORDER BY b.str_id) AS faiss_id,
         b.text_content
  FROM batch2 b, mx
  WHERE NOT EXISTS (SELECT 1 FROM id_mapping m WHERE m.str_id = b.str_id)
),
state AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
SELECT str_id, CAST(faiss_id AS BIGINT) AS faiss_id, text_content
FROM state
WHERE faiss_id > (SELECT mx FROM mx) - 10
   OR str_id IN ('img_1', 'img_2', 'img_3')
"""


# late-bind the oracle (avoids importing queries_tlog at module import
# before the registry settles its order)
from cnc_visionsearch_spark.registry import REGISTRY as _REG  # noqa: E402

_REG["tlog_restore_semantics"].oracle = _restore_oracle()
