"""Late-interaction (ColBERT-style maxsim) retrieval machinery.

The reference serves ANN candidates from a single HNSW beam
(main.py:155) and rescoring is implicit (the beam IS the ranking);
late interaction splits that into candidates-then-exact-maxsim, and
this module holds the pieces every maxsim tier shares:

- the deterministic md5-derived token pseudo-embedding (the model
  slot — same discipline as the multimodal fakes: a real deployment
  swaps in ColBERT token vectors, the Spark plumbing is identical);
- the TOKEN-VECTOR IVF layout (PLAID's centroid pruning, Santhanam et
  al. 2022): every vocabulary token is assigned to its nearest
  centroid cell ONCE at build time, docs are mapped to the cells their
  tokens occupy, and a query probes only the nprobe cells nearest
  each query-token vector — so a doc sharing NO literal token with
  the query is still reachable through a semantically-near (same
  cell) token, the case lexical pruning cannot serve;
- the multi-query (kNN-join-shaped) maxsim probe the batch query and
  the streaming serving twin both call, so online and batch rankings
  cannot drift.

Determinism contract (the oracle replays every step): centroids are
the first n_cells vocabulary tokens ordered by (md5(tok), tok) — the
stride-centroid doctrine of operators/ann.ivf_centroids adapted to a
string-keyed vocabulary; assignment and probing break distance ties
by cell_id; per-query-token maxes are 1e-9-quantized BEFORE the
cross-token sum so the reduction is integer and order-independent.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cnc_visionsearch_spark.functions.text import hex_to_long
from cnc_visionsearch_spark.functions.vector import l2_sq
from cnc_visionsearch_spark.memo import LRU
from cnc_visionsearch_spark.session import local_frame
from cnc_visionsearch_spark.sources.tlog import (
    TLog,
    delete_ids,
    open_layout,
    read_live,
    read_tags,
    retag,
    vacuum_tombstones,
)

__all__ = [
    "LI_DIM",
    "MAXSIM_BROADCAST_MAX_ROWS",
    "MAXSIM_VOCAB_DOTS_MAX_ROWS",
    "TOKEN_IVF_CELLS",
    "TOKEN_IVF_NPROBE",
    "li_token_vec",
    "li_token_nvec",
    "li_normalize",
    "li_token_vec_py",
    "doc_distinct_tokens",
    "validate_token_ivf_geometry",
    "token_ivf_cells_for_vocab",
    "token_ivf_build",
    "token_ivf_append",
    "token_ivf_delete",
    "token_ivf_vacuum",
    "read_doc_cells",
    "token_ivf_probe_cells",
    "token_ivf_candidates",
    "maxsim_multi_probe",
]

LI_DIM = 8
# the fixture vocabulary is small (31 tokens, TESTDATA.md word-salad
# docs), so the default geometry is 8 cells / 2 probes per query
# token; a production vocabulary (100k+ tokens) raises n_cells into
# the thousands with the same plan shapes — use
# :func:`token_ivf_cells_for_vocab` (fixed per-cell occupancy) rather
# than this constant when the vocabulary size is known
TOKEN_IVF_CELLS = 8
TOKEN_IVF_NPROBE = 2
# target vocabulary tokens per IVF cell: the knob that keeps the
# candidate fraction roughly nprobe*occupancy/vocab as the vocabulary
# grows (PLAID's sqrt-ish rule serves the same end; a fixed occupancy
# is the simpler policy with the same asymptotics)
TOKEN_IVF_OCCUPANCY = 4
_GEOM = "_GEOMETRY.json"

# broadcast-hint bound for maxsim_multi_probe's MEASURED small sides
# (candidate pairs / vocab-dot rows): ~100k rows of a few narrow
# columns is a handful of MB — comfortably a broadcast; above it the
# joins stay shuffled (a candidate set can be a corpus FRACTION, and
# hint-forcing a corpus fraction through the driver is the one
# scale-killer shape the r9 sweep measured: frac 0.58 on unigram
# geometry even under the conjunction rule)
MAXSIM_BROADCAST_MAX_ROWS = 100_000

# vocab_dots ceiling for maxsim_multi_probe: the broadcast dot table
# is n_distinct_candidate_tokens x n_batch_query_tokens rows. Both
# factors are bounded dimensions (vocabulary / batch width), never a
# corpus fraction — but their PRODUCT can still blow past broadcast
# comfort when a 100k-token vocabulary meets a very wide query batch.
# When the MEASURED product exceeds this bound, maxsim_multi_probe
# chunks the query batch so each chunk's table fits, scoring every
# chunk against the SAME materialized candidate set (per-qid scores
# are independent, so the union is hash-identical by construction);
# 4M rows of (tok, qid, qtok, dot) is ~150 MB broadcast — the upper
# edge of sane. A single over-wide query cannot split and proceeds
# unhinted.
MAXSIM_VOCAB_DOTS_MAX_ROWS = 4_000_000

# fused-reduction width guard (r11): when a chunk's DISTINCT query
# tokens fit under this bound, the per-(qid,doc,qtok) max and the
# per-(qid,doc) integer sum fuse into ONE aggregate keyed (qid,doc)
# with one conditional-max column per token — one exchange instead of
# two, hash-identical by construction. Above the bound the two-stage
# shape is kept (an aggregate hundreds of columns wide would bloat
# codegen for no exchange saving worth it).
MAXSIM_FUSED_QTOK_MAX = 64


def _maybe_broadcast(df: DataFrame, n_rows: int, max_rows: int) -> DataFrame:
    """Adaptive broadcast hint: hint only when the MEASURED row count
    is under the bound; otherwise return the frame unhinted so the
    join shuffles (AQE may still promote it at runtime from actual
    sizes — the safe direction, unlike a forced driver collect)."""
    return F.broadcast(df) if n_rows <= max_rows else df


# corpus vocabulary-size memo (r11): |distinct tokens of the docs
# frame| is an UPPER BOUND on any candidate set's vocabulary, and it
# is a property of the IMMUTABLE corpus input, not of the query batch
# — so maxsim_multi_probe's chunk/hint decisions can reuse one
# measurement instead of re-counting the candidate vocabulary on every
# call (one exchange + count job per serving request). Keyed like the
# rank-kernel memo (rank._input_key: plan hash + file fingerprint), so
# overwriting the corpus auto-invalidates; unfingerprintable inputs
# fall back to the per-call exact count.
_VOCAB_BOUNDS = LRU(32)
# corpora seen once — the lazy-seeding gate below
_VOCAB_SIGHTINGS = LRU(128)


def _corpus_vocab_bound(docs: DataFrame, text_col: str = "text"):
    from cnc_visionsearch_spark.operators.rank import _input_key

    ik = _input_key(docs)
    if ik is None:
        return None
    key = (ik, text_col)
    n = _VOCAB_BOUNDS.get(key)
    if n is None:
        # lazy seeding (r12, advisor): the cold full-corpus distinct
        # count is strictly MORE work than the per-call candidate count
        # it replaces (candidates ⊆ corpus), so a corpus seen only once
        # — or >cap distinct corpora rotating through the memo — must
        # not pay it. First sighting returns None (caller falls back to
        # the candidate count); the second sighting of the SAME corpus
        # proves reuse and seeds the memo, so every later call is free.
        if _VOCAB_SIGHTINGS.get(key) is None:
            _VOCAB_SIGHTINGS.put(key, True)
            return None
        n = int(
            docs.select(
                F.explode(
                    F.array_distinct(F.split(F.col(text_col), " "))
                ).alias("tok")
            )
            .select("tok")
            .distinct()
            .count()
        )
        _VOCAB_BOUNDS.put(key, n)
    return n


# conflict-domain tags of the token-IVF layout: doc_cells files carry
# their cell_id; the auxiliary subtables get reserved tags far above
# any real cell count
TLOG_TIVF_CENTROIDS_TAG = 200_000
TLOG_TIVF_TOKENS_TAG = 200_001
TLOG_TIVF_TOMBS_TAG = 200_002


def read_doc_cells(spark: SparkSession, path: str, cells=None) -> DataFrame:
    """The sanctioned reader for the layout's (cell_id, doc_id) table —
    the live read of one snapshot (deleted docs vanish from candidates
    immediately; the ANN tiers' read-through-the-filter doctrine).
    ``cells`` prunes at the LOG level: only those cells' files enter
    the scan."""
    t = open_layout(path)
    snap = t.snapshot()
    tags = (
        sorted(cells)
        if cells is not None
        else list(range(int(snap.meta["n_cells"])))
    )
    return read_live(spark, t, snap, tags, TLOG_TIVF_TOMBS_TAG, "doc_id")


def read_token_cells(spark: SparkSession, path: str) -> DataFrame:
    """The layout's (tok, cell_id) vocabulary assignment table."""
    t = open_layout(path)
    return read_tags(spark, t, t.snapshot(), [TLOG_TIVF_TOKENS_TAG])


def token_ivf_delete(spark: SparkSession, path: str, doc_ids: list[int]) -> None:
    """Tombstone delete from a token-IVF layout — St6 parity for the
    maxsim tier (ivf_delete / inverted_delete twin): O(batch) tombstone
    append; every candidate read goes through :func:`read_doc_cells`'
    live read so deleted docs vanish from maxsim candidates
    immediately; resident files stay byte-identical; physical removal
    rides :func:`token_ivf_vacuum`."""
    delete_ids(spark, open_layout(path), TLOG_TIVF_TOMBS_TAG, doc_ids, "doc_id")


def token_ivf_vacuum(spark: SparkSession, path: str) -> bool:
    """Apply accumulated tombstones physically: rewrite ONLY the
    doc_cells cells holding deleted docs, then retire the tombstone set,
    as ONE rewrite commit declaring the touched cell domains + the
    tombstone tag
    (:func:`~cnc_visionsearch_spark.sources.tlog.vacuum_tombstones`) —
    racing appends into other cells serialize, overlapping ones
    conflict and the vacuum recomputes (run_transaction). Returns
    whether it committed."""
    return vacuum_tombstones(
        spark,
        open_layout(path),
        TLOG_TIVF_TOMBS_TAG,
        "doc_id",
        [(lambda b: b < TLOG_TIVF_CENTROIDS_TAG, F.col("cell_id"))],
    )


def token_ivf_cells_for_vocab(
    n_vocab: int, occupancy: int = TOKEN_IVF_OCCUPANCY
) -> int:
    """Vocabulary-scaled cell count (r8 verdict #2): fixed per-cell
    OCCUPANCY, so one probed cell admits ~occupancy tokens' docs no
    matter how the vocabulary grows — n_cells = max(8,
    ceil(vocab/occupancy)). At the fixture's 31-token vocabulary this
    is 8 (the registered layouts' geometry, unchanged); at a 100k
    vocabulary it is 25k cells and a 2-probe query touches ~8 tokens'
    postings instead of the corpus. RECALL.json's maxsim_sweep records
    the measured frac-vs-recall surface, including why the FIXTURE
    unigram geometry cannot show frac << 1 at any cell count (every
    doc holds ~23 of the 31 tokens, so every doc occupies most cells
    — see the bigram-unit sweep rows for the machinery pruning hard
    the moment occupancy is low)."""
    import math

    return max(8, math.ceil(n_vocab / max(1, occupancy)))


def validate_token_ivf_geometry(path: str) -> dict:
    """Raise unless the layout at ``path`` carries a readable geometry
    sidecar stamped for THIS module's vector space (kind + dim) — a
    layout built under a different dim would rank cells against
    incommensurate centroids and silently return wrong candidates
    (the validate_minhash_meta doctrine). Returns the geometry."""
    p = os.path.join(path, _GEOM)
    if not os.path.exists(p):
        raise ValueError(
            f"token-IVF layout {path} has no {_GEOM} sidecar — "
            "probing an unstamped layout risks ranking cells in the "
            "wrong vector space; build with token_ivf_build"
        )
    with open(p) as f:
        geom = json.load(f)
    if geom.get("kind") != "token_ivf" or geom.get("dim") != LI_DIM:
        raise ValueError(
            f"token-IVF geometry mismatch at {path}: layout is "
            f"{geom}, this module probes kind=token_ivf dim={LI_DIM}"
        )
    return geom


def li_token_vec(tok: Column | str) -> Column:
    """Deterministic md5-derived LI_DIM-dim pseudo token embedding
    (raw, un-normalized) — the JVM/codegen twin of the DuckDB formula
    the maxsim oracles replay."""
    c = F.col(tok) if isinstance(tok, str) else tok
    return F.transform(
        F.sequence(F.lit(0), F.lit(LI_DIM - 1)),
        lambda j: (
            (
                hex_to_long(
                    F.substring(
                        F.md5(
                            F.concat(c, F.lit("#"), j.cast("string")).cast(
                                "binary"
                            )
                        ),
                        1,
                        8,
                    )
                )
                % F.lit(2001)
                - F.lit(1000)
            ).cast("double")
            / F.lit(1000.0)
        ),
    )


def li_normalize(v: Column) -> Column:
    """L2-normalize an embedding array column (raw md5 vectors are
    never zero-norm). Callers should project the RAW vector into its
    own column first and normalize from that: higher-order functions
    are interpreted (not whole-stage-codegen'd), so an inlined vector
    subtree gets evaluated once per reference — 16 md5 calls per token
    instead of 8 (measured 2x on the batch scorer)."""
    n2 = F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)
    return F.transform(v, lambda x: x / F.sqrt(n2))


def li_token_nvec(tok: Column | str) -> Column:
    """L2-normalized pseudo token embedding — ONE expression, for
    bounded inputs (the vocabulary table); per-corpus-token consumers
    use the two-projection li_token_vec + li_normalize split (see
    li_normalize on why)."""
    return li_normalize(li_token_vec(tok))


def li_token_vec_py(tok: str) -> list[float]:
    """PYTHON twin of li_token_nvec for bounded driver-side literals
    (query vectors, probe-cell ranking). Sequential fold order matches
    the engines' aggregate/list_sum, so the doubles are
    bit-identical."""
    import hashlib

    raw = [
        (int(hashlib.md5(f"{tok}#{j}".encode()).hexdigest()[:8], 16) % 2001)
        - 1000
        for j in range(LI_DIM)
    ]
    v = [x / 1000.0 for x in raw]
    n2 = 0.0
    for x in v:
        n2 = n2 + x * x
    n = math.sqrt(n2)
    return [x / n for x in v]


def _l2_sq_py(a: list[float], b: list[float]) -> float:
    """Sequential-fold squared L2 — bit-identical to l2_sq / the
    oracle's list_sum(list_transform(...)) chain."""
    acc = 0.0
    for x, y in zip(a, b):
        d = x - y
        acc = acc + d * d
    return acc


def doc_distinct_tokens(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, tok) — one row per DISTINCT token per document, the
    unit late interaction scores over. The input is SPREAD across all
    cores first (the dedup._spread doctrine: a few small parquet files
    scan as one partition while the downstream explode + md5-vector
    work is CPU-bound — measured 9.8s single-task vs <1s spread on the
    batch scorer at sf0.1); hash-partitioning on the doc id is the
    same clustering the downstream per-doc aggregates shuffle to, so
    the exchange is moved, not added."""
    p = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(p, F.col(id_col)).select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias(
            "tok"
        ),
    )


def _assign_tokens(vocab: DataFrame, cents: DataFrame) -> DataFrame:
    """(tok, cell_id): every vocabulary token's nearest centroid cell
    (tie-break cell_id) — a PURE FUNCTION of (token, centroid set), so
    build-time and append-time assignments against the same frozen
    centroids can never diverge. Broadcast codebook, min_by argmin —
    no vocab-proportional shuffle."""
    return (
        vocab.crossJoin(F.broadcast(cents))
        .select(
            "tok",
            "cell_id",
            l2_sq(F.col("_nv"), F.col("cv")).alias("_cd"),
        )
        .groupBy("tok")
        .agg(
            F.min_by(
                F.struct("cell_id", "_cd"), F.struct("_cd", "cell_id")
            ).alias("best")
        )
        .select("tok", F.col("best.cell_id").alias("cell_id"))
    )


def token_ivf_build(
    docs: DataFrame,
    path: str,
    n_cells: int = TOKEN_IVF_CELLS,
) -> None:
    """Build the token-vector IVF layout under ``path`` as ONE atomic
    init commit (every later mutation is a commit with cell-id conflict
    domains) of three subtables:

    - centroids: n_cells rows (cell_id, ctok, cv) — the first n_cells
      vocabulary tokens by (md5(tok), tok), their normalized vectors as
      centroids (deterministic stand-in for a trained codebook, the
      ivf_centroids doctrine — querying is identical, only centroid
      quality differs);
    - token_cells: every vocabulary token's nearest cell (tie-break
      cell_id) — O(vocab) rows;
    - doc_cells: DISTINCT (cell_id, doc_id), one conflict domain per
      cell_id — probe-time cell pruning is log-level file pruning, and
      at 100 TB this table is <= n_cells rows per doc while the corpus
      text is never touched by a probe.

    Vocabulary extraction is one distinct over exploded tokens
    (vocab << corpus); assignment is a broadcast of the n_cells
    centroids — no corpus-proportional shuffle anywhere.
    """
    spark = docs.sparkSession
    toks = doc_distinct_tokens(docs)
    vocab = toks.select("tok").distinct().withColumn(
        "_nv", li_token_nvec("tok")
    )
    cent_rows = (
        vocab.orderBy(
            F.md5(F.col("tok").cast("binary")).asc(), F.col("tok").asc()
        )
        .limit(n_cells)
        .collect()
    )  # bounded: n_cells rows (the ivf_probe_cells collect doctrine)
    cents = local_frame(
        spark, [(i, r["tok"], list(r["_nv"])) for i, r in enumerate(cent_rows)],
        "cell_id int, ctok string, cv array<double>",
    )
    asg = _assign_tokens(vocab, cents)
    t = TLog(path)
    if t.latest_version() != 0:
        raise ValueError(
            f"token_ivf_build: layout {path} already holds "
            f"{t.latest_version()} commit(s); wipe to rebuild"
        )
    adds = retag(t.write_data(cents.coalesce(1)), TLOG_TIVF_CENTROIDS_TAG)
    # freeze the assignment by reading back the written files: doc_cells
    # must join the same token -> cell rows the layout records
    asg_written = t.write_data(asg)
    asg_df = spark.read.parquet(
        *[os.path.join(path, a["path"]) for a in asg_written]
    )
    adds += retag(asg_written, TLOG_TIVF_TOKENS_TAG)
    doc_cells = (
        toks.join(F.broadcast(asg_df), "tok")
        .select("cell_id", "doc_id")
        .distinct()
    )
    # write_data's keyed repartition lands each cell in ONE file: a
    # pruned probe re-opens every file of its cells (the distinct's
    # shuffle would otherwise fan each cell across ~32 writer tasks)
    adds += t.write_data(doc_cells, bucket_expr=F.col("cell_id"))
    t.commit(
        adds=adds,
        op="append",
        meta={"kind": "token_ivf", "n_cells": n_cells, "dim": LI_DIM},
        base_version=0,
    )
    # atomic sidecar (tmp + os.replace — the operators/ann._write_
    # geometry doctrine): a crash mid-write can never leave a corrupt
    # sidecar inside an otherwise-valid layout. Probes VALIDATE it
    # (validate_token_ivf_geometry) so a layout built under a
    # different vector dim or hash family raises instead of silently
    # probing the wrong space (the minhash _META.json doctrine).
    tmp = os.path.join(path, _GEOM + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"kind": "token_ivf", "n_cells": n_cells, "dim": LI_DIM}, f)
    os.replace(tmp, os.path.join(path, _GEOM))


def token_ivf_append(docs_new: DataFrame, path: str) -> None:
    """Append NEW documents into a token-IVF layout against the FROZEN
    build-time centroids — the St4 incremental-maintenance doctrine
    every other index tier follows (ivf/pq/shard/nsw/rq append;
    the reference's own online path is add_with_ids, main.py:134):

    - the new docs' distinct tokens are assigned via the SAME
      ``_assign_tokens`` pure function the build used, against the
      centroids read back from the layout (bounded) — a token already
      in the vocabulary lands on its existing cell by construction;
    - unseen tokens append to token_cells (left_anti against the
      resident vocabulary — O(new vocab) work);
    - the new docs' (cell_id, doc_id) rows append as new files into
      their doc_cells domains — existing files byte-untouched, probes
      see the union at unchanged plan shape.

    All of it lands as ONE blind append commit — never blocked by a
    racing vacuum.

    O(batch) end to end: the resident corpus is never re-tokenized.
    A rebuild over the grown corpus MAY pick different centroids
    (they derive from the vocabulary's md5 order); the append
    contract is frozen-codebook semantics, same as the ANN tiers —
    the registered probe's oracle replays exactly that."""
    validate_token_ivf_geometry(path)
    spark = docs_new.sparkSession
    t = open_layout(path)
    cents = _read_centroids_df(spark, path)
    toks = doc_distinct_tokens(docs_new)
    vocab_new = toks.select("tok").distinct().withColumn(
        "_nv", li_token_nvec("tok")
    )
    asg_new = _assign_tokens(vocab_new, cents)
    resident = read_token_cells(spark, path).select("tok")
    adds = retag(
        t.write_data(asg_new.join(resident, "tok", "left_anti")),
        TLOG_TIVF_TOKENS_TAG,
    )
    adds += t.write_data(
        toks.join(F.broadcast(asg_new), "tok")
        .select("cell_id", "doc_id")
        .distinct(),
        bucket_expr=F.col("cell_id"),
    )
    t.commit(adds=adds, op="append")


def _read_centroids_df(spark: SparkSession, path: str) -> DataFrame:
    t = open_layout(path)
    return read_tags(spark, t, t.snapshot(), [TLOG_TIVF_CENTROIDS_TAG])


def _collect_centroids(spark: SparkSession, path: str) -> list[tuple]:
    """Validated, bounded (n_cells rows) centroid collect — ONE job,
    shared by every probe in a batch (callers rank cells driver-side
    from the returned list, never re-reading the parquet per query)."""
    validate_token_ivf_geometry(path)
    return [
        (r["cell_id"], list(r["cv"]))
        for r in _read_centroids_df(spark, path).collect()
    ]


def _probe_cells_from_rows(
    cents: list[tuple], query_tokens: list[str], nprobe: int
) -> list[int]:
    """Union of the nprobe cells nearest each query-token vector,
    ranked against an already-collected centroid list (pure driver
    arithmetic — distance ties break by cell_id)."""
    cells: set[int] = set()
    for qt in query_tokens:
        qv = li_token_vec_py(qt)
        ranked = sorted((_l2_sq_py(qv, cv), cid) for cid, cv in cents)
        cells.update(cid for _, cid in ranked[:nprobe])
    return sorted(cells)


def token_ivf_probe_cells(
    spark: SparkSession,
    path: str,
    query_tokens: list[str],
    nprobe: int = TOKEN_IVF_NPROBE,
) -> list[int]:
    """Union of the nprobe cells nearest each query-token vector —
    ranked driver-side against the collected centroid table (bounded:
    n_cells rows, the ivf_probe_cells pattern). Batch callers with
    many queries should collect once via ``_collect_centroids`` and
    rank with ``_probe_cells_from_rows`` (maxsim_multi_probe does)."""
    return _probe_cells_from_rows(
        _collect_centroids(spark, path), query_tokens, nprobe
    )


def token_ivf_candidates(
    spark: SparkSession,
    path: str,
    query_tokens: list[str],
    nprobe: int = TOKEN_IVF_NPROBE,
    min_token_hits: int = 1,
) -> DataFrame:
    """Candidate doc ids for a maxsim query: docs holding >= 1 token
    assigned to a probed cell. Partition-pruned read of doc_cells —
    no postings, no corpus text, no literal-token requirement (the
    lexical-containment gap PLAID-style pruning closes).

    ``min_token_hits`` (r8 verdict #2): require the doc to hit the
    probed cells of at least m DISTINCT query tokens (1 = the
    original union rule). Higher m prunes multiplicatively — a true
    top-k doc under maxsim almost always matches several query tokens
    (each matched token contributes ~1.0 to the score vs ~0 noise),
    so m = len(query) keeps recall ~1.0 while admitting only the
    conjunction — the measured trade lives in RECALL.json
    maxsim_sweep."""
    cents = _collect_centroids(spark, path)
    per_tok_cells = [
        (ti, cell)
        for ti, qt in enumerate(query_tokens)
        for cell in _probe_cells_from_rows(cents, [qt], nprobe)
    ]
    union_cells = sorted({c for _, c in per_tok_cells})
    dc = read_doc_cells(spark, path, cells=union_cells).filter(
        F.col("cell_id").isin(union_cells)
    )
    if min_token_hits <= 1:
        return dc.select("doc_id").distinct()
    qcells = local_frame(spark, per_tok_cells, "qt_idx int, cell_id int")
    return (
        dc.join(F.broadcast(qcells), "cell_id")
        .groupBy("doc_id")
        .agg(F.count_distinct("qt_idx").alias("_nh"))
        .filter(F.col("_nh") >= int(min_token_hits))
        .select("doc_id")
    )


def maxsim_multi_probe(
    spark: SparkSession,
    index_path: str,
    queries: list[tuple[int, list[str]]],
    docs: DataFrame,
    n_buckets: int = 16,
    k: int = 5,
    candidates: str = "lexical",
    nprobe: int = TOKEN_IVF_NPROBE,
    min_token_hits: "int | str" = 1,
    broadcast_max_rows: int = MAXSIM_BROADCAST_MAX_ROWS,
    vocab_dots_max_rows: int = MAXSIM_VOCAB_DOTS_MAX_ROWS,
) -> DataFrame:
    """Batch maxsim — the late-interaction twin of bm25_multi_probe
    (kNN-join shape): N (qid, tokens) queries answered together.

    Candidate generation per query, both partition-pruned single
    reads shared by the whole batch:

    - ``candidates="lexical"``: ``index_path`` is the inverted index;
      one pruned read of the union of the queries' terms' postings
      buckets, a doc must lexically contain >= 1 term of THAT query;
    - ``candidates="token_ivf"``: ``index_path`` is the token-IVF
      layout (token_ivf_build); each query's token vectors rank cells
      driver-side (bounded centroid collect), and one pruned read of
      the union of probed doc_cells partitions joins a broadcast
      (qid, cell_id) table — a doc sharing NO literal token with its
      query is still a candidate through a same-cell token (the
      PLAID-shaped rule of token_ivf_candidates, batched).

    Scoring reads back only candidate docs' text (semi-join-pruned),
    computes per-(qid, doc, qtok) max dot against broadcast
    query-token vectors, quantizes EACH max to a 1e-9 BIGINT, and
    integer-sums across the query's tokens — so the cross-token
    reduction is order-independent (the ADC decimal-sum discipline)
    and batch == per-query semantics hash-exactly. Returns
    (qid, doc_id, score_q), top-k per qid via the WindowGroupLimit
    shape.

    ``broadcast_max_rows``: broadcast hints on the candidate-pair and
    vocab-dot join sides are ADAPTIVE — applied only when the measured
    row count is under this bound (the candidate set can be a corpus
    fraction; hint-forcing it through the driver is a scale hazard).

    ``vocab_dots_max_rows`` (r10 verdict #2): the vocab-dot table is
    n_distinct_candidate_tokens x n_batch_query_tokens rows; when the
    measured product exceeds this bound the query batch is CHUNKED so
    each chunk's table fits (r11: the vocab factor is the memoized
    CORPUS vocabulary size — an upper bound on any candidate
    vocabulary, so the split triggers conservatively without paying a
    distinct-count job per call), and every chunk scores against the SAME
    materialized candidate set (one candidate generation, one vocab
    count, no matter how many chunks) — per-qid scores are
    independent, so the union is hash-identical to the unsplit answer
    by construction. A single query that alone exceeds the bound
    proceeds with the vocab-dot join unhinted (shuffled) instead of
    force-broadcasting.
    """
    if candidates == "lexical":
        from cnc_visionsearch_spark.operators.text_index import (
            read_postings,
            term_bucket,
        )

        all_terms = sorted({t for _, ts in queries for t in ts})
        buckets = sorted({term_bucket(t, n_buckets) for t in all_terms})
        posts = (
            read_postings(spark, index_path)
            .filter(
                F.col("bucket").isin(buckets)
                & F.col("term").isin(all_terms)
            )
            .select("term", "doc_id")
        )
        # the literal (qid, term) rows are DEDUPED driver-side (a
        # query's token list may repeat a token; scoring reduces per
        # DISTINCT qtok anyway), which makes (qid, term, doc_id) rows
        # of `matched` unique by construction — postings are unique per
        # (term, doc_id) at any visible snapshot (build groups by
        # (term, doc_id); tombstones hide every copy of a doc)
        qterms = local_frame(
            spark, sorted({(qid, t) for qid, ts in queries for t in ts}),
            "qid bigint, term string",
        )
        matched = posts.join(F.broadcast(qterms), "term")
        if min_token_hits == 1:
            cand = matched.select("qid", "doc_id").distinct()
        else:
            # conjunction-strength pruning (r8 verdict #2): a doc must
            # lexically contain >= m DISTINCT terms of THAT query
            # ("all" = every term of that query — the sweep-measured
            # operating point, RECALL.json maxsim_sweep: recall 1.0 at
            # frac 0.58 on the fixture's dense unigram unit, 0.03 on
            # the production-like bigram unit).
            # r11: the per-query distinct-term count is a pure function
            # of the LITERAL query batch — build it driver-side instead
            # of aggregating the qterms literal frame (the token_ivf
            # branch always did; one shuffle less in the candidate
            # subtree the construction barrier executes)
            # r12 (guide §2.4): count(*) replaces count_distinct(term)
            # — `matched` rows are (qid, term, doc_id)-unique (above;
            # pinned after build and after an append by
            # tests/test_maxsim.py::test_postings_unique_per_term_and_doc;
            # a replayed append commits nothing under its txn key, so
            # replays cannot duplicate postings), so the counts are EQUAL,
            # and the distinct-aggregate's extra dedup exchange
            # disappears from the candidate subtree (plan: 2 Exchange
            # -> 1 in the barrier's first job; interleaved A/B 3
            # blocks, all faster: 2.42->2.32 quiet-window min). The
            # token_ivf branch below KEEPS count_distinct — one qt_idx
            # legitimately reaches a doc through several probed cells
            # there.
            need = (
                F.col("_qn")
                if min_token_hits == "all"
                else F.lit(int(min_token_hits))
            )
            qn = local_frame(
                spark, [(qid, len(set(ts))) for qid, ts in queries],
                "qid bigint, _qn int",
            )
            cand = (
                matched.groupBy("qid", "doc_id")
                .agg(F.count(F.lit(1)).alias("_nh"))
                .join(F.broadcast(qn), "qid")
                .filter(F.col("_nh") >= need)
                .select("qid", "doc_id")
            )
    elif candidates == "token_ivf":
        cents = _collect_centroids(spark, index_path)  # ONE bounded job
        qcell_rows = [
            (qid, ti, cell)
            for qid, ts in queries
            for ti, qt in enumerate(ts)
            for cell in _probe_cells_from_rows(cents, [qt], nprobe)
        ]
        qcells = local_frame(spark, qcell_rows, "qid bigint, qt_idx int, cell_id int")
        union_cells = sorted({c for _, _, c in qcell_rows})
        hit = (
            read_doc_cells(spark, index_path, cells=union_cells)
            .filter(F.col("cell_id").isin(union_cells))
            .join(F.broadcast(qcells), "cell_id")
        )
        if min_token_hits == 1:
            cand = hit.select("qid", "doc_id").distinct()
        else:
            need = (
                F.col("_qn")
                if min_token_hits == "all"
                else F.lit(int(min_token_hits))
            )
            qn = local_frame(
                spark, [(qid, len(ts)) for qid, ts in queries],
                "qid bigint, _qn int",
            )
            cand = (
                hit.groupBy("qid", "doc_id")
                .agg(F.count_distinct("qt_idx").alias("_nh"))
                .join(F.broadcast(qn), "qid")
                .filter(F.col("_nh") >= need)
                .select("qid", "doc_id")
            )
    else:
        raise ValueError(
            f"candidates must be 'lexical' or 'token_ivf': {candidates!r}"
        )
    # ADAPTIVE small-side hints (r9 verdict #1): the candidate set is
    # a corpus FRACTION, not a bounded dimension — the conjunction
    # sweep itself measured frac 0.58 on unigram geometry — so an
    # unconditional F.broadcast(cand) would at scale force a
    # driver-side collect of millions of rows into a broadcast table.
    # cand is consumed twice (the text semi-join and the scoring
    # join), so it needs a materialization barrier + ONE measuring
    # count. persist() is the wrong primitive here: its entry lives in
    # the session CacheManager until an explicit unpersist(), so a
    # long-lived serving loop would accrete one cached corpus-fraction
    # candidate set per call (r10 verdict #1). localCheckpoint
    # (eager=False) gives the same compute-once/reuse semantics via
    # RDD blocks that the ContextCleaner reclaims when the returned
    # plan is GC'd — no CacheManager entry ever exists (the dedup
    # candidate barrier, operators/dedup.py, uses the same pattern).
    cand = cand.localCheckpoint(eager=False)
    n_cand = cand.count()
    dtoks = doc_distinct_tokens(
        docs.join(
            _maybe_broadcast(
                cand.select("doc_id").distinct(), n_cand, broadcast_max_rows
            ),
            "doc_id",
            "left_semi",
        )
    )
    # dtoks feeds BOTH the vocab-dot table and the scoring join —
    # barrier it once (same ContextCleaner-reclaimed primitive as
    # cand) so the candidate-text scan runs a single time per call.
    # (r12 measured-and-rejected: removing this barrier to let the
    # final action overlap the duplicate text scans was 1.06x SLOWER
    # in the clean interleaved block — the barrier stays.)
    dtoks = dtoks.localCheckpoint(eager=False)
    # vocab sizing for the chunk/hint decisions below: the memoized
    # CORPUS vocabulary size upper-bounds the candidate vocabulary
    # (candidate docs ⊆ corpus), so warm serving calls skip the
    # per-call distinct-count job (r11; one exchange + count removed
    # from every construction). An upper bound is conservative in both
    # uses: chunking may split slightly earlier (chunks are
    # hash-identical by construction) and the vocab_dots hint may be
    # withheld slightly earlier (AQE still promotes from runtime
    # sizes). Falls back to the exact per-call count when the corpus
    # cannot be fingerprinted.
    n_vocab = _corpus_vocab_bound(docs)
    if n_vocab is None:
        n_vocab = dtoks.select("tok").distinct().count()
    n_batch_tokens = sum(len(ts) for _, ts in queries)
    if n_vocab * n_batch_tokens > vocab_dots_max_rows and len(queries) > 1:
        # MECHANIZED vocab x batch bound (r10 verdict #2): chunk the
        # batch so each chunk's vocab-dot table stays under the bound
        # (the union vocab count upper-bounds any chunk's), and score
        # every chunk from the SAME materialized cand/dtoks — no
        # recursion, no candidate regeneration, no re-counting
        # (per-qid scores never interact, so union(chunks) == unsplit
        # hash-exactly; a chunk's vocab_dots join naturally restricts
        # cand to its own qids).
        max_tokens = max(vocab_dots_max_rows // max(n_vocab, 1), 1)
        chunks: "list[list]" = []
        cur: list = []
        cur_tok = 0
        for q_entry in queries:
            if cur and cur_tok + len(q_entry[1]) > max_tokens:
                chunks.append(cur)
                cur, cur_tok = [], 0
            cur.append(q_entry)
            cur_tok += len(q_entry[1])
        chunks.append(cur)
    else:
        chunks = [list(queries)]
    # VOCAB-FACTORED scoring (r9): dots depend only on (vocabulary
    # token, query token) — a vocab x |q| table — so the md5 vectors
    # and the interpreted dot folds evaluate once per DISTINCT
    # candidate token against the broadcast query vectors, then
    # join back onto the (doc, tok) rows. Same doubles as the previous
    # per-doc-token inline evaluation (identical expressions over
    # identical inputs): batch == per-query == oracle hash-exactly, at
    # ~1/|docs-per-token| the higher-order-function cost.
    dot = F.aggregate(
        F.zip_with(F.col("_nv"), F.col("qnv"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score_q").desc(), F.col("doc_id").asc()
    )
    outs = []
    for chunk in chunks:
        qvec_rows = [
            (qid, t, li_token_vec_py(t)) for qid, ts in chunk for t in ts
        ]
        qvecs = local_frame(
            spark, qvec_rows, "qid bigint, qtok string, qnv array<double>"
        )
        vocab_dots = (
            dtoks.select("tok")
            .distinct()
            .withColumn("_v", li_token_vec("tok"))
            .withColumn("_nv", li_normalize(F.col("_v")))
            .crossJoin(F.broadcast(qvecs))
            .select("tok", "qid", "qtok", dot.alias("_dot"))
        )
        # vocab_dots keeps its broadcast hint WHEN the bounded product
        # n_vocab x |chunk tokens| is under vocab_dots_max_rows — a
        # VOCABULARY-and-batch fact (the same class as the broadcast
        # query vectors), never a corpus fraction, so it does not share
        # the cand hazard the r9 verdict flagged. Leaving it unhinted
        # was measured to shuffle the (candidate doc, token) side — the
        # big intermediate — before AQE could promote (+0.6s on the
        # benched batch). Chunks satisfy the bound by construction; the
        # only unhinted case is a SINGLE query wide enough to exceed
        # the bound alone.
        joined = dtoks.join(
            _maybe_broadcast(cand, n_cand, broadcast_max_rows), "doc_id"
        ).join(
            _maybe_broadcast(
                vocab_dots,
                n_vocab * sum(len(ts) for _, ts in chunk),
                vocab_dots_max_rows,
            ),
            ["qid", "tok"],
        )
        chunk_qtoks = sorted({t for _, ts in chunk for t in ts})
        # 0 < guard (r12, advisor): a chunk whose queries all carry empty
        # token lists would reach groupBy().agg(*[]) with zero aggregate
        # columns and raise — route the degenerate-but-legal input to the
        # two-stage path, which reduces it to an empty frame like always
        if 0 < len(chunk_qtoks) <= MAXSIM_FUSED_QTOK_MAX:
            # FUSED reduction (r11, guide §2.4 "share one exchange"):
            # per-(qid, doc, qtok) max then per-(qid, doc) sum is two
            # exchanges keyed (qid, doc, qtok) and (qid, doc); with the
            # chunk's distinct query tokens as LITERALS, one aggregate
            # keyed (qid, doc) computes every per-token max as a
            # conditional-max column and the quantized integer sum as a
            # projection — identical values (same maxes over the same
            # rows, same 1e-9 quantization per token, same
            # order-independent BIGINT sum; a qtok column is non-NULL
            # exactly for its own qid's rows because vocab_dots pairs
            # (qid, qtok) — other qids contribute 0, exactly the rows
            # that did not exist in the two-stage form). Guarded by
            # MAXSIM_FUSED_QTOK_MAX so a very wide chunk cannot explode
            # the aggregate width (the two-stage shape remains the
            # fallback — same hashes either way).
            maxes = [
                F.max(
                    F.when(F.col("qtok") == F.lit(t), F.col("_dot"))
                ).alias(f"_m{i}")
                for i, t in enumerate(chunk_qtoks)
            ]
            score = None
            for i in range(len(chunk_qtoks)):
                part = F.when(
                    F.col(f"_m{i}").isNotNull(),
                    F.floor(
                        F.col(f"_m{i}") * F.lit(1000000000.0) + F.lit(0.5)
                    ).cast("bigint"),
                ).otherwise(F.lit(0).cast("bigint"))
                score = part if score is None else score + part
            per_pair = (
                joined.groupBy("qid", "doc_id")
                .agg(*maxes)
                .select(
                    "qid", "doc_id", score.cast("bigint").alias("score_q")
                )
            )
        else:
            per_tok = (
                joined.groupBy("qid", "doc_id", "qtok")
                .agg(F.max(F.col("_dot")).alias("_best"))
                .select(
                    "qid",
                    "doc_id",
                    F.floor(
                        F.col("_best") * F.lit(1000000000.0) + F.lit(0.5)
                    )
                    .cast("bigint")
                    .alias("_bq"),
                )
            )
            per_pair = per_tok.groupBy("qid", "doc_id").agg(
                F.sum("_bq").cast("bigint").alias("score_q")
            )
        outs.append(
            per_pair.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .select("qid", "doc_id", "score_q")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
