"""Graph-ANN tier: a navigable-small-world (NSW) index re-expressed
for Spark — the closest Spark-native analog of the reference's actual
index structure (faiss.IndexHNSWFlat, M=32, efSearch=300,
/root/reference/main.py:28-31,60-62).

HNSW is a pointer-chasing, single-process structure; it cannot hold a
100 TB corpus in RAM. The re-expression keeps its two load-bearing
ideas — a bounded-degree kNN graph and greedy beam search — and maps
each to a Spark-scale primitive:

- **Graph = a bucketed parquet table under a transaction log.** One
  row per directed edge ``(src, dst, dvec)`` with the destination
  vector DENORMALIZED into the edge row (HNSW equally stores vectors
  adjacent to the adjacency lists), one conflict domain per
  ``src_bucket = src % n_buckets``. A hop therefore reads only the
  beam's buckets' files — log-level file pruning is the distributed
  analog of following in-RAM pointers.
- **Search = H beam-search hops, each ONE pruned scan.** The beam is a
  query-planner value (≤ ef rows, like the probe-cell list of the IVF
  tier), so per hop the driver prunes buckets, scans ≤ |beam| · m edge
  rows, scores ``dvec`` with the exact codegen fold, and keeps the
  top-ef. No shuffle anywhere; the scan IS the candidate generator.

Determinism: the graph is the EXACT top-m neighbor graph (ties by
dst), entry points are the ``n_entries`` smallest vec_ids (persisted as
a metadata artifact at build), and every distance on every engine is
the same sequential fold — so beam search replays exactly in SQL as
unrolled CTEs and the registered query is hash-gated even though the
search itself is approximate (recall gates live in
tests/test_ann_graph.py).

At 100 TB the build step generates candidate edges with the
IVF-pruned batch join (``nsw_build(..., candidates="ivf")`` routes the
whole corpus through operators.ann.ivf_knn_join_probe with
``broadcast_probes=False``): per-vector candidates are the nprobe
nearest IVF cells — O(n · nprobe · avg_cell) instead of the O(n²)
exact pair join, which remains available as ``candidates="exact"``
for oracle parity at fixture scale. With ``ivf_nprobe >= n_cells`` the
two modes produce the IDENTICAL graph (every cell probed ⇒ the pruned
candidate set is the whole corpus); the graph layout, append path, and
search are unchanged by the swap.
"""

from __future__ import annotations

import json
import os
from functools import partial

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cnc_visionsearch_spark.functions.vector import l2_sq, vec_lit
from cnc_visionsearch_spark.memo import LRU, file_fingerprint
from cnc_visionsearch_spark.operators.ann import _metadata_rows, _seq_l2_sq
from cnc_visionsearch_spark.session import local_frame
from cnc_visionsearch_spark.sources.tlog import (
    TLog,
    compact_domains,
    open_layout,
    retag,
    run_transaction,
)

__all__ = [
    "nsw_build",
    "nsw_candidate_edges",
    "nsw_append",
    "nsw_compact",
    "nsw_search",
    "nsw_search_df",
    "read_nsw_graph",
    "hnsw_level_col",
    "hnsw_build",
    "hnsw_compact",
    "hnsw_search",
    "hnsw_search_df",
    "hnsw_append",
    "read_hnsw_graph",
]


def _meta(path: str) -> dict:
    with open(os.path.join(path, "_NSW.json")) as fh:
        return json.load(fh)


def _write_meta(path: str, m: int, n_buckets: int, n_entries: int) -> None:
    with open(os.path.join(path, "_NSW.json"), "w") as fh:
        json.dump({"m": m, "n_buckets": n_buckets, "n_entries": n_entries}, fh)


# ---- the graph layouts in the transaction log -----------------------------
# `nsw_build` lays the edge table down as ONE init commit with
# per-edge-file src_bucket conflict domains, appends are blind commits
# (never conflict, rebase on version races), and `nsw_compact` is a
# rewrite commit declaring the touched bucket domains — racing appends
# into other buckets serialize, overlapping ones conflict-and-recompute
# (run_transaction). Entries carry a reserved tag.

TLOG_NSW_ENTRIES_TAG = 300_000
_GRAPH_SCHEMA = "src bigint, dst bigint, dvec array<double>, src_bucket int"
# HNSW conflict-domain tag = layer * STRIDE + src_bucket (one int per
# (layer, bucket) edge partition; n_buckets must stay < STRIDE — the
# geometry sidecar's n_buckets is 16/1024 in every layout here). The
# ENTRY is not a file at all: it rides commit META (a read-modify-write
# key, so racing promotions serialize through the meta-rebase window).
TLOG_HNSW_LAYER_STRIDE = 1024
_HGRAPH_SCHEMA = (
    "layer int, src bigint, dst bigint, dvec array<double>, src_bucket int"
)


def _nsw_graph_reader(spark, path: str):
    """One-per-search reader handle for the edge table: the snapshot
    (ONE log replay) is captured once; each call prunes to ``buckets``
    at the LOG level (only those buckets' files enter the scan)."""
    t = open_layout(path)
    snap = t.snapshot()
    n_buckets = int(_meta(path)["n_buckets"])
    # relation memo per live-file set (r11): a beam search's hops
    # mostly revisit the same bucket set, and each spark.read.parquet
    # re-lists and re-plans the same files (~20-40 ms of per-hop driver
    # tax); the snapshot is frozen for the life of this handle, so
    # caching the lazy relation per resolved path tuple is pure reuse
    _rel_memo: dict[tuple, DataFrame] = {}

    def read(buckets=None):
        tags = set(
            sorted(buckets) if buckets is not None else range(n_buckets)
        )
        paths = tuple(p for p, b in snap.files if b in tags)
        rel = _rel_memo.get(paths)
        if rel is None:
            if not paths:
                rel = local_frame(spark, [], _GRAPH_SCHEMA)
            else:
                rel = spark.read.schema(_GRAPH_SCHEMA).parquet(
                    *[os.path.join(t.root, p) for p in paths]
                )
            _rel_memo[paths] = rel
        return rel

    return read


def read_nsw_graph(spark, path: str, buckets=None) -> DataFrame:
    """The sanctioned one-shot reader for the layout's denormalized
    edge table (see :func:`_nsw_graph_reader`; loops should take a
    reader handle instead of calling this per hop). The src_bucket
    column is real data, so downstream filters on it still apply."""
    return _nsw_graph_reader(spark, path)(buckets)


def _entry_rows(path: str) -> list[dict]:
    """Driver-side entry-point rows (metadata-sized, like the IVF
    codebook)."""
    t = open_layout(path)
    snap = t.snapshot()
    rows: list[dict] = []
    for rel in snap.files_in([TLOG_NSW_ENTRIES_TAG]):
        rows.extend(_metadata_rows(os.path.join(t.root, rel)))
    return rows


def nsw_compact(spark, path: str) -> None:
    """Compact an NSW layout: rewrite every bucket holding
    more than one live edge file into one file, as ONE rewrite commit
    declaring the touched bucket domains — the append-accretion bound
    (St5) for the graph tier, now arbitrated: a racing append into an
    untouched bucket serializes; into a touched one, this commit
    conflicts and the caller's run_transaction recomputes. Probe
    results are unchanged by construction (same rows, fewer files)."""
    t = open_layout(path)
    n_buckets = int(_meta(path)["n_buckets"])
    compact_domains(
        spark, t, [(lambda b: b < n_buckets, F.col("src_bucket"))],
        _GRAPH_SCHEMA,
    )


def _hnsw_graph_reader(spark, path: str):
    """One-per-search reader handle for the layered edge table (the
    :func:`_nsw_graph_reader` doctrine): the snapshot is captured ONCE,
    each call prunes to (layer, buckets) — (layer, bucket) tag -> live
    file pruning, plus the same row filters."""
    t = open_layout(path)
    meta = _hnsw_meta(path)
    nb, ml = int(meta["n_buckets"]), int(meta["max_level"])
    snap = t.snapshot()
    # relation memo per live-file set (see _nsw_graph_reader): layer-0
    # beam hops repeatedly resolve the same (layer, bucket-set) tags —
    # reuse the lazy relation instead of re-reading the same files
    _rel_memo: dict[tuple, DataFrame] = {}

    def read(layer=None, buckets=None):
        layers = [int(layer)] if layer is not None else list(range(ml + 1))
        bks = sorted(buckets) if buckets is not None else list(range(nb))
        tags = {l * TLOG_HNSW_LAYER_STRIDE + b for l in layers for b in bks}
        paths = tuple(p for p, b in snap.files if b in tags)
        g = _rel_memo.get(paths)
        if g is None:
            if not paths:
                g = local_frame(spark, [], _HGRAPH_SCHEMA)
            else:
                g = spark.read.schema(_HGRAPH_SCHEMA).parquet(
                    *[os.path.join(t.root, p) for p in paths]
                )
            _rel_memo[paths] = g
        if layer is not None:
            g = g.filter(F.col("layer") == int(layer))
        if buckets is not None:
            g = g.filter(F.col("src_bucket").isin(sorted(buckets)))
        return g

    return read


def read_hnsw_graph(
    spark, path: str, layer: int | None = None, buckets=None
) -> DataFrame:
    """One-shot form of :func:`_hnsw_graph_reader` — loops should take
    a reader handle instead of calling this per hop."""
    return _hnsw_graph_reader(spark, path)(layer, buckets)


def _hnsw_entry(spark, path: str) -> dict:
    """The search entry point, carried in commit META — promotion is a
    meta-key commit, so racing promotions serialize."""
    m = open_layout(path).snapshot().meta["entry"]
    return {
        "vec_id": int(m["vec_id"]),
        "nvec": [float(x) for x in m["nvec"]],
        "level": int(m["level"]),
    }


def _hnsw_tag_expr():
    return (
        F.col("layer") * F.lit(TLOG_HNSW_LAYER_STRIDE) + F.col("src_bucket")
    ).cast("int")


def hnsw_compact(spark, path: str) -> None:
    """:func:`nsw_compact` for the layered layout — one rewrite commit
    over every (layer, bucket) domain holding more than one live file."""
    compact_domains(
        spark, open_layout(path), [(lambda b: True, _hnsw_tag_expr())],
        _HGRAPH_SCHEMA,
    )


def nsw_candidate_edges(
    emb: DataFrame,
    m: int,
    candidates: str = "exact",
    ivf_path: str | None = None,
    ivf_nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "nvec",
) -> DataFrame:
    """The build's candidate generator: per-src exact top-``m``
    ``(src, dst, dvec)`` edges over either candidate set.

    ``candidates="exact"`` — the O(n²) pair join (fixture-scale oracle
    parity: this IS the graph the DuckDB oracle rebuilds).
    ``candidates="ivf"`` — the 100 TB shape: every vector probes the
    ``ivf_nprobe`` nearest cells of the persisted IVF layout at
    ``ivf_path`` through :func:`~cnc_visionsearch_spark.operators.ann.
    ivf_knn_join_probe` (``broadcast_probes=False`` — the probe set is
    the corpus, it must equi-join on cell_id, never broadcast), then
    exact top-m rank on the pruned candidate set. Cost is
    O(n · nprobe · avg_cell); no corpus×corpus join exists in the plan
    (pinned by tests/test_ann_graph.py). With ``ivf_nprobe >= n_cells``
    the candidate set is total, so the result is bit-identical to the
    exact mode."""
    if candidates == "exact":
        a = emb.select(F.col(id_col).alias("src"), F.col(vec_col).alias("svec"))
        b = emb.select(F.col(id_col).alias("dst"), F.col(vec_col).alias("dvec"))
        w = Window.partitionBy("src").orderBy(
            F.col("gd").asc(), F.col("dst").asc()
        )
        return (
            a.join(b, F.col("src") != F.col("dst"))
            .withColumn("gd", l2_sq("svec", "dvec"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= m)
            .select("src", "dst", "dvec")
        )
    if candidates != "ivf":
        raise ValueError(f"candidates must be 'exact' or 'ivf', got {candidates!r}")
    if ivf_path is None:
        raise ValueError("candidates='ivf' requires ivf_path")
    from cnc_visionsearch_spark.operators.ann import ivf_knn_join_probe

    spark = emb.sparkSession
    qs = emb.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
    # k=m+1: the self-match (distance 0, own cell is always probed
    # first) occupies one slot; drop it, then exact top-m re-rank on
    # the pruned candidates (covers the rare self-not-in-top case).
    cand = ivf_knn_join_probe(
        spark,
        ivf_path,
        qs,
        k=m + 1,
        nprobe=ivf_nprobe,
        id_col=id_col,
        vec_col=vec_col,
        broadcast_probes=False,
    ).filter(F.col("qid") != F.col(id_col))
    w = Window.partitionBy("qid").orderBy(
        F.col("distance").asc(), F.col(id_col).asc()
    )
    edges = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= m)
        .select(F.col("qid").alias("src"), F.col(id_col).alias("dst"))
    )
    # denormalize the destination vectors — a plain dst equi-join of
    # n·m narrow rows against the corpus, the layout's HNSW-style
    # "vectors live next to the adjacency lists" invariant
    b = emb.select(F.col(id_col).alias("dst"), F.col(vec_col).alias("dvec"))
    return edges.join(b, "dst").select("src", "dst", "dvec")


def nsw_build(
    emb: DataFrame,
    path: str,
    m: int = 12,
    n_buckets: int = 16,
    n_entries: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "nvec",
    candidates: str = "exact",
    ivf_path: str | None = None,
    ivf_cells: int = 8,
    ivf_nprobe: int = 4,
) -> None:
    """Materialize the NSW layout at ``path``: the per-src top-``m``
    neighbor graph (candidate set per ``candidates`` — see
    :func:`nsw_candidate_edges`; "exact" is the fixture-scale oracle-
    parity mode, "ivf" the 100 TB IVF-pruned mode), destination
    vectors denormalized into edge rows, one conflict domain per
    ``src % n_buckets``; plus the entries — the ``n_entries`` smallest
    ids with their vectors, the fixed search entry points
    (metadata-sized, read driver-side like the IVF codebook) — all as
    ONE atomic init commit; every later mutation is a commit with
    src_bucket conflict domains.

    In ivf mode, ``ivf_path`` reuses an existing
    :func:`~cnc_visionsearch_spark.operators.ann.ivf_build` layout
    (the production shape: the corpus already has one); when omitted a
    transient ``ivf_cells``-cell layout is built under ``path`` and
    removed after the graph is written."""
    if n_buckets >= TLOG_NSW_ENTRIES_TAG:
        raise ValueError(
            f"nsw_build: n_buckets={n_buckets} would collide with the "
            f"reserved entries conflict-domain tag "
            f"({TLOG_NSW_ENTRIES_TAG}); keep n_buckets below it"
        )
    t = TLog(path)
    if t.latest_version() != 0:
        raise ValueError(
            f"nsw_build: layout {path} already holds "
            f"{t.latest_version()} commit(s); wipe to rebuild"
        )
    transient_ivf = None
    if candidates == "ivf" and ivf_path is None:
        from cnc_visionsearch_spark.operators.ann import ivf_build

        transient_ivf = ivf_path = os.path.join(path, "_build_ivf")
        ivf_build(emb, ivf_path, n_cells=ivf_cells, id_col=id_col, vec_col=vec_col)
    graph = nsw_candidate_edges(
        emb,
        m,
        candidates=candidates,
        ivf_path=ivf_path,
        ivf_nprobe=ivf_nprobe,
        id_col=id_col,
        vec_col=vec_col,
    ).select(
        "src",
        "dst",
        "dvec",
        # int, matching nsw_append's edge schema — tlog-mode data files
        # must agree byte-for-byte on the column type across commits
        F.pmod(F.col("src"), F.lit(n_buckets)).cast("int").alias("src_bucket"),
    )
    entries = (
        emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("nvec"))
        .orderBy("vec_id")
        .limit(n_entries)
        .coalesce(1)
    )
    # write_data's keyed repartition lands each bucket in ONE file: every
    # beam hop re-opens the files of its buckets, so fragmenting a bucket
    # across writer tasks is a per-hop tax (measured nsw_search min
    # 0.93s -> 0.65s when the layout was collapsed to a file per bucket)
    adds = t.write_data(graph, bucket_expr=F.col("src_bucket"))
    adds += retag(t.write_data(entries), TLOG_NSW_ENTRIES_TAG)
    t.commit(
        adds=adds,
        op="append",
        meta={"kind": "nsw", "m": m, "n_buckets": n_buckets},
        base_version=0,
    )
    if transient_ivf is not None:
        import shutil

        shutil.rmtree(transient_ivf, ignore_errors=True)
    _write_meta(path, m, n_buckets, n_entries)


def nsw_append(spark, path: str, new_emb: DataFrame) -> None:
    """Incremental insert — the batch twin of HNSW's online ``add``:
    each new node gets out-edges to its m nearest EXISTING nodes (found
    by :func:`nsw_search_df`, i.e. through the index itself, exactly how
    HNSW inserts) plus BACK-edges from those neighbors, so new nodes
    are reachable by later searches. Both edge sets append into the
    layout as ONE blind append commit (src_bucket-tagged adds — never
    blocked by a racing :func:`nsw_compact`; an overlapping compact
    conflicts and recomputes instead) — existing files stay
    byte-identical; a touched src may temporarily exceed degree m
    (search correctness only widens; periodic :func:`nsw_build`
    re-trims). O(batch), never a corpus rescan."""
    meta = _meta(path)
    m, n_buckets = meta["m"], meta["n_buckets"]
    new_rows = new_emb.select("vec_id", "nvec").collect()
    out, back = [], []
    for r in new_rows:
        nvec = [float(x) for x in r.nvec]
        nbrs = nsw_search(spark, path, nvec, k=m, ef=4 * m)
        for nb_id, _nb_d in nbrs:
            out.append((int(r.vec_id), int(nb_id)))
            back.append((int(nb_id), int(r.vec_id), nvec))
    # out-edges need the neighbor vectors denormalized: fetch them in
    # one bounded pruned read (≤ batch·m distinct ids)
    nbr_ids = sorted({dst for _, dst in out})
    nbr_vec = {
        int(x["dst"]): x["dvec"]
        for x in read_nsw_graph(spark, path)
        .filter(F.col("dst").isin(nbr_ids))
        .select("dst", "dvec")
        .dropDuplicates(["dst"])
        .collect()
    }
    # a search result is either some edge's dst (covered above) or one
    # of the fixed entry points — merge those from the entries artifact
    for e in _entry_rows(path):
        nbr_vec.setdefault(int(e["vec_id"]), e["nvec"])
    rows = [
        (src, dst, [float(v) for v in nbr_vec[dst]], src % n_buckets)
        for src, dst in out
        if dst in nbr_vec
    ] + [(src, dst, dvec, src % n_buckets) for src, dst, dvec in back]
    df = local_frame(spark, rows, _GRAPH_SCHEMA)
    t = open_layout(path)
    t.commit(
        adds=t.write_data(df, bucket_expr=F.col("src_bucket")),
        op="append",
    )


def nsw_search(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    ef: int = 24,
    hops: int = 6,
) -> list[tuple[int, float]]:
    """Beam search over a :func:`nsw_build` layout; returns the top-k
    ``(vec_id, distance)``. Entry distances fold driver-side
    (sequential, bit-identical to the codegen fold); the hops are
    :func:`_beam`."""
    n_buckets = _meta(path)["n_buckets"]
    q = [float(x) for x in query_vec]
    seeds = {int(r["vec_id"]): _seq_l2_sq(r["nvec"], q) for r in _entry_rows(path)}
    score = l2_sq("dvec", vec_lit(q)).alias("d")
    read = _nsw_graph_reader(spark, path)  # ONE relation/snapshot per search
    beam = _beam(read, n_buckets, score, seeds, ef, hops)
    top = sorted(beam.items(), key=lambda kv: (kv[1], kv[0]))[:k]
    return [(i, d) for i, d in top]


def _beam(
    scan, n_buckets: int, score, seeds: dict[int, float], ef: int, hops: int
) -> dict[int, float]:
    """The width-``ef`` beam loop of :func:`nsw_search`, of
    :func:`hnsw_search`'s layer 0 and of :func:`hnsw_append`'s neighbor
    finding. Each hop is one scan of ``scan(buckets)`` (edges pruned to
    the beam's buckets at the log level) selecting ``score``, the
    distance Column aliased ``d`` built once per query vector; the
    beam-id filter is ONE sql-parsed expression (internal bigint ids).
    The beam (<= ef entries) is planner state, like IVF probe cells."""
    beam = dict(sorted(seeds.items(), key=lambda kv: (kv[1], kv[0]))[:ef])
    for _ in range(hops):
        ids = sorted(beam)
        if not ids:
            # empty beam (an index with no entry rows): the parsed
            # `src IN ()` would be a ParseException
            break
        nbrs = (
            scan(sorted({i % n_buckets for i in ids}))
            .filter(F.expr(f"src IN ({','.join(str(int(i)) for i in ids)})"))
            .select("dst", score)
            .collect()
        )
        for r in nbrs:
            beam.setdefault(int(r.dst), float(r.d))
        nxt = dict(sorted(beam.items(), key=lambda kv: (kv[1], kv[0]))[:ef])
        if sorted(nxt) == ids:
            # fixpoint: an unchanged beam rescans the same srcs next
            # hop and can never change again — remaining hops are
            # no-ops on every engine, so breaking preserves the
            # oracle's fixed-hop result bit-for-bit
            return nxt
        beam = nxt
    return beam


def nsw_search_df(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    ef: int = 24,
    hops: int = 6,
) -> DataFrame:
    """:func:`nsw_search` as a (vec_id, distance) DataFrame — the
    registered-query surface."""
    rows = nsw_search(spark, path, query_vec, k=k, ef=ef, hops=hops)
    return local_frame(
        spark, [(int(i), float(d)) for i, d in rows],
        "vec_id bigint, distance double",
    )


# ----------------------------------------------------------- hierarchy
#
# The reference's index is HIERARCHICAL NSW (faiss.IndexHNSWFlat,
# main.py:60): upper layers hold geometrically-thinning node subsets so
# search enters near the query's region in O(log n) cheap hops before
# the wide layer-0 beam. The flat NSW tier above re-expresses layer 0;
# these functions add the hierarchy: level assignment is a
# deterministic hash pyramid (P(level >= l) = level_mult^-l — the
# integer-arithmetic analog of HNSW's floor(-ln(U)·mL) draw, chosen so
# a SQL oracle replays it exactly), each layer >= 1 is the top-m
# neighbor graph over its surviving nodes stored in the SAME
# bucket-partitioned edge table under a layer= partition column, and
# search descends: greedy width-1 hops per upper layer (each ONE
# doubly-pruned scan: layer partition × src bucket), then the standard
# beam at layer 0 seeded by the descended entry.
#
# 100 TB build note: layer 0 candidates route through the IVF-pruned
# batch join exactly like nsw_build(candidates="ivf"). Layer l >= 1
# over n·level_mult^-l nodes builds its OWN transient IVF layout over
# the layer subset (a per-layer corpus in its own right at scale; the
# geometric series bounds the extra cost at ~1/(level_mult-1) of the
# base build). At fixture scale the exact pair join serves all layers
# — same oracle-parity stance as the flat tier.


def hnsw_level_col(id_col: str, level_mult: int, max_level: int):
    """Deterministic level for a node id: the largest l <= max_level
    with u32(md5(str(id))) % level_mult**l == 0 — pure integer
    arithmetic, bit-replayable as a SQL CASE chain."""
    u = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 8),
        16,
        10,
    ).cast("bigint")
    expr = F.lit(0)
    for l in range(1, max_level + 1):
        expr = F.when(u % (level_mult**l) == 0, F.lit(l)).otherwise(expr)
    return expr


def hnsw_build(
    emb: DataFrame,
    path: str,
    m: int = 12,
    m_upper: int = 8,
    level_mult: int = 8,
    max_level: int = 3,
    n_buckets: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "nvec",
    candidates: str = "exact",
    ivf_path: str | None = None,
    ivf_nprobe: int = 4,
) -> None:
    """Materialize the hierarchical layout at ``path`` as ONE init
    commit: the edge table with one conflict domain per
    ``(layer, src_bucket)`` — layer 0 is the full top-``m`` graph (the
    flat NSW tier's table), layer l >= 1 the top-``m_upper`` graph over
    nodes of level >= l — with the entry (the max-level node, ties to
    min id: the fixed search entry) in commit meta; plus
    ``_HNSW.json``."""
    if n_buckets >= TLOG_HNSW_LAYER_STRIDE:
        # the (layer, bucket) conflict-domain tag is layer * STRIDE +
        # bucket — a wider bucket count would silently alias tags ACROSS
        # layers, corrupting log-level pruning and append/compact
        # conflict domains
        raise ValueError(
            f"hnsw_build: n_buckets={n_buckets} must stay below "
            f"TLOG_HNSW_LAYER_STRIDE ({TLOG_HNSW_LAYER_STRIDE}) — larger "
            "values alias (layer, bucket) conflict-domain tags across "
            "layers"
        )
    t = TLog(path)
    if t.latest_version() != 0:
        raise ValueError(
            f"hnsw_build: layout {path} already holds "
            f"{t.latest_version()} commit(s); wipe to rebuild"
        )
    levels = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("nvec"),
        hnsw_level_col(id_col, level_mult, max_level).alias("level"),
    )
    layers = []
    for l in range(0, max_level + 1):
        sub = levels.filter(F.col("level") >= l).select("vec_id", "nvec")
        deg = m if l == 0 else m_upper
        g = nsw_candidate_edges(
            sub,
            deg,
            candidates=candidates if l == 0 else "exact",
            ivf_path=ivf_path,
            ivf_nprobe=ivf_nprobe,
        ).select(
            F.lit(l).alias("layer"),
            "src",
            "dst",
            "dvec",
            F.pmod(F.col("src"), F.lit(n_buckets)).cast("int").alias(
                "src_bucket"
            ),
        )
        layers.append(g)
    graph = layers[0]
    for g in layers[1:]:
        graph = graph.unionByName(g)
    e = (
        levels.orderBy(F.col("level").desc(), F.col("vec_id").asc())
        .limit(1)
        .first()
    )
    # one file per (layer, bucket) via write_data's keyed repartition —
    # see nsw_build (measured hnsw_search min 1.20s -> 0.89s)
    t.commit(
        adds=t.write_data(graph, bucket_expr=_hnsw_tag_expr()),
        op="append",
        meta={
            "kind": "hnsw",
            "m": m,
            "m_upper": m_upper,
            "n_buckets": n_buckets,
            "entry": {
                "vec_id": int(e["vec_id"]),
                "nvec": [float(x) for x in e["nvec"]],
                "level": int(e["level"]),
            },
        },
        base_version=0,
    )
    with open(os.path.join(path, "_HNSW.json"), "w") as fh:
        json.dump(
            {
                "m": m,
                "m_upper": m_upper,
                "level_mult": level_mult,
                "max_level": max_level,
                "n_buckets": n_buckets,
            },
            fh,
        )


def _hnsw_meta(path: str) -> dict:
    with open(os.path.join(path, "_HNSW.json")) as fh:
        return json.load(fh)


# Upper-descent batching gate (r12, verdict #6): the greedy descent ran
# ONE Spark job (pruned scan + collect) PER HOP — up to
# max_level x upper_hops sequential driver round trips per search, each
# fetching <= m_upper rows. When the upper layers' IN-MEMORY size
# (estimated driver-side from the parquet footers — no job needed)
# fits under this bound, the search collects layers >= 1 ONCE and
# replays the whole descent driver-side with the same sequential fold
# (_seq_l2_sq is already the doctrine-blessed twin of the codegen score
# — entry distances have always mixed with hop distances in one beam).
# Above the bound — upper layers are a corpus fraction (level_mult^-l)
# at 100 TB — the per-hop bucket-pruned scans remain, so the pruning
# story is intact by construction. The bound is on the collected rows,
# not on the files: dvec repeats per in-edge, so dictionary-encoded
# parquet is many times smaller than the rows it decodes to. The env
# value is clamped to HNSW_UPPER_COLLECT_CEILING, so no setting can
# make the driver collect more than that.
HNSW_UPPER_COLLECT_CEILING = 256 << 20


def _collect_bound(raw: str) -> int:
    """The env value clamped to [0, HNSW_UPPER_COLLECT_CEILING]."""
    return max(0, min(int(raw), HNSW_UPPER_COLLECT_CEILING))


HNSW_UPPER_COLLECT_MAX_BYTES = _collect_bound(
    os.environ.get("HNSW_UPPER_COLLECT_MAX_BYTES", str(32 << 20))
)
# bytes per collected edge row beyond its dvec doubles: the layer, src,
# dst and src_bucket fields plus the Row and list headers
_UPPER_ROW_OVERHEAD = 64
_FOOTER_ROWS = LRU(256)


def _hnsw_upper_bytes(path: str):
    """Estimated in-memory bytes of the layers >= 1 a batched descent
    would collect: the live files' parquet-footer row counts × (dvec
    dim × 8 + _UPPER_ROW_OVERHEAD), from the layout only (no Spark job;
    footer row counts memoized per file fingerprint). None when
    unknowable (assume big — keep per-hop scans)."""
    import pyarrow.parquet as pq

    snap = open_layout(path).snapshot()
    dirs = [
        os.path.join(path, p)
        for p, b in snap.files
        if b is not None and b >= TLOG_HNSW_LAYER_STRIDE
    ]
    fp = file_fingerprint(dirs)
    if fp is None:
        return None
    rows = 0
    for name, size, mtime in fp:
        if not name.endswith(".parquet"):
            continue
        n = _FOOTER_ROWS.get((name, size, mtime))
        if n is None:
            n = pq.ParquetFile(name).metadata.num_rows
            _FOOTER_ROWS.put((name, size, mtime), n)
        rows += n
    dim = len(snap.meta["entry"]["nvec"])
    return rows * (dim * 8 + _UPPER_ROW_OVERHEAD)


def _collect_upper_adjacency(read, start_layer: int):
    """ONE job: the (layer, src) -> [(dst, dvec)] adjacency of layers
    1..start_layer (each layer's relation is tag-pruned; the
    union never touches layer 0)."""
    rel = None
    for l in range(1, start_layer + 1):
        r = read(l).select("layer", "src", "dst", "dvec")
        rel = r if rel is None else rel.unionByName(r)
    adj: dict[tuple[int, int], list] = {}
    if rel is None:
        return adj
    for row in rel.collect():
        adj.setdefault((int(row["layer"]), int(row["src"])), []).append(
            (int(row["dst"]), row["dvec"])
        )
    return adj


def hnsw_search(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    ef: int = 24,
    hops: int = 6,
    upper_hops: int = 3,
) -> list[tuple[int, float]]:
    """HNSW descent over a :func:`hnsw_build` layout: from the fixed
    max-level entry, ``upper_hops`` greedy width-1 hops per layer down
    to 1 (each hop ONE scan pruned to layer × current node's
    bucket, <= m_upper rows scored by the codegen fold; a hop that
    finds no closer neighbor stays put, so converged layers are
    no-ops), then the standard width-``ef`` beam at layer 0 seeded by
    the descended node. All planner state is O(ef); the oracle replays
    every hop of every layer as unrolled CTEs, so the registered query
    is hash-gated like the flat tier."""
    meta = _hnsw_meta(path)
    n_buckets, max_level = meta["n_buckets"], meta["max_level"]
    q = [float(x) for x in query_vec]
    e = _hnsw_entry(spark, path)
    cur_id, cur_d = int(e["vec_id"]), _seq_l2_sq(e["nvec"], q)
    # hoisted per-search score Column — see _beam
    score = l2_sq("dvec", vec_lit(q)).alias("d")
    read = _hnsw_graph_reader(spark, path)  # ONE relation/snapshot per search
    # layers above the entry's level are empty by construction (the
    # entry IS a max-level node) — skip their no-op scans
    start_layer = min(max_level, int(e["level"]))
    upper_adj = None
    if start_layer >= 1:
        ub = _hnsw_upper_bytes(path)
        if ub is not None and ub <= HNSW_UPPER_COLLECT_MAX_BYTES:
            # batched descent (r12): ONE pruned collect of layers >= 1
            # replaces up to start_layer x upper_hops per-hop jobs;
            # gated on its in-memory size, see HNSW_UPPER_COLLECT_MAX_BYTES
            upper_adj = _collect_upper_adjacency(read, start_layer)
    for layer in range(start_layer, 0, -1):
        for _ in range(upper_hops):
            if upper_adj is not None:
                nbr_rows = [
                    (dst, _seq_l2_sq(dvec, q))
                    for dst, dvec in upper_adj.get((layer, cur_id), ())
                ]
            else:
                nbr_rows = [
                    (int(r.dst), float(r.d))
                    for r in read(layer, [cur_id % n_buckets])
                    .filter(F.col("src") == cur_id)
                    .select("dst", score)
                    .collect()
                ]
            best_id, best_d = cur_id, cur_d
            for rid, rd in nbr_rows:
                if (rd, rid) < (best_d, best_id):
                    best_id, best_d = rid, rd
            if best_id == cur_id:
                break  # converged at this layer
            cur_id, cur_d = best_id, best_d
    beam = _beam(partial(read, 0), n_buckets, score, {cur_id: cur_d}, ef, hops)
    top = sorted(beam.items(), key=lambda kv: (kv[1], kv[0]))[:k]
    return [(i, d) for i, d in top]


def hnsw_search_df(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    ef: int = 24,
    hops: int = 6,
    upper_hops: int = 3,
) -> DataFrame:
    """:func:`hnsw_search` as a (vec_id, distance) DataFrame."""
    rows = hnsw_search(
        spark, path, query_vec, k=k, ef=ef, hops=hops, upper_hops=upper_hops
    )
    return local_frame(
        spark, [(int(i), float(d)) for i, d in rows],
        "vec_id bigint, distance double",
    )


def hnsw_append(spark, path: str, new_emb: DataFrame) -> None:
    """Incremental insert into a :func:`hnsw_build` layout — the exact
    HNSW insert algorithm, batched: each new node draws its
    deterministic hash level, greedy-descends the upper layers to
    localize, then at every layer <= its level finds its neighbors BY
    SEARCHING THAT LAYER (beam over the layer's edges) and appends
    out-edges plus back-edges into the touched (layer, bucket)
    partitions. Existing files stay byte-identical; a node whose level
    exceeds the current entry's becomes the new persisted entry.
    O(batch) searches + appends, never a corpus rescan; degree may
    temporarily exceed m on touched srcs (search only widens; periodic
    rebuild re-trims), matching :func:`nsw_append`'s contract."""
    meta = _hnsw_meta(path)
    m, m_upper = meta["m"], meta["m_upper"]
    n_buckets, max_level = meta["n_buckets"], meta["max_level"]
    level_mult = meta["level_mult"]

    read_fn = _hnsw_graph_reader(spark, path)  # ONE relation/snapshot
    entry = _hnsw_entry(spark, path)
    new_rows = new_emb.select(
        "vec_id",
        "nvec",
        hnsw_level_col("vec_id", level_mult, max_level).alias("level"),
    ).collect()
    out_edges = []  # (layer, src, dst)
    back_edges = []  # (layer, src, dst, dvec)
    entry_lvl = int(entry["level"])
    entry_id, entry_vec = int(entry["vec_id"]), [float(x) for x in entry["nvec"]]
    new_entry = None
    for r in new_rows:
        nvec = [float(x) for x in r.nvec]
        lvl = int(r.level)
        cur = {entry_id: _seq_l2_sq(entry_vec, nvec)}
        # one score Column per node, shared by every layer's beam
        score = l2_sq("dvec", vec_lit(nvec)).alias("d")
        for layer in range(max_level, 0, -1):
            scan = partial(read_fn, layer)
            if layer > lvl:
                cur = _beam(scan, n_buckets, score, cur, ef=1, hops=3)
            else:
                found = _beam(scan, n_buckets, score, cur, ef=4 * m_upper, hops=3)
                nbrs = sorted(found.items(), key=lambda kv: (kv[1], kv[0]))[
                    :m_upper
                ]
                for nb_id, _d in nbrs:
                    out_edges.append((layer, int(r.vec_id), nb_id))
                    back_edges.append((layer, nb_id, int(r.vec_id), nvec))
                cur = dict(nbrs[:1]) or cur
        found0 = _beam(partial(read_fn, 0), n_buckets, score, cur, ef=4 * m, hops=4)
        for nb_id, _d in sorted(found0.items(), key=lambda kv: (kv[1], kv[0]))[:m]:
            out_edges.append((0, int(r.vec_id), nb_id))
            back_edges.append((0, nb_id, int(r.vec_id), nvec))
        if lvl > entry_lvl or (
            lvl == entry_lvl and int(r.vec_id) < entry_id
        ):
            entry_lvl, entry_id, entry_vec = lvl, int(r.vec_id), nvec
            new_entry = (int(r.vec_id), nvec, lvl)
    # out-edges need neighbor vectors: one bounded pruned read over the
    # distinct dst set (<= batch · (m + levels·m_upper) ids)
    nbr_ids = sorted({dst for _l, _s, dst in out_edges})
    nbr_vec = {
        int(x["dst"]): [float(v) for v in x["dvec"]]
        for x in read_fn().filter(F.col("dst").isin(nbr_ids))
        .select("dst", "dvec")
        .dropDuplicates(["dst"])
        .collect()
    }
    nbr_vec.setdefault(entry_id, entry_vec)
    new_vec = {int(r.vec_id): [float(x) for x in r.nvec] for r in new_rows}
    nbr_vec.update(new_vec)  # batch nodes may neighbor each other
    rows = [
        (layer, src, dst, nbr_vec[dst], src % n_buckets)
        for layer, src, dst in out_edges
        if dst in nbr_vec
    ] + [
        (layer, src, dst, dvec, src % n_buckets)
        for layer, src, dst, dvec in back_edges
    ]
    df = local_frame(spark, rows, _HGRAPH_SCHEMA)
    t = open_layout(path)
    # edges land as ONE blind append commit (never blocked by a racing
    # compact), THEN the entry promotion as a meta-key commit: racing
    # promotions serialize through the meta-rebase window
    # (base_version), and the loser re-reads and promotes only if it
    # still wins (level desc, vec_id asc). Edge-before-entry order keeps
    # every search seeded at a node whose out-edges are already visible.
    t.commit(adds=t.write_data(df, bucket_expr=_hnsw_tag_expr()), op="append")
    if new_entry is not None:
        vid, nvec, lvl = new_entry

        def promote():
            snap = t.snapshot()
            cur = snap.meta["entry"]
            if (lvl, -vid) > (int(cur["level"]), -int(cur["vec_id"])):
                t.commit(
                    op="append",
                    meta={"entry": {"vec_id": vid, "nvec": nvec, "level": lvl}},
                    base_version=snap.version,
                )

        run_transaction(promote)
