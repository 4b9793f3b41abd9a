"""Graph-ANN (NSW) tier tests: recall vs the exact tier, hop-read
pruning evidence, and the incremental-insert (append) lifecycle —
the non-hash gates backing queries_ann_graph's hash-gated pair."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from cnc_visionsearch_spark.operators.graph_ann import (
    _hnsw_entry,
    nsw_append,
    nsw_build,
    nsw_search,
    read_hnsw_graph,
    read_nsw_graph,
)
from cnc_visionsearch_spark.operators.knn import knn_single, with_normalized
from cnc_visionsearch_spark.sources.catalog import load_table
from layout_files import scan_tags

SF_01 = "/root/testdata/sf0.01"
K = 10


@pytest.fixture(scope="module")
def emb(spark):
    return with_normalized(load_table(spark, SF_01, "embeddings")).select(
        "vec_id", "nvec"
    )


@pytest.fixture(scope="module")
def layout(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("nsw") / "layout")
    nsw_build(emb, path, m=8, n_buckets=16, n_entries=4)
    return path


def _norm_q(emb, vec_id):
    raw = emb.filter(F.col("vec_id") == vec_id).select("nvec").first()[0]
    return [float(x) for x in raw]


def test_nsw_recall_and_ef_monotonicity(spark, emb, layout):
    """Beam search with a generous beam reaches high recall on the
    500-vector fixture, and recall never degrades as ef grows."""
    exact = {}
    recalls = {}
    for qid in (1, 5, 9, 13):
        q = _norm_q(emb, qid)
        exact[qid] = {
            r.vec_id for r in knn_single(emb, q, k=K, normalize_query=False).collect()
        }
        for ef in (8, 24, 48):
            got = {i for i, _ in nsw_search(spark, layout, q, k=K, ef=ef, hops=4)}
            recalls[(qid, ef)] = len(got & exact[qid]) / K
    for qid in (1, 5, 9, 13):
        assert recalls[(qid, 8)] <= recalls[(qid, 24)] + 1e-9
        assert recalls[(qid, 24)] <= recalls[(qid, 48)] + 1e-9
    mean48 = sum(recalls[(q, 48)] for q in (1, 5, 9, 13)) / 4
    assert mean48 >= 0.8, recalls


def test_nsw_default_knobs_meet_baseline_recall_gate(spark, emb):
    """At the registered defaults (m/ef/hops from queries_ann_graph)
    the tier must meet BASELINE.md's >= 0.95 recall@10 — the graph
    analog of the reference's M=32/efSearch=300 quality contract."""
    from cnc_visionsearch_spark.queries_ann_graph import (
        _EF,
        _HOPS,
        ensure_nsw_built,
    )

    path = ensure_nsw_built(spark, SF_01)
    recs = []
    for qid in (1, 5, 9, 13, 17):
        q = _norm_q(emb, qid)
        exact = {
            r.vec_id
            for r in knn_single(emb, q, k=K, normalize_query=False).collect()
        }
        got = {i for i, _ in nsw_search(spark, path, q, k=K, ef=_EF, hops=_HOPS)}
        recs.append(len(got & exact) / K)
    assert sum(recs) / len(recs) >= 0.95, recs


def test_nsw_self_query_finds_itself(spark, emb, layout):
    """A corpus member querying with its own vector must surface itself
    at distance 0 (it is its neighbors' neighbor)."""
    q = _norm_q(emb, 5)
    top = nsw_search(spark, layout, q, k=K, ef=12, hops=3)
    assert top[0][0] == 5 and top[0][1] == 0.0


def test_nsw_search_is_deterministic(spark, emb, layout):
    q = _norm_q(emb, 7)
    a = nsw_search(spark, layout, q, k=K, ef=12, hops=3)
    b = nsw_search(spark, layout, q, k=K, ef=12, hops=3)
    assert a == b


def test_nsw_hop_reads_are_partition_pruned(spark, emb, layout):
    """A hop reads only the beam's buckets: the reader resolves them to
    their live files in the log, so the scan holds |beam
    buckets|/n_buckets of the edge files (real file pruning)."""
    from cnc_visionsearch_spark.operators.graph_ann import read_nsw_graph

    assert scan_tags(read_nsw_graph(spark, layout, [1, 2])) == {1, 2}
    assert len(scan_tags(read_nsw_graph(spark, layout))) == 16


def test_nsw_ivf_build_full_probe_equals_exact(spark, emb, layout, tmp_path):
    """candidates='ivf' with nprobe >= n_cells probes every cell, so the
    pruned candidate set is the whole corpus and the built graph must be
    EDGE-IDENTICAL to the exact-mode graph — the parity proof that the
    scale-safe build computes the same structure, not an approximation
    of a different one."""
    path = str(tmp_path / "nsw_ivf_full")
    nsw_build(
        emb,
        path,
        m=8,
        n_buckets=16,
        n_entries=4,
        candidates="ivf",
        ivf_cells=8,
        ivf_nprobe=8,
    )
    exact_edges = {
        (r.src, r.dst)
        for r in read_nsw_graph(spark, layout).select("src", "dst").collect()
    }
    ivf_edges = {
        (r.src, r.dst)
        for r in read_nsw_graph(spark, path).select("src", "dst").collect()
    }
    assert exact_edges == ivf_edges and exact_edges


def test_nsw_ivf_candidate_plan_no_corpus_pair_join(spark, emb, tmp_path):
    """The ivf-mode candidate generator must contain NO corpus×corpus
    pair join: no CartesianProduct anywhere, and the only
    BroadcastNestedLoopJoin allowed is the queries×codebook centroid
    ranking (codebook = n_cells rows, the same node every IVF probe
    carries). The pruned-candidate join must be a cell_id equi-join —
    the O(n·nprobe·avg_cell) shape that survives 100 TB, vs the exact
    mode's O(n²) pair join."""
    from cnc_visionsearch_spark.operators.ann import ivf_build
    from cnc_visionsearch_spark.operators.graph_ann import nsw_candidate_edges
    from cnc_visionsearch_spark.plans import formatted_plan

    ivf = str(tmp_path / "ivf")
    ivf_build(emb, ivf, n_cells=8)
    df = nsw_candidate_edges(
        emb, 8, candidates="ivf", ivf_path=ivf, ivf_nprobe=4
    )
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    # the ONLY nested-loop joins allowed are queries×codebook centroid
    # rankings (n_cells-row broadcast side) — one per plan section the
    # probe set appears in. Tie each BNLJ node to a codebook scan: a
    # corpus×corpus pair join would add a BNLJ with no codebook scan
    # to cover it.
    import re

    from cnc_visionsearch_spark.operators.ann import TLOG_CODEBOOK_TAG
    from cnc_visionsearch_spark.sources.tlog import TLog

    (codebook_dir,) = TLog(ivf).snapshot().files_in([TLOG_CODEBOOK_TAG])
    bnlj_nodes = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan))
    codebook_scans = plan.count(codebook_dir)
    assert bnlj_nodes >= 1 and codebook_scans >= bnlj_nodes, plan
    assert "cell_id" in plan
    # contrast: the exact mode IS the corpus-pair nested loop
    exact_plan = formatted_plan(nsw_candidate_edges(emb, 8, candidates="exact"))
    assert (
        "BroadcastNestedLoopJoin" in exact_plan
        or "CartesianProduct" in exact_plan
    )


def test_nsw_ivf_built_graph_beam_recall(spark, emb, tmp_path):
    """Beam search over a PRUNED ivf-built graph (nprobe=4 of 8 cells —
    the real 100 TB operating point, where the candidate set genuinely
    misses pairs) still meets the >= 0.95 recall@10 gate at the
    registered beam knobs."""
    path = str(tmp_path / "nsw_ivf_pruned")
    nsw_build(
        emb,
        path,
        m=12,
        n_buckets=16,
        n_entries=4,
        candidates="ivf",
        ivf_cells=8,
        ivf_nprobe=4,
    )
    recs = []
    for qid in (1, 5, 9, 13, 17):
        q = _norm_q(emb, qid)
        exact = {
            r.vec_id
            for r in knn_single(emb, q, k=K, normalize_query=False).collect()
        }
        got = {i for i, _ in nsw_search(spark, path, q, k=K, ef=24, hops=6)}
        recs.append(len(got & exact) / K)
    assert sum(recs) / len(recs) >= 0.95, recs


def test_nsw_append_makes_new_vectors_reachable(spark, emb, layout, tmp_path):
    """Incremental insert: a new vector appended through the index
    becomes reachable by a later search for it; pre-existing graph
    files stay byte-identical except the touched back-edge buckets."""
    path = str(tmp_path / "nsw_append")
    shutil.copytree(layout, path)
    # synthesize a new node very close to vector 3 (same direction)
    base = _norm_q(emb, 3)
    new_id = 10_000
    new = spark.createDataFrame(
        [(new_id, base)], "vec_id bigint, nvec array<double>"
    )
    nsw_append(spark, path, new)
    got = nsw_search(spark, path, base, k=K, ef=24, hops=3)
    ids = [i for i, _ in got]
    assert new_id in ids and 3 in ids
    # and the original layout (untouched copy) does not know it
    before = [i for i, _ in nsw_search(spark, layout, base, k=K, ef=24, hops=3)]
    assert new_id not in before


# ----------------------------------------------------------- hierarchy


@pytest.fixture(scope="module")
def hlayout(spark, emb, tmp_path_factory):
    from cnc_visionsearch_spark.operators.graph_ann import hnsw_build

    path = str(tmp_path_factory.mktemp("hnsw") / "layout")
    hnsw_build(emb, path, m=8, m_upper=6, level_mult=8, max_level=3)
    return path


def test_hnsw_layers_thin_geometrically(spark, hlayout):
    g = read_hnsw_graph(spark, hlayout)
    nodes = {
        l: g.filter(F.col("layer") == l).select("src").distinct().count()
        for l in range(4)
    }
    # each layer a strict subset of the one below (levels are >= l)
    assert nodes[0] > nodes[1] > nodes[2] >= nodes[3] >= 0
    for l in (1, 2):
        upper = {
            r.src
            for r in g.filter(F.col("layer") == l + 1)
            .select("src")
            .distinct()
            .collect()
        }
        lower = {
            r.src
            for r in g.filter(F.col("layer") == l).select("src").distinct().collect()
        }
        assert upper <= lower


def test_hnsw_entry_is_max_level_node(spark, hlayout):
    e = _hnsw_entry(spark, hlayout)
    g = read_hnsw_graph(spark, hlayout)
    top = int(
        g.agg(F.max("layer")).first()[0]
    )  # highest layer that actually has edges
    assert int(e["level"]) >= top


def test_hnsw_recall_meets_baseline_gate(spark, emb, hlayout):
    from cnc_visionsearch_spark.operators.graph_ann import hnsw_search

    recs = []
    for qid in (1, 5, 9, 13, 17):
        q = _norm_q(emb, qid)
        exact = {
            r.vec_id
            for r in knn_single(emb, q, k=K, normalize_query=False).collect()
        }
        got = {
            i for i, _ in hnsw_search(spark, hlayout, q, k=K, ef=24, hops=6)
        }
        recs.append(len(got & exact) / K)
    assert sum(recs) / len(recs) >= 0.95, recs


def test_hnsw_search_is_deterministic(spark, emb, hlayout):
    from cnc_visionsearch_spark.operators.graph_ann import hnsw_search

    q = _norm_q(emb, 29)
    a = hnsw_search(spark, hlayout, q, k=K, ef=24, hops=6)
    b = hnsw_search(spark, hlayout, q, k=K, ef=24, hops=6)
    assert a == b


def test_hnsw_append_reachable_and_entry_promotion(spark, emb, hlayout, tmp_path):
    from cnc_visionsearch_spark.operators.graph_ann import (
        hnsw_append,
        hnsw_level_col,
        hnsw_search,
    )

    path = str(tmp_path / "hnsw_append")
    shutil.copytree(hlayout, path)
    base = _norm_q(emb, 3)
    new_id = 10_000
    new = spark.createDataFrame(
        [(new_id, base)], "vec_id bigint, nvec array<double>"
    )
    hnsw_append(spark, path, new)
    got = hnsw_search(spark, path, base, k=K, ef=24, hops=4)
    ids = [i for i, _ in got]
    assert new_id in ids and 3 in ids
    # untouched copy does not know it
    before = [i for i, _ in hnsw_search(spark, hlayout, base, k=K, ef=24, hops=4)]
    assert new_id not in before
    # if the new node out-levels the old entry, the entry moves
    lvl = (
        spark.createDataFrame([(new_id,)], "vec_id bigint")
        .select(hnsw_level_col("vec_id", 8, 3).alias("l"))
        .first()[0]
    )
    e = _hnsw_entry(spark, path)
    old_e = _hnsw_entry(spark, hlayout)
    if int(lvl) > int(old_e["level"]):
        assert int(e["vec_id"]) == new_id
    else:
        assert int(e["vec_id"]) == int(old_e["vec_id"])


def test_hnsw_hop_reads_are_layer_and_bucket_pruned(spark, emb, hlayout):
    """The descent scan must prune BOTH axes (layer and src_bucket) —
    the (layer, bucket) tag of one domain selects its files alone, the
    physical property that keeps upper-layer hops metadata-cheap at
    corpus scale."""
    from cnc_visionsearch_spark.operators.graph_ann import (
        TLOG_HNSW_LAYER_STRIDE,
    )

    probe = read_hnsw_graph(spark, hlayout, layer=1, buckets=[3])
    assert scan_tags(probe) == {1 * TLOG_HNSW_LAYER_STRIDE + 3}
    assert len(scan_tags(read_hnsw_graph(spark, hlayout))) > 1
