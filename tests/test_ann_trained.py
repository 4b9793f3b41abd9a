"""Trained-PQ tier tests (SURVEY §5.3): recall gates vs the exact
tier, training-effectiveness invariants, and the frozen-codebook
append contract. Correctness (hash-match vs the DuckDB Lloyd replay)
is covered by the registered oracles; these gate the QUALITY the
training buys.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cnc_visionsearch_spark.operators.ann import (
    TLOG_IVF_TOMBS_TAG,
    TLOG_RQ_CODES_STRIDE,
    ivf_build,
    pq_assign,
    pq_train_codebook,
    pq_trained_append,
    pq_trained_build,
    read_cells,
    read_codebook,
    read_pq_codes,
    read_pq_trained_codebook,
)
from cnc_visionsearch_spark.operators.knn import knn_single, with_normalized
from cnc_visionsearch_spark.operators.rq import read_rq_codebooks, read_rq_codes
from cnc_visionsearch_spark.queries_ann_trained import (
    _DEPTH,
    _KSTAR,
    _M,
    ann_pq_trained_distortion,
    ann_pq_trained_topk,
    ensure_pq_trained_built,
)
from cnc_visionsearch_spark.sources.catalog import load_table
from layout_files import has_files, live_md5s

SF_01 = "/root/testdata/sf0.01"
K = 10


@pytest.fixture(scope="module")
def emb(spark):
    return with_normalized(load_table(spark, SF_01, "embeddings"))


@pytest.fixture(scope="module")
def trained_path(spark):
    return ensure_pq_trained_built(spark, SF_01)


def _norm_q(emb, vec_id):
    raw = emb.filter(F.col("vec_id") == vec_id).select("embedding").first()[0]
    q = [float(x) for x in raw]
    n = sum(x * x for x in q) ** 0.5
    return [x / n for x in q]


def test_training_strictly_reduces_distortion(spark):
    """Every Lloyd iteration is monotone non-increasing in total
    quantization error; after 5 iterations each subspace must be
    strictly below its stride initialization on this fixture."""
    rows = ann_pq_trained_distortion(spark, SF_01).collect()
    assert len(rows) == _M
    for r in rows:
        assert r.err_q_trained < r.err_q_init, (
            f"sub_j={r.sub_j}: trained {r.err_q_trained} !< init "
            f"{r.err_q_init}"
        )
        assert r.n_codes_trained >= 1


def test_trained_adc_recall_meets_baseline_gate(spark, emb, trained_path):
    """BASELINE.md quality gate (recall@10 >= 0.95 vs exact) at a
    rescore depth SHALLOWER than the default (40 vs 120): the trained
    codebook's ADC ranking concentrates true neighbors early, unlike
    the stride tier (RECALL.json documents both)."""
    cb = read_pq_trained_codebook(spark, trained_path)
    codes = read_pq_codes(spark, trained_path, trained=True)
    from cnc_visionsearch_spark.functions.vector import fixed_point_q, l2_sq

    recalls = []
    for qid in (1, 5, 9, 33, 77):
        q = _norm_q(emb, qid)
        qcol = F.array(*[F.lit(float(x)) for x in q]).cast("array<double>")
        w = len(q) // _M
        lut = cb.select(
            "sub_j",
            "code",
            l2_sq(F.col("cv"), F.slice(qcol, F.col("sub_j") * w + 1, w)).alias("qd"),
        )
        cand = (
            codes.join(F.broadcast(lut), ["sub_j", "code"])
            .groupBy("vec_id")
            .agg(F.sum(fixed_point_q("qd")).alias("adc"))
            .orderBy(F.col("adc").asc(), F.col("vec_id").asc())
            .limit(40)
        )
        approx = {r.vec_id for r in cand.collect()}
        exact = {
            r.vec_id
            for r in knn_single(emb, q, k=K, normalize_query=False).collect()
        }
        recalls.append(len(approx & exact) / K)
    assert sum(recalls) / len(recalls) >= 0.95, recalls


def test_composed_ivf_pq_trained_recall_meets_baseline_gate(
    spark, emb, trained_path
):
    """The BENCHED composed default (ann_ivf_pq_trained_topk: IVF
    nprobe=7 pruning x trained-PQ ADC x fp64 rescore) must itself meet
    the >= 0.95 recall@10 gate — gating the standalone trained tier
    alone would let the composition ship a weaker operating point
    (VERDICT r4 #4). Candidate generation below is exactly the
    registered query's: probed cells from the persisted codebook, ADC
    rank restricted to those cells, top-_DEPTH."""
    from cnc_visionsearch_spark.functions.vector import fixed_point_q, l2_sq
    from cnc_visionsearch_spark.operators.ann import (
        DEFAULT_NPROBE,
        ivf_probe_cells,
    )

    cb = read_pq_trained_codebook(spark, trained_path)
    codes = read_pq_codes(spark, trained_path, trained=True)
    recalls = []
    for qid in (1, 5, 9, 33, 77):
        q = _norm_q(emb, qid)
        qcol = F.array(*[F.lit(float(x)) for x in q]).cast("array<double>")
        probed = ivf_probe_cells(spark, trained_path, q, nprobe=DEFAULT_NPROBE)
        w = len(q) // _M
        lut = cb.select(
            "sub_j",
            "code",
            l2_sq(F.col("cv"), F.slice(qcol, F.col("sub_j") * w + 1, w)).alias("qd"),
        )
        cand = (
            codes.filter(F.col("cell_id").isin(probed))
            .join(F.broadcast(lut), ["sub_j", "code"])
            .groupBy("vec_id")
            .agg(F.sum(fixed_point_q("qd")).alias("adc"))
            .orderBy(F.col("adc").asc(), F.col("vec_id").asc())
            .limit(_DEPTH)
        )
        approx = {r.vec_id for r in cand.collect()}
        exact = {
            r.vec_id
            for r in knn_single(emb, q, k=K, normalize_query=False).collect()
        }
        recalls.append(len(approx & exact) / K)
    assert sum(recalls) / len(recalls) >= 0.95, recalls


def test_trained_full_depth_query_is_exact(spark, emb):
    """Structural exactness: rescore depth >= corpus size makes the
    trained-PQ query identical to the exact tier (ids AND distances) —
    the ADC stage only selects candidates, floats never degrade."""
    n = emb.count()
    assert _DEPTH < n  # the registered query IS approximate at sf0.01
    q = _norm_q(emb, 11)
    exact = knn_single(emb, q, k=K, normalize_query=False).collect()
    # replay the registered query with depth >= n
    import cnc_visionsearch_spark.queries_ann_trained as qt

    orig = qt._DEPTH
    qt._DEPTH = n
    try:
        full = ann_pq_trained_topk(spark, SF_01).collect()
    finally:
        qt._DEPTH = orig
    assert [(r.vec_id, r.distance) for r in exact] == [
        (r.vec_id, r.distance) for r in full
    ]


def test_trained_append_equals_full_reencode(spark, tmp_path, emb):
    """Frozen-codebook contract: build on the first 400 vectors, append
    the remaining batch — the code table must equal a one-shot encode
    of the union under the same (frozen) codebook."""
    path = str(tmp_path / "layout")
    head = emb.filter(F.col("vec_id") < 400)
    tail = emb.filter(F.col("vec_id") >= 400)
    ivf_build(head, path, n_cells=8)
    pq_trained_build(spark, path, m=_M, k_star=_KSTAR, iters=2)
    pq_trained_append(spark, path, tail, m=_M)

    cb = read_pq_trained_codebook(spark, path)
    expect = {
        (r.vec_id, r.sub_j, r.code)
        for r in pq_assign(emb, cb, m=_M).collect()
    }
    got = {
        (r.vec_id, r.sub_j, r.code)
        for r in read_pq_codes(spark, path, trained=True)
        .select("vec_id", "sub_j", "code")
        .collect()
    }
    assert got == expect


def test_train_codebook_geometry(spark, emb):
    """Trained codebook covers every subspace with k* codewords of
    width dim/m (fixture: 16 x 128 x 4)."""
    rows = pq_train_codebook(emb, m=_M, k_star=_KSTAR, iters=1)
    assert len(rows) == _M * _KSTAR
    subs = {sj for sj, _, _ in rows}
    assert subs == set(range(_M))
    assert all(len(cv) == 64 // _M for _, _, cv in rows)


def test_vacuum_rewrites_trained_codes(spark, tmp_path, emb):
    """Delete coherence for the trained tier: after ivf_delete +
    ivf_vacuum (which drops the tombstone set), the trained code table
    must no longer contain the deleted ids — a vacuum that skipped
    pq_trained_codes would resurrect them on this probe path."""
    from cnc_visionsearch_spark.operators.ann import ivf_delete, ivf_vacuum

    path = str(tmp_path / "layout")
    ivf_build(emb, path, n_cells=8)
    pq_trained_build(spark, path, m=_M, k_star=_KSTAR, iters=1)
    ivf_delete(spark, path, [3, 7])
    ivf_vacuum(spark, path)
    assert not has_files(path, TLOG_IVF_TOMBS_TAG)
    left = {
        r.vec_id
        for r in read_pq_codes(spark, path, trained=True)
        .select("vec_id")
        .distinct()
        .collect()
    }
    assert 3 not in left and 7 not in left
    cells_left = {
        r.vec_id
        for r in read_cells(spark, path).select("vec_id").collect()
    }
    assert left == cells_left


def test_range_search_matches_flat_and_prunes_clustered_cells(spark, tmp_path):
    """Radius search over an IVF layout: (a) on any data the pruned
    probe returns EXACTLY the flat in-radius set (triangle-inequality
    losslessness); (b) on clustered data the probe genuinely skips
    cells — the payoff the fixture's wide isotropic cells cannot
    show."""
    import math

    from cnc_visionsearch_spark.operators.ann import (
        ivf_build,
        ivf_cell_radii,
        ivf_range_search,
    )
    from cnc_visionsearch_spark.functions.vector import l2_sq

    # 4 tight clusters far apart on a 2-sphere-ish layout (dim 4)
    centers = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
    ]
    rows = []
    vid = 0
    for c in centers:
        for j in range(25):
            eps = 0.01 * ((j % 5) - 2)
            v = [x + (eps if i == (j % 4) else 0.0) for i, x in enumerate(c)]
            n = math.sqrt(sum(x * x for x in v))
            rows.append((vid, [x / n for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id bigint, nvec array<double>")
    path = str(tmp_path / "clustered")
    # plug the TRUE cluster centers in through ivf_build's trained-
    # codebook slot (the production configuration): the default stride
    # quantizer would drop one cluster and scatter its members, blowing
    # every cell radius up to the inter-cluster distance
    cents = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centers)],
        "cell_id int, centroid array<double>",
    )
    ivf_build(emb, path, n_cells=4, centroids=cents)

    q = rows[3][1]  # a member of cluster 0
    r2 = 0.01  # tight radius: only cluster-0 neighbors qualify
    got = {
        (r.vec_id, r.distance)
        for r in ivf_range_search(spark, path, q, r2).collect()
    }
    qcol = F.array(*[F.lit(float(x)) for x in q]).cast("array<double>")
    flat = {
        (r.vec_id, r.distance)
        for r in emb.select(
            "vec_id", l2_sq("nvec", qcol).alias("distance")
        )
        .filter(F.col("distance") <= r2)
        .collect()
    }
    assert got == flat and len(got) > 0

    # pruning actually fired: at least one cell's lower bound exceeds R
    radii = {r.cell_id: r.radius for r in ivf_cell_radii(spark, path).collect()}
    cents = {
        r.cell_id: r.centroid
        for r in read_codebook(spark, path).collect()
    }
    # iterate populated cells only (a stride centroid can own zero
    # members on clustered data; empty cells have no radius row and
    # are trivially skipped by the probe)
    lb = {
        c: math.sqrt(sum((a - b) ** 2 for a, b in zip(cents[c], q))) - radii[c]
        for c in radii
    }
    assert sum(1 for v in lb.values() if v > math.sqrt(r2)) >= 1


def test_train_codebook_is_deterministic(spark, emb):
    """The cross-engine contract rests on training being a pure
    function of the data: two runs must produce BIT-IDENTICAL
    codebooks (fixed-point integer means, lexicographic ties — no
    accumulation-order or partitioning dependence)."""
    a = pq_train_codebook(emb.repartition(7), m=_M, k_star=_KSTAR, iters=2)
    b = pq_train_codebook(emb.repartition(3), m=_M, k_star=_KSTAR, iters=2)
    assert a == b


def test_range_search_empty_when_nothing_in_radius(spark, tmp_path, emb):
    """A query with no in-radius vectors returns an empty frame (and
    when every cell's lower bound exceeds R, the probe scans nothing)."""
    from cnc_visionsearch_spark.operators.ann import ivf_build, ivf_range_search

    path = str(tmp_path / "layout")
    ivf_build(emb, path, n_cells=8)
    q = _norm_q(emb, 2)
    assert ivf_range_search(spark, path, q, r2=1e-6).filter(
        F.col("vec_id") != 2
    ).count() == 0


def test_train_codebook_empty_table_raises(spark):
    empty = spark.createDataFrame([], "vec_id bigint, nvec array<double>")
    with pytest.raises(ValueError, match="empty embeddings"):
        pq_train_codebook(empty, m=_M, k_star=_KSTAR, iters=1)


def test_train_codebook_sparse_ids_raise(spark):
    """Offset/sparse ids where no id satisfies the stride init must
    fail loudly, not with a bare StopIteration."""
    sparse = spark.createDataFrame(
        [(10_000_001, [0.1] * 64), (10_000_003, [0.2] * 64)],
        "vec_id bigint, nvec array<double>",
    )
    with pytest.raises(ValueError, match="no codewords"):
        pq_train_codebook(sparse, m=_M, k_star=_KSTAR, iters=1)


def test_append_merge_updates_persisted_radii(spark, tmp_path, emb):
    """ivf_append commits the BATCH's radii alone (O(batch) partial
    maxima); the bounds merged from them must equal a full recompute
    over the unioned layout."""
    from cnc_visionsearch_spark.operators.ann import (
        _compute_cell_radii,
        ivf_append,
        ivf_build,
        ivf_cell_radii,
    )

    path = str(tmp_path / "layout")
    ivf_build(emb.filter(F.col("vec_id") < 300), path, n_cells=8)
    ivf_append(spark, path, emb.filter(F.col("vec_id") >= 300))
    persisted = {
        r.cell_id: r.radius for r in ivf_cell_radii(spark, path).collect()
    }
    full = {
        r.cell_id: r.radius for r in _compute_cell_radii(spark, path).collect()
    }
    assert persisted == full


# ------------------------------------------------- residual quantizer tier


def test_rq_residual_stage_strictly_reduces_distortion(spark, emb):
    """The second (residual) level must strictly beat the coarse stage
    — the evidence it earns its bytes (ann_rq_distortion ledger)."""
    from cnc_visionsearch_spark.queries_ann_trained import ann_rq_distortion

    rows = {r.stage: r for r in ann_rq_distortion(spark, SF_01).collect()}
    assert set(rows) == {"coarse", "residual"}
    assert rows["residual"].err_q < rows["coarse"].err_q
    assert rows["coarse"].n_codes > 1
    assert rows["residual"].n_codes > 1


def test_rq_exhaustive_knobs_query_is_exact(spark, emb):
    """Structural exactness: nprobe = k1 (every cell) and depth >=
    corpus size make the RQ probe identical to the exact tier — the
    coded reconstruction only SELECTS candidates, the fp64 rescore
    carries the distances."""
    from cnc_visionsearch_spark.operators.rq import rq_probe_topk
    from cnc_visionsearch_spark.queries_ann_trained import _RQ_K1, ensure_rq

    n = emb.count()
    path = ensure_rq(spark, SF_01)
    q = _norm_q(emb, 11)
    exact = knn_single(emb, q, k=K, normalize_query=False).collect()
    full = rq_probe_topk(
        spark, path, q, emb, k=K, nprobe=_RQ_K1, depth=n
    ).collect()
    assert [(r.vec_id, r.distance) for r in exact] == [
        (r.vec_id, r.distance) for r in full
    ]


def test_rq_codes_cover_corpus_once(spark, emb):
    """Every vector gets exactly one (c1, c2) code pair, and codes are
    within the codebook ranges — the layout invariant appends must
    preserve."""
    from cnc_visionsearch_spark.queries_ann_trained import (
        _RQ_K1,
        _RQ_K2,
        ensure_rq,
    )

    path = ensure_rq(spark, SF_01)
    codes = read_rq_codes(spark, path)
    n = emb.count()
    assert codes.count() == n
    assert codes.select("vec_id").distinct().count() == n
    bad = codes.filter(
        (F.col("c1") < 0)
        | (F.col("c1") >= _RQ_K1)
        | (F.col("c2") < 0)
        | (F.col("c2") >= _RQ_K2)
    )
    assert bad.count() == 0


def test_rq_append_equals_full_reencode(spark, tmp_path, emb):
    """Frozen-codebook contract for the RQ tier: build on the first
    400 vectors, append the rest, and every appended vector's (c1, c2)
    must equal coding it directly under the same frozen codebooks;
    resident code files stay byte-identical."""
    from cnc_visionsearch_spark.operators.rq import (
        argmin_code,
        rq_append,
        rq_build,
    )

    path = str(tmp_path / "rq")
    base = emb.filter(F.col("vec_id") < 400)
    rest = emb.filter(F.col("vec_id") >= 400)
    rq_build(spark, path, base, k1=8, k2=16, iters=2)

    before = live_md5s(path, part="c1", base=TLOG_RQ_CODES_STRIDE)
    rq_append(spark, path, rest)
    after = live_md5s(path, part="c1", base=TLOG_RQ_CODES_STRIDE)
    for p, m in before.items():
        assert after.get(p) == m, f"resident file touched: {p}"

    cb1, cb2 = read_rq_codebooks(spark, path)
    a1 = argmin_code(rest, cb1, "nvec").withColumnRenamed("code", "e1")
    res = (
        rest.join(a1.withColumnRenamed("e1", "c1"), "vec_id")
        .join(F.broadcast(cb1.withColumnRenamed("code", "c1")), "c1")
        .select(
            "vec_id",
            F.col("c1").alias("e1"),
            F.zip_with("nvec", "cv", lambda a, b: a - b).alias("rvec"),
        )
    )
    a2 = argmin_code(res, cb2, "rvec").withColumnRenamed("code", "e2")
    expect = {
        (r.vec_id): (r.e1, r.e2)
        for r in res.select("vec_id", "e1").join(a2, "vec_id").collect()
    }
    stored = {
        r.vec_id: (r.c1, r.c2)
        for r in read_rq_codes(spark, path)
        .filter(F.col("vec_id") >= 400)
        .collect()
    }
    assert stored == expect


def test_rq_delete_hides_then_vacuum_retires(spark, tmp_path, emb):
    """The RQ tier honors the layout's shared tombstone set: deleted
    ids vanish from the probe immediately, vacuum rewrites only the
    touched c1 domains (one rewrite commit) and drops the tombstones,
    and the probe result is unchanged after physical removal."""
    from cnc_visionsearch_spark.operators.ann import ivf_delete, ivf_vacuum
    from cnc_visionsearch_spark.operators.rq import rq_build, rq_probe_topk

    path = str(tmp_path / "rq_del")
    rq_build(spark, path, emb, k1=8, k2=16, iters=2)
    q = _norm_q(emb, 11)
    before = rq_probe_topk(
        spark, path, q, emb, k=5, nprobe=8, depth=emb.count()
    ).collect()
    victims = [r.vec_id for r in before[1:3]]
    ivf_delete(spark, path, victims)
    emb_alive = emb.filter(~F.col("vec_id").isin(victims))
    after = rq_probe_topk(
        spark, path, q, emb_alive, k=5, nprobe=8, depth=emb.count()
    ).collect()
    got_ids = [r.vec_id for r in after]
    assert not set(victims) & set(got_ids)
    ivf_vacuum(spark, path)
    assert not has_files(path, TLOG_IVF_TOMBS_TAG)
    assert (
        read_rq_codes(spark, path)
        .filter(F.col("vec_id").isin(victims))
        .count()
        == 0
    )
    post = rq_probe_topk(
        spark, path, q, emb_alive, k=5, nprobe=8, depth=emb.count()
    ).collect()
    assert [(r.vec_id, r.distance) for r in post] == [
        (r.vec_id, r.distance) for r in after
    ]
