"""Incremental ANN index maintenance (VERDICT r3 §Next-round #1):
append batches must extend a persisted layout without touching existing
files, and probes over the appended layout must equal a from-scratch
computation over the full corpus with the same frozen codebook.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cnc_visionsearch_spark.operators.ann import (
    TLOG_IVF_TOMBS_TAG,
    TLOG_PQ_CODES_STRIDE,
    ivf_append,
    ivf_assign,
    ivf_build,
    ivf_probe,
    ivf_topk,
    pq_append,
    pq_assign,
    pq_build,
    pq_codebook,
    read_cells,
    read_codebook,
    read_geometry,
    read_pq_codes,
    read_shards,
    shard_append,
    shard_build,
    sharded_topk_persisted,
)
from cnc_visionsearch_spark.operators.knn import knn_single, with_normalized
from cnc_visionsearch_spark.sources.catalog import load_table
from layout_files import has_files, live_md5s as _file_md5s, resident_rows

SF = "/root/testdata/sf0.01"
SPLIT = 300


@pytest.fixture(scope="module")
def emb(spark):
    return with_normalized(load_table(spark, SF, "embeddings"))


def _norm_q(emb, vec_id):
    raw = emb.filter(F.col("vec_id") == vec_id).select("embedding").first()[0]
    q = [float(x) for x in raw]
    n = sum(x * x for x in q) ** 0.5
    return [x / n for x in q]


def test_ivf_append_extends_layout_without_touching_files(spark, emb, tmp_path):
    """Build over the base slice, append the rest: every pre-existing
    cell file must survive byte-identical (append adds files, never
    rewrites), and the probe over the appended layout must equal an
    in-memory probe of the FULL corpus assigned against the same
    frozen codebook."""
    path = str(tmp_path / "ivf")
    base = emb.filter(F.col("vec_id") < SPLIT)
    rest = emb.filter(F.col("vec_id") >= SPLIT)
    ivf_build(base, path, n_cells=8)
    before = _file_md5s(path)
    assert before  # the build wrote real files

    ivf_append(spark, path, rest)
    after = _file_md5s(path)

    for rel, digest in before.items():
        assert after.get(rel) == digest, f"append rewrote existing file {rel}"
    assert set(after) - set(before), "append added no files"

    # probe equivalence: appended layout == full corpus under the
    # build-time codebook (ids AND exact distances)
    cents = read_codebook(spark, path)
    q = _norm_q(emb, 3)
    want = [
        (r.vec_id, r.distance)
        for r in ivf_topk(ivf_assign(emb, cents), cents, q, k=10, nprobe=4).collect()
    ]
    got = [
        (r.vec_id, r.distance)
        for r in ivf_probe(spark, path, q, k=10, nprobe=4).collect()
    ]
    assert got == want
    # the appended half is actually visible to probes
    assert read_cells(spark, path).filter(
        F.col("vec_id") >= SPLIT
    ).count() == rest.count()


def test_pq_append_equals_full_reencode(spark, emb, tmp_path):
    """Codes are per-vector functions of the frozen codebook: appending
    the rest's codes must leave existing code files untouched and make
    the code table equal a from-scratch encode of the union."""
    path = str(tmp_path / "ivfpq")
    base = emb.filter(F.col("vec_id") < SPLIT)
    rest = emb.filter(F.col("vec_id") >= SPLIT)
    ivf_build(base, path, n_cells=8)
    pq_build(spark, path, m=8)
    before = _file_md5s(path, base=TLOG_PQ_CODES_STRIDE)
    assert before

    ivf_append(spark, path, rest)
    pq_append(spark, path, rest, m=8)
    after = _file_md5s(path, base=TLOG_PQ_CODES_STRIDE)
    for rel, digest in before.items():
        assert after.get(rel) == digest, f"append rewrote existing file {rel}"

    cents = read_codebook(spark, path)
    cb = pq_codebook(cents, m=8)
    want = sorted(
        (r.vec_id, r.sub_j, r.code)
        for r in pq_assign(emb, cb, m=8).collect()
    )
    got = sorted(
        (r.vec_id, r.sub_j, r.code)
        for r in read_pq_codes(spark, path)
        .select("vec_id", "sub_j", "code")
        .collect()
    )
    assert got == want


def test_shard_append_probe_equals_exact(spark, emb, tmp_path):
    """Appended shard layout: geometry pinned by the sidecar, existing
    shard files untouched, probe equals the exact tier over the UNION
    (numpy local search is exact)."""
    path = str(tmp_path / "shards")
    base = emb.filter(F.col("vec_id") < SPLIT)
    rest = emb.filter(F.col("vec_id") >= SPLIT)
    shard_build(base, path, num_shards=8)
    assert read_geometry(path)["num_shards"] == 8
    before = _file_md5s(path, part="shard")

    shard_append(spark, path, rest)
    after = _file_md5s(path, part="shard")
    for rel, digest in before.items():
        assert after.get(rel) == digest, f"append rewrote existing file {rel}"

    q = _norm_q(emb, 9)
    want = [
        (r.vec_id, r.distance)
        for r in knn_single(emb, q, k=10, normalize_query=False).collect()
    ]
    got = [
        (r.vec_id, r.distance)
        for r in sharded_topk_persisted(spark, path, q, k=10).collect()
    ]
    assert got == want


def test_shard_append_refuses_mismatched_columns(spark, emb, tmp_path):
    path = str(tmp_path / "shards2")
    shard_build(emb.filter(F.col("vec_id") < 50), path, num_shards=4)
    with pytest.raises(ValueError, match="built with columns"):
        shard_append(
            spark, path, emb.filter(F.col("vec_id") >= 50), id_col="doc_id"
        )


def test_compact_appended_cells_preserves_probe_and_pruning(spark, emb, tmp_path):
    """Repeated appends accrete one file per touched cell per batch —
    one compaction commit over the cell domains must shrink the live
    files to one per cell (so cell pruning still reads one file per
    probed cell) and leave probe results bit-identical."""
    from cnc_visionsearch_spark.sources.tlog import TLog, compact_domains

    path = str(tmp_path / "ivf")
    ivf_build(emb.filter(F.col("vec_id") < 200), path, n_cells=8)
    # five append batches -> up to 5 extra file sets per cell
    for i in range(5):
        ivf_append(
            spark, path, emb.filter((F.col("vec_id") >= 200 + 60 * i) & (F.col("vec_id") < 260 + 60 * i))
        )
    q = _norm_q(emb, 3)
    before = [
        (r.vec_id, r.distance)
        for r in ivf_probe(spark, path, q, k=10, nprobe=4).collect()
    ]
    files_before = len(_file_md5s(path))
    compact_domains(spark, TLog(path), [(lambda b: b < 8, F.col("cell_id"))])
    files_after = _file_md5s(path)
    assert len(files_after) < files_before
    # one file per cell -> a probe of cell c opens exactly one file
    cells = [k.split("/")[0] for k in files_after]
    assert len(cells) == len(set(cells)) == 8
    after = [
        (r.vec_id, r.distance)
        for r in ivf_probe(spark, path, q, k=10, nprobe=4).collect()
    ]
    assert after == before


def test_ivf_build_with_trained_codebook(spark, emb, tmp_path):
    """A caller-supplied (trained) codebook slots into the same layout:
    probe/append semantics are unchanged — full probe over the custom
    codebook equals the exact tier, and appends assign against the
    persisted custom centroids."""
    path = str(tmp_path / "ivf_trained")
    # stand-in "trained" codebook: 4 corpus vectors as centroids
    cents = (
        emb.filter(F.col("vec_id").isin([10, 20, 30, 40]))
        .select(
            ((F.col("vec_id") / 10).cast("int") - 1).alias("cell_id"),
            F.col("nvec").alias("centroid"),
        )
    )
    ivf_build(
        emb.filter(F.col("vec_id") < SPLIT), path, n_cells=4, centroids=cents
    )
    ivf_append(spark, path, emb.filter(F.col("vec_id") >= SPLIT))
    q = _norm_q(emb, 7)
    want = [
        (r.vec_id, r.distance)
        for r in knn_single(emb, q, k=10, normalize_query=False).collect()
    ]
    # full probe (nprobe = all 4 cells) must equal exact over the union
    got = [
        (r.vec_id, r.distance)
        for r in ivf_probe(spark, path, q, k=10, nprobe=4).collect()
    ]
    assert got == want
    # every vector landed in one of the custom cells
    cells = read_cells(spark, path)
    assert cells.count() == emb.count()
    assert cells.filter(~F.col("cell_id").isin([0, 1, 2, 3])).count() == 0


def test_ivf_delete_then_vacuum_lifecycle(spark, emb, tmp_path):
    """Tombstone delete hides ids immediately without touching resident
    files; vacuum rewrites ONLY the touched cell partitions (and the
    code table), drops the tombstones, and leaves probe results
    unchanged."""
    from cnc_visionsearch_spark.operators.ann import ivf_delete, ivf_vacuum

    path = str(tmp_path / "ivf_del")
    ivf_build(emb, path, n_cells=8)
    pq_build(spark, path, m=8)
    q = _norm_q(emb, 3)
    pre = [r.vec_id for r in ivf_probe(spark, path, q, k=10, nprobe=8).collect()]
    assert pre[0] == 3  # self-match present before the delete

    files_before = _file_md5s(path)
    ivf_delete(spark, path, [3, 17, 23])
    files_after = _file_md5s(path)
    assert files_after == files_before  # delete touches no resident file

    post = [r.vec_id for r in ivf_probe(spark, path, q, k=10, nprobe=8).collect()]
    assert 3 not in post and 17 not in post and 23 not in post
    # full-probe semantics: post == pre minus deleted, refilled from rank 11+
    want = [
        r.vec_id
        for r in knn_single(
            emb.filter(~F.col("vec_id").isin([3, 17, 23])), q, k=10,
            normalize_query=False,
        ).collect()
    ]
    assert post == want

    # vacuum: tombstones gone, untouched cells byte-identical, results same
    deleted_cells = {
        r.cell_id
        for r in resident_rows(spark, path)
        .filter(F.col("vec_id").isin([3, 17, 23]))
        .select("cell_id")
        .collect()
    }
    ivf_vacuum(spark, path)
    assert not has_files(path, TLOG_IVF_TOMBS_TAG)
    files_vac = _file_md5s(path)
    for rel, digest in files_before.items():
        cell = rel.split("/")[0]
        if int(cell.split("=")[1]) not in deleted_cells:
            assert files_vac.get(rel) == digest, f"untouched cell rewritten: {rel}"
    after_vac = [
        r.vec_id for r in ivf_probe(spark, path, q, k=10, nprobe=8).collect()
    ]
    assert after_vac == post
    # physically gone from cells AND pq_codes
    assert (
        read_cells(spark, path)
        .filter(F.col("vec_id").isin([3, 17, 23]))
        .count()
        == 0
    )
    assert (
        read_pq_codes(spark, path)
        .filter(F.col("vec_id").isin([3, 17, 23]))
        .count()
        == 0
    )


def test_streaming_deletes_then_maintenance_runbook(spark, emb, tmp_path):
    """End-to-end operational lifecycle: appends accrete files, a
    delete stream tombstones ids, run_index_maintenance vacuums +
    compacts + audits — probe results match the exact tier minus
    deletes throughout, and a second maintenance run is a no-op."""
    from cnc_visionsearch_spark.maintenance import run_index_maintenance
    from cnc_visionsearch_spark.streaming.pipelines import ivf_delete_stream

    path = str(tmp_path / "ivf")
    ivf_build(emb.filter(F.col("vec_id") < 300), path, n_cells=8)
    pq_build(spark, path, m=8)
    for lo in (300, 400):
        ivf_append(
            spark, path,
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 100)),
        )

    # stream two delete drops
    drops = os.path.join(str(tmp_path), "del_drops")
    os.makedirs(drops)
    for i, ids in enumerate([[3, 17], [23]]):
        spark.createDataFrame([(v,) for v in ids], "vec_id bigint").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(str(tmp_path), f"d{i}"))
        src = [
            f
            for f in os.listdir(os.path.join(str(tmp_path), f"d{i}"))
            if f.endswith(".parquet")
        ][0]
        os.rename(
            os.path.join(str(tmp_path), f"d{i}", src),
            os.path.join(drops, f"drop_{i}.parquet"),
        )
    q = ivf_delete_stream(
        spark, drops, path, os.path.join(str(tmp_path), "ckpt")
    ).start()
    q.awaitTermination(120)

    qv = _norm_q(emb, 3)
    want = [
        (r.vec_id, r.distance)
        for r in knn_single(
            emb.filter(~F.col("vec_id").isin([3, 17, 23])), qv, k=10,
            normalize_query=False,
        ).collect()
    ]
    got = [
        (r.vec_id, r.distance)
        for r in ivf_probe(spark, path, qv, k=10, nprobe=8).collect()
    ]
    assert got == want

    report = run_index_maintenance(spark, index_path=path)
    assert report["vacuum_applied"] is True
    assert report["cells_files"]["after"] < report["cells_files"]["before"]
    assert not has_files(path, TLOG_IVF_TOMBS_TAG)
    assert "recommend_retrain" in report and report["skew_ratio"] >= 1.0
    after = [
        (r.vec_id, r.distance)
        for r in ivf_probe(spark, path, qv, k=10, nprobe=8).collect()
    ]
    assert after == want  # maintenance never changes results

    report2 = run_index_maintenance(spark, index_path=path)
    assert report2["vacuum_applied"] is False  # idempotent: settled layout
    assert (
        report2["cells_files"]["after"] == report2["cells_files"]["before"]
        or report2["cells_files"]["after"] <= report["cells_files"]["after"]
    )


def test_shard_delete_then_vacuum(spark, emb, tmp_path):
    """Shard-tier delete lifecycle: tombstones exclude ids from the
    exact-merge probe immediately (filter-before-search), vacuum
    rewrites only touched shard partitions and drops tombstones,
    results unchanged."""
    from cnc_visionsearch_spark.operators.ann import shard_delete, shard_vacuum

    path = str(tmp_path / "sh_del")
    shard_build(emb, path, num_shards=8)
    before = _file_md5s(path, part="shard")
    shard_delete(spark, path, [9, 11])
    assert _file_md5s(path, part="shard") == before  # no resident rewrite

    q = _norm_q(emb, 9)
    want = [
        (r.vec_id, r.distance)
        for r in knn_single(
            emb.filter(~F.col("vec_id").isin([9, 11])), q, k=10,
            normalize_query=False,
        ).collect()
    ]
    got = [
        (r.vec_id, r.distance)
        for r in sharded_topk_persisted(spark, path, q, k=10).collect()
    ]
    assert got == want

    shard_vacuum(spark, path)
    assert not has_files(path, TLOG_IVF_TOMBS_TAG)
    after = [
        (r.vec_id, r.distance)
        for r in sharded_topk_persisted(spark, path, q, k=10).collect()
    ]
    assert after == want
    # untouched shard partitions byte-identical (9 % 8 = 1, 11 % 8 = 3)
    vac = _file_md5s(path, part="shard")
    for rel, digest in before.items():
        shard = rel.split("/")[0]
        if shard not in ("shard=1", "shard=3"):
            assert vac.get(rel) == digest, f"untouched shard rewritten: {rel}"
    assert (
        read_shards(spark, path)
        .filter(F.col("vec_id").isin([9, 11]))
        .count()
        == 0
    )


def test_maintenance_second_run_is_true_noop(spark, emb, tmp_path):
    """A settled layout (<=1 file per partition, no tombstones) must
    pass through maintenance byte-identically — no same-content file
    churn."""
    from cnc_visionsearch_spark.maintenance import run_index_maintenance

    path = str(tmp_path / "ivf")
    ivf_build(emb, path, n_cells=8)
    run_index_maintenance(spark, index_path=path)
    settled = _file_md5s(path)
    report = run_index_maintenance(spark, index_path=path)
    assert report["vacuum_applied"] is False
    assert _file_md5s(path) == settled


def test_deletes_honored_by_every_probe_path(spark, monkeypatch, tmp_path):
    """A tombstone delete must be invisible to NO probe path of the
    layout: the plain IVF probe, the composed ADC/int8 probes, and the
    batch knn-join all read through the tombstone filter. Runs against
    a private artifact root so the shared build cache is untouched."""
    import cnc_visionsearch_spark.queries_ann as qa
    from cnc_visionsearch_spark.operators.ann import ivf_delete
    from cnc_visionsearch_spark.registry import all_queries

    monkeypatch.setattr(qa, "_ARTIFACT_ROOT", str(tmp_path / "artifacts"))
    qs = all_queries()
    probes = {
        "ann_ivf_topk": 3,
        "ann_pq_adc_topk": 7,
        "ann_ivf_int8_topk": 3,
        "ann_ivf_pq_topk": 11,
    }
    base = {
        name: [r.vec_id for r in qs[name](spark, SF).collect()]
        for name in probes
    }
    join_base = {
        (r.qid, r.vec_id) for r in qs["ann_ivf_knn_join"](spark, SF).collect()
    }
    # delete each probe's SELF-MATCH id (rank-1 result) plus a join hit
    victim_ids = sorted(set(probes.values()) | {2})
    path = qa.ensure_ivf_built(spark, SF, n_cells=8)
    ivf_delete(spark, path, victim_ids)

    for name, qid in probes.items():
        got = [r.vec_id for r in qs[name](spark, SF).collect()]
        assert qid not in got, f"{name} resurrected deleted id {qid}"
        assert len(got) == 10, f"{name} starved after delete: {len(got)}"
        assert got != base[name]
    join_got = {
        (r.qid, r.vec_id) for r in qs["ann_ivf_knn_join"](spark, SF).collect()
    }
    assert all(v not in {v2 for _, v2 in join_got} for v in victim_ids)
    assert join_got != join_base


# --------------------------------------------------- hot-cell rebalance


class TestIvfRebalance:
    def _build(self, spark, emb, tmp_path, n_cells=6):
        path = str(tmp_path / "ivf_rebal")
        ivf_build(emb.filter(F.col("vec_id") < 200), path, n_cells=n_cells)
        return path

    def test_member_union_preserved_and_probe_identical(
        self, spark, emb, tmp_path
    ):
        from cnc_visionsearch_spark.operators.ann import ivf_rebalance

        path = self._build(spark, emb, tmp_path)
        before = sorted(
            (int(r["vec_id"]),)
            for r in read_cells(spark, path).select("vec_id").collect()
        )
        q = _norm_q(emb, 7)
        full_before = [
            (int(r["vec_id"]), float(r["distance"]))
            for r in ivf_probe(spark, path, q, k=10, nprobe=100).collect()
        ]
        report = ivf_rebalance(spark, path, max_splits=1, min_factor=0.0)
        assert len(report) == 1
        r = report[0]
        assert not any(
            k.startswith(f"cell_id={r['cell_id']}/") for k in _file_md5s(path)
        )
        after = sorted(
            (int(x["vec_id"]),)
            for x in read_cells(spark, path).select("vec_id").collect()
        )
        assert before == after  # the union of members never changes
        # full-coverage probe (every cell probed) is bit-identical
        full_after = [
            (int(x["vec_id"]), float(x["distance"]))
            for x in ivf_probe(spark, path, q, k=10, nprobe=100).collect()
        ]
        assert full_before == full_after
        # codebook swapped: parent gone, both children present
        cb_ids = {
            int(x["cell_id"])
            for x in read_codebook(spark, path).collect()
        }
        assert r["cell_id"] not in cb_ids
        assert {r["lo_cell"], r["hi_cell"]} <= cb_ids
        assert read_geometry(path)["n_cells"] == 7

    def test_untouched_partitions_stay_byte_identical(
        self, spark, emb, tmp_path
    ):
        from cnc_visionsearch_spark.operators.ann import ivf_rebalance

        path = self._build(spark, emb, tmp_path)
        pre = _file_md5s(path)
        report = ivf_rebalance(spark, path, max_splits=1, min_factor=0.0)
        parent = f"cell_id={report[0]['cell_id']}"
        post = _file_md5s(path)
        untouched_pre = {k: v for k, v in pre.items() if not k.startswith(parent)}
        assert {
            k: v for k, v in post.items() if k in untouched_pre
        } == untouched_pre

    def test_radii_refreshed_for_children_only(self, spark, emb, tmp_path):
        from cnc_visionsearch_spark.operators.ann import (
            ivf_cell_radii,
            ivf_rebalance,
        )

        path = self._build(spark, emb, tmp_path)
        report = ivf_rebalance(spark, path, max_splits=1, min_factor=0.0)
        r = report[0]
        radii = {
            int(x["cell_id"]): float(x["radius"])
            for x in ivf_cell_radii(spark, path).collect()
        }
        assert r["cell_id"] not in radii
        assert r["lo_cell"] in radii and r["hi_cell"] in radii
        # children radii match a from-scratch recompute of the layout
        from cnc_visionsearch_spark.operators.ann import _compute_cell_radii

        fresh = {
            int(x["cell_id"]): float(x["radius"])
            for x in _compute_cell_radii(spark, path).collect()
        }
        assert radii == fresh

    def test_refuses_a_layout_with_pq_codes(self, spark, emb, tmp_path):
        # a split would leave the stride codes stale and under the
        # parent's cell domain, so the rebalance must write nothing
        from cnc_visionsearch_spark.operators.ann import ivf_rebalance
        from cnc_visionsearch_spark.sources.tlog import open_layout

        path = self._build(spark, emb, tmp_path)
        pq_build(spark, path, m=8)
        version = open_layout(path).snapshot().version
        with pytest.raises(ValueError, match="stride-PQ/trained-PQ code tables"):
            ivf_rebalance(spark, path, max_splits=1, min_factor=0.0)
        assert open_layout(path).snapshot().version == version

# ------------------------------------------------ forget-vectors runbook


def test_forget_vectors_runbook_is_idempotent_and_composes(
    spark, emb, tmp_path
):
    """One forget_vectors call darkens the ids on every layout it is
    given; re-running (the compliance-queue retry path) changes
    nothing further; vacuum afterwards makes removal physical."""
    from cnc_visionsearch_spark.maintenance import forget_vectors
    from cnc_visionsearch_spark.operators.ann import (
        ivf_build,
        ivf_probe,
        ivf_vacuum,
        shard_build,
        sharded_topk_persisted,
    )

    sub = emb.filter(F.col("vec_id") < 100)
    p_ivf = str(tmp_path / "f_ivf")
    p_sh = str(tmp_path / "f_sh")
    ivf_build(sub, p_ivf, n_cells=4)
    shard_build(sub, p_sh, num_shards=4)
    q = _norm_q(emb, 7)
    pre = {int(r["vec_id"]) for r in ivf_probe(spark, p_ivf, q, k=5, nprobe=10).collect()}
    victim = sorted(pre - {7})[:2]
    rep = forget_vectors(spark, victim, ivf_paths=(p_ivf,), shard_paths=(p_sh,))
    assert set(rep) == {p_ivf, p_sh}
    for probe in (
        ivf_probe(spark, p_ivf, q, k=5, nprobe=10),
        sharded_topk_persisted(spark, p_sh, q, k=5),
    ):
        got = {int(r["vec_id"]) for r in probe.collect()}
        assert not (got & set(victim))
    # idempotent retry: live census unchanged after a second run
    n1 = read_cells(spark, p_ivf).count()
    forget_vectors(spark, victim, ivf_paths=(p_ivf,), shard_paths=(p_sh,))
    n2 = read_cells(spark, p_ivf).count()
    assert n1 == n2 == 98
    # the tombstoned rows are still resident until the vacuum
    assert resident_rows(spark, p_ivf).count() == 100
    # physical removal rides the normal vacuum
    ivf_vacuum(spark, p_ivf)
    assert resident_rows(spark, p_ivf).count() == 98
    assert not has_files(p_ivf, TLOG_IVF_TOMBS_TAG)


# ------------------------------------------- exact pruned search


def test_exact_pruned_search_equals_brute_force(spark, emb, tmp_path):
    """The triangle-inequality walk must be BIT-identical to brute
    force for every query — exactness is the operator's contract, not
    a recall gate."""
    from cnc_visionsearch_spark.operators.ann import ivf_exact_pruned_search

    sub = emb.filter(F.col("vec_id") < 200)
    path = str(tmp_path / "xp_ivf")
    ivf_build(sub, path, n_cells=6)
    for qid in (3, 55, 111):
        q = _norm_q(emb, qid)
        exact = [
            (int(r["vec_id"]), float(r["distance"]))
            for r in knn_single(sub, q, k=10, normalize_query=False).collect()
        ]
        got, scanned = ivf_exact_pruned_search(spark, path, q, k=10)
        assert got == exact
        assert 1 <= len(scanned) <= 6
    # k=1 with a resident query vector: the d=0 self-match is a
    # stopping certificate the moment its cell is reached (cells with
    # a zero lower bound ahead of it in the walk still scan), so the
    # walk must genuinely prune — strictly fewer than all cells
    q = _norm_q(emb, 55)
    top, scanned = ivf_exact_pruned_search(spark, path, q, k=1)
    assert top[0][0] == 55 and top[0][1] == 0.0
    assert len(scanned) < 6

