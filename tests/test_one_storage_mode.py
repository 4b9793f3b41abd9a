"""The six mutable index tiers (inverted, IVF with its PQ/RQ tables,
shard, NSW, HNSW, token-IVF) have ONE storage mode: the transaction log
of sources/tlog.py. These tests guard that: no second layout format
comes back, stale directories of the retired tmp+rename format are
rebuilt instead of read, and the HNSW search keeps its driver-memory
bound and job budget."""

from __future__ import annotations

import ast
import os
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from cnc_visionsearch_spark.operators.knn import with_normalized
from cnc_visionsearch_spark.sources.catalog import load_table

PKG = Path(__file__).resolve().parent.parent / "cnc_visionsearch_spark"
SF = "/root/testdata/sf0.001"


def _modules():
    for p in sorted(PKG.rglob("*.py")):
        yield p, ast.parse(p.read_text())


def test_one_storage_mode_ast_guard():
    """No function takes a ``use_tlog`` switch except inverted_build's
    compatibility keyword; no module dispatches on ``tlog_of`` (the
    MinHash store has no plain-directory variant either); the layout
    mutex is gone; no operator renames directories (the crash-swap
    machinery of the retired format)."""
    knobs, dispatch, renames = [], [], []
    for p, tree in _modules():
        rel = str(p.relative_to(PKG))
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                args = node.args.args + node.args.kwonlyargs
                if any(a.arg == "use_tlog" for a in args) and not (
                    rel == "operators/text_index.py"
                    and node.name == "inverted_build"
                ):
                    knobs.append(f"{rel}:{node.name}")
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name == "tlog_of":
                    dispatch.append(f"{rel}:{node.lineno}")
                if (
                    name == "rename"
                    and isinstance(f, ast.Attribute)
                    and getattr(f.value, "id", None) == "os"
                    and rel.startswith("operators/")
                ):
                    renames.append(f"{rel}:{node.lineno}")
    assert knobs == [], knobs
    assert dispatch == [], dispatch
    assert renames == [], renames
    assert not (PKG / "operators" / "mutex.py").exists()


def test_inverted_build_keeps_only_the_log_keyword(spark, tmp_path):
    from cnc_visionsearch_spark.operators.text_index import inverted_build

    docs = load_table(spark, SF, "documents").limit(5)
    with pytest.raises(ValueError, match="only layout format"):
        inverted_build(docs, str(tmp_path / "inv"), use_tlog=False)
    assert not (tmp_path / "inv").exists()


def _legacy_dir(path: Path) -> None:
    """A directory shaped like a layout of the retired tmp+rename
    format: data sub-directories and a _BUILT marker, no _tlog/."""
    (path / "cells" / "cell_id=0").mkdir(parents=True)
    (path / "cells" / "cell_id=0" / "part-0.parquet").write_bytes(b"PAR1")
    (path / "codebook").mkdir()
    (path / "_BUILT").touch()


def test_readers_refuse_a_non_log_directory(spark, tmp_path):
    """Every tier's reader handed a directory without a log raises a
    ValueError naming the path — it never reads the retired layout's
    sub-directories, and never creates an empty log in passing."""
    from cnc_visionsearch_spark.operators import ann, graph_ann, maxsim, rq
    from cnc_visionsearch_spark.operators import text_index

    stale = tmp_path / "stale"
    _legacy_dir(stale)
    readers = [
        lambda p: ann.read_cells(spark, p),
        lambda p: ann.read_codebook(spark, p),
        lambda p: ann.read_pq_codes(spark, p),
        lambda p: ann.read_shards(spark, p),
        lambda p: ann.ivf_probe(spark, p, [0.0] * 4),
        lambda p: rq.read_rq_codes(spark, p),
        lambda p: text_index.read_postings(spark, p),
        lambda p: text_index.read_doclens(spark, p),
        lambda p: graph_ann.read_nsw_graph(spark, p),
        lambda p: graph_ann.read_hnsw_graph(spark, p),
        lambda p: maxsim.read_doc_cells(spark, p),
    ]
    for read in readers:
        with pytest.raises(ValueError, match=re.escape(str(stale))):
            read(str(stale))
    assert not (stale / "_tlog").exists()


def test_build_once_replaces_a_stale_directory(tmp_path):
    """A directory at the artifact path that is not built — a layout of
    the retired format, or a log whose build never wrote its marker —
    is moved aside and replaced by the staged build; a built one is
    left alone; a failed build leaves nothing behind."""
    from cnc_visionsearch_spark.queries_ann import build_once
    from cnc_visionsearch_spark.sources.tlog import TLog

    def build(stage):
        TLog(stage)
        (Path(stage) / "data.txt").write_text("new")

    stale = {"legacy": _legacy_dir, "partial": lambda p: TLog(str(p))}
    for name, make in stale.items():
        path = tmp_path / name
        make(path)
        assert build_once(str(path), build) == str(path)
        assert (path / "_BUILT").exists() and (path / "_tlog").is_dir()
        assert (path / "data.txt").read_text() == "new"
        assert not (path / "cells").exists()
        # built now: a second call does not build again
        assert build_once(str(path), lambda s: pytest.fail("rebuilt")) == str(path)

    def boom(stage):
        TLog(stage)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        build_once(str(tmp_path / "failed"), boom)
    # no stage, moved-aside copy or failed build is left behind
    assert sorted(os.listdir(tmp_path)) == sorted(stale)


def test_ensure_builder_survives_a_racing_build(spark, tmp_path, monkeypatch):
    """A second session builds the same artifact while the first is
    mid-build — here the first build's callback re-enters the
    ensure_* builder after its base shard_build, so the second build
    runs to completion inside the first. The first build must complete,
    exactly one directory is published, and it holds the same rows a
    single build does. (A done-check that wipes every marker-less
    directory deletes the first build's log under it instead.)"""
    import cnc_visionsearch_spark.queries_ann as qa
    import cnc_visionsearch_spark.queries_ann_incremental as qi
    from cnc_visionsearch_spark.operators.ann import (
        read_shards,
        shard_build,
        sharded_topk_persisted,
    )

    monkeypatch.setattr(qa, "_ARTIFACT_ROOT", str(tmp_path / "artifacts"))
    builds = []

    def racing_shard_build(emb, path, **kw):
        shard_build(emb, path, **kw)
        builds.append(path)
        if len(builds) == 1:
            qi.ensure_appended_shards(spark, SF, num_shards=8)

    monkeypatch.setattr(qi, "shard_build", racing_shard_build)
    path = qi.ensure_appended_shards(spark, SF, num_shards=8)
    assert len(builds) == 2
    published = [
        p.name
        for p in Path(path).parent.iterdir()
        if p.name.startswith("shards_append_s8")
    ]
    assert published == ["shards_append_s8"] == [Path(path).name]

    single = str(tmp_path / "single")
    emb = with_normalized(load_table(spark, SF, "embeddings"))
    shard_build(emb, single, num_shards=8)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 9).first()["nvec"]]

    def probe(p):
        return sorted(
            (r.vec_id, r.distance)
            for r in sharded_topk_persisted(spark, p, q, k=10).collect()
        )

    def ids(p):
        return sorted(r.vec_id for r in read_shards(spark, p).collect())

    assert probe(path) == probe(single)
    assert ids(path) == ids(single)


# The three in-place extensions of the shared ivf_c8 layout: each is one
# rewrite commit that replaces its previous tables when it runs again, so
# it keeps its own geometry-named marker instead of a staged build.
_EXTENSIONS = {"ensure_pq_built", "ensure_pq_trained_built", "ensure_rq_built"}


def test_ensure_builders_publish_only_through_build_once():
    """Every ensure_* builder decides "built?" and publishes through
    build_once: none calls layout_built, renames or deletes a
    directory, or writes a marker with open(..., "w") — apart from the
    three in-place extension markers. Each one that builds a whole
    artifact calls build_once (ensure_rq only delegates)."""
    bad, unstaged = [], []
    for p, tree in _modules():
        rel = str(p.relative_to(PKG))
        for fn in ast.walk(tree):
            if not (
                isinstance(fn, ast.FunctionDef) and fn.name.startswith("ensure_")
            ):
                continue
            names = set()
            for node in ast.walk(fn):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                owner = getattr(getattr(f, "value", None), "id", None)
                names.add(name)
                modes = node.args[1:2] + [k.value for k in node.keywords if k.arg == "mode"]
                writes = any(
                    isinstance(m, ast.Constant) and "w" in str(m.value) for m in modes
                )
                if (
                    name == "layout_built"
                    or (name == "rename" and owner == "os")
                    or (name == "rmtree" and owner == "shutil")
                    or (name == "open" and writes and fn.name not in _EXTENSIONS)
                ):
                    bad.append(f"{rel}:{fn.name}:{node.lineno}:{name}")
            if "build_once" not in names and fn.name not in _EXTENSIONS | {"ensure_rq"}:
                unstaged.append(f"{rel}:{fn.name}")
    assert bad == [], bad
    assert unstaged == [], unstaged


def test_ensure_builder_rebuilds_a_stale_legacy_layout(
    spark, tmp_path, monkeypatch
):
    """An ensure_* builder that finds a _BUILT marker but no log under
    its corpus tag (a layout an older build left behind) wipes it and
    builds the log layout, which the probe then reads."""
    import cnc_visionsearch_spark.queries_ann as qa
    from cnc_visionsearch_spark.operators.ann import read_cells

    monkeypatch.setattr(qa, "_ARTIFACT_ROOT", str(tmp_path))
    stale = tmp_path / qa._corpus_tag(SF) / "ivf_c8"
    _legacy_dir(stale)
    path = qa.ensure_ivf_built(spark, SF, n_cells=8)
    assert Path(path) == stale
    assert (stale / "_tlog").is_dir() and (stale / "_BUILT").exists()
    assert not (stale / "cells").exists()
    n = load_table(spark, SF, "embeddings").count()
    assert read_cells(spark, path).count() == n
    # a second call reads the finished layout instead of rebuilding it
    marker_mtime = (stale / "_BUILT").stat().st_mtime_ns
    assert qa.ensure_ivf_built(spark, SF, n_cells=8) == path
    assert (stale / "_BUILT").stat().st_mtime_ns == marker_mtime


# ---------------------------------------------------------------- HNSW


@pytest.fixture(scope="module")
def emb(spark):
    return with_normalized(load_table(spark, SF, "embeddings")).select(
        "vec_id", "nvec"
    )


def _upper_disk_bytes(path: str, stride: int) -> int:
    """On-disk bytes of the layout's layer >= 1 edge files, found by
    their (layer, bucket) tag directory — or by a ``layer=`` directory,
    so the measurement also holds on the retired directory format."""
    total = 0
    for d, _dirs, files in os.walk(path):
        tag = re.search(r"_tb=(\d+)", d)
        layer = re.search(r"layer=(\d+)", d)
        if (tag and int(tag.group(1)) >= stride) or (
            layer and int(layer.group(1)) >= 1
        ):
            total += sum(
                os.path.getsize(os.path.join(d, f))
                for f in files
                if f.endswith(".parquet")
            )
    return total


def test_hnsw_upper_collect_is_bounded_by_memory_not_disk(
    spark, emb, tmp_path, monkeypatch
):
    """The batched upper-layer descent collects every layer >= 1 edge
    row to the driver. Its gate must bound the collected rows' size,
    not the files': dvec repeats per in-edge, so dictionary-encoded
    parquet is several times smaller than the rows it decodes to. A
    layout under the bound on disk but over it in memory must take the
    per-hop path — with the same answer."""
    from cnc_visionsearch_spark.operators import graph_ann

    path = str(tmp_path / "hnsw_dense")
    # dense upper layers (half the nodes, 16 edges each, 2 buckets):
    # each vector is stored as dvec in ~16 rows of few files
    graph_ann.hnsw_build(
        emb, path, m=6, m_upper=16, level_mult=2, max_level=2, n_buckets=2
    )
    disk = _upper_disk_bytes(path, graph_ann.TLOG_HNSW_LAYER_STRIDE)
    rows = graph_ann.read_hnsw_graph(spark, path).filter(F.col("layer") >= 1).count()
    dim = len(emb.first()["nvec"])
    assert disk < rows * dim * 8  # the premise: on disk < in memory

    calls = []
    real = graph_ann._collect_upper_adjacency

    def spy(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(graph_ann, "_collect_upper_adjacency", spy)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 3).first()["nvec"]]
    monkeypatch.setattr(graph_ann, "HNSW_UPPER_COLLECT_MAX_BYTES", disk)
    per_hop = graph_ann.hnsw_search(spark, path, q, k=10, ef=16, hops=4)
    assert calls == []  # over the bound in memory: per-hop scans
    monkeypatch.setattr(
        graph_ann, "HNSW_UPPER_COLLECT_MAX_BYTES", graph_ann.HNSW_UPPER_COLLECT_CEILING
    )
    batched = graph_ann.hnsw_search(spark, path, q, k=10, ef=16, hops=4)
    assert calls == [1]  # well under the ceiling: one collect
    assert batched == per_hop


def test_hnsw_collect_bound_env_value_is_clamped():
    """No HNSW_UPPER_COLLECT_MAX_BYTES setting lifts the collect bound
    above the fixed ceiling (or below zero)."""
    from cnc_visionsearch_spark.operators import graph_ann

    ceiling = graph_ann.HNSW_UPPER_COLLECT_CEILING
    assert graph_ann._collect_bound(str(1 << 60)) == ceiling
    assert graph_ann._collect_bound("-5") == 0
    assert graph_ann._collect_bound(str(32 << 20)) == 32 << 20
    assert graph_ann.HNSW_UPPER_COLLECT_MAX_BYTES <= ceiling


# the serve workload's HNSW geometry (perfbench/workloads.py)
_SERVE_HNSW = dict(m=12, m_upper=8, level_mult=8, max_level=3)
# jobs per hnsw_search call on this layout: 6 (9 on the retired
# directory layout, which scanned layer 0 through a partitioned
# relation); the bound fails the moment a change adds a job
_HNSW_SEARCH_JOB_BUDGET = 6


def test_hnsw_search_job_budget(spark, count_jobs, emb, tmp_path):
    """Jobs per hnsw_search call at the serve geometry (see the
    count_jobs fixture)."""
    from cnc_visionsearch_spark.operators.graph_ann import hnsw_build, hnsw_search

    path = str(tmp_path / "hnsw_serve")
    hnsw_build(emb, path, **_SERVE_HNSW)
    for qid in (3, 57, 111):
        q = [float(x) for x in emb.filter(F.col("vec_id") == qid).first()["nvec"]]
        jobs = count_jobs(
            lambda: hnsw_search(spark, path, q, k=10, ef=24, hops=6, upper_hops=3)
        )
        assert jobs <= _HNSW_SEARCH_JOB_BUDGET, (qid, jobs)
