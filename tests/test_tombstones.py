"""The one tombstone protocol (sources/tlog.py ``delete_ids``,
``read_live``, ``vacuum_tombstones``): every reader hides deleted rows
using the tombstones of its OWN snapshot, so a vacuum committing after
a read was planned can neither resurrect a deleted row nor change what
the read returns; each probe takes as few snapshots as its reads need;
and no module outside the log decides how deleted rows are hidden."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F

import cnc_visionsearch_spark
from cnc_visionsearch_spark.operators.ann import (
    ivf_build,
    ivf_delete,
    ivf_probe,
    ivf_vacuum,
    read_cells,
)
from cnc_visionsearch_spark.operators.knn import with_normalized
from cnc_visionsearch_spark.operators.text_index import (
    bm25_probe,
    inverted_build,
    inverted_delete,
    inverted_vacuum,
    read_postings,
)
from cnc_visionsearch_spark.sources.catalog import load_table
from cnc_visionsearch_spark.sources.tlog import TLog

PKG = os.path.dirname(cnc_visionsearch_spark.__file__)
PROTOCOL = {"delete_ids", "read_live", "vacuum_tombstones"}


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return with_normalized(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "nvec"
    )


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


# ------------------------------------------------------------- read skew


def test_read_planned_before_vacuum_hides_deleted_ids(spark, emb, tmp_path):
    """Rows read at version v (after the delete), a vacuum commits v+1,
    then the read runs: it returns the 98 live rows of v — the
    tombstones that hide ids 3 and 7 come from v, not from the later
    version whose tombstones the vacuum retired."""
    path = str(tmp_path / "ivf")
    ivf_build(emb.filter(F.col("vec_id") < 100), path, n_cells=4)
    ivf_delete(spark, path, [3, 7])
    cells = read_cells(spark, path)
    ivf_vacuum(spark, path)
    ids = [r.vec_id for r in cells.select("vec_id").collect()]
    assert len(ids) == 98
    assert not {3, 7} & set(ids)


def test_postings_read_planned_before_vacuum_hide_deleted_docs(
    spark, docs, tmp_path
):
    path = str(tmp_path / "inv")
    inverted_build(docs.filter(F.col("doc_id") < 60), path, n_buckets=4)
    inverted_delete(spark, path, [5, 9])
    posts = read_postings(spark, path)
    inverted_vacuum(spark, path)
    got = {r.doc_id for r in posts.select("doc_id").distinct().collect()}
    assert len(got) == 58
    assert not {5, 9} & got


def test_vacuum_reports_whether_it_committed(spark, emb, tmp_path):
    """The vacuum's return value is what maintenance reports: True when
    it applied tombstones, False (and no commit) when there were
    none."""
    path = str(tmp_path / "ivf")
    ivf_build(emb.filter(F.col("vec_id") < 40), path, n_cells=2)
    assert not ivf_vacuum(spark, path)
    ivf_delete(spark, path, [3])
    v = TLog(path).latest_version()
    assert ivf_vacuum(spark, path)
    assert TLog(path).latest_version() == v + 1
    assert not ivf_vacuum(spark, path)
    assert TLog(path).latest_version() == v + 1


# ------------------------------------------------------- snapshot pins


def _snapshot_calls(monkeypatch, fn) -> int:
    calls = {"n": 0}
    orig = TLog.snapshot

    def spy(self, *a, **k):
        calls["n"] += 1
        return orig(self, *a, **k)

    monkeypatch.setattr(TLog, "snapshot", spy)
    fn().collect()
    monkeypatch.setattr(TLog, "snapshot", orig)
    return calls["n"]


def test_probe_snapshot_counts(spark, emb, docs, tmp_path, monkeypatch):
    """bm25_probe scores postings against the N/avgdl of the SAME
    snapshot (one snapshot per call); the IVF and RQ probes take one
    for the codebook and one for the live code/cell read."""
    from cnc_visionsearch_spark.operators.rq import rq_build, rq_probe_topk

    inv = str(tmp_path / "inv")
    inverted_build(docs.filter(F.col("doc_id") < 60), inv, n_buckets=4)
    inverted_delete(spark, inv, [5])
    term = docs.filter(F.col("doc_id") == 1).first()["text"].split(" ")[0]
    n = _snapshot_calls(
        monkeypatch, lambda: bm25_probe(spark, inv, [term], n_buckets=4)
    )
    assert n == 1

    ivf = str(tmp_path / "ivf")
    sub = emb.filter(F.col("vec_id") < 100)
    ivf_build(sub, ivf, n_cells=4)
    rq_build(spark, ivf, sub, k1=4, k2=4, iters=1)
    ivf_delete(spark, ivf, [3])
    q = [float(x) for x in sub.filter(F.col("vec_id") == 7).first()["nvec"]]
    assert _snapshot_calls(
        monkeypatch, lambda: ivf_probe(spark, ivf, q, k=5, nprobe=2)
    ) <= 2
    assert _snapshot_calls(
        monkeypatch,
        lambda: rq_probe_topk(spark, ivf, q, sub, k=5, nprobe=2, depth=20),
    ) <= 2


# ------------------------------------------------------ one protocol


def _package_modules():
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                with open(p) as fh:
                    yield os.path.relpath(p, PKG), ast.parse(fh.read())


def _name(node) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def test_tombstone_tags_reach_only_the_protocol():
    """A ``*TOMBS_TAG`` constant outside sources/tlog.py appears only
    in its definition or as an argument to delete_ids / read_live /
    vacuum_tombstones — no module filters, counts or rewrites
    tombstones on its own."""
    stray = []
    for rel, tree in _package_modules():
        if rel == os.path.join("sources", "tlog.py"):
            continue
        allowed = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Assign):
                allowed.update(id(t) for t in node.targets)
            elif isinstance(node, ast.Call) and _name(node.func) in PROTOCOL:
                allowed.update(id(a) for a in node.args)
                allowed.update(id(k.value) for k in node.keywords)
        for node in ast.walk(tree):
            n = _name(node)
            if n and n.endswith("TOMBS_TAG") and id(node) not in allowed:
                stray.append(f"{rel}:{node.lineno}")
    assert not stray, stray


def test_one_delete_read_and_vacuum():
    """The per-tier copies are gone, and every public vacuum is one
    call to the log's vacuum."""
    retired = {"_delete_ids", "_without_tombstones", "_without_deleted"}
    vacuums = {"ivf_vacuum", "shard_vacuum", "inverted_vacuum",
               "token_ivf_vacuum"}
    found = set()
    for rel, tree in _package_modules():
        for node in ast.walk(tree):
            assert _name(node) not in retired, (rel, node.lineno)
            if isinstance(node, ast.FunctionDef):
                assert node.name not in retired, (rel, node.name)
                if node.name in vacuums:
                    found.add(node.name)
                    body = [
                        s for s in node.body
                        if not (isinstance(s, ast.Expr)
                                and isinstance(s.value, ast.Constant))
                    ]
                    assert len(body) == 1, (rel, node.name)
                    ret = body[0]
                    assert isinstance(ret, ast.Return), (rel, node.name)
                    assert _name(ret.value.func) == "vacuum_tombstones"
    assert found == vacuums


# ------------------------------------------------------- MinHash store


def test_minhash_store_compact_refuses_missing_path(spark, tmp_path):
    """Compacting a mistyped path fails naming it and creates nothing
    (no stray ``_tlog/``)."""
    from cnc_visionsearch_spark.operators.dedup import minhash_store_compact

    missing = str(tmp_path / "no_store")
    with pytest.raises(ValueError, match="not a transaction-log"):
        minhash_store_compact(spark, missing)
    assert not os.path.exists(missing)
