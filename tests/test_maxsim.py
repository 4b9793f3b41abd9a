"""operators/maxsim.py — the late-interaction machinery (r8): token
IVF layout determinism, partition-pruned candidate probes, and the
semantic-reachability property the vector-candidate tier exists for
(a doc sharing NO literal query token is still a candidate through a
same-cell token — the case lexical pruning cannot serve)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cnc_visionsearch_spark.operators.maxsim import (
    TOKEN_IVF_CELLS,
    doc_distinct_tokens,
    li_token_vec_py,
    maxsim_multi_probe,
    read_doc_cells,
    read_token_cells,
    token_ivf_build,
    token_ivf_candidates,
    token_ivf_probe_cells,
)
from cnc_visionsearch_spark.sources.catalog import load_table
from layout_files import live_md5s, scan_tags

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tivf") / "layout")
    docs = load_table(spark, SF, "documents")
    token_ivf_build(docs, path, n_cells=TOKEN_IVF_CELLS)
    return path


def test_token_ivf_build_deterministic(spark, built, tmp_path):
    """Two independent builds over the same corpus must assign every
    vocabulary token to the same cell (deterministic centroids +
    tie-broken argmin) — the property the oracle replay rests on."""
    other = str(tmp_path / "layout2")
    docs = load_table(spark, SF, "documents")
    token_ivf_build(docs, other, n_cells=TOKEN_IVF_CELLS)
    a = sorted(
        (r.tok, r.cell_id)
        for r in read_token_cells(spark, built).collect()
    )
    b = sorted(
        (r.tok, r.cell_id)
        for r in read_token_cells(spark, other).collect()
    )
    assert a == b and len(a) > 0


def test_doc_cells_probe_is_partition_pruned(spark, built):
    """The candidate read must prune doc_cells: the scan holds only the
    probed cells' files (log-level file pruning), so at 100 TB the
    probe reads nprobe/n_cells of the files, never the table."""
    cand = token_ivf_candidates(spark, built, ["vector", "hash"], nprobe=2)
    cells = token_ivf_probe_cells(spark, built, ["vector", "hash"], nprobe=2)
    assert 0 < len(cells) < TOKEN_IVF_CELLS
    assert scan_tags(cand) == set(cells)
    # ground truth: candidates == docs holding >= 1 token of a probed cell
    tc = read_token_cells(spark, built).filter(
        F.col("cell_id").isin(cells)
    )
    docs = load_table(spark, SF, "documents")
    want = {
        r.doc_id
        for r in doc_distinct_tokens(docs)
        .join(tc, "tok", "left_semi")
        .select("doc_id")
        .distinct()
        .collect()
    }
    got = {r.doc_id for r in cand.collect()}
    assert got == want


def test_vector_candidates_reach_docs_lexical_pruning_cannot(
    spark, tmp_path
):
    """The PLAID property: a doc that shares NO literal token with the
    query must still become a candidate when one of its tokens falls
    in a probed cell. Built synthetically: find a vocabulary token in
    the query token's OWN cell, make a doc of only that token, and
    assert vector-candidates include it while the lexical rule (doc
    contains a literal query token) excludes it."""
    qtok = "vector"
    # pick a partner token assigned to qtok's nearest cell (nprobe=1)
    vocab = [
        "alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
        "golf", "hotel", "india", "juliet", "kilo", "lima", "mike",
        "november", "oscar", "papa", "quebec", "romeo", "sierra",
        "tango", "uniform", "victor", "whiskey", "xray", "yankee",
        "zulu", qtok,
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(vocab)],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "tivf_syn")
    token_ivf_build(docs, path, n_cells=4)
    qcells = token_ivf_probe_cells(spark, path, [qtok], nprobe=1)
    partners = [
        r.tok
        for r in read_token_cells(spark, path)
        .filter(F.col("cell_id").isin(qcells) & (F.col("tok") != qtok))
        .collect()
    ]
    assert partners, "fixture vocabulary left the query token's cell empty"
    partner_doc = vocab.index(partners[0])
    cand = {
        r.doc_id
        for r in token_ivf_candidates(spark, path, [qtok], nprobe=1).collect()
    }
    assert partner_doc in cand  # reachable with zero lexical overlap
    lexical = {i for i, t in enumerate(vocab) if t == qtok}
    assert partner_doc not in lexical


def test_maxsim_multi_probe_batch_equals_per_query(spark, tmp_path):
    """Batch == per-query semantics: answering N queries together must
    return exactly the union of answering each alone (the quantized
    per-token reduction makes this hash-exact, not approximate)."""
    from cnc_visionsearch_spark.operators.text_index import inverted_build

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "inv")
    inverted_build(docs, path, n_buckets=8)
    qs = [(0, ["vector", "window"]), (1, ["hash", "scan", "join"])]
    batch = {
        (r.qid, r.doc_id, r.score_q)
        for r in maxsim_multi_probe(
            spark, path, qs, docs, n_buckets=8, k=5
        ).collect()
    }
    single = set()
    for qid, ts in qs:
        single |= {
            (r.qid, r.doc_id, r.score_q)
            for r in maxsim_multi_probe(
                spark, path, [(qid, ts)], docs, n_buckets=8, k=5
            ).collect()
        }
    assert batch == single and batch


def test_maxsim_multi_probe_broadcast_hint_is_adaptive(spark, tmp_path):
    """r9 verdict #1: the candidate set is a corpus FRACTION, so the
    broadcast hint must be ADAPTIVE — applied when the measured
    candidate count is under the bound, ABSENT above it (a forced
    broadcast of a corpus fraction is the one 100x scale-killer the
    r9 sweep measured). Pin BOTH plan shapes with auto-broadcast
    disabled (so the static plan reflects only the hint decision) and
    assert the two shapes return identical rows."""
    from cnc_visionsearch_spark.operators.text_index import inverted_build

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "inv_adapt")
    inverted_build(docs, path, n_buckets=8)
    qs = [(0, ["vector", "window"]), (1, ["hash", "scan"])]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        small = maxsim_multi_probe(spark, path, qs, docs, n_buckets=8, k=5)
        plan_small = small._jdf.queryExecution().executedPlan().toString()
        big = maxsim_multi_probe(
            spark, path, qs, docs, n_buckets=8, k=5, broadcast_max_rows=0
        )
        plan_big = big._jdf.queryExecution().executedPlan().toString()
        # under the bound the candidate set is hinted on both its join
        # sides; the text semi-join now materializes INSIDE the dtoks
        # localCheckpoint barrier (r10 verdict #1/#2), so the final
        # plan exposes one cand join (the scoring join) — hinted under
        # the bound, shuffled above it
        assert "BroadcastHashJoin" in plan_small
        assert "SortMergeJoin" not in plan_small
        assert (
            plan_small.count("BroadcastHashJoin")
            >= plan_big.count("BroadcastHashJoin") + 1
        )
        assert (
            "SortMergeJoin" in plan_big or "ShuffledHashJoin" in plan_big
        )
        a = {(r.qid, r.doc_id, r.score_q) for r in small.collect()}
        b = {(r.qid, r.doc_id, r.score_q) for r in big.collect()}
        assert a == b and a
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_maxsim_multi_probe_vocab_dots_auto_split(spark, tmp_path):
    """r10 verdict #2: the vocab x batch broadcast bound is now
    MECHANICAL — when measured n_distinct_cand_tokens x n_batch_tokens
    exceeds vocab_dots_max_rows, the batch splits in half and recurses.
    Drive a 4-query batch through the forced-split path (bound=1) and
    assert the result set is IDENTICAL to the unsplit answer — per-qid
    independence makes the union hash-exact, not approximate."""
    from cnc_visionsearch_spark.operators.text_index import inverted_build

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "inv_split")
    inverted_build(docs, path, n_buckets=8)
    qs = [
        (0, ["vector", "window"]),
        (1, ["hash", "scan", "join"]),
        (2, ["index", "merge"]),
        (3, ["cache"]),
    ]
    unsplit = {
        (r.qid, r.doc_id, r.score_q)
        for r in maxsim_multi_probe(
            spark, path, qs, docs, n_buckets=8, k=5
        ).collect()
    }
    split = {
        (r.qid, r.doc_id, r.score_q)
        for r in maxsim_multi_probe(
            spark, path, qs, docs, n_buckets=8, k=5, vocab_dots_max_rows=1
        ).collect()
    }
    assert split == unsplit and split
    # sanity: the forced bound really is below the measured product
    # (any candidate vocabulary x 8 batch tokens > 1), so the equality
    # above exercised the recursion, not the straight-through path


def test_maxsim_multi_probe_leaves_no_cache_entry(spark, tmp_path):
    """r10 verdict #1: the candidate barrier must NOT register in the
    session CacheManager. persist() entries live until an explicit
    unpersist(), so a serving loop calling maxsim_multi_probe would
    accrete one cached corpus-fraction candidate set per call; the
    localCheckpoint(eager=False) barrier materializes RDD blocks the
    ContextCleaner reclaims instead. Pin it: after a full evaluation
    the CacheManager is exactly as empty as before the call."""
    from cnc_visionsearch_spark.operators.text_index import inverted_build

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "inv_cache")
    inverted_build(docs, path, n_buckets=8)
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cm.isEmpty()
    rows = maxsim_multi_probe(
        spark, path, [(0, ["vector", "window"])], docs, n_buckets=8, k=5
    ).collect()
    assert rows
    assert cm.isEmpty(), (
        "maxsim_multi_probe leaked a CacheManager entry — the "
        "candidate barrier must be ContextCleaner-reclaimed, not "
        "persist()-registered"
    )


def test_li_token_vec_py_is_unit_norm():
    import math

    for tok in ("vector", "hash", "a", "zz"):
        v = li_token_vec_py(tok)
        assert math.isclose(sum(x * x for x in v), 1.0, rel_tol=1e-12)


def test_maxsim_multi_probe_token_ivf_candidates(spark, built):
    """candidates='token_ivf' must equal scoring over the per-query
    token_ivf_candidates sets — the batched rule loses and invents no
    candidate pairs."""
    docs = load_table(spark, SF, "documents")
    qs = [(0, ["vector", "window"]), (1, ["hash", "scan"])]
    batched = {
        (r.qid, r.doc_id)
        for r in maxsim_multi_probe(
            spark, built, qs, docs, k=1000, candidates="token_ivf", nprobe=2
        ).collect()
    }
    want = set()
    for qid, ts in qs:
        want |= {
            (qid, r.doc_id)
            for r in token_ivf_candidates(
                spark, built, list(ts), nprobe=2
            ).collect()
        }
    assert batched == want and batched


def test_token_ivf_append_frozen_codebook(spark, tmp_path):
    """Append contract (St4): appended docs' tokens assign against the
    FROZEN build-time centroids; resident doc_cells files stay
    byte-untouched; probes over the appended layout see exactly the
    union candidate set of the frozen-codebook rule."""
    from cnc_visionsearch_spark.operators.maxsim import token_ivf_append

    docs = load_table(spark, SF, "documents")
    base = docs.filter(F.col("doc_id") < 300)
    rest = docs.filter(F.col("doc_id") >= 300)
    path = str(tmp_path / "tivf_app")
    token_ivf_build(base, path, n_cells=TOKEN_IVF_CELLS)

    before = live_md5s(path)
    token_ivf_append(rest, path)
    after = live_md5s(path)
    assert set(before) <= set(after) and len(after) > len(before)
    for p, sig in before.items():
        assert after[p] == sig  # resident files byte-untouched
    # union candidate set == frozen-codebook ground truth
    cells = token_ivf_probe_cells(spark, path, ["vector"], nprobe=2)
    tc = read_token_cells(spark, path).filter(
        F.col("cell_id").isin(cells)
    )
    want = {
        r.doc_id
        for r in doc_distinct_tokens(docs)
        .join(tc, "tok", "left_semi")
        .select("doc_id")
        .distinct()
        .collect()
    }
    got = {
        r.doc_id
        for r in token_ivf_candidates(
            spark, path, ["vector"], nprobe=2
        ).collect()
    }
    assert got == want
    assert any(d >= 300 for d in got)  # appended docs are reachable


def test_token_ivf_geometry_sidecar_validated(spark, built, tmp_path):
    """Probes and appends validate the _GEOMETRY.json sidecar: a
    missing or wrong-dim sidecar raises instead of silently ranking
    cells in the wrong vector space (the validate_minhash_meta
    doctrine, applied to the token-IVF layout)."""
    import json
    import os
    import shutil

    from cnc_visionsearch_spark.operators.maxsim import (
        token_ivf_append,
        validate_token_ivf_geometry,
    )

    assert validate_token_ivf_geometry(built)["kind"] == "token_ivf"

    broken = str(tmp_path / "broken")
    shutil.copytree(built, broken)
    os.remove(os.path.join(broken, "_GEOMETRY.json"))
    with pytest.raises(ValueError, match="no _GEOMETRY.json"):
        token_ivf_probe_cells(spark, broken, ["vector"])
    with open(os.path.join(broken, "_GEOMETRY.json"), "w") as f:
        json.dump({"kind": "token_ivf", "n_cells": 8, "dim": 16}, f)
    with pytest.raises(ValueError, match="geometry mismatch"):
        token_ivf_candidates(spark, broken, ["vector"])
    docs = load_table(spark, SF, "documents")
    with pytest.raises(ValueError, match="geometry mismatch"):
        token_ivf_append(docs.limit(1), broken)


def test_token_ivf_ingest_divergent_redelivery_deterministic(
    spark, tmp_path
):
    """An at-least-once source re-delivering one doc_id with DIVERGENT
    text within a micro-batch must bake a DETERMINISTIC row into the
    persisted layout (max(text) per id — the minhash_store_probe
    verdict-kernel rule), equal to the one-shot append of that
    max-text row, regardless of row order in the batch."""
    from cnc_visionsearch_spark.operators.maxsim import token_ivf_append
    from cnc_visionsearch_spark.streaming.pipelines import (
        token_ivf_ingest_stream,
    )

    docs = load_table(spark, SF, "documents")
    base = docs.filter(F.col("doc_id") < 300)
    streamed = str(tmp_path / "streamed")
    oneshot = str(tmp_path / "oneshot")
    token_ivf_build(base, streamed, n_cells=TOKEN_IVF_CELLS)
    token_ivf_build(base, oneshot, n_cells=TOKEN_IVF_CELLS)

    dup = spark.createDataFrame(
        [
            (9001, "alpha beta gamma", "xx", "s1", 16),
            (9001, "zeta omega theta", "xx", "s1", 16),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    stream_in = str(tmp_path / "in")
    dup.coalesce(1).write.parquet(stream_in)
    token_ivf_ingest_stream(
        spark, stream_in, streamed, str(tmp_path / "ckpt")
    ).start().awaitTermination(180)
    # max(text) wins: 'zeta omega theta' > 'alpha beta gamma'
    token_ivf_append(
        spark.createDataFrame(
            [(9001, "zeta omega theta")], "doc_id bigint, text string"
        ),
        oneshot,
    )
    a = sorted(
        (r.cell_id, r.doc_id)
        for r in read_doc_cells(spark, streamed)
        .filter(F.col("doc_id") == 9001)
        .collect()
    )
    b = sorted(
        (r.cell_id, r.doc_id)
        for r in read_doc_cells(spark, oneshot)
        .filter(F.col("doc_id") == 9001)
        .collect()
    )
    assert a == b and a


def test_token_ivf_ingest_stream_equals_batch_append(spark, tmp_path):
    """Streamed ingest == batch append: building over the base slice
    then streaming the remainder in micro-batches must leave a layout
    whose candidate sets equal the one-shot token_ivf_append form."""
    from cnc_visionsearch_spark.operators.maxsim import token_ivf_append
    from cnc_visionsearch_spark.streaming.pipelines import (
        token_ivf_ingest_stream,
    )

    docs = load_table(spark, SF, "documents")
    base = docs.filter(F.col("doc_id") < 300)
    rest = docs.filter(F.col("doc_id") >= 300)

    streamed = str(tmp_path / "streamed")
    oneshot = str(tmp_path / "oneshot")
    token_ivf_build(base, streamed, n_cells=TOKEN_IVF_CELLS)
    token_ivf_build(base, oneshot, n_cells=TOKEN_IVF_CELLS)
    token_ivf_append(rest, oneshot)

    stream_in = str(tmp_path / "in")
    for i in range(2):
        rest.filter(F.col("doc_id") % 2 == i).coalesce(1).write.mode(
            "append"
        ).parquet(stream_in)
    token_ivf_ingest_stream(
        spark,
        stream_in,
        streamed,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    ).start().awaitTermination(180)

    for qts in (["vector"], ["hash", "scan"]):
        a = {
            r.doc_id
            for r in token_ivf_candidates(
                spark, streamed, qts, nprobe=2
            ).collect()
        }
        b = {
            r.doc_id
            for r in token_ivf_candidates(
                spark, oneshot, qts, nprobe=2
            ).collect()
        }
        assert a == b and a


def test_maxsim_fused_reduction_matches_two_stage(spark, tmp_path, monkeypatch):
    """r11: under MAXSIM_FUSED_QTOK_MAX the per-token max and the
    cross-token BIGINT sum fuse into ONE aggregate keyed (qid, doc) —
    one exchange instead of two. The fusion must be value-IDENTICAL to
    the two-stage shape (same maxes over the same rows, same 1e-9
    quantization, same order-free integer sum): force the two-stage
    fallback by zeroing the width guard and compare."""
    import cnc_visionsearch_spark.operators.maxsim as mx
    from cnc_visionsearch_spark.operators.text_index import inverted_build

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "inv_fused")
    inverted_build(docs, path, n_buckets=8)
    qs = [(0, ["vector", "window"]), (1, ["hash", "scan", "join"])]
    fused = {
        (r.qid, r.doc_id, r.score_q)
        for r in maxsim_multi_probe(
            spark, path, qs, docs, n_buckets=8, k=5
        ).collect()
    }
    monkeypatch.setattr(mx, "MAXSIM_FUSED_QTOK_MAX", 0)
    two_stage = {
        (r.qid, r.doc_id, r.score_q)
        for r in maxsim_multi_probe(
            spark, path, qs, docs, n_buckets=8, k=5
        ).collect()
    }
    assert fused == two_stage and fused


def test_maxsim_multi_probe_empty_token_lists(spark, tmp_path):
    """r12 (advisor): a batch whose queries all carry EMPTY token lists
    is degenerate but legal — the fused-reduction guard must route it
    away from groupBy().agg(*<no columns>) (which raises) and return an
    empty frame, exactly like the two-stage path always did."""
    from cnc_visionsearch_spark.operators.text_index import inverted_build

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "inv_empty")
    inverted_build(docs, path, n_buckets=8)
    out = maxsim_multi_probe(
        spark, path, [(0, []), (1, [])], docs, n_buckets=8, k=5
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["qid", "doc_id", "score_q"]


@pytest.mark.parametrize("use_tlog", [True])
def test_postings_unique_per_term_and_doc(spark, tmp_path, use_tlog):
    """maxsim_multi_probe's lexical candidate count is a count(*) over
    (qid, term, doc_id) rows, which equals the distinct-term count only
    while postings are (term, doc_id)-unique. Pin that after the build
    and after an append of new documents."""
    from cnc_visionsearch_spark.operators.text_index import (
        inverted_append,
        inverted_build,
        read_postings,
    )

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "inv")

    def rows_and_pairs():
        p = read_postings(spark, path)
        return p.count(), p.select("term", "doc_id").distinct().count()

    even = F.col("doc_id") % 2 == 0
    inverted_build(docs.filter(even), path, n_buckets=8, use_tlog=use_tlog)
    n_built, pairs = rows_and_pairs()
    assert n_built == pairs > 0
    inverted_append(docs.filter(~even), path, n_buckets=8)
    n_all, pairs = rows_and_pairs()
    assert n_all == pairs > n_built
