"""Property-based tests (SURVEY §5.4) — hypothesis-generated vector
batches pushed through the REAL Spark expressions: normalization
idempotence, distance metric laws, top-k monotonicity, dedup
idempotence. Each example is a whole batch (one DataFrame round-trip),
keeping JVM overhead bounded.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cnc_visionsearch_spark.functions.vector import l2_normalize, l2_sq
from cnc_visionsearch_spark.operators.dedup import exact_dedup
from cnc_visionsearch_spark.operators.knn import knn_single, with_normalized
from cnc_visionsearch_spark.sources.catalog import load_table

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

finite = st.floats(
    min_value=-100.0, max_value=100.0, allow_nan=False, allow_infinity=False
)
vec = st.lists(finite, min_size=4, max_size=4).filter(
    lambda v: sum(x * x for x in v) > 1e-6
)


@SLOW
@given(vs=st.lists(vec, min_size=1, max_size=8))
def test_normalize_idempotent_and_unit(spark, vs):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vs)], "i: long, v: array<double>")
    rows = df.select(
        "i",
        l2_normalize("v").alias("n1"),
        l2_normalize(l2_normalize("v")).alias("n2"),
    ).collect()
    for r in rows:
        norm = math.sqrt(sum(x * x for x in r.n1))
        assert norm == pytest.approx(1.0, abs=1e-9)
        for a, b in zip(r.n1, r.n2):
            assert a == pytest.approx(b, abs=1e-12)


@SLOW
@given(pairs=st.lists(st.tuples(vec, vec), min_size=1, max_size=8))
def test_l2sq_symmetric_nonnegative_identity(spark, pairs):
    df = spark.createDataFrame(
        [(a, b) for a, b in pairs], "a: array<double>, b: array<double>"
    )
    rows = df.select(
        l2_sq("a", "b").alias("ab"),
        l2_sq("b", "a").alias("ba"),
        l2_sq("a", "a").alias("aa"),
    ).collect()
    for r in rows:
        assert r.ab >= 0.0
        assert r.ab == pytest.approx(r.ba, rel=1e-12)
        assert r.aa == 0.0


def test_topk_monotone_in_k(spark):
    emb = with_normalized(load_table(spark, "/root/testdata/sf0.01", "embeddings"))
    q = emb.filter(F.col("vec_id") == 9).first().nvec
    prev: list[int] = []
    for k in (1, 3, 5, 10, 20):
        ids = [
            r.vec_id
            for r in knn_single(emb, list(q), k=k, normalize_query=False).collect()
        ]
        assert len(ids) == k
        assert ids[: len(prev)] == prev  # growing k only appends
        prev = ids


def test_exact_dedup_idempotent(spark):
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    first = exact_dedup(docs)
    survivors = docs.join(
        first.select(F.col("keeper_id").alias("doc_id")), "doc_id", "left_semi"
    )
    second = exact_dedup(survivors)
    assert second.filter(F.col("n_copies") > 1).count() == 0
    assert second.count() == first.count()


@SLOW
@given(vs=st.lists(st.lists(finite, min_size=4, max_size=4), min_size=1, max_size=8))
def test_int8_quant_error_bound_property(spark, vs):
    """For ANY finite vector: every reconstruction error <= scale/2
    (round-half-up within the clamp range), and errors of the zero
    vector are exactly zero."""
    from cnc_visionsearch_spark.functions.vector import (
        abs_max,
        int8_dequant_errors,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vs)], "i: long, v: array<double>"
    )
    rows = df.select(
        "i",
        (abs_max("v") / F.lit(127.0)).alias("scale"),
        int8_dequant_errors("v").alias("errs"),
    ).collect()
    for r, v in zip(sorted(rows, key=lambda r: r.i), vs):
        if max(abs(x) for x in v) == 0.0:
            assert all(e == 0.0 for e in r.errs)
        else:
            assert max(r.errs) <= r.scale / 2 + 1e-12


@SLOW
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 1000)),
        min_size=1,
        max_size=40,
    )
)
def test_salted_join_equivalence_property(spark, rows):
    """salted_join == plain join for arbitrary (skewed or not) key
    multisets, including keys with no dim match."""
    from cnc_visionsearch_spark.operators.skew import salted_join

    fact = spark.createDataFrame(rows, "k: long, payload: long")
    dim = spark.createDataFrame(
        [(k, k * 7) for k in range(4)], "dk: long, dval: long"
    )
    got = sorted(
        tuple(r)
        for r in salted_join(fact, dim, "k", "dk", n_salts=4, how="left")
        .select("k", "payload", "dval")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in fact.join(dim, fact.k == dim.dk, "left")
        .select("k", "payload", "dval")
        .collect()
    )
    assert got == want


@given(st.lists(st.integers(min_value=0, max_value=10**6), min_size=2, max_size=24, unique=True))
@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bucket_pairs_emits_exactly_n_choose_2(spark, ids):
    """_bucket_pairs over one bucket of n sorted members must emit
    exactly C(n,2) pairs, each with id_a < id_b, none duplicated."""
    from cnc_visionsearch_spark.operators.dedup import _bucket_pairs

    df = spark.createDataFrame([(sorted(ids),)], "members array<bigint>")
    rows = (
        _bucket_pairs(df, "named_struct('id_a', x, 'id_b', y)")
        .select("p.id_a", "p.id_b")
        .collect()
    )
    n = len(ids)
    got = {(r.id_a, r.id_b) for r in rows}
    assert len(rows) == len(got) == n * (n - 1) // 2
    assert all(a < b for a, b in got)


# ------------------------------- incremental CC == from-scratch CC

edge = st.tuples(
    st.integers(min_value=0, max_value=14),
    st.integers(min_value=0, max_value=14),
).filter(lambda e: e[0] != e[1])


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    old_edges=st.lists(edge, min_size=1, max_size=10),
    new_edges=st.lists(edge, min_size=1, max_size=10),
)
def test_cc_incremental_merge_equals_from_scratch(spark, old_edges, new_edges):
    """On ANY graph shape hypothesis produces (chains, merges of many
    store components through one new edge, batch-only islands), the
    incremental relabel of the touched region must equal from-scratch
    connected components over the union — the contraction-edge
    argument the operator's docstring makes, machine-checked."""
    from cnc_visionsearch_spark.operators.dedup import (
        cc_incremental_merge,
        neardup_components,
    )

    def df(edges):
        return spark.createDataFrame(
            [(min(a, b), max(a, b)) for a, b in edges],
            "id_a bigint, id_b bigint",
        )

    store = neardup_components(df(old_edges)).select("doc_id", "component_id")
    got = {
        (int(r["doc_id"]), int(r["component_id"]))
        for r in cc_incremental_merge(store, df(new_edges)).collect()
    }
    full = neardup_components(df(old_edges + new_edges))
    new_nodes = {n for e in new_edges for n in e}
    want_rows = full.collect()
    comp_of = {int(r["doc_id"]): int(r["component_id"]) for r in want_rows}
    touched_comps = {comp_of[n] for n in new_nodes if n in comp_of}
    want = {
        (int(r["doc_id"]), int(r["component_id"]))
        for r in want_rows
        if int(r["component_id"]) in touched_comps
    }
    assert got == want


# ------------------------- driver union-find == min-label rounds

def _components(pairs, driver: bool, max_iters: int = 25):
    """(dtypes, rows) of neardup_components on the driver path, or on
    the round path (the reference) with the collect bound forced to 0."""
    from unittest import mock

    from cnc_visionsearch_spark.operators import dedup

    bound = dedup.CC_COLLECT_MAX_EDGES if driver else 0
    with mock.patch.object(dedup, "CC_COLLECT_MAX_EDGES", bound):
        out = dedup.neardup_components(pairs, max_iters=max_iters)
        return out.dtypes, sorted(map(tuple, out.collect()), key=repr)


# duplicates, reversed edges and self-loops come from the small id
# range; None is a null endpoint
endpoint = st.one_of(st.none(), st.integers(min_value=0, max_value=11))


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(st.tuples(endpoint, endpoint), min_size=0, max_size=14),
    id_type=st.sampled_from(["int", "bigint"]),
)
def test_neardup_components_driver_path_equals_rounds(spark, edges, id_type):
    """The driver's union-find returns the round path's rows and schema
    on any edge list: duplicate and reversed edges, self-loops, null
    endpoints, int or bigint ids, no edges at all."""
    from cnc_visionsearch_spark.session import local_frame

    pairs = local_frame(spark, edges, f"id_a {id_type}, id_b {id_type}")
    got = _components(pairs, driver=True)
    assert got == _components(pairs, driver=False)
    assert got[0] == [
        ("doc_id", id_type), ("component_id", id_type), ("is_keeper", "boolean"),
    ]


def test_neardup_components_empty_and_long_chain(spark):
    """No pairs: both paths return no rows with the id type. A chain
    longer than max_iters: the driver resolves it, the rounds raise."""
    from cnc_visionsearch_spark.session import local_frame

    empty = local_frame(spark, [], "id_a int, id_b int")
    assert _components(empty, driver=True) == _components(empty, driver=False)
    assert _components(empty, driver=True) == (
        [("doc_id", "int"), ("component_id", "int"), ("is_keeper", "boolean")],
        [],
    )
    chain = local_frame(
        spark, [(i + 1, i) for i in range(8)], "id_a bigint, id_b bigint"
    )
    _, rows = _components(chain, driver=True, max_iters=3)
    assert rows == [(i, 0, i == 0) for i in range(9)]
    with pytest.raises(RuntimeError, match="converge"):
        _components(chain, driver=False, max_iters=3)


@SLOW
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e"]),
            min_size=0,
            max_size=6,
        ),
        min_size=1,
        max_size=8,
    ),
    qsets=st.lists(
        st.sets(
            st.sampled_from(["a", "b", "c", "d", "f"]),
            min_size=1,
            max_size=3,
        ),
        min_size=1,
        max_size=4,
    ),
)
def test_percolate_docs_matches_naive(spark, docs, qsets):
    """percolate_docs == brute-force per-(query, doc) subset test, for
    arbitrary token multisets and conjunctive term sets — including
    empty docs, repeated tokens, and never-matching terms ('f')."""
    from cnc_visionsearch_spark.operators.text_index import percolate_docs

    queries = [
        (f"q{i}", tuple(sorted(s))) for i, s in enumerate(qsets)
    ]
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        (r.query_name, r.doc_id)
        for r in percolate_docs(df, queries).collect()
    }
    want = {
        (name, i)
        for name, terms in queries
        for i, toks in enumerate(docs)
        if set(terms) <= set(toks)
    }
    assert got == want


@SLOW
@given(
    vals=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=60
    ),
    bands=st.sampled_from([2, 5, 32]),
    n_tiles=st.sampled_from([1, 3, 7]),
    desc=st.booleans(),
)
def test_rank_primitives_match_global_window_property(
    spark, vals, bands, n_tiles, desc
):
    """Property (r7): for ARBITRARY integer values (ties, negatives,
    tiny inputs) and any band count, distributed_cumsum's running sum /
    row number and exact_ntile's buckets are bit-identical to the
    single-partition global window — the boundary-literal banding is
    invariant to where boundaries land."""
    from pyspark.sql import Window

    from cnc_visionsearch_spark.operators.rank import (
        distributed_cumsum,
        exact_ntile,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id: long, v: long"
    )
    order = [(F.col("v"), "desc" if desc else "asc"), ("id", "asc")]
    got = distributed_cumsum(
        df, order, sums=[(F.col("v"), "cs")], rn_col="rn", bands=bands,
        total_col="tot",
    )
    w = Window.orderBy(
        F.col("v").desc() if desc else F.col("v").asc(), F.col("id").asc()
    )
    ref = df.select(
        "id",
        F.sum("v")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cs"),
        F.row_number().over(w).cast("bigint").alias("rn"),
    )
    g = {(r.id): (r.cs, r.rn, r.tot) for r in got.collect()}
    e = {(r.id): (r.cs, r.rn, len(vals)) for r in ref.collect()}
    assert g == e
    nt = exact_ntile(df, order, n_tiles, "b", bands=bands)
    ref_nt = df.select(
        "id", F.ntile(n_tiles).over(w).cast("int").alias("b")
    )
    assert {r.id: r.b for r in nt.collect()} == {
        r.id: r.b for r in ref_nt.collect()
    }


@SLOW
@given(
    vals=st.lists(
        st.integers(min_value=-50, max_value=50), min_size=1, max_size=200
    ),
    n1=st.integers(min_value=1, max_value=9),
    n2=st.integers(min_value=2, max_value=12),
)
def test_exact_ntile_multi_matches_sql_ntile_property(spark, vals, n1, n2):
    """For ANY value multiset (ties, negatives, skew) and any pair of
    bucket counts, exact_ntile_multi must reproduce SQL NTILE exactly
    for every spec — the r8 shared-sample kernel is semantics-free of
    its boundary placement."""
    from pyspark.sql import Window

    from cnc_visionsearch_spark.operators.rank import exact_ntile_multi

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    )
    got = exact_ntile_multi(
        df,
        [
            (["v", "id"], n1, "a"),
            ([(F.col("v"), "desc"), ("id", "asc")], n2, "b"),
        ],
        bands=4,
    )
    ref = df.select(
        "id",
        F.ntile(n1).over(Window.orderBy("v", "id")).alias("a"),
        F.ntile(n2)
        .over(Window.orderBy(F.col("v").desc(), F.col("id").asc()))
        .alias("b"),
    )
    g = sorted((r.id, r.a, r.b) for r in got.select("id", "a", "b").collect())
    w = sorted((r.id, r.a, r.b) for r in ref.collect())
    assert g == w


@SLOW
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab "), min_size=3, max_size=30
        ).filter(
            # >= shingle_n (2) tokens, else a doc has ZERO shingles and
            # legitimately cannot self-match
            lambda s: len([t for t in s.split(" ") if t]) >= 2
        ),
        min_size=1,
        max_size=12,
    )
)
def test_minhash_meta_roundtrip_and_store_probe_guard(
    spark, tmp_path_factory, texts
):
    """Any store stamped with write_minhash_meta round-trips exactly,
    and a probe with ANY different geometry raises — the silent
    zero-candidate failure mode is structurally unreachable through
    the guarded path."""
    import pytest as _pytest

    from cnc_visionsearch_spark.operators.dedup import (
        minhash_banded,
        minhash_store_probe,
        read_minhash_meta,
        write_minhash_meta,
    )

    base = str(tmp_path_factory.mktemp("mh") / "store")
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    minhash_banded(docs, num_hashes=8, bands=2, shingle_n=2).write.mode(
        "overwrite"
    ).parquet(base)
    write_minhash_meta(base, num_hashes=8, bands=2, shingle_n=2)
    assert read_minhash_meta(base) == {
        "num_hashes": 8,
        "bands": 2,
        "shingle_n": 2,
        "seed_family": "md5-lcg-m31-v1",
    }
    store = spark.read.parquet(base)
    with _pytest.raises(ValueError, match="geometry mismatch"):
        minhash_store_probe(
            docs, store, docs, num_hashes=16, bands=4, shingle_n=3,
            store_path=base,
        )
    # matching geometry probes fine and self-matches at jaccard 1.0
    ok = minhash_store_probe(
        docs, store, docs, num_hashes=8, bands=2, shingle_n=2,
        store_path=base,
    )
    assert ok.filter(
        (F.col("batch_id") == F.col("store_id")) & (F.col("jaccard") == 1.0)
    ).count() > 0


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=9),  # key space of 10
                st.text(
                    alphabet="abcdef", min_size=1, max_size=4
                ),
            ),
            min_size=1,
            max_size=4,
        ),
        min_size=1,
        max_size=4,
    )
)
def test_tlog_merge_history_equals_serial_upserts_property(
    spark, tmp_path_factory, batches
):
    """Serializability of the transactional MERGE: ANY sequence of
    hypothesis-generated upsert batches (overlapping keys, divergent
    texts, repeated keys within a batch resolved max-text) applied
    through tlog_merge_upsert — with the optimistic retry loop — ends
    in EXACTLY the state of applying upsert_id_mapping serially over a
    plain DataFrame. Dense ids, text-only updates, and the meta
    high-water mark all survive any history the generator produces."""
    from cnc_visionsearch_spark.operators.ingest import (
        ID_MAPPING_SCHEMA,
        tlog_init_id_mapping,
        tlog_merge_upsert,
        upsert_id_mapping,
    )
    from cnc_visionsearch_spark.sources.tlog import TLog, run_transaction

    base = spark.createDataFrame(
        [(f"k{i}", i + 1, "base") for i in range(0, 10, 2)],
        ID_MAPPING_SCHEMA,
    )
    t = TLog(str(tmp_path_factory.mktemp("tlogprop") / "t"))
    tlog_init_id_mapping(t, base, n_buckets=4)
    state = base
    for rows in batches:
        # max-text per key within a batch (the deterministic
        # redelivery rule both paths share)
        dedup = {}
        for k, txt in rows:
            key = f"k{k}"
            dedup[key] = max(dedup.get(key, ""), txt)
        batch = spark.createDataFrame(
            sorted(dedup.items()), "str_id string, text_content string"
        )
        run_transaction(lambda b=batch: tlog_merge_upsert(t, b))
        state = upsert_id_mapping(state, batch)
    got = sorted(
        (r.str_id, r.faiss_id, r.text_content)
        for r in t.read(spark, schema=ID_MAPPING_SCHEMA).collect()
    )
    want = sorted(
        (r.str_id, r.faiss_id, r.text_content) for r in state.collect()
    )
    assert got == want
    assert int(t.snapshot().meta["max_faiss_id"]) == max(
        (fid for _, fid, _ in want), default=0
    )
