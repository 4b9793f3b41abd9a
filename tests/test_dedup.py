"""Dedup operator functionality on synthetic near-duplicates (the
fixture corpus is all-distinct, so these tests construct controlled
dup/near-dup cases to prove detection actually works).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cnc_visionsearch_spark.operators.dedup import (
    embedding_similar_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from cnc_visionsearch_spark.operators.knn import with_normalized

BASE = "the quick brown fox jumps over the lazy dog near the old river bank today"
NEAR = "the quick brown fox jumps over the lazy cat near the old river bank today"
OTHER = "completely different words about spark query engines and vector search systems"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, NEAR),  # near dup of 1 (one token changed)
        (4, OTHER),
        (5, "tiny"),  # < 3 tokens: no shingles
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def test_exact_dedup_groups(docs):
    out = {r.keeper_id: r.n_copies for r in exact_dedup(docs).collect()}
    assert out[1] == 2  # docs 1,2 merged, keeper = min id
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_exact_dedup_idempotent(docs):
    """Property (SURVEY §5.4): dedup of deduped corpus changes nothing."""
    keepers = exact_dedup(docs).select(F.col("keeper_id").alias("doc_id"))
    deduped = docs.join(keepers, "doc_id", "left_semi")
    again = exact_dedup(deduped)
    assert again.filter(F.col("n_copies") > 1).count() == 0


def test_minhash_identical_docs_identical_signatures(docs):
    sig = minhash_signatures(docs, num_hashes=8).collect()
    by_id = {r.doc_id: [r[f"h{i}"] for i in range(8)] for r in sig}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[4]
    assert 5 not in by_id  # too short for shingles


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(docs, num_hashes=16, bands=4).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == pytest.approx(1.0)
    assert (1, 3) in pairs and 0.3 < pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_ngram_jaccard_exact_values(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.01).collect()
    }
    assert pairs[(1, 2)] == pytest.approx(1.0)
    # 15 tokens -> 13 trigrams; one token change breaks 3 of them:
    # |A∩B| = 10, |A∪B| = 16 -> 0.625
    assert pairs[(1, 3)] == pytest.approx(10 / 16)


def test_simhash_near_dups_close_in_hamming(docs):
    out = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert out[1] == out[2]
    ham_near = bin(out[1] ^ out[3]).count("1")
    ham_far = bin(out[1] ^ out[4]).count("1")
    assert ham_near < ham_far


def test_embedding_similar_pairs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
    ]
    emb = with_normalized(
        spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    )
    # oracle-parity tier: exact all-pairs, opt-in only
    top = embedding_similar_pairs(emb, top_n=1, candidates="exact").first()
    assert (top.id_a, top.id_b) == (1, 2)
    assert top.cosine > 0.999
    # DEFAULT serving path: LSH-bucketed — near-identical vectors share
    # every sign bit, so the near-dup pair survives the blocking; the
    # plan must carry no cartesian / nested-loop pair expansion
    default = embedding_similar_pairs(emb, top_n=1)
    from cnc_visionsearch_spark.plans import formatted_plan

    plan = formatted_plan(default)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    top_lsh = default.first()
    assert (top_lsh.id_a, top_lsh.id_b) == (1, 2)
    assert top_lsh.cosine > 0.999


def test_neardup_components_chain_triangle(spark):
    """Min-label propagation: a 4-chain and a triangle resolve to their
    min ids; keepers are exactly the component minima."""
    import pytest

    from cnc_visionsearch_spark.operators.dedup import neardup_components

    # chain 10-11-12-13, triangle 20-21-22, isolated pair 30-31
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (20, 21), (21, 22), (20, 22), (30, 31)],
        "id_a: long, id_b: long",
    )
    out = {r.doc_id: (r.component_id, r.is_keeper)
           for r in neardup_components(pairs).collect()}
    assert {d: c for d, (c, _) in out.items()} == {
        10: 10, 11: 10, 12: 10, 13: 10,
        20: 20, 21: 20, 22: 20,
        30: 30, 31: 30,
    }
    assert sorted(d for d, (_, k) in out.items() if k) == [10, 20, 30]
    # pathological diameter with too few rounds must raise, not silently
    # return partial components
    with pytest.raises(RuntimeError, match="converge"):
        neardup_components(pairs, max_iters=1)


def test_mllib_minhash_join_recall_vs_exact(spark):
    """MLlib MinHashLSH.approxSimilarityJoin (SURVEY §2 J3's second
    primitive): recall >= 0.8 of the exact shingle-Jaccard pairs at
    sim >= 0.3 (the fixture's true pairs are all sim >= 0.7, so the
    8-table OR misses with probability ~0.3^8)."""
    from cnc_visionsearch_spark.operators.ann import mllib_minhash_jaccard_join
    from cnc_visionsearch_spark.operators.dedup import ngram_jaccard_pairs
    from cnc_visionsearch_spark.sources.catalog import load_table

    d = load_table(spark, "/root/testdata/sf0.01", "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(d, threshold=0.3).collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in mllib_minhash_jaccard_join(d, threshold=0.7).collect()
    }
    assert exact, "fixture must contain near-dup pairs"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.8, f"MinHashLSH join recall {recall} < 0.8"


def test_simhash_banded_blocking_is_lossless(spark):
    """Pigeonhole exactness: the banded candidate generation must find
    EXACTLY the pairs the quadratic Hamming filter finds (bands=4 >
    max_hamming=3), not a recall-gated subset."""
    import pytest

    from cnc_visionsearch_spark.operators.dedup import simhash, simhash_neardup_pairs
    from cnc_visionsearch_spark.sources.catalog import load_table

    d = load_table(spark, "/root/testdata/sf0.01", "documents").filter(
        F.col("doc_id") < 120
    )
    blocked = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_neardup_pairs(d, bits=60, bands=4, max_hamming=3).collect()
    }
    sk = simhash(d, bits=60)
    a = sk.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sk.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"))
    brute = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.expr("sh_a ^ sh_b")).alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert blocked == brute and brute
    with pytest.raises(ValueError):
        simhash_neardup_pairs(d, bits=60, bands=4, max_hamming=4)


def test_minhash_store_probe_appended_equals_full_rebuild(spark):
    """Cross-run incremental identity (r6 verdict task #8): probing the
    PERSISTED store (base build + appended day, via
    ensure_minhash_store_built) must return byte-identical verified
    pairs to probing a banded table rebuilt from scratch over the same
    doc range — the incremental append loses and invents nothing."""
    from cnc_visionsearch_spark.operators.dedup import (
        minhash_banded,
        minhash_store_probe,
        read_minhash_store,
    )
    from cnc_visionsearch_spark.queries_dedup import (
        ensure_minhash_store_built,
    )
    from cnc_visionsearch_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.01"
    d = load_table(spark, sf, "documents")
    store_docs = d.filter(F.col("doc_id") < 250).select("doc_id", "text")
    batch = (
        d.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 300))
        .select("doc_id", "text")
        .unionAll(
            d.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 270))
            .select((F.col("doc_id") + 10000).alias("doc_id"), "text")
        )
    )
    persisted = read_minhash_store(spark, ensure_minhash_store_built(spark, sf))
    fresh = minhash_banded(store_docs, num_hashes=16, bands=4, shingle_n=3)

    def rows(banded):
        return sorted(
            (r.batch_id, r.store_id, round(r.jaccard, 12))
            for r in minhash_store_probe(
                batch, banded, store_docs
            ).collect()
        )

    got, want = rows(persisted), rows(fresh)
    assert got == want
    assert len(got) > 0
    # the re-delivered store slice must self-match at jaccard 1.0
    assert any(b == s and j == 1.0 for b, s, j in got)


def test_minhash_store_meta_written_and_validated(spark, tmp_path):
    """r7 verdict #3: the persisted store is SELF-DESCRIBING — the
    builder stamps _META.json (geometry + seed family), and a probe
    that bands its batch with DIFFERENT constants raises instead of
    silently joining zero candidates. An unstamped store also raises."""
    import pytest as _pytest

    from cnc_visionsearch_spark.operators.dedup import (
        minhash_banded,
        minhash_store_probe,
        read_minhash_meta,
        read_minhash_store,
        write_minhash_meta,
    )
    from cnc_visionsearch_spark.queries_dedup import (
        ensure_minhash_store_built,
    )
    from cnc_visionsearch_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.01"
    path = ensure_minhash_store_built(spark, sf)
    meta = read_minhash_meta(path)
    assert meta == {
        "num_hashes": 16,
        "bands": 4,
        "shingle_n": 3,
        "seed_family": "md5-lcg-m31-v1",
    }
    d = load_table(spark, sf, "documents")
    docs = d.filter(F.col("doc_id") < 50).select("doc_id", "text")
    store = read_minhash_store(spark, path)
    # geometry mismatch: probe bands the batch with b=2 -> must raise
    with _pytest.raises(ValueError, match="geometry mismatch"):
        minhash_store_probe(
            docs, store, docs, bands=2, num_hashes=16, store_path=path
        )
    # unstamped store -> must raise too
    bare = str(tmp_path / "bare_store")
    minhash_banded(docs).write.mode("overwrite").parquet(bare)
    with _pytest.raises(ValueError, match="no _META"):
        minhash_store_probe(
            docs, spark.read.parquet(bare), docs, store_path=bare
        )
    # stamped with matching geometry -> probes fine
    write_minhash_meta(bare, num_hashes=16, bands=4, shingle_n=3)
    pairs = minhash_store_probe(
        docs, spark.read.parquet(bare), docs, store_path=bare
    )
    assert pairs.filter(
        (F.col("batch_id") == F.col("store_id")) & (F.col("jaccard") == 1.0)
    ).count() > 0


def test_minhash_store_probe_divergent_text_deterministic(spark):
    """A doc re-delivered with CHANGED text under one store id must
    verify against a DETERMINISTIC row (max(text) per id), not
    file-scan order — two probes over stores holding the divergent
    rows in opposite file orders must agree."""
    from cnc_visionsearch_spark.operators.dedup import (
        minhash_banded,
        minhash_store_probe,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    changed = "alpha beta gamma delta epsilon zeta eta CHANGED"
    batch = spark.createDataFrame(
        [(1, base)], "doc_id bigint, text string"
    )

    def probe(order):
        docs = spark.createDataFrame(
            [(7, t) for t in order], "doc_id bigint, text string"
        )
        banded = minhash_banded(docs)
        return sorted(
            (r.batch_id, r.store_id, round(r.jaccard, 12))
            for r in minhash_store_probe(batch, banded, docs).collect()
        )

    a = probe([base, changed])
    b = probe([changed, base])
    assert a == b and len(a) == 1
