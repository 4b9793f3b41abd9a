"""Training-data pipeline composites (queries_pipeline): semantic
invariants the oracle hash can't see — flags actually split the
corpus, sampling is deterministic, mixture weights are a valid
schedule, the Lloyd step conserves membership mass.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cnc_visionsearch_spark.queries_pipeline import (
    doc_decontamination_overlap,
    doc_mixture_weights,
    doc_repetition_metrics,
    doc_stratified_sample,
    emb_kmeans_refine,
)
from cnc_visionsearch_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.01"


def test_repetition_flag_splits_corpus(spark):
    rows = doc_repetition_metrics(spark, SF).collect()
    assert len(rows) == load_table(spark, SF, "documents").count()
    kept = sum(r.keep for r in rows)
    assert 0 < kept < len(rows), "threshold should partition, not rubber-stamp"
    for r in rows:
        assert 0 < r.top_word_frac <= 1 and 0 < r.top_bigram_frac <= 1
        assert r.top_word_n <= r.n_tokens and r.top_bigram_n <= r.n_bigrams


def test_decontamination_excludes_benchmark_and_bounds(spark):
    rows = doc_decontamination_overlap(spark, SF).collect()
    assert rows and all(r.doc_id % 97 != 0 for r in rows)
    assert all(0 <= r.n_hit <= r.n_grams for r in rows)
    assert any(r.n_hit > 0 for r in rows), "fixture near-dups should overlap"
    # flag agrees with the fraction it is derived from
    for r in rows:
        assert r.flagged == (r.contamination_frac >= 0.05)


def test_stratified_sample_deterministic_and_bounded(spark):
    a = sorted(doc_stratified_sample(spark, SF).collect())
    b = sorted(doc_stratified_sample(spark, SF).collect())
    assert a == b, "hash-based sampling must be reproducible"
    for r in a:
        assert 0 < r.n_sampled < r.n_total  # rates are all in (0, 1)
        # observed rate lands near the configured permille (binomial-ish)
        assert abs(r.n_sampled / r.n_total - r.permille / 1000) < 0.15


def test_mixture_weights_valid_schedule(spark):
    rows = doc_mixture_weights(spark, SF).collect()
    assert len(rows) == 20
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-9
    assert all(0 < r.mix_weight <= 3.0 for r in rows)


def test_kmeans_refine_conserves_membership(spark):
    rows = emb_kmeans_refine(spark, SF).collect()
    n_vec = load_table(spark, SF, "embeddings").count()
    dims = {r.dim for r in rows}
    assert dims == set(range(64))
    # every vector lands in exactly one cell: per-dim membership sums
    # to the corpus size
    for d in (0, 31, 63):
        assert sum(r.n_members for r in rows if r.dim == d) == n_vec
    # one Lloyd step from a stride codebook must actually move it
    # (mean = 1e-9-quantized sum / members)
    assert any(
        abs(r.sum_q * 1e-9 / r.n_members - r.old_c) > 1e-6 for r in rows
    )


def test_mixture_applied_sample_tracks_weights(spark):
    from cnc_visionsearch_spark.queries_pipeline import doc_mixture_applied_sample

    rows = doc_mixture_applied_sample(spark, SF).collect()
    assert len(rows) == 20
    for r in rows:
        assert 0 <= r.n_sampled <= r.n_total
        # observed rate near weight * base_rate (loose binomial bound)
        assert abs(r.n_sampled / r.n_total - min(r.mix_weight * 0.25, 1.0)) < 0.25


def test_pca_power_iter_unit_norm_and_determinism(spark):
    from cnc_visionsearch_spark.queries_pipeline import embedding_pca_power_iter

    rows = embedding_pca_power_iter(spark, SF).collect()
    assert len(rows) == 64
    # caller-side normalization of the fixed-point iterate
    s = {r.dim: r.s_q * 1e-9 for r in rows}
    norm = sum(v * v for v in s.values()) ** 0.5
    assert norm > 0
    assert abs(sum((v / norm) ** 2 for v in s.values()) - 1.0) < 1e-9
    again = embedding_pca_power_iter(spark, SF).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


# jobs of one build_training_corpus call on the sf0.01 fixture: 36 with
# the near-dup components labeled on the driver, 62 when they ran as
# Spark min-label rounds; the bound fails the moment a change adds a job
_CORPUS_BUILD_JOB_BUDGET = 36


def test_build_training_corpus_end_to_end(spark, count_jobs, tmp_path):
    """The six-stage corpus build: funnel counts monotone, every stage
    drops something on the fixture, output partitioned by lang and
    byte-deterministic across reruns."""
    import os

    from cnc_visionsearch_spark.pipeline import build_training_corpus

    out = str(tmp_path / "corpus")
    rows = []
    jobs = count_jobs(
        lambda: rows.extend(build_training_corpus(spark, SF, out).collect())
    )
    assert jobs <= _CORPUS_BUILD_JOB_BUDGET, jobs
    funnel = {r.stage: r for r in rows}
    assert list(funnel) == [
        "1_exact_dedup",
        "2_neardup_dedup",
        "3_quality_filter",
        "4_decontamination",
        "5_stratified_sample",
    ]
    prev_out = None
    for r in funnel.values():
        assert r.docs_out <= r.docs_in and r.dropped == r.docs_in - r.docs_out
        if prev_out is not None:
            assert r.docs_in == prev_out  # stages chain exactly
        prev_out = r.docs_out
    assert funnel["2_neardup_dedup"].dropped > 0  # fixture has near-dups
    assert funnel["5_stratified_sample"].docs_out > 0

    # layout: hive-partitioned by lang; reading one partition prunes
    langs = {d for d in os.listdir(out) if d.startswith("lang=")}
    assert langs and langs <= {f"lang={l}" for l in ["en", "es", "de", "fr", "zh"]}
    got = spark.read.parquet(out)
    assert got.count() == funnel["5_stratified_sample"].docs_out

    # determinism: rerun produces the identical survivor id set
    out2 = str(tmp_path / "corpus2")
    build_training_corpus(spark, SF, out2)
    ids1 = {r.doc_id for r in got.select("doc_id").collect()}
    ids2 = {r.doc_id for r in spark.read.parquet(out2).select("doc_id").collect()}
    assert ids1 == ids2


def test_weighted_priority_sample_is_weighted_and_shuffle_free(spark):
    """A-ES sampling must (a) plan as TakeOrderedAndProject — a
    per-partition top-k + driver heap merge, never a global sort
    Exchange — and (b) actually tilt toward heavy docs: the sampled
    mean weight exceeds the corpus mean (n_chars weighting)."""
    from cnc_visionsearch_spark.queries_pipeline import (
        doc_weighted_priority_sample,
    )

    df = doc_weighted_priority_sample(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan

    rows = df.collect()
    assert len(rows) == 100
    sample_mean = sum(r.weight for r in rows) / len(rows)
    corpus = load_table(spark, SF, "documents").agg(
        F.avg("n_chars").alias("m")
    ).collect()[0].m
    assert sample_mean > corpus


def test_quality_logreg_learns_and_is_deterministic(spark):
    """The GD trainer must actually learn (the length feature carries
    the heuristic's largest coefficient and must come out positive;
    accuracy beats the majority-class baseline) and be bit-stable
    across runs (quantized-gradient reductions leave nothing to
    partition order)."""
    from cnc_visionsearch_spark.queries_pipeline import (
        _logreg_p,
        _train_quality_logreg,
    )

    w1, feats = _train_quality_logreg(spark, SF)
    w2, _ = _train_quality_logreg(spark, SF)
    assert w1 == w2
    assert w1[1] > 0.0  # length component learned positive

    p = _logreg_p(w1)
    hits = feats.select(
        (
            (p >= F.lit(0.5)).cast("int") == F.col("y").cast("int")
        ).cast("int").alias("ok")
    )
    acc = hits.agg(F.avg("ok")).collect()[0][0]
    n_pos = feats.agg(F.avg("y")).collect()[0][0]
    majority = max(n_pos, 1.0 - n_pos)
    assert acc > majority
