"""End-to-end training-corpus construction ([EXT]): the composition a
data-pipeline user actually executes — every stage is an operator that
is individually oracle- or test-gated elsewhere; this module chains
them into one materializing job and reports the survival funnel.

Stage order follows the standard corpus recipe (cheapest-first so each
stage shrinks the next one's input):

  1. exact dedup          (md5 fingerprint group-by; keeper = min id)
  2. near-dup dedup       (MinHash LSH pairs -> connected components;
                           keep each cluster's min id)
  3. quality filter       (language-agnostic length + clean-ratio
                           rules, pure codegen — the English stopword
                           cascade stays a per-language branch)
  4. decontamination      (trigram overlap vs the held-out set)
  5. stratified sampling  (deterministic per-lang hash rates)
  6. write                (parquet PARTITIONED BY lang — the layout
                           downstream per-language jobs prune on)

At 100 TB each stage is linear with doc_id-keyed shuffles only (the
LSH stage's band shuffles are the documented scale path). The one
driver collect is the near-dup edge set, bounded by
``dedup.CC_COLLECT_MAX_EDGES`` rows; above it the components run as
Spark rounds. Determinism end to end: every keep/drop
decision is a pure function of the row (hashes, thresholds), so reruns
and backfills produce byte-identical corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cnc_visionsearch_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    neardup_components,
)
from cnc_visionsearch_spark.queries_pipeline import (
    _SAMPLE_PERMILLE,
    _distinct_trigrams,
    _doc_hash_unit,
)
from cnc_visionsearch_spark.session import local_frame
from cnc_visionsearch_spark.sources.catalog import load_table

__all__ = ["build_training_corpus"]


def build_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    jaccard_threshold: float = 0.3,
    contamination_frac: float = 0.05,
) -> DataFrame:
    """Run the six-stage corpus build; write the surviving documents to
    ``out_path`` partitioned by lang; return the funnel report
    (stage, docs_in, docs_out, dropped) as a 5-row DataFrame.

    Each stage's survivor set gets a ``localCheckpoint(eager=False)``
    barrier, so the per-stage counts and the final write read the
    materialized predecessor instead of replaying the whole upstream
    chain per action (without the barriers the funnel costs
    O(stages^2) corpus scans). The barriers are not job-free: with AQE
    on, the call itself runs the stage's shuffle stages (stage4's
    decontamination joins: 6 jobs on the sf0.01 documents), and only
    the checkpoint job waits for the stage's count. Broadcast hints
    appear ONLY on sides bounded by construction (the benchmark gram
    set); dedup keeper / drop sets are corpus-scale and stay
    AQE-sized, per the repo's broadcast doctrine (SCALE.md).
    """
    docs = load_table(spark, sf_dir, "documents")
    n0 = docs.count()

    # 1. exact dedup: keep each fingerprint group's min id (keeper set
    # is corpus-scale — no broadcast hint, AQE picks the join)
    keepers = exact_dedup(docs).select(F.col("keeper_id").alias("doc_id"))
    stage1 = docs.join(keepers, "doc_id", "left_semi").localCheckpoint(eager=False)
    n1 = stage1.count()

    # 2. near-dup dedup: LSH pairs -> components -> drop non-keepers
    # (drop set can be a large corpus fraction — again no hint)
    pairs = minhash_lsh_pairs(stage1, jaccard_threshold=jaccard_threshold)
    comp = neardup_components(pairs)
    drop = comp.filter(~F.col("is_keeper")).select("doc_id")
    stage2 = stage1.join(drop, "doc_id", "left_anti").localCheckpoint(eager=False)
    n2 = stage2.count()

    # 3. quality filter — language-AGNOSTIC rules only (length + clean
    # ratio): the English-specific cascade (training_filter_verdict's
    # stopword rules) would delete every non-English document, which
    # contradicts stage 5's multilingual sampling schedule. The full
    # cascade remains the per-language EN branch (doc_training_filter_funnel).
    n_tok = F.size(F.split("text", " "))
    # Unicode-aware clean ratio: any letter or digit in ANY script (plus
    # space) counts as clean — an ASCII-only class would score real
    # zh/ru/ar text as 100% dirty and drop it wholesale, contradicting
    # stage 5's multilingual sampling schedule
    non_alpha = F.length(
        F.regexp_replace("text", r"[\p{L}\p{N} ]", "")
    ).cast("double")
    clean = F.lit(1.0) - non_alpha / F.greatest(F.length("text").cast("double"), F.lit(1.0))
    stage3 = stage2.filter((n_tok >= 12) & (clean >= 0.7)).localCheckpoint(
        eager=False
    )
    n3 = stage3.count()

    # 4. decontamination vs the held-out set (doc_id % 97)
    is_bench = F.col("doc_id") % 97 == 0
    bench_grams = (
        _distinct_trigrams(stage3.filter(is_bench)).select("gram").distinct()
    )
    corp_grams = _distinct_trigrams(stage3.filter(~is_bench))
    totals = corp_grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        corp_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    contaminated = (
        totals.join(hits, "doc_id")
        .filter(F.col("n_hit") / F.col("n_grams") >= contamination_frac)
        .select("doc_id")
    )
    stage4 = (
        stage3.filter(~is_bench)
        .join(contaminated, "doc_id", "left_anti")
        .localCheckpoint(eager=False)
    )
    n4 = stage4.count()

    # 5. stratified sampling (deterministic hash; langs outside the
    # schedule are dropped, matching doc_stratified_sample)
    rate = F.create_map(
        *[F.lit(x) for kv in _SAMPLE_PERMILLE.items() for x in kv]
    )[F.col("lang")]
    stage5 = stage4.filter(
        F.col("lang").isin(*_SAMPLE_PERMILLE) & (_doc_hash_unit(1000) < rate)
    ).localCheckpoint(eager=False)
    n5 = stage5.count()

    # 6. write the corpus partitioned by lang (per-language downstream
    # jobs read exactly their partition)
    stage5.write.mode("overwrite").partitionBy("lang").parquet(out_path)

    funnel = [
        ("1_exact_dedup", n0, n1),
        ("2_neardup_dedup", n1, n2),
        ("3_quality_filter", n2, n3),
        ("4_decontamination", n3, n4),
        ("5_stratified_sample", n4, n5),
    ]
    return local_frame(
        spark, [(s, i, o, i - o) for s, i, o in funnel],
        "stage string, docs_in bigint, docs_out bigint, dropped bigint",
    )
