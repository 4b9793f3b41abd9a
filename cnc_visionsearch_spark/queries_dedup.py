"""Dedup query registry entries ([EXT]): exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine — each wired to its DuckDB oracle with
portable md5-derived hashing so signatures match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cnc_visionsearch_spark.operators.dedup import (
    embedding_lsh_bucketed_pairs,
    embedding_similar_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    neardup_components,
    ngram_jaccard_pairs,
    simhash,
)
from cnc_visionsearch_spark.operators.knn import with_normalized
from cnc_visionsearch_spark.registry import register
from cnc_visionsearch_spark.sources.catalog import load_table

# Shared oracle CTEs ------------------------------------------------------

_SHINGLES_3 = """
toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    range(1, greatest(len(tk) - 2, 0) + 1),
    j -> tk[j] || ' ' || tk[j+1] || ' ' || tk[j+2]))) AS shingle
  FROM toks
)
"""

# Affine hash family over GF(2^31-1): h_i = (a_i*base + b_i) mod p with
# base = md5(shingle)[0:8] mod p; a_i = (1000003*i + 12345) mod p,
# b_i = (7919*i + 104729) mod p. Must stay in lockstep with
# operators/dedup.py::_base_hash/_affine_params.
_MINHASH_16 = f"""
{_SHINGLES_3},
hashes AS (
  SELECT doc_id, seeds.i AS i,
    min((((1000003*seeds.i + 12345) % 2147483647)
         * (('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647)
         + ((7919*seeds.i + 104729) % 2147483647)) % 2147483647) AS h
  FROM sh, (SELECT unnest(range(16)) AS i) seeds
  GROUP BY doc_id, seeds.i
)
"""


@register(
    "dedup_exact_groups",
    oracle="""
SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint,
  CAST(min(doc_id) AS BIGINT) AS keeper_id,
  CAST(count(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY 1
""",
    doc="Exact dedup: group on md5 fingerprint (32-byte shuffle key, not "
    "full text), deterministic min-id keeper.",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup(d)


@register(
    "minhash_signatures_long",
    oracle=f"""
WITH {_MINHASH_16}
SELECT doc_id, CAST(i AS INT) AS seed, h AS min_hash
FROM hashes WHERE doc_id < 50
""",
    doc="MinHash signatures (16 portable md5-derived hash family members "
    "over distinct token 3-gram shingles), long format.",
)
def minhash_signatures_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    sig = minhash_signatures(d, num_hashes=16, shingle_n=3)
    # unpivot h0..h15 -> (doc_id, seed, min_hash)
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("seed"), F.col(f"h{i}").alias("min_hash")
            )
            for i in range(16)
        ]
    )
    return sig.select(
        "doc_id", F.explode(pairs).alias("p")
    ).select("doc_id", "p.seed", "p.min_hash")


def ensure_minhash_built(spark: SparkSession, sf_dir: str) -> str:
    """Idempotent banded-MinHash build: persist the (doc_id, band_id,
    band_sig) blocking table once per corpus content — the structure a
    100 TB ingest co-computes next to the corpus, so every near-dedup
    pass probes a few bytes per doc per band instead of re-hashing
    every shingle of every document (same build-once/probe-cheap
    doctrine as the ANN layouts; content-fingerprint key rebuilds on
    any corpus change). Exact verification still reads the documents
    table — only the CANDIDATE GENERATION rides the artifact."""
    from cnc_visionsearch_spark.operators.dedup import (
        minhash_banded,
        write_minhash_meta,
    )
    from cnc_visionsearch_spark.queries_ann import artifact_path, build_once

    def build(path):
        d = load_table(spark, sf_dir, "documents")
        minhash_banded(d, num_hashes=16, bands=4, shingle_n=3).write.parquet(path)
        write_minhash_meta(path, num_hashes=16, bands=4, shingle_n=3)

    return build_once(
        artifact_path(sf_dir, "minhash_b4h16s3", "documents"), build, log=False
    )


def ensure_minhash_store_built(spark: SparkSession, sf_dir: str) -> str:
    """Persisted banded-MinHash STORE with an APPEND lifecycle — the
    cross-run incremental near-dedup state (r6 verdict task #8). Two
    commits of one transaction log, mirroring a daily-ingest pipeline:

    - base build (docs < 200): ``minhash_store_init``, which also
      stamps the geometry sidecar (r7 verdict #3);
    - append (docs 200-249): the NEW day's banded rows land as one
      blind commit — the inverted_append pattern: O(batch) work,
      resident rows untouched, no corpus re-scan. Its txn key makes a
      replayed append commit nothing.

    After the append the store covers doc_id < 250 — byte-equivalent
    to a from-scratch build over that slice (pinned by
    tests/test_dedup.py). Read it with ``read_minhash_store``."""
    from cnc_visionsearch_spark.operators.dedup import (
        minhash_banded,
        minhash_store_append,
        minhash_store_init,
    )
    from cnc_visionsearch_spark.queries_ann import artifact_path, build_once

    def build(path):
        d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

        def banded(cond):
            return minhash_banded(
                d.filter(cond), num_hashes=16, bands=4, shingle_n=3
            )

        base = banded(F.col("doc_id") < 200)
        minhash_store_init(base, path, num_hashes=16, bands=4, shingle_n=3)
        day2 = banded((F.col("doc_id") >= 200) & (F.col("doc_id") < 250))
        minhash_store_append(day2, path, txn=("lt250", 1))

    return build_once(
        artifact_path(sf_dir, "minhash_store_b4h16s3_lt250", "documents"), build
    )



# banded-LSH candidate generation + exact-Jaccard verification as a
# reusable CTE block ending in verified(id_a, id_b, jaccard) — shared
# by the near-dedup oracle and the split-leakage oracle so the two can
# never drift apart
_LSH_VERIFY_CTES = """
sigs AS (
  SELECT doc_id, list(h ORDER BY i) AS sig FROM hashes GROUP BY doc_id
),
bands AS (
  SELECT doc_id, bs.b AS band_id,
    sig[bs.b*4+1]::VARCHAR || ',' || sig[bs.b*4+2]::VARCHAR || ',' ||
    sig[bs.b*4+3]::VARCHAR || ',' || sig[bs.b*4+4]::VARCHAR AS band_sig
  FROM sigs, (SELECT unnest(range(4)) AS b) bs
),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM bands x JOIN bands y USING (band_id, band_sig)
  WHERE x.doc_id < y.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
verified AS (
  SELECT c.id_a, c.id_b,
    c.n_common::DOUBLE / (sa.n_sh + sb.n_sh - c.n_common)::DOUBLE AS jaccard
  FROM common c
  JOIN cand USING (id_a, id_b)
  JOIN sizes sa ON sa.doc_id = c.id_a
  JOIN sizes sb ON sb.doc_id = c.id_b
  WHERE c.n_common::DOUBLE / (sa.n_sh + sb.n_sh - c.n_common)::DOUBLE >= 0.3
)
"""


@register(
    "minhash_lsh_neardup_pairs",
    oracle=f"""
WITH {_MINHASH_16}, {_LSH_VERIFY_CTES}
SELECT id_a, id_b, jaccard FROM verified
""",
    doc="MinHash LSH near-dedup: 16 hashes, 4 bands of 4; bucket-join "
    "candidates verified by exact shingle Jaccard >= 0.3. The 100 TB "
    "near-dedup pattern end-to-end.",
)
def minhash_lsh_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.sources.catalog import spread_scan

    # r12 (guide §2.5): exact verification re-shingles candidate docs
    # from the single-row-group documents scan — ONE task of trigram
    # explode + hashing; the guarded spread parallelizes it (no-op on
    # multi-file layouts). Interleaved A/B: 0.81 ratio, all blocks
    # faster (1.62s -> 1.32s best-block min).
    d = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    banded = spark.read.parquet(ensure_minhash_built(spark, sf_dir))
    return minhash_lsh_pairs(
        d,
        num_hashes=16,
        bands=4,
        shingle_n=3,
        jaccard_threshold=0.3,
        banded=banded,
    )


@register(
    "simhash_sketches",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
  FROM documents WHERE doc_id < 100
),
th AS (
  SELECT doc_id, ('0x' || substr(md5(token), 1, 8))::BIGINT AS th FROM toks
),
bits AS (
  SELECT doc_id, bs.b AS b,
    SUM(CASE WHEN (th >> bs.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM th, (SELECT unnest(range(32)) AS b) bs
  GROUP BY doc_id, bs.b
)
SELECT doc_id,
  CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
""",
    doc="SimHash 32-bit sketches over distinct tokens (md5-derived bit "
    "hashes; near-dups differ in few bits -> banded-prefix joins at scale).",
)
def simhash_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return simhash(d, bits=32)


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
WITH {_SHINGLES_3},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b,
  c.n_common::DOUBLE / (sa.n_sh + sb.n_sh - c.n_common)::DOUBLE AS jaccard
FROM common c
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE c.n_common::DOUBLE / (sa.n_sh + sb.n_sh - c.n_common)::DOUBLE >= 0.01
""",
    doc="Exact token-trigram Jaccard pairs (threshold 0.01): the shingle "
    "inverted-index self-join — the exact verifier behind the LSH tier.",
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, shingle_n=3, threshold=0.01)


@register(
    "embedding_neardup_top10",
    oracle="""
WITH normed AS (
  SELECT vec_id,
    list_transform(
      embedding::DOUBLE[],
      x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y*y)))
    ) AS nvec
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  list_sum(list_transform(range(1, len(a.nvec)+1), i -> a.nvec[i]*b.nvec[i])) AS cosine
FROM normed a, normed b
WHERE a.vec_id < b.vec_id
ORDER BY cosine DESC, id_a ASC, id_b ASC
LIMIT 10
""",
    doc="Embedding near-dup: top-10 most-similar pairs by exact cosine "
    "— the ORACLE-PARITY tier, explicitly opted into with "
    "candidates='exact' (all-pairs crossJoin, O(N^2) in the corpus; "
    "kept only because an exact top-10 is the one result a quadratic "
    "SQL oracle can hash-match). The operator's DEFAULT serving path "
    "is candidates='lsh' — the bucketed plan registered as "
    "embedding_neardup_lsh_bucketed — exactly the exact/bucketed "
    "split the NSW operator uses (operators/graph_ann.py).",
)
def embedding_neardup_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
    return embedding_similar_pairs(emb, top_n=10, candidates="exact")


@register(
    "neardup_cluster_keepers",
    oracle=f"""
WITH {_MINHASH_16},
sigs AS (
  SELECT doc_id, list(h ORDER BY i) AS sig FROM hashes GROUP BY doc_id
),
bands AS (
  SELECT doc_id, bs.b AS band_id,
    sig[bs.b*4+1]::VARCHAR || ',' || sig[bs.b*4+2]::VARCHAR || ',' ||
    sig[bs.b*4+3]::VARCHAR || ',' || sig[bs.b*4+4]::VARCHAR AS band_sig
  FROM sigs, (SELECT unnest(range(4)) AS b) bs
),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM bands x JOIN bands y USING (band_id, band_sig)
  WHERE x.doc_id < y.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM common c
  JOIN cand USING (id_a, id_b)
  JOIN sizes sa ON sa.doc_id = c.id_a
  JOIN sizes sb ON sb.doc_id = c.id_b
  WHERE c.n_common::DOUBLE / (sa.n_sh + sb.n_sh - c.n_common)::DOUBLE >= 0.3
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
  UNION SELECT id_a, id_a FROM pairs
  UNION SELECT id_b, id_b FROM pairs
),
reach AS (
  WITH RECURSIVE r(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a
  )
  SELECT a, b FROM r
)
SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS component_id,
  (a = min(b)) AS is_keeper
FROM reach GROUP BY a
""",
    doc="Near-dup CLUSTERING end-to-end: MinHash-LSH verified pairs "
    "(jaccard >= 0.3) -> connected components via iterative min-label "
    "propagation -> deterministic min-id keeper per component. The step "
    "a training-data dedup pipeline runs after pairwise LSH; oracle is "
    "a DuckDB recursive-CTE transitive closure over the same pairs.",
)
def neardup_cluster_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, num_hashes=16, bands=4, shingle_n=3, jaccard_threshold=0.3
    )
    return neardup_components(pairs)


def _emb_planes_cte(n_planes: int = 4, dim: int = 64, seed: int = 42) -> str:
    """Seeded hyperplanes as a DuckDB VALUES CTE — the same 6-decimal
    doubles the Spark literals embed (see queries_ann._planes_cte)."""
    from cnc_visionsearch_spark.operators.ann import hyperplanes

    rows = []
    for i, plane in enumerate(hyperplanes(dim, n_planes, seed)):
        arr = "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"
        rows.append(f"({i}, {arr})")
    return "planes(i, p) AS (VALUES " + ", ".join(rows) + ")"


_EMB_NORM_CTE = """
normed AS (
  SELECT vec_id,
    list_transform(
      embedding::DOUBLE[],
      x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y*y)))
    ) AS nvec
  FROM embeddings
)
"""


@register(
    "embedding_neardup_lsh_bucketed",
    oracle=f"""
WITH {_EMB_NORM_CTE}, {_emb_planes_cte()},
sigs AS (
  SELECT vec_id,
    CAST(SUM(CASE WHEN list_sum(list_transform(range(1, len(nvec)+1),
                    j -> nvec[j] * p[j])) >= 0
         THEN (1::BIGINT << i) ELSE 0::BIGINT END) AS BIGINT) AS lsh_bucket
  FROM normed, planes
  GROUP BY vec_id
)
SELECT sa.vec_id AS id_a, sb.vec_id AS id_b,
  list_sum(list_transform(range(1, len(a.nvec)+1), k -> a.nvec[k]*b.nvec[k]))
    AS cosine
FROM sigs sa
JOIN sigs sb ON sa.lsh_bucket = sb.lsh_bucket AND sa.vec_id < sb.vec_id
JOIN normed a ON a.vec_id = sa.vec_id
JOIN normed b ON b.vec_id = sb.vec_id
ORDER BY cosine DESC, id_a ASC, id_b ASC
LIMIT 10
""",
    doc="Embedding near-dup, 100 TB shape: hyperplane-LSH sign-bit "
    "signature (4 seeded planes) as the blocking key, exact cosine "
    "scored only within a bucket — pair space ~N^2/2^P, one shuffle on "
    "the bigint bucket key, no crossJoin anywhere. Top-10 colliding "
    "pairs by cosine.",
)
def embedding_neardup_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.ann import hyperplanes

    emb = with_normalized(load_table(spark, sf_dir, "embeddings"))
    planes = hyperplanes(dim=64, n_planes=4, seed=42)
    return embedding_lsh_bucketed_pairs(emb, planes, top_n=10)


@register(
    "simhash_neardup_pairs",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
  FROM documents WHERE doc_id < 200
),
th AS (
  SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS th FROM toks
),
bits AS (
  SELECT doc_id, bs.b AS b,
    SUM(CASE WHEN (th >> bs.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM th, (SELECT unnest(range(60)) AS b) bs
  GROUP BY doc_id, bs.b
),
sk AS (
  SELECT doc_id,
    CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS BIGINT)
      AS sh
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
FROM sk a JOIN sk b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
""",
    doc="SimHash near-dup pair join with EXACT banded blocking: 60-bit "
    "sketches, 4 bands of 15 bits — any pair within Hamming 3 shares "
    "an intact band (pigeonhole), so unlike MinHash bands the blocking "
    "is lossless. Candidates from ONE group-by on the band value (the "
    "no-self-join shape); verify = bit_count(xor) on two int64s — the "
    "cheapest verification of any dedup tier (no re-tokenization, no "
    "second corpus scan). The oracle is the quadratic formulation; the "
    "Spark plan never builds all pairs. Fixture note: the tiny "
    "synthetic vocab makes identical distinct-token SETS common, so "
    "hd=0 pairs dominate — on real corpora the hd histogram spreads.",
)
def simhash_neardup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.dedup import simhash_neardup_pairs

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return simhash_neardup_pairs(d, bits=60, bands=4, max_hamming=3)


@register(
    "dedup_incremental_batch",
    oracle="""
WITH store AS (
  SELECT DISTINCT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id < 250
),
batch AS (
  -- the day's drop: a re-delivered store slice (200-249), genuinely
  -- new docs (250-299), and an in-batch re-send (250-269 under new ids)
  SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id >= 200 AND doc_id < 300
  UNION ALL
  SELECT doc_id + 10000, md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))
  FROM documents WHERE doc_id >= 250 AND doc_id < 270
),
tagged AS (
  SELECT b.doc_id, b.fp,
    CASE
      WHEN b.fp IN (SELECT fp FROM store) THEN 'dup_of_store'
      WHEN b.doc_id > (SELECT min(b2.doc_id) FROM batch b2 WHERE b2.fp = b.fp)
        THEN 'dup_in_batch'
      ELSE 'new'
    END AS verdict
  FROM batch b
)
SELECT verdict, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(min(doc_id) AS BIGINT) AS min_doc, CAST(max(doc_id) AS BIGINT) AS max_doc
FROM tagged GROUP BY verdict
""",
    doc="Incremental exact dedup — the daily-ingest production shape: "
    "a new batch is checked against the EXISTING corpus fingerprint "
    "store (anti-join on the 16-byte md5, never against document "
    "text), then deduped within itself (min-id keeper window). At "
    "100 TB the store is a fingerprint-only table a fraction of corpus "
    "size, the batch side is small, and the join keys on the "
    "fingerprint — nothing rescans resident documents. Verdicts: "
    "new / dup_of_store / dup_in_batch, aggregated per class.",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.functions.text import md5_fingerprint

    d = load_table(spark, sf_dir, "documents")
    store = (
        d.filter(F.col("doc_id") < 250)
        .select(md5_fingerprint("text").alias("fp"))
        .distinct()
    )
    # the day's drop: re-delivered store slice + new docs + an in-batch
    # re-send under fresh ids (the three cases an ingest job must split)
    fresh = d.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 300))
    resend = d.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 270)).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    batch = (
        fresh.select("doc_id", "text")
        .unionByName(resend)
        .select("doc_id", md5_fingerprint("text").alias("fp"))
    )
    w = Window.partitionBy("fp")
    tagged = (
        batch.join(store.withColumn("in_store", F.lit(True)), "fp", "left")
        .withColumn("first_in_batch", F.min("doc_id").over(w))
        .select(
            "doc_id",
            "fp",
            F.when(F.col("in_store"), "dup_of_store")
            .when(F.col("doc_id") > F.col("first_in_batch"), "dup_in_batch")
            .otherwise("new")
            .alias("verdict"),
        )
    )
    return tagged.groupBy("verdict").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
