"""Transactional id_mapping queries (sources/tlog.py): the reference's
SQLite upserts (main.py:104-135) behind an optimistic-concurrency
commit log — MERGE semantics, snapshot isolation, time travel. Loaded
AFTER the frozen driver window (registry._load_all order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cnc_visionsearch_spark.queries_ingest import _ID_MAPPING_CTE
from cnc_visionsearch_spark.registry import register
from cnc_visionsearch_spark.sources.catalog import derive_id_mapping, load_table

# The two registered queries replay a deterministic two-merge history,
# so the DuckDB oracle reproduces BOTH the final state and the diff.

_TLOG_BATCH1_SQL = """
  SELECT 'img_' || (doc_id + 5) AS str_id,
         'updated: ' || substr(text, 1, 40) AS text_content
  FROM documents WHERE doc_id >= 490
"""
_TLOG_BATCH2_SQL = """
  SELECT 'img_' || (doc_id + 1) AS str_id,
         'second: ' || substr(text, 1, 20) AS text_content
  FROM documents WHERE doc_id < 3
  UNION ALL
  SELECT 'zzz_' || doc_id AS str_id,
         'new: ' || substr(text, 1, 20) AS text_content
  FROM documents WHERE doc_id < 3
"""

# two sequential reference-semantics upserts as SQL state chains: the
# dense-id base of merge 2 is MAX over state1 — exactly the committed
# max_faiss_id meta (ids are dense), so the log's known_max seam and
# the oracle agree by construction
_TLOG_STATE2_CTES = f"""
batch1 AS ({_TLOG_BATCH1_SQL}),
s1_upd AS (
  SELECT m.str_id, m.faiss_id,
         COALESCE(b.text_content, m.text_content) AS text_content
  FROM id_mapping m LEFT JOIN batch1 b USING (str_id)
),
s1_max AS (SELECT COALESCE(MAX(faiss_id), 0) AS mx FROM id_mapping),
s1_ins AS (
  SELECT b.str_id, mx + row_number() OVER (ORDER BY b.str_id) AS faiss_id,
         b.text_content
  FROM batch1 b, s1_max
  WHERE NOT EXISTS (SELECT 1 FROM id_mapping m WHERE m.str_id = b.str_id)
),
state1 AS (SELECT * FROM s1_upd UNION ALL SELECT * FROM s1_ins),
batch2 AS ({_TLOG_BATCH2_SQL}),
s2_upd AS (
  SELECT m.str_id, m.faiss_id,
         COALESCE(b.text_content, m.text_content) AS text_content
  FROM state1 m LEFT JOIN batch2 b USING (str_id)
),
s2_max AS (SELECT COALESCE(MAX(faiss_id), 0) AS mx FROM state1),
s2_ins AS (
  SELECT b.str_id, mx + row_number() OVER (ORDER BY b.str_id) AS faiss_id,
         b.text_content
  FROM batch2 b, s2_max
  WHERE NOT EXISTS (SELECT 1 FROM state1 m WHERE m.str_id = b.str_id)
),
state2 AS (SELECT * FROM s2_upd UNION ALL SELECT * FROM s2_ins)
"""


def _tlog_batches(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    b1 = docs.filter(F.col("doc_id") >= 490).select(
        F.concat(F.lit("img_"), (F.col("doc_id") + 5).cast("string")).alias(
            "str_id"
        ),
        F.concat(F.lit("updated: "), F.substring("text", 1, 40)).alias(
            "text_content"
        ),
    )
    head = docs.filter(F.col("doc_id") < 3)
    b2 = head.select(
        F.concat(F.lit("img_"), (F.col("doc_id") + 1).cast("string")).alias(
            "str_id"
        ),
        F.concat(F.lit("second: "), F.substring("text", 1, 20)).alias(
            "text_content"
        ),
    ).unionByName(
        head.select(
            F.concat(F.lit("zzz_"), F.col("doc_id").cast("string")).alias(
                "str_id"
            ),
            F.concat(F.lit("new: "), F.substring("text", 1, 20)).alias(
                "text_content"
            ),
        )
    )
    return b1, b2


def _idmap_path(sf_dir: str, name: str) -> str:
    """Artifact path keyed by the content of BOTH source tables of the
    id mapping (embeddings and documents)."""
    from cnc_visionsearch_spark import queries_ann as qa

    tag = (
        f"{qa._corpus_tag(sf_dir, 'embeddings')}-"
        f"{qa._corpus_tag(sf_dir, 'documents')[-8:]}"
    )
    return f"{qa._ARTIFACT_ROOT}/{tag}/{name}"


def ensure_tlog_id_mapping(spark: SparkSession, sf_dir: str):
    """Idempotent transactional-table history: version 1 = the derived
    id_mapping (bucketed, max_faiss_id in commit meta), versions 2-3 =
    the two deterministic merges above — built ONCE per corpus content
    (the ensure_* artifact doctrine; the content tag covers both source
    tables, so fixture regeneration rebuilds)."""
    from cnc_visionsearch_spark.operators.ingest import (
        tlog_init_id_mapping,
        tlog_merge_upsert,
    )
    from cnc_visionsearch_spark.queries_ann import build_once
    from cnc_visionsearch_spark.sources.tlog import TLog

    def build(path):
        t = TLog(path)
        mapping = derive_id_mapping(
            load_table(spark, sf_dir, "embeddings"),
            load_table(spark, sf_dir, "documents"),
        )
        tlog_init_id_mapping(t, mapping, n_buckets=16)
        b1, b2 = _tlog_batches(spark, sf_dir)
        tlog_merge_upsert(t, b1, txn=("history", 1))
        tlog_merge_upsert(t, b2, txn=("history", 2))

    return TLog(build_once(_idmap_path(sf_dir, "tlog_idmap_b16"), build))


@register(
    "tlog_upsert_semantics",
    oracle=f"""
WITH {_ID_MAPPING_CTE},
{_TLOG_STATE2_CTES},
s1m AS (SELECT mx FROM s1_max)
SELECT str_id, CAST(faiss_id AS BIGINT) AS faiss_id, text_content
FROM state2
WHERE faiss_id > (SELECT mx FROM s1m) - 10
   OR str_id IN ('img_1', 'img_2', 'img_3')
""",
    doc="St1/J2/A1 through a TRANSACTION LOG (sources/tlog.py — the "
    "Delta-protocol commit log closing the table-format stance's "
    "conflict-detection gap): two MERGE commits with exact reference "
    "semantics (text-only update / dense MAX+1 insert, main.py:119-134), "
    "resident reads log-tag pruned to touched buckets, the dense-id "
    "high-water mark riding commit meta. The oracle replays the same "
    "two-merge history as SQL state chains.",
)
def tlog_upsert_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = ensure_tlog_id_mapping(spark, sf_dir)
    from cnc_visionsearch_spark.operators.ingest import ID_MAPPING_SCHEMA

    base_max = int(t.snapshot(1).meta["max_faiss_id"])
    final = t.read(spark, schema=ID_MAPPING_SCHEMA)
    return final.filter(
        (F.col("faiss_id") > F.lit(base_max - 10))
        | F.col("str_id").isin("img_1", "img_2", "img_3")
    ).select("str_id", F.col("faiss_id").cast("bigint").alias("faiss_id"), "text_content")


@register(
    "tlog_time_travel_diff",
    oracle=f"""
WITH {_ID_MAPPING_CTE},
{_TLOG_STATE2_CTES}
SELECT s.str_id,
       CASE WHEN b.str_id IS NULL THEN 'added' ELSE 'updated' END AS verdict
FROM state2 s LEFT JOIN id_mapping b USING (str_id)
WHERE b.str_id IS NULL OR s.text_content IS DISTINCT FROM b.text_content
""",
    doc="Time travel as a first-class read (sources/tlog.py snapshot "
    "reconstruction): version 1 vs the latest version of the same table, "
    "diffed into added/updated verdicts — the audit query a mutable "
    "SQLite mapping (main.py:104) cannot answer without external "
    "backups. The oracle replays both states from the deterministic "
    "merge history.",
)
def tlog_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = ensure_tlog_id_mapping(spark, sf_dir)
    from cnc_visionsearch_spark.operators.ingest import ID_MAPPING_SCHEMA

    # _in_base marks row PRESENCE in v1 (text_content itself can be
    # legitimately NULL — a vector without a document), so 'added'
    # means no v1 row, never a NULL-text v1 row
    base = t.read(spark, 1, schema=ID_MAPPING_SCHEMA).select(
        F.col("str_id"),
        F.col("text_content").alias("_old"),
        F.lit(True).alias("_in_base"),
    )
    fin = t.read(spark, schema=ID_MAPPING_SCHEMA)
    return (
        fin.join(base, "str_id", "left")
        .filter(
            F.col("_in_base").isNull()
            | ~F.col("text_content").eqNullSafe(F.col("_old"))
        )
        .select(
            "str_id",
            F.when(F.col("_in_base").isNull(), F.lit("added"))
            .otherwise(F.lit("updated"))
            .alias("verdict"),
        )
    )


@register(
    "tlog_change_feed",
    oracle=f"""
WITH {_ID_MAPPING_CTE},
{_TLOG_STATE2_CTES},
plus AS (SELECT * FROM state2 EXCEPT ALL SELECT * FROM state1),
minus AS (SELECT * FROM state1 EXCEPT ALL SELECT * FROM state2)
SELECT p.str_id, CAST(p.faiss_id AS BIGINT) AS faiss_id, p.text_content,
       CASE WHEN p.str_id IN (SELECT str_id FROM minus)
            THEN 'update_post' ELSE 'insert' END AS _change_type
FROM plus p
UNION ALL
SELECT m.str_id, CAST(m.faiss_id AS BIGINT) AS faiss_id, m.text_content,
       CASE WHEN m.str_id IN (SELECT str_id FROM plus)
            THEN 'update_pre' ELSE 'delete' END AS _change_type
FROM minus m
""",
    doc="Change data feed between two committed versions (the Delta CDF "
    "shape), derived from the LOG alone: reads only the files the "
    "commits in (v_from, v_to] added or removed — one old + one new "
    "bucket file for a single-bucket merge at ANY table size, never a "
    "full snapshot; rewritten-but-identical rows cancel in the "
    "EXCEPT ALL diff. Keyed classification: insert / update_pre / "
    "update_post / delete. The oracle replays the same diff over the "
    "deterministic two-merge history's states.",
)
def tlog_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.ingest import ID_MAPPING_SCHEMA

    t = ensure_tlog_id_mapping(spark, sf_dir)
    feed = t.change_feed(
        spark, v_from=2, key="str_id", schema=ID_MAPPING_SCHEMA
    )
    return feed.select(
        "str_id",
        F.col("faiss_id").cast("bigint").alias("faiss_id"),
        "text_content",
        "_change_type",
    )


@register(
    "tlog_cdf_incremental_view",
    oracle=f"""
WITH {_ID_MAPPING_CTE},
{_TLOG_STATE2_CTES}
SELECT substr(str_id, 1, 4) AS id_prefix,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(length(COALESCE(text_content, ''))) AS BIGINT) AS total_chars
FROM state2
GROUP BY substr(str_id, 1, 4)
""",
    doc="Incremental view maintenance FROM the change feed — the reason "
    "a CDF exists: a per-prefix (n_rows, total_chars) materialized view "
    "captured at version 2 is advanced to the latest version by folding "
    "ONLY the feed's deltas (update_pre/delete subtract, "
    "update_post/insert add) — never rescanning resident data; at 100 TB "
    "the maintenance cost is O(changed rows). The oracle computes the "
    "same view DIRECTLY over the final state, so a hash match PROVES "
    "base+deltas == recompute.",
)
def tlog_cdf_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.ingest import ID_MAPPING_SCHEMA

    t = ensure_tlog_id_mapping(spark, sf_dir)
    prefix = F.substring("str_id", 1, 4).alias("id_prefix")
    chars = F.length(F.coalesce(F.col("text_content"), F.lit("")))
    # the materialized view as of version 2 (one historical snapshot
    # read — in production this is the view's last refresh output)
    base = (
        t.read(spark, 2, schema=ID_MAPPING_SCHEMA)
        .groupBy(prefix)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(chars).alias("total_chars"),
        )
    )
    # signed deltas from the feed alone: +1 row for insert/update_post,
    # -1 for delete/update_pre (count and chars fold the same way)
    feed = t.change_feed(
        spark, v_from=2, key="str_id", schema=ID_MAPPING_SCHEMA
    )
    sign = F.when(
        F.col("_change_type").isin("insert", "update_post"), F.lit(1)
    ).otherwise(F.lit(-1))
    deltas = feed.groupBy(prefix).agg(
        F.sum(sign).alias("d_rows"),
        F.sum(sign * chars).alias("d_chars"),
    )
    return (
        base.join(deltas, "id_prefix", "full_outer")
        .select(
            "id_prefix",
            (
                F.coalesce(F.col("n_rows"), F.lit(0))
                + F.coalesce(F.col("d_rows"), F.lit(0))
            )
            .cast("bigint")
            .alias("n_rows"),
            (
                F.coalesce(F.col("total_chars"), F.lit(0))
                + F.coalesce(F.col("d_chars"), F.lit(0))
            )
            .cast("bigint")
            .alias("total_chars"),
        )
        .filter(F.col("n_rows") > 0)
    )
