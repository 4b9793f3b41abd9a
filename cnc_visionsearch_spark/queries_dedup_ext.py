"""Span-level dedup extensions ([EXT], round 5): exact-substring
duplicate-span extraction and the surgical span-removal rewrite (Lee
et al. 2022). A separate module so these register AFTER the frozen
50-entry driver window (registry._MODULE_ORDER ranks this module
last-group; queries_dedup feeds the window and must not grow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cnc_visionsearch_spark.registry import register
from cnc_visionsearch_spark.sources.catalog import load_table


# ------------------------------ exact-substring duplicate-span extraction

# Two planted passages built from tokens OUTSIDE the fixture vocabulary
# (TESTDATA.md: the corpus draws from a small Spark-themed word list),
# so no gram straddling a splice boundary can collide with organic text.
_SPAN_HEAD = (
    "omega kappa sigma delta theta lambda epsilon zeta iota rho "
    "tau upsilon gamma beta alpha phi chi psi omicron nu"
)
_SPAN_TAIL = (
    "quartz basalt gneiss schist marble granite pumice obsidian shale "
    "slate flint chert jasper agate onyx topaz beryl garnet spinel zircon"
)
_SPAN_K = 8  # gram width (tokens) — Lee et al. use 50 BPE tokens; the
# fixture docs are ~40 words, so 8 keeps multiple gram starts per plant


def _planted_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, tk) with the two fixture passages planted —
    shared by the span detector and the rewrite pass."""
    from cnc_visionsearch_spark.sources.catalog import spread_scan

    # r12 (guide §2.5): the gram tokenize + per-gram md5 — this query's
    # dominant CPU — fuses into the single-row-group documents scan and
    # ran as ONE task; the guarded spread parallelizes it (no-op on
    # multi-file production layouts). Interleaved A/B: 0.74 ratio, all
    # blocks faster (best-block min 3.02s -> 2.24s).
    d = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    return (
        d.select(
            "doc_id",
            "source",
            F.concat(
                F.when(
                    F.col("doc_id") % 37 == 0, F.lit(_SPAN_HEAD + " ")
                ).otherwise(F.lit("")),
                F.col("text"),
                F.when(
                    F.col("doc_id") % 41 == 0, F.lit(" " + _SPAN_TAIL)
                ).otherwise(F.lit("")),
            ).alias("text"),
        )
        .select("doc_id", "source", F.split("text", " ").alias("tk"))
        .filter(F.size("tk") >= _SPAN_K)
    )


def _dup_spans(tk: DataFrame) -> DataFrame:
    """(doc_id, source, span_start, span_len) — maximal cross-document
    duplicated spans. Gram fingerprints shared by >= 2 docs mark the
    intervals [i, i+K-1]; merging touching/overlapping intervals per
    doc (running-max-end window — the interval form of
    gaps-and-islands, identical spans to a position-set merge without
    materializing K rows per gram) yields the maximal spans. The gram
    table feeds BOTH the duplicated-gram aggregate and the flag-back
    join, so it gets a lazy checkpoint barrier — without it Spark
    re-tokenizes and re-hashes the whole corpus for the second
    consumer (the same barrier discipline as the MinHash candidate
    table in operators/dedup.py)."""
    grams = tk.select(
        "doc_id",
        "source",
        F.explode(
            F.sequence(F.lit(1), F.size("tk") - (_SPAN_K - 1))
        ).alias("i"),
        "tk",
    ).select(
        "doc_id",
        "source",
        "i",
        # r11 (guide §2.3 "narrower types"): the fingerprint is an
        # INTERNAL equality key (never surfaced), so carry the 16-byte
        # binary digest instead of md5's 32-char hex string — the gram
        # table is the query's dominant shuffle, and this halves its
        # key bytes with identical grouping/join semantics
        F.unhex(
            F.md5(
                F.array_join(F.slice("tk", F.col("i"), _SPAN_K), " ").cast(
                    "binary"
                )
            )
        ).alias("gfp"),
    )
    grams = grams.localCheckpoint(eager=False)
    dupg = (
        grams.groupBy("gfp")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gfp")
    )
    flagged = grams.join(dupg, "gfp").select(
        "doc_id", "source", "i", (F.col("i") + _SPAN_K - 1).alias("endp")
    )
    wprev = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrun = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = flagged.withColumn("prev_end", F.max("endp").over(wprev))
    flagged = flagged.withColumn(
        "new_island",
        F.when(
            F.col("prev_end").isNull()
            | (F.col("i") > F.col("prev_end") + 1),
            1,
        ).otherwise(0),
    ).withColumn("gid", F.sum("new_island").over(wrun))
    return flagged.groupBy("doc_id", "source", "gid").agg(
        F.min("i").alias("span_start"),
        (F.max("endp") - F.min("i") + 1).alias("span_len"),
    )



@register(
    "doc_duplicate_spans",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, source,
    CASE WHEN doc_id % 37 = 0 THEN '{_SPAN_HEAD} ' || text ELSE text END
    || CASE WHEN doc_id % 41 = 0 THEN ' {_SPAN_TAIL}' ELSE '' END AS text
  FROM documents
),
tk AS (
  SELECT doc_id, source, string_split(text, ' ') AS tk FROM corpus
  WHERE len(string_split(text, ' ')) >= {_SPAN_K}
),
grams AS (
  SELECT doc_id, source, i,
    md5(array_to_string(tk[i : i + {_SPAN_K} - 1], ' ')) AS gfp
  FROM tk, unnest(range(1, len(tk) - {_SPAN_K} + 2)) AS t(i)
),
dupg AS (
  SELECT gfp FROM grams GROUP BY gfp HAVING count(DISTINCT doc_id) >= 2
),
covered AS (
  SELECT DISTINCT g.doc_id, g.source, g.i + o.o AS pos
  FROM grams g JOIN dupg USING (gfp), unnest(range(0, {_SPAN_K})) AS o(o)
),
islands AS (
  SELECT doc_id, source, pos,
    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM covered
),
spans AS (
  SELECT doc_id, source, grp,
    CAST(min(pos) AS BIGINT) AS span_start,
    CAST(count(*) AS BIGINT) AS span_len
  FROM islands GROUP BY doc_id, source, grp
)
SELECT source,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS docs_affected,
  CAST(count(*) AS BIGINT) AS n_spans,
  CAST(sum(span_len) AS BIGINT) AS dup_tokens,
  CAST(max(span_len) AS BIGINT) AS max_span_len,
  CAST(sum(span_len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_span_len
FROM spans GROUP BY source ORDER BY source
""",
    doc="Exact-substring duplicate-SPAN extraction (Lee et al. 2022, "
    "'Deduplicating Training Data Makes Language Models Better'): "
    "MinHash flags near-duplicate DOCUMENTS, but verbatim passages "
    "repeated across otherwise-distinct documents (licenses, quoted "
    "headers, syndicated paragraphs) need span-level surgery — find "
    f"every {_SPAN_K}-token gram shared by >= 2 documents, mark the "
    "token positions it covers, and merge adjacent positions into "
    "MAXIMAL spans per document (gaps-and-islands: pos - row_number "
    "within the doc). The fixture corpus is random text, so two known "
    "passages (vocabulary disjoint from the corpus word list — no "
    "splice-boundary collisions) are planted deterministically IN "
    "BOTH ENGINES: a 20-token head on doc_id%37==0 and a 20-token "
    "tail on doc_id%41==0; doc 0 gets both and must yield two "
    "separate islands. The detector must recover exactly the planted "
    "token ranges. Per source: affected docs, span count, duplicated "
    "tokens, max/avg span length. Scale shape: the shuffle key is the "
    "16-byte gram md5 (text never shuffles); the duplicated-gram "
    "table is a HAVING-filtered partial aggregate that at 100 TB is "
    "orders of magnitude smaller than the gram stream, so the "
    "flag-back is a semi-join against a small build side; the island "
    "merge windows PER DOCUMENT — never a global sort. The spans "
    "table (doc_id, start, len) is the input a surgical span-removal "
    "rewrite pass consumes.",
)
def doc_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = _dup_spans(_planted_tokens(spark, sf_dir))
    return (
        spans.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("docs_affected"),
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("span_len").cast("bigint").alias("dup_tokens"),
            F.max("span_len").cast("bigint").alias("max_span_len"),
            (
                F.sum("span_len").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_span_len"),
        )
        .orderBy("source")
    )


@register(
    "doc_span_dedup_rewrite",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, source,
    CASE WHEN doc_id % 37 = 0 THEN '{_SPAN_HEAD} ' || text ELSE text END
    || CASE WHEN doc_id % 41 = 0 THEN ' {_SPAN_TAIL}' ELSE '' END AS text
  FROM documents
),
tk AS (
  SELECT doc_id, source, string_split(text, ' ') AS tk FROM corpus
  WHERE len(string_split(text, ' ')) >= {_SPAN_K}
),
grams AS (
  SELECT doc_id, source, i,
    md5(array_to_string(tk[i : i + {_SPAN_K} - 1], ' ')) AS gfp
  FROM tk, unnest(range(1, len(tk) - {_SPAN_K} + 2)) AS t(i)
),
dupg AS (
  SELECT gfp FROM grams GROUP BY gfp HAVING count(DISTINCT doc_id) >= 2
),
covered AS (
  SELECT DISTINCT g.doc_id, g.source, g.i + o.o AS pos
  FROM grams g JOIN dupg USING (gfp), unnest(range(0, {_SPAN_K})) AS o(o)
),
islands AS (
  SELECT doc_id, source, pos,
    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM covered
),
spans AS (
  SELECT doc_id, source, grp,
    CAST(min(pos) AS BIGINT) AS span_start,
    CAST(count(*) AS BIGINT) AS span_len
  FROM islands GROUP BY doc_id, source, grp
),
fspans AS (
  SELECT s.doc_id, s.source, s.span_len,
    md5(array_to_string(
      t.tk[s.span_start : s.span_start + s.span_len - 1], ' ')) AS span_fp
  FROM spans s JOIN tk t USING (doc_id)
),
keep AS (
  SELECT *, min(doc_id) OVER (PARTITION BY span_fp) AS keeper FROM fspans
),
removed AS (
  SELECT source, doc_id, span_len FROM keep WHERE doc_id <> keeper
),
census AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(len(tk)) AS BIGINT) AS tokens_total
  FROM tk GROUP BY source
),
cuts AS (
  SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS docs_modified,
    CAST(sum(span_len) AS BIGINT) AS tokens_removed
  FROM removed GROUP BY source
)
SELECT c.source, c.n_docs,
  CAST(coalesce(x.docs_modified, 0) AS BIGINT) AS docs_modified,
  c.tokens_total,
  CAST(coalesce(x.tokens_removed, 0) AS BIGINT) AS tokens_removed,
  CAST(c.tokens_total - coalesce(x.tokens_removed, 0) AS BIGINT)
    AS tokens_after,
  CAST((coalesce(x.tokens_removed, 0) * 1000000) // c.tokens_total
    AS BIGINT) AS removal_ppm
FROM census c LEFT JOIN cuts x USING (source)
ORDER BY c.source
""",
    doc="The surgical rewrite pass that CONSUMES doc_duplicate_spans "
    "(Lee et al. 2022 §4: remove repeated substrings, keep one "
    "occurrence): each maximal duplicated span is content-keyed by the "
    "md5 of its tokens, the minimum doc_id holding that content keeps "
    "it, and every other holder has the span's tokens stripped. "
    "Reported per source: docs modified, tokens before/after, exact "
    "integer removal ppm — the budget line a dedup stage hands the "
    "tokenizer. On the planted fixture the keeper is the lowest "
    "planted doc and every other plant loses exactly the passage. "
    "Scale: extends the span pipeline with ONE doc_id-keyed join back "
    "to the token arrays and a window over span fingerprints (span "
    "count is corpus-small); the corpus text itself still never "
    "shuffles.",
)
def doc_span_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    tk = _planted_tokens(spark, sf_dir)
    spans = _dup_spans(tk)
    fspans = spans.join(tk.select("doc_id", "tk"), "doc_id").select(
        "doc_id",
        "source",
        "span_len",
        F.md5(
            F.array_join(
                F.slice("tk", F.col("span_start"), F.col("span_len")), " "
            ).cast("binary")
        ).alias("span_fp"),
    )
    wk = Window.partitionBy("span_fp")
    removed = (
        fspans.withColumn("keeper", F.min("doc_id").over(wk))
        .filter(F.col("doc_id") != F.col("keeper"))
        .select("source", "doc_id", "span_len")
    )
    census = tk.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size("tk")).cast("bigint").alias("tokens_total"),
    )
    cuts = removed.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("docs_modified"),
        F.sum("span_len").cast("bigint").alias("tokens_removed"),
    )
    return (
        census.join(cuts, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("docs_modified", F.lit(0))
            .cast("bigint")
            .alias("docs_modified"),
            "tokens_total",
            F.coalesce("tokens_removed", F.lit(0))
            .cast("bigint")
            .alias("tokens_removed"),
            (
                F.col("tokens_total") - F.coalesce("tokens_removed", F.lit(0))
            )
            .cast("bigint")
            .alias("tokens_after"),
            F.expr(
                "CAST((coalesce(tokens_removed, 0) * 1000000) DIV "
                "tokens_total AS BIGINT)"
            ).alias("removal_ppm"),
        )
        .orderBy("source")
    )


# ------------------------------------------------- containment pairs

from cnc_visionsearch_spark.queries_dedup import (  # noqa: E402
    _MINHASH_16,
    ensure_minhash_built,
)


@register(
    "doc_containment_pairs",
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
scored AS (
  SELECT c.id_a, c.id_b,
    CAST(c.n_common AS BIGINT) AS n_common,
    c.n_common::DOUBLE / least(sa.n_sh, sb.n_sh)::DOUBLE AS containment,
    c.n_common::DOUBLE / (sa.n_sh + sb.n_sh - c.n_common)::DOUBLE AS jaccard
  FROM common c
  JOIN cand USING (id_a, id_b)
  JOIN sizes sa ON sa.doc_id = c.id_a
  JOIN sizes sb ON sb.doc_id = c.id_b
)
SELECT id_a, id_b, n_common, containment, jaccard
FROM scored WHERE containment >= 0.5
ORDER BY containment DESC, id_a ASC, id_b ASC
""",
    doc="CONTAINMENT near-dup pairs (Broder '97's other resemblance "
    "measure): |A∩B| / min(|A|,|B|) over the same LSH candidate set "
    "as the Jaccard pass — the detector for SUBSET duplication "
    "(a short doc quoted wholesale inside a long one), which "
    "symmetric Jaccard structurally under-scores (a 30-token quote "
    "in a 400-token doc has Jaccard ~0.08 but containment ~1.0). "
    "Candidates ride the SAME persisted banded-MinHash artifact as "
    "minhash_lsh_neardup_pairs (build-once, probe-cheap); exact "
    "shingle intersection verifies; both measures emitted so the "
    "gap between them is the quote-inclusion signal. Scale shape "
    "identical to the Jaccard pass: banded bucket join for "
    "candidates, broadcast-candidate verification, shingle shuffles "
    "keyed by md5.",
)
def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.dedup import minhash_lsh_pairs

    d = load_table(spark, sf_dir, "documents")
    banded = spark.read.parquet(ensure_minhash_built(spark, sf_dir))
    pairs = minhash_lsh_pairs(
        d,
        num_hashes=16,
        bands=4,
        shingle_n=3,
        jaccard_threshold=0.0,
        banded=banded,
        with_containment=True,
    )
    return (
        pairs.filter(F.col("containment") >= 0.5)
        .select("id_a", "id_b", "n_common", "containment", "jaccard")
        .orderBy(
            F.col("containment").desc(),
            F.col("id_a").asc(),
            F.col("id_b").asc(),
        )
    )


# ------------------------- cross-run incremental banded-MinHash dedup

# Two-sided incremental LSH + verify oracle, shared verbatim with the
# TRANSACTIONAL-store twin (queries_tlog_artifacts.tlog_minhash_store_dedup):
# the tlog lifecycle (init + append + replayed append + compact) must
# leave the store CONTENT identical to the legacy build, so both
# queries replay one SQL.
_INCR_MINHASH_ORACLE = """
WITH store AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id >= 200 AND doc_id < 300
  UNION ALL
  SELECT doc_id + 10000, text FROM documents
  WHERE doc_id >= 250 AND doc_id < 270
),
bt AS (SELECT doc_id, string_split(text, ' ') AS tk FROM batch),
bsh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    range(1, greatest(len(tk) - 2, 0) + 1),
    j -> tk[j] || ' ' || tk[j+1] || ' ' || tk[j+2]))) AS shingle
  FROM bt
),
st AS (SELECT doc_id, string_split(text, ' ') AS tk FROM store),
ssh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    range(1, greatest(len(tk) - 2, 0) + 1),
    j -> tk[j] || ' ' || tk[j+1] || ' ' || tk[j+2]))) AS shingle
  FROM st
),
bhash AS (
  SELECT doc_id, seeds.i AS i,
    min((((1000003*seeds.i + 12345) % 2147483647)
         * (('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647)
         + ((7919*seeds.i + 104729) % 2147483647)) % 2147483647) AS h
  FROM bsh, (SELECT unnest(range(16)) AS i) seeds
  GROUP BY doc_id, seeds.i
),
shash AS (
  SELECT doc_id, seeds.i AS i,
    min((((1000003*seeds.i + 12345) % 2147483647)
         * (('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647)
         + ((7919*seeds.i + 104729) % 2147483647)) % 2147483647) AS h
  FROM ssh, (SELECT unnest(range(16)) AS i) seeds
  GROUP BY doc_id, seeds.i
),
bsig AS (SELECT doc_id, list(h ORDER BY i) AS sig FROM bhash GROUP BY doc_id),
ssig AS (SELECT doc_id, list(h ORDER BY i) AS sig FROM shash GROUP BY doc_id),
bband AS (
  SELECT doc_id, bs.b AS band_id,
    sig[bs.b*4+1]::VARCHAR || ',' || sig[bs.b*4+2]::VARCHAR || ',' ||
    sig[bs.b*4+3]::VARCHAR || ',' || sig[bs.b*4+4]::VARCHAR AS band_sig
  FROM bsig, (SELECT unnest(range(4)) AS b) bs
),
sband AS (
  SELECT doc_id, bs.b AS band_id,
    sig[bs.b*4+1]::VARCHAR || ',' || sig[bs.b*4+2]::VARCHAR || ',' ||
    sig[bs.b*4+3]::VARCHAR || ',' || sig[bs.b*4+4]::VARCHAR AS band_sig
  FROM ssig, (SELECT unnest(range(4)) AS b) bs
),
cand AS (
  SELECT DISTINCT b.doc_id AS bid, s.doc_id AS sid
  FROM bband b JOIN sband s USING (band_id, band_sig)
),
bsz AS (SELECT doc_id, count(*) AS n FROM bsh GROUP BY doc_id),
ssz AS (SELECT doc_id, count(*) AS n FROM ssh GROUP BY doc_id),
comm AS (
  SELECT c.bid, c.sid, count(*) AS nc
  FROM cand c
  JOIN bsh b ON b.doc_id = c.bid
  JOIN ssh s ON s.doc_id = c.sid AND s.shingle = b.shingle
  GROUP BY c.bid, c.sid
),
vstore AS (
  SELECT DISTINCT m.bid FROM comm m
  JOIN bsz ON bsz.doc_id = m.bid JOIN ssz ON ssz.doc_id = m.sid
  WHERE m.nc::DOUBLE / (bsz.n + ssz.n - m.nc)::DOUBLE >= 0.3
),
bcand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM bband x JOIN bband y USING (band_id, band_sig)
  WHERE x.doc_id < y.doc_id
),
bcomm AS (
  SELECT c.id_a, c.id_b, count(*) AS nc
  FROM bcand c
  JOIN bsh a ON a.doc_id = c.id_a
  JOIN bsh b2 ON b2.doc_id = c.id_b AND b2.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
),
vbatch AS (
  SELECT DISTINCT m.id_b FROM bcomm m
  JOIN bsz sa ON sa.doc_id = m.id_a JOIN bsz sb ON sb.doc_id = m.id_b
  WHERE m.nc::DOUBLE / (sa.n + sb.n - m.nc)::DOUBLE >= 0.3
),
tagged AS (
  SELECT b.doc_id,
    CASE WHEN b.doc_id IN (SELECT bid FROM vstore) THEN 'neardup_of_store'
         WHEN b.doc_id IN (SELECT id_b FROM vbatch) THEN 'neardup_in_batch'
         ELSE 'new' END AS verdict
  FROM batch b
)
SELECT verdict, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(min(doc_id) AS BIGINT) AS min_doc,
  CAST(max(doc_id) AS BIGINT) AS max_doc
FROM tagged GROUP BY verdict
"""


@register(
    "dedup_incremental_minhash",
    oracle=_INCR_MINHASH_ORACLE,
    doc="Cross-run incremental NEAR-dedup — the banded-LSH tier of "
    "dedup_incremental_batch's exact-fingerprint probe (r6 verdict "
    "task #8): a new batch's MinHash band keys probe the PERSISTED "
    "signature/bucket store (ensure_minhash_store_built: base build "
    "+ an appended day, the inverted_append pattern) — the resident "
    "corpus is never re-shingled; only candidate store docs' text is "
    "read back for exact-Jaccard verification, and in-batch near-dups "
    "fall to the min-id keeper. Verdicts per batch doc: "
    "neardup_of_store / neardup_in_batch / new. At 100 TB the store "
    "is a few bytes per doc per band, the probe is O(batch), and the "
    "append is O(day) — nothing rescans resident documents. The "
    "oracle replays the full two-sided LSH + verify pipeline; the "
    "Spark side must match it while computing signatures for the "
    "BATCH ONLY.",
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_store_probe,
        read_minhash_store,
    )
    from cnc_visionsearch_spark.queries_dedup import (
        ensure_minhash_store_built,
    )

    d = load_table(spark, sf_dir, "documents")
    store_docs = d.filter(F.col("doc_id") < 250).select("doc_id", "text")
    batch = (
        d.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 300))
        .select("doc_id", "text")
        .unionAll(
            d.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 270))
            .select((F.col("doc_id") + 10000).alias("doc_id"), "text")
        )
    )
    store_path = ensure_minhash_store_built(spark, sf_dir)
    store_banded = read_minhash_store(spark, store_path)
    pairs = minhash_store_probe(
        batch,
        store_banded,
        store_docs,
        jaccard_threshold=0.3,
        store_path=store_path,
    )
    inb = minhash_lsh_pairs(batch, jaccard_threshold=0.3)
    # shared tagging kernel — ONE definition with the streaming twin
    # (minhash_dedup_stream), so the stream==batch contract cannot drift
    from cnc_visionsearch_spark.operators.dedup import (
        tag_minhash_verdicts,
    )

    tagged = tag_minhash_verdicts(batch, pairs, inb)
    return tagged.groupBy("verdict").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("min_doc"),
        F.max("doc_id").cast("bigint").alias("max_doc"),
    )
