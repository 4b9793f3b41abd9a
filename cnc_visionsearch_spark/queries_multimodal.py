"""Multimodal query registry entries ([EXT]): the binary-payload
pipeline — metadata extraction, fake-decode embedding, OCR roundtrip,
frame sampling — each through REAL Arrow/pandas UDF plumbing
(mapInPandas / pandas_udf) with deterministic md5-based fakes standing
in for codecs, so every entry is DuckDB-oracle hash-matched (the SQL
reproduces the same md5 arithmetic on the same bytes).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cnc_visionsearch_spark.functions.vector import l2_sq, vec_lit
from cnc_visionsearch_spark.operators.multimodal import (
    attach_payload,
    audio_features,
    fake_image_embedding,
    frame_samples,
    media_metadata,
    ocr_text,
)
from cnc_visionsearch_spark.registry import register
from cnc_visionsearch_spark.sources.catalog import load_table


@register(
    "mm_media_metadata",
    oracle="""
SELECT doc_id,
  CAST(strlen(text) AS BIGINT) AS n_bytes,
  md5(text) AS content_md5,
  CAST(64 + ('0x' || substr(md5(text), 1, 8))::BIGINT % 192 AS INT) AS width,
  CAST(64 + (('0x' || substr(md5(text), 1, 8))::BIGINT // 192) % 192 AS INT) AS height
FROM documents WHERE doc_id < 50
""",
    doc="S5 decode plumbing: mapInPandas over binary payloads -> typed "
    "metadata (size, checksum, fake-decoded dimensions). Arrow-batched, "
    "constant memory; real PIL decode swaps in per-executor.",
)
def mm_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    media = attach_payload(d).select("doc_id", "payload")
    return media_metadata(media)


@register(
    "mm_fake_embeddings",
    oracle="""
SELECT doc_id, CAST(j AS INT) AS j,
  (('0x' || substr(md5(text || ':' || j), 1, 8))::BIGINT / 4294967296.0) * 2.0 - 1.0 AS e
FROM documents, (SELECT unnest(range(8)) AS j) dims
WHERE doc_id < 10
""",
    doc="F1-F5 embed plumbing: pandas_udf payload -> fixed-dim vector "
    "(md5-derived fake forward pass; a ViT model singleton swaps in "
    "per executor). Exploded to (doc_id, j, e) for hash-matching.",
)
def mm_fake_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    media = attach_payload(d).select("doc_id", "payload")
    embedded = media.withColumn("emb", fake_image_embedding(8)(F.col("payload")))
    return embedded.select(
        "doc_id", F.posexplode("emb").alias("j", "e")
    ).select("doc_id", F.col("j").cast("int").alias("j"), "e")


@register(
    "mm_ocr_roundtrip",
    oracle="""
SELECT doc_id, CAST(strlen(text) AS BIGINT) AS ocr_len, true AS matches_source
FROM documents WHERE doc_id < 50
""",
    doc="F8-F9 OCR plumbing: pandas_udf payload -> text; the fake decoder "
    "inverts the payload encoding exactly, so equality with the source "
    "text is the checked invariant (pytesseract swaps in unchanged).",
)
def mm_ocr_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    media = attach_payload(d).select("doc_id", "text", "payload")
    out = media.withColumn("ocr", ocr_text(F.col("payload")))
    return out.select(
        "doc_id",
        F.length("ocr").cast("bigint").alias("ocr_len"),
        (F.col("ocr") == F.col("text")).alias("matches_source"),
    )


@register(
    "mm_frame_fingerprints",
    oracle="""
WITH fr AS (
  SELECT doc_id, text, strlen(text) AS n,
    greatest(strlen(text) // 4, 1) AS step,
    unnest(range(4)) AS f
  FROM documents WHERE doc_id < 30
),
c AS (
  SELECT doc_id, CAST(f AS INT) AS frame_no,
    CASE WHEN f < 3 THEN greatest(least((f+1)*step, n) - f*step, 0)
         ELSE greatest(n - 3*step, 0) END AS blen,
    substr(text, CAST(f*step + 1 AS INT),
      CAST(CASE WHEN f < 3 THEN step ELSE greatest(n - 3*step, 0) END AS INT)
    ) AS chunk
  FROM fr
)
SELECT doc_id, frame_no, CAST(blen AS BIGINT) AS frame_bytes, md5(chunk) AS frame_md5
FROM c WHERE blen > 0
""",
    doc="Video-shaped plumbing: mapInPandas frame sampling (contiguous "
    "chunks as fake frames; pyav keyframe seek swaps in) exploded to one "
    "row per frame for downstream per-frame operators.",
)
def mm_frame_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    media = attach_payload(d).select("doc_id", "payload")
    return frame_samples(media, n_frames=4)


@register(
    "mm_pooled_embeddings",
    oracle="""
WITH fr AS (
  SELECT doc_id, text, strlen(text) AS n,
    greatest(strlen(text) // 4, 1) AS step,
    unnest(range(4)) AS f
  FROM documents WHERE doc_id < 20
),
c AS (
  SELECT doc_id, CAST(f AS INT) AS frame_no,
    CASE WHEN f < 3 THEN greatest(least((f+1)*step, n) - f*step, 0)
         ELSE greatest(n - 3*step, 0) END AS blen,
    substr(text, CAST(f*step + 1 AS INT),
      CAST(CASE WHEN f < 3 THEN step ELSE greatest(n - 3*step, 0) END AS INT)
    ) AS chunk
  FROM fr
),
fe AS (SELECT doc_id, frame_no, md5(chunk) AS fmd5 FROM c WHERE blen > 0),
emb AS (
  SELECT doc_id, frame_no, j,
    (('0x' || substr(md5(fmd5 || ':' || j), 1, 8))::BIGINT / 4294967296.0) * 2.0 - 1.0 AS e
  FROM fe, (SELECT unnest(range(8)) AS j) dims
),
pooled AS (
  SELECT doc_id, j,
    list_sum(list(e ORDER BY frame_no)) AS sum_e,
    max(e) AS max_e,
    count(*) AS n_frames
  FROM emb GROUP BY doc_id, j
)
SELECT doc_id, CAST(j AS INT) AS dim, sum_e / n_frames AS e FROM pooled
UNION ALL
SELECT doc_id, CAST(j + 8 AS INT) AS dim, max_e AS e FROM pooled
""",
    doc="F1-F5 complete: per-frame 'token states' -> mean pooling + max "
    "pooling -> concat (the reference's exact embed structure, "
    "main.py:80-85: ViT last_hidden_state mean(1024) cat max(1024)). "
    "Dims 0-7 = mean pool, 8-15 = max pool; mean summed in frame order "
    "on both engines so the doubles hash-match.",
)
def mm_pooled_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    media = attach_payload(d).select("doc_id", "payload")
    frames = frame_samples(media, n_frames=4)
    # per-frame embedding: the frame fingerprint is the "token", the
    # fake encoder the forward pass (a real ViT consumes frame pixels
    # through the identical pandas_udf slot)
    fe = frames.withColumn(
        "emb", fake_image_embedding(8)(F.encode(F.col("frame_md5"), "UTF-8"))
    )
    exploded = fe.select(
        "doc_id", "frame_no", F.posexplode("emb").alias("j", "e")
    )
    pooled = exploded.groupBy("doc_id", "j").agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("frame_no", "e"))),
            F.lit(0.0),
            lambda acc, s: acc + s.e,
        ).alias("sum_e"),
        F.max("e").alias("max_e"),
        F.count(F.lit(1)).alias("n_frames"),
    )
    mean_part = pooled.select(
        "doc_id",
        F.col("j").cast("int").alias("dim"),
        (F.col("sum_e") / F.col("n_frames")).alias("e"),
    )
    max_part = pooled.select(
        "doc_id",
        (F.col("j") + 8).cast("int").alias("dim"),
        F.col("max_e").alias("e"),
    )
    return mean_part.unionByName(max_part)


@register(
    "mm_search_lifecycle",
    oracle="""
WITH dims AS (SELECT unnest(range(8)) AS j),
emb AS (
  SELECT doc_id,
    (('0x' || substr(md5(text || ':' || j), 1, 8))::BIGINT
     / 4294967296.0) * 2.0 - 1.0 AS e,
    j
  FROM documents, dims WHERE doc_id < 40
),
vecs AS (SELECT doc_id, list(e ORDER BY j) AS v FROM emb GROUP BY doc_id),
qv AS (SELECT v AS q FROM vecs WHERE doc_id = 3),
hits AS (
  SELECT vecs.doc_id,
    list_sum(list_transform(range(1, len(vecs.v)+1),
             i -> (vecs.v[i]-qv.q[i])*(vecs.v[i]-qv.q[i]))) AS distance
  FROM vecs, qv WHERE vecs.doc_id <> 3
  ORDER BY distance ASC, vecs.doc_id ASC LIMIT 5
)
SELECT h.doc_id, h.distance, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars
FROM hits h JOIN documents d USING (doc_id)
ORDER BY h.distance ASC, h.doc_id ASC
""",
    doc="The reference's whole product flow as ONE plan (main.py "
    "/add_drawing + /search_drawing lifecycle, 104-165): binary payload "
    "-> Arrow pandas_udf embed (md5 fake; ViT singleton swaps in) -> "
    "exact kNN top-5 via TakeOrderedAndProject on the codegen'd "
    "distance -> broadcast metadata join. The Python boundary is "
    "crossed exactly once (the embed UDF); every vector op after it is "
    "a JVM higher-order expression. The corpus side never shuffles; at "
    "100 TB the embed step is the same scan the ingest pipeline "
    "already pays, and search reuses its materialized output.",
)
def mm_search_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    media = attach_payload(d).select("doc_id", "payload")
    embedded = media.withColumn("v", fake_image_embedding(8)(F.col("payload")))
    qv = embedded.filter(F.col("doc_id") == 3).select("v").first()[0]
    qcol = vec_lit(qv)
    hits = (
        embedded.filter(F.col("doc_id") != 3)
        .select("doc_id", l2_sq("v", qcol).alias("distance"))
        .orderBy(F.col("distance").asc(), F.col("doc_id").asc())
        .limit(5)
    )
    meta = d.select("doc_id", "lang", F.col("n_chars").cast("bigint").alias("n_chars"))
    return (
        hits.join(F.broadcast(meta), "doc_id")
        .select("doc_id", "distance", "lang", "n_chars")
        .orderBy(F.col("distance").asc(), F.col("doc_id").asc())
    )


@register(
    "mm_rerank_crossencoder",
    oracle="""
WITH dims AS (SELECT unnest(range(8)) AS j),
emb AS (
  SELECT doc_id,
    (('0x' || substr(md5(text || ':' || j), 1, 8))::BIGINT
     / 4294967296.0) * 2.0 - 1.0 AS e,
    j
  FROM documents, dims WHERE doc_id < 60
),
vecs AS (SELECT doc_id, list(e ORDER BY j) AS v FROM emb GROUP BY doc_id),
qv AS (SELECT v AS q FROM vecs WHERE doc_id = 3),
qt AS (SELECT text AS qtext FROM documents WHERE doc_id = 3),
hits AS (
  SELECT vecs.doc_id,
    list_sum(list_transform(range(1, len(vecs.v)+1),
             i -> (vecs.v[i]-qv.q[i])*(vecs.v[i]-qv.q[i]))) AS distance
  FROM vecs, qv WHERE vecs.doc_id <> 3
  ORDER BY distance ASC, vecs.doc_id ASC LIMIT 20
)
SELECT h.doc_id, h.distance,
  ('0x' || substr(md5(qt.qtext || ':' || d.text), 1, 8))::BIGINT
    / 4294967296.0 AS rerank_score
FROM hits h JOIN documents d USING (doc_id), qt
ORDER BY rerank_score DESC, h.doc_id ASC
LIMIT 5
""",
    doc="Two-stage retrieval — retrieve-then-rerank, the shape every "
    "modern search/RAG pipeline runs: stage 1 is the cheap biencoder "
    "kNN (embedding distance, TakeOrderedAndProject over the corpus), "
    "stage 2 re-scores ONLY the top-20 candidates with a cross-encoder "
    "(query+document jointly scored; deterministic md5 fake, per-"
    "executor model singleton slot). The expensive model touches 20 "
    "rows regardless of corpus size — the whole point of the "
    "composition — and candidates join their payloads via broadcast "
    "before one Arrow batch crosses to Python.",
)
def mm_rerank_crossencoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.multimodal import fake_cross_encoder
    from cnc_visionsearch_spark.sources.catalog import memoized_point_value

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    media = attach_payload(d).select("doc_id", "payload")
    embedded = media.withColumn("v", fake_image_embedding(8)(F.col("payload")))
    qtext = memoized_point_value(spark, sf_dir, "documents", "doc_id", 3, "text")
    qv_list = [
        (int(hashlib.md5(qtext.encode() + f":{j}".encode()).hexdigest()[:8], 16)
         / 4294967296.0) * 2.0 - 1.0
        for j in range(8)
    ]
    qcol = vec_lit(qv_list)
    hits = (
        embedded.filter(F.col("doc_id") != 3)
        .select("doc_id", l2_sq("v", qcol).alias("distance"))
        .orderBy(F.col("distance").asc(), F.col("doc_id").asc())
        .limit(20)
    )
    scorer = fake_cross_encoder(qtext.encode("utf-8"))
    return (
        hits.join(F.broadcast(media), "doc_id")
        .withColumn("rerank_score", scorer(F.col("payload")))
        .select("doc_id", "distance", "rerank_score")
        .orderBy(F.col("rerank_score").desc(), F.col("doc_id").asc())
        .limit(5)
    )


@register(
    "mm_audio_features",
    oracle="""
WITH smp AS (
  SELECT doc_id, w.w AS w, i.i AS i,
    ('0x' || substr(md5(text || ':' || w.w || ':' || i.i), 1, 8))::BIGINT
      % 65536 - 32768 AS s
  FROM documents,
    (SELECT unnest(range(4)) AS w) w,
    (SELECT unnest(range(64)) AS i) i
  WHERE doc_id < 40
),
win AS (
  SELECT doc_id, w, list(s ORDER BY i) AS ss
  FROM smp GROUP BY doc_id, w
)
SELECT doc_id, CAST(w AS INT) AS window_no,
  CAST(list_sum(list_transform(ss, x -> x * x)) AS BIGINT) AS energy_q,
  CAST(list_sum(list_transform(range(2, len(ss) + 1),
    j -> CASE WHEN (ss[j] >= 0) <> (ss[j-1] >= 0) THEN 1 ELSE 0 END))
    AS BIGINT) AS zero_crossings,
  CAST(list_max(list_transform(ss, x -> abs(x))) AS BIGINT) AS peak
FROM win
""",
    doc="Audio-shaped plumbing — the third media modality, completing "
    "image/video/OCR/audio: mapInPandas payload -> 4 analysis windows "
    "x 64 fake int16 PCM samples (md5-derived; soundfile/librosa frame "
    "reads swap in per executor) -> per-window energy, zero-crossing "
    "count, peak amplitude. The features a speech/music corpus "
    "pipeline filters on (silence gates, clipping detection) before "
    "paying for transcription or embedding. All-integer features keep "
    "the modality hash-gated end to end like the rest of the family.",
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    media = attach_payload(d).select("doc_id", "payload")
    return audio_features(media, n_windows=4, samples_per_window=64)


@register(
    "mm_shot_boundaries",
    oracle="""
WITH fr AS (
  SELECT doc_id, text, strlen(text) AS n,
    greatest(strlen(text) // 8, 1) AS step,
    unnest(range(8)) AS f
  FROM documents WHERE doc_id < 30
),
c AS (
  SELECT doc_id, CAST(f AS INT) AS frame_no,
    CASE WHEN f < 7 THEN greatest(least((f+1)*step, n) - f*step, 0)
         ELSE greatest(n - 7*step, 0) END AS blen,
    substr(text, CAST(f*step + 1 AS INT),
      CAST(CASE WHEN f < 7 THEN step ELSE greatest(n - 7*step, 0) END AS INT)
    ) AS chunk
  FROM fr
),
feats AS (
  SELECT doc_id, frame_no,
    ('0x' || substr(md5(chunk), 1, 8))::BIGINT / 4294967296.0 AS feat
  FROM c WHERE blen > 0
),
deltas AS (
  SELECT doc_id, frame_no, feat,
    CASE WHEN lag(feat) OVER w IS NULL THEN 0
         WHEN abs(feat - lag(feat) OVER w) > 0.5 THEN 1 ELSE 0 END AS cut
  FROM feats WINDOW w AS (PARTITION BY doc_id ORDER BY frame_no)
),
segs AS (
  SELECT doc_id, frame_no,
    sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_no
                   ROWS UNBOUNDED PRECEDING) AS shot_id
  FROM deltas
),
shot_len AS (
  SELECT doc_id, shot_id, count(*) AS flen FROM segs GROUP BY doc_id, shot_id
)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_shots,
  CAST(sum(flen) AS BIGINT) AS n_frames,
  CAST(max(flen) AS BIGINT) AS longest_shot
FROM shot_len GROUP BY doc_id ORDER BY doc_id
""",
    doc="Shot-boundary detection over the video modality: 8 sampled "
    "frames per payload (frame_samples), a scalar feature per frame "
    "(here u32(frame_md5)/2^32 — the deterministic fake; a real "
    "pipeline swaps in a color-histogram or embedding distance), and "
    "a cut wherever the feature jumps by more than the threshold; "
    "consecutive-cut cumulative sums segment frames into SHOTS (the "
    "unit video dedup and sampling operate on). Per doc: shots, "
    "frames, longest shot. The frame explode is the only Python "
    "stage (Arrow-batched); feature deltas, cuts, and segmentation "
    "are pure window codegen over (doc, frame_no) — at 100 TB the "
    "window never crosses documents, so the shuffle keys on doc_id "
    "and the segmentation is embarrassingly parallel.",
)
def mm_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.functions.text import hex_to_long
    from cnc_visionsearch_spark.operators.multimodal import (
        attach_payload,
        frame_samples,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    media = attach_payload(d).select("doc_id", "payload")
    frames = frame_samples(media, n_frames=8)
    feats = frames.select(
        "doc_id",
        "frame_no",
        (
            hex_to_long(F.substring("frame_md5", 1, 8)).cast("double")
            / F.lit(4294967296.0)
        ).alias("feat"),
    )
    w = Window.partitionBy("doc_id").orderBy("frame_no")
    deltas = feats.withColumn(
        "cut",
        F.when(F.lag("feat").over(w).isNull(), 0)
        .when(F.abs(F.col("feat") - F.lag("feat").over(w)) > 0.5, 1)
        .otherwise(0),
    )
    segs = deltas.withColumn(
        "shot_id",
        F.sum("cut").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    shot_len = segs.groupBy("doc_id", "shot_id").agg(
        F.count(F.lit(1)).alias("flen")
    )
    return (
        shot_len.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shots"),
            F.sum("flen").cast("bigint").alias("n_frames"),
            F.max("flen").cast("bigint").alias("longest_shot"),
        )
        .orderBy("doc_id")
    )
