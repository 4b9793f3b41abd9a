"""Deduplication operators ([EXT] — BASELINE north star: exact dedup,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup).

Scale design notes (the point of each implementation):

* Exact dedup groups on a 16-byte md5 fingerprint, not the raw text —
  the shuffle moves 32 bytes/row instead of whole documents, and the
  keeper choice (min id) is deterministic (unlike dropDuplicates,
  whose survivor depends on partition order).

* MinHash+LSH is the canonical 100 TB near-dedup: shingle -> K min
  hashes -> band -> bucket-join. The only shuffles key on (band,
  band-signature); candidate pairs are verified with exact Jaccard so
  false positives cost nothing but compute. Hashing is md5-derived and
  portable (same bits in the DuckDB oracle).

* SimHash gives a 32-bit sketch per document; near-dups collide on
  sketch prefixes — here we emit the sketch itself (joinable on equal
  sketch or banded prefixes at scale).

* n-gram Jaccard is the exact verifier: explode distinct shingles,
  self-join on shingle (skew-prone on stopword-shingles — mitigated by
  shingle width), count co-occurrences, |A∩B|/(|A|+|B|-|A∩B|).

* Embedding near-dup: exact all-pairs cosine at test scale; the scale
  path is the LSH/ANN tier (operators/ann.py) which produces candidate
  buckets first.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StringType

from cnc_visionsearch_spark.functions.text import (
    hex_to_long,
    md5_fingerprint,
    shingles_from_tokens,
)
from cnc_visionsearch_spark.functions.vector import dot
from cnc_visionsearch_spark.operators.ann import hyperplane_signature
from cnc_visionsearch_spark.session import local_frame

__all__ = [
    "exact_dedup",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash",
    "simhash_neardup_pairs",
    "ngram_jaccard_pairs",
    "embedding_similar_pairs",
    "embedding_lsh_bucketed_pairs",
    "neardup_components",
    "cc_incremental_merge",
    "write_minhash_meta",
    "read_minhash_meta",
    "validate_minhash_meta",
    "read_minhash_store",
    "minhash_store_init",
    "minhash_store_append",
    "minhash_store_compact",
]

# Version tag of the signature scheme itself (md5-based shingle hash
# composed with the _affine_params LCG family over the Mersenne-31
# modulus). Bumped only if the hash formula changes — a store built
# under a different family can never be probed, whatever its geometry.
MINHASH_SEED_FAMILY = "md5-lcg-m31-v1"
_MINHASH_META = "_META.json"


def write_minhash_meta(
    path: str, num_hashes: int, bands: int, shingle_n: int
) -> None:
    """Stamp a banded-MinHash store with its band geometry (r7 verdict
    #3: geometry lived only in the directory NAME, so a probe banding
    its batch with different constants silently joined zero candidates
    and tagged every duplicate `new`). Atomic tmp+rename, same sidecar
    doctrine as operators/ann._write_geometry."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, _MINHASH_META + ".tmp")
    with open(tmp, "w") as f:
        json.dump(
            {
                "num_hashes": num_hashes,
                "bands": bands,
                "shingle_n": shingle_n,
                "seed_family": MINHASH_SEED_FAMILY,
            },
            f,
        )
    os.replace(tmp, os.path.join(path, _MINHASH_META))


def read_minhash_meta(path: str) -> dict | None:
    """The store's stamped geometry, or None when no sidecar exists."""
    import json
    import os

    p = os.path.join(path, _MINHASH_META)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def validate_minhash_meta(
    path: str, num_hashes: int, bands: int, shingle_n: int
) -> None:
    """Raise unless the store at ``path`` is stamped with EXACTLY this
    band geometry and seed family. A missing sidecar also raises: an
    unstamped store cannot prove it matches, and the failure mode of a
    mismatch is the silent zero-candidate probe this check exists to
    prevent — stamp stores at build time (ensure_minhash_store_built /
    minhash_dedup_stream do)."""
    meta = read_minhash_meta(path)
    want = {
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_n": shingle_n,
        "seed_family": MINHASH_SEED_FAMILY,
    }
    if meta is None:
        raise ValueError(
            f"MinHash store {path} has no {_MINHASH_META} geometry "
            "sidecar — probing an unstamped store risks a silent "
            "zero-candidate join; write one with write_minhash_meta "
            "at build/append time"
        )
    if meta != want:
        raise ValueError(
            f"MinHash store geometry mismatch at {path}: store is "
            f"{meta}, probe wants {want} — a mismatched probe would "
            "silently generate zero candidates and tag every "
            "duplicate 'new'"
        )


# ---- transactional MinHash store (r8 verdict #1) -------------------------
# The cross-run banded store is a log of the sources/tlog protocol:
# every mutation is one atomic commit; conflict domains are the band
# ids, so appends (new day's signatures) are blind and never blocked,
# while compaction (dedupe of at-least-once replay rows + file
# settling) is a rewrite that conflicts against racing appends and
# recomputes.


def read_minhash_store(spark, path: str) -> DataFrame:
    """The sanctioned reader for a persisted banded-MinHash store: the
    live snapshot's band-tagged files (a bare parquet read of the
    directory would also pick up files a compaction removed)."""
    from cnc_visionsearch_spark.sources.tlog import open_layout, read_tags

    t = open_layout(path)
    snap = t.snapshot()
    return read_tags(spark, t, snap, range(int(snap.meta["bands"])))


def minhash_store_init(
    banded: DataFrame,
    path: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> int:
    """Version 1 of a TRANSACTIONAL banded store: the base corpus's
    (doc_id, band_id, band_sig) rows land tagged by band with the band
    GEOMETRY in commit meta (+ the ``_META.json`` sidecar that
    validate_minhash_meta checks). Refuses a non-empty log
    (the tlog init doctrine)."""
    from cnc_visionsearch_spark.sources.tlog import TLog

    t = TLog(path)
    if t.latest_version() != 0:
        raise ValueError(
            f"minhash_store_init: tlog store {path} already holds "
            f"{t.latest_version()} commit(s); wipe to rebuild"
        )
    adds = t.write_data(banded, bucket_expr=F.col("band_id"))
    v = t.commit(
        adds=adds,
        op="append",
        meta={
            "kind": "minhash_store",
            "num_hashes": num_hashes,
            "bands": bands,
            "shingle_n": shingle_n,
            "seed_family": MINHASH_SEED_FAMILY,
        },
        base_version=0,
    )
    write_minhash_meta(path, num_hashes, bands, shingle_n)
    return v


def minhash_store_append(
    banded: DataFrame, path: str, txn: tuple[str, int] | None = None
) -> int:
    """Blind append of a batch's banded rows — never blocked by a
    racing compaction (which conflicts and recomputes instead).
    Geometry is validated against the stamped sidecar first (a
    mismatched append would corrupt the store). ``txn`` (app, seq)
    makes at-least-once replays commit nothing — the exactly-once
    streaming-ingest story the id_mapping table already has."""
    from cnc_visionsearch_spark.sources.tlog import TLog

    t = TLog(path)
    meta = t.snapshot().meta
    validate_minhash_meta(
        path,
        int(meta["num_hashes"]),
        int(meta["bands"]),
        int(meta["shingle_n"]),
    )
    adds = t.write_data(banded, bucket_expr=F.col("band_id"))
    return t.commit(adds=adds, op="append", txn=txn)


def minhash_store_compact(spark, path: str) -> None:
    """Settle the store: one file per band, exact-duplicate rows (an
    at-least-once appender's replays) dropped — probe results are
    invariant (candidates are DISTINCT pairs) but the probe's band
    join reads fewer, deduplicated rows. A rewrite commit declaring
    every band domain: racing appends win, the compaction retries
    (wrap in run_transaction). A path holding no store raises
    ``ValueError`` and creates nothing."""
    from cnc_visionsearch_spark.sources.tlog import open_layout, read_tags

    t = open_layout(path)
    snap = t.snapshot()
    bands = list(range(int(snap.meta["bands"])))
    kept = read_tags(spark, t, snap, bands).dropDuplicates(
        ["doc_id", "band_id", "band_sig"]
    )
    adds = t.write_data(kept, bucket_expr=F.col("band_id"))
    t.commit(
        adds=adds,
        removes=snap.files_in(bands),
        read_version=snap.version,
        op="rewrite",
        domains=bands,
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup via fingerprint group-by; keeper = min id.

    Returns (fingerprint, keeper_id, n_copies). Join back on keeper_id
    to materialize the deduplicated corpus.
    """
    return (
        df.select(
            F.col(id_col), md5_fingerprint(text_col).alias("fingerprint")
        )
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


_MERSENNE31 = 2147483647  # 2^31 - 1, prime


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition a small-but-compute-heavy input across all cores.

    Text dedup inputs are often few/small files (one parquet -> one
    partition) while the downstream explode+hash work is CPU-bound, so
    partition count must follow cores, not bytes. The partition count is
    explicit because AQE would coalesce a bare repartition(col) back to
    byte-proportional (i.e. too few) partitions. Hash-partitioning on
    the id column keeps each doc's rows together, which downstream
    groupBy(id) clustering can reuse.
    """
    p = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(p, *[F.col(c) for c in cols]) if cols else df.repartition(p)


def _exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """(id, shingle) rows: spread across cores, tokenize ONCE in its own
    projection, then shingle + explode (see shingles_from_tokens on why
    tokenization must not be inlined into the shingle lambda)."""
    toked = _spread(df, id_col).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_toks")
    )
    return toked.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles_from_tokens("_toks", shingle_n))).alias(
            "shingle"
        ),
    )


def _affine_params(i: int) -> tuple[int, int]:
    """Deterministic (a_i, b_i) for the i-th affine hash family member."""
    return (1000003 * i + 12345) % _MERSENNE31, (7919 * i + 104729) % _MERSENNE31


def _base_hash(shingle):
    """Portable 31-bit base hash: first 8 hex digits of md5, mod 2^31-1.

    The hash family is h_i(s) = (a_i * base(s) + b_i) mod (2^31-1) — an
    affine family over a prime field. ONE md5 per shingle instead of one
    per (seed, shingle); the 16 family members are two int64 mul/adds
    each, identical bit-for-bit in DuckDB (int64 arithmetic, no
    overflow: both operands < 2^31 so products < 2^62).
    """
    return hex_to_long(F.substring(F.md5(shingle.cast("binary")), 1, 8)) % F.lit(
        _MERSENNE31
    )


def _bucket_pairs(buckets: DataFrame, pair_struct_sql: str) -> DataFrame:
    """In-bucket pair expansion shared by every blocking-based pair
    generator: ``buckets`` must carry a sorted ``members`` array column;
    emits one exploded struct column ``p`` per (x, y) member pair with
    x < y (by sort position). ``pair_struct_sql`` is the
    ``named_struct(...)`` SQL over lambda vars ``x`` (earlier member)
    and ``y`` (later member). Centralized because the slice arithmetic
    (1-based slice start vs 0-based transform index, the i + 2 offset)
    is subtle enough that two copies WILL drift.
    """
    return buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(members, (x, i) -> "
                f"transform(slice(members, i + 2, size(members)), y -> "
                f"{pair_struct_sql})))"
            )
        ).alias("p")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document MinHash signature.

    hash_i(s) = (a_i * base(s) + b_i) mod 2^31-1 with base(s) =
    hex2long(md5(s)[0:8]) mod 2^31-1 — an affine hash family needing
    ONE md5 per shingle, min over the doc's distinct token shingles.
    Output: (id, hash_i BIGINT for i in 0..num_hashes-1) wide, via a
    single explode + group-by (one shuffle keyed on id).
    Documents with < shingle_n tokens have no shingles and are omitted.
    """
    sh = _exploded_shingles(df, id_col, text_col, shingle_n)
    hashed = sh.select(F.col(id_col), _base_hash(F.col("shingle")).alias("bh"))
    aggs = []
    for i in range(num_hashes):
        a_i, b_i = _affine_params(i)
        aggs.append(
            F.min((F.lit(a_i) * F.col("bh") + F.lit(b_i)) % F.lit(_MERSENNE31)).alias(
                f"h{i}"
            )
        )
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_banded(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band_id, band_sig) — the banded MinHash signature table,
    i.e. the LSH blocking structure itself. At 100 TB this is what an
    ingest pipeline CO-COMPUTES and persists next to the corpus (one
    row of a few bytes per doc per band), so near-dedup passes probe
    the persisted table instead of re-hashing every shingle of every
    document per run (queries_dedup.ensure_minhash_built is that
    build-once step, same doctrine as the ANN layouts)."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    band_cols = [
        F.concat_ws(
            ",",
            *[
                F.col(f"h{b * rows_per_band + r}").cast("string")
                for r in range(rows_per_band)
            ],
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col), *band_cols)
    return banded.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"), F.col(f"band{b}").alias("band_sig")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bd"),
    ).select(id_col, "bd.band_id", "bd.band_sig")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.3,
    banded: DataFrame | None = None,
    with_containment: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH + exact verification.

    Candidate generation: split the signature into `bands` bands of
    num_hashes/bands values; docs sharing any (band_id, band_signature)
    bucket are candidates. Verification: exact token-shingle Jaccard
    >= threshold. Returns (id_a, id_b, jaccard), id_a < id_b.

    ``banded`` plugs in a PREBUILT (id, band_id, band_sig) table (the
    persisted blocking artifact): candidate generation then ignores
    num_hashes/bands, but shingle_n still drives verification — the
    caller MUST pass a table built with the SAME parameters (the
    ensure_minhash_built artifact path encodes them: minhash_b4h16s3);
    a mismatched table silently yields an inconsistent candidate set.
    """
    stacked = (
        banded
        if banded is not None
        else minhash_banded(df, text_col, id_col, num_hashes, bands, shingle_n)
    )
    # Pair generation via ONE group-by on the band key + in-bucket
    # expansion, instead of a bucket self-join: a self-join re-executes
    # the whole signature pipeline for its second input (broadcast
    # exchanges are never reused across join sides), doubling the
    # corpus scans. Bucket member lists are small by LSH design (a
    # bucket is a near-dup group); a pathological mega-bucket would
    # mean the corpus is mostly one duplicate cluster, where ANY
    # pairwise formulation is quadratic.
    buckets = (
        stacked.groupBy("band_id", "band_sig")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("members"))
        .filter(F.size("members") > 1)
    )
    candidates = (
        _bucket_pairs(buckets, "named_struct('id_a', x, 'id_b', y)")
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    # Materialization barrier: the candidate set is consumed three
    # times downstream (id-set semi-join prune + the scoring fan-out).
    # Without the barrier each broadcast consumer re-runs the whole
    # signature job; with it the (tiny, bounded) pair table computes
    # once — the same "persist the candidate table" step a production
    # dedup pipeline runs between blocking and verification. eager=False
    # does NOT make construction job-free: with AQE on, the call
    # itself runs the candidate plan's shuffle stages to plan the
    # checkpoint RDD (3 jobs on the sf0.01 documents; with the
    # verifier's barrier below, 6 before this function returns a
    # DataFrame). Only the final checkpoint job waits for the first
    # action; later consumers reuse it, and the ContextCleaner
    # unpersists the blocks when the plan is GC'd.
    candidates = candidates.localCheckpoint(eager=False)
    verified = ngram_jaccard_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        shingle_n=shingle_n,
        threshold=jaccard_threshold,
        candidates=candidates,
        with_containment=with_containment,
    )
    return verified


def minhash_store_probe(
    batch: DataFrame,
    store_banded: DataFrame,
    store_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.3,
    store_path: str | None = None,
) -> DataFrame:
    """Cross-run incremental near-dedup: probe a PERSISTED banded
    MinHash store with a new batch — the banded-LSH twin of the exact
    fingerprint-store probe (queries_dedup.dedup_incremental_batch),
    following the inverted_append doctrine (operators/text_index.py:
    new postings join the persisted index; the resident corpus is
    never re-scanned).

    Only the BATCH is shingled/hashed (O(batch)); candidates come from
    one equi-join of the batch's band keys against ``store_banded``
    (the ensure_minhash_store_built artifact — SAME band geometry
    required: pass ``store_path`` and the probe validates the store's
    ``_META.json`` sidecar against (num_hashes, bands, shingle_n),
    raising on mismatch instead of silently joining zero candidates);
    exact Jaccard verification reads back the TEXT of candidate store
    docs only (a semi-join-pruned scan of ``store_docs``). Two-sided
    id columns (batch_id, store_id) because a re-delivered doc
    legitimately carries the same id on both sides. Returns
    (batch_id, store_id, jaccard) with jaccard >= threshold.

    Store-doc contract: ``store_docs`` is append-only with IMMUTABLE
    content per id for identical-text replays; if divergent texts ever
    land under one id (a doc re-delivered with CHANGED text), exact
    verification reads the deterministic max(text) per id — never an
    arbitrary file-order row.
    """
    if store_path is not None:
        validate_minhash_meta(store_path, num_hashes, bands, shingle_n)
    # per-id dedup on BOTH sides: an at-least-once producer can land
    # the same doc twice within one micro-batch; duplicated shingles
    # would inflate |A| and |A∩B| asymmetrically and push a
    # below-threshold pair over the Jaccard gate
    batch = batch.dropDuplicates([id_col])
    bb = minhash_banded(
        batch, text_col, id_col, num_hashes, bands, shingle_n
    ).select(F.col(id_col).alias("_bid"), "band_id", "band_sig")
    sb = store_banded.select(
        F.col(id_col).alias("_sid"), "band_id", "band_sig"
    )
    cand = (
        bb.join(sb, ["band_id", "band_sig"])
        .select("_bid", "_sid")
        .distinct()
    )
    # candidate table feeds three consumers (two shingle prunes + the
    # pair constraint) — same bounded-candidate barrier as
    # minhash_lsh_pairs
    cand = cand.localCheckpoint(eager=False)
    shb = (
        _exploded_shingles(batch, id_col, text_col, shingle_n)
        .select(F.col(id_col).alias("_bid"), "shingle")
        .join(F.broadcast(cand.select("_bid").distinct()), "_bid", "left_semi")
    )
    # one row per candidate store doc: an at-least-once appender (the
    # streaming twin's foreachBatch replay) may leave duplicate doc
    # rows in the store — duplicated shingles would skew the Jaccard
    # ratio. Deterministic winner instead of dropDuplicates (whose
    # survivor is file-scan order): when the store carries the
    # streaming twin's `_src_batch` provenance column, the LATEST
    # delivery wins (max _src_batch, text as tie-break — r8 advice:
    # a doc re-delivered with CHANGED text verifies against the
    # newest content, matching upsert semantics); otherwise max(text)
    # per id (identical-text replays unchanged either way).
    pruned_store = store_docs.join(
        F.broadcast(cand.select(F.col("_sid").alias(id_col)).distinct()),
        id_col,
        "left_semi",
    )
    if "_src_batch" in store_docs.columns:
        cand_store = pruned_store.groupBy(id_col).agg(
            F.max_by(
                F.col(text_col),
                F.struct(
                    F.coalesce(F.col("_src_batch"), F.lit("")).alias("b"),
                    F.col(text_col).alias("t"),
                ),
            ).alias(text_col)
        )
    else:
        cand_store = pruned_store.groupBy(id_col).agg(
            F.max(text_col).alias(text_col)
        )
    shs = _exploded_shingles(cand_store, id_col, text_col, shingle_n).select(
        F.col(id_col).alias("_sid"), "shingle"
    )
    sza = shb.groupBy("_bid").agg(F.count(F.lit(1)).alias("_na"))
    szb = shs.groupBy("_sid").agg(F.count(F.lit(1)).alias("_nb"))
    common = (
        F.broadcast(cand)
        .join(shb, "_bid")
        .join(shs, ["_sid", "shingle"])
        .groupBy("_bid", "_sid")
        .agg(F.count(F.lit(1)).alias("_nc"))
    )
    jac = (
        F.col("_nc").cast("double")
        / (F.col("_na") + F.col("_nb") - F.col("_nc")).cast("double")
    ).alias("jaccard")
    return (
        common.join(sza, "_bid")
        .join(szb, "_sid")
        .select(
            F.col("_bid").alias("batch_id"),
            F.col("_sid").alias("store_id"),
            jac,
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """Per-document SimHash sketch over distinct tokens.

    Each token contributes ±1 per bit position (from its md5-derived
    32-bit hash); the sketch sets bit b iff the signed sum is > 0.
    Returns (id, simhash BIGINT). One explode (tokens x bits)
    + two aggregations, both keyed on id — no cross-doc shuffle.
    """
    toks = _spread(df, id_col).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(F.col(text_col), " "))
        ).alias("token"),
    )
    if bits > 60:
        # 15 hex digits of md5 (60 bits) is the widest prefix that
        # stays positive in an int64; a wider request would silently
        # zero the top bits of every sketch — fail loudly instead
        raise ValueError(f"simhash supports bits <= 60, got {bits}")
    # base-hash width follows the sketch width
    hex_digits = (bits + 3) // 4
    h = hex_to_long(F.substring(F.md5(F.col("token").cast("binary")), 1, hex_digits))
    with_bits = toks.select(
        F.col(id_col),
        h.alias("th"),
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b"),
    ).select(
        id_col,
        "b",
        # shiftright/shiftleft need expr form for a column shift amount
        F.when(F.expr("shiftright(th, b) & 1") == 1, 1).otherwise(-1).alias("w"),
    )
    per_bit = with_bits.groupBy(id_col, "b").agg(F.sum("w").alias("s"))
    return per_bit.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(cast(1 as bigint), b)"))
            .otherwise(F.lit(0).cast("bigint"))
        ).alias("simhash")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.1,
    candidates: DataFrame | None = None,
    with_containment: bool = False,
) -> DataFrame:
    """Exact token-n-gram Jaccard similarity pairs >= threshold.

    Explode distinct shingles -> self-equi-join on shingle -> count
    common -> Jaccard. When `candidates` (id_a, id_b) is given, only
    those pairs are scored (the LSH-verified path); otherwise all
    co-shingled pairs are scored (exact mode — quadratic in the worst
    case, use only with blocking or small corpora).
    """
    if candidates is not None:
        # Every downstream consumer only ever needs candidate docs'
        # shingles, so prune FIRST — before tokenize/explode, with a
        # broadcast semi-join on the candidate id set: the explode, the
        # (id_b, shingle) intersection shuffle, and the size aggregates
        # then all carry |candidate docs| rows instead of the whole
        # corpus — at 100 TB the difference between a full-corpus
        # explode and a negligible one.
        cand_ids = (
            candidates.select(F.col("id_a").alias(id_col))
            .union(candidates.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        df = df.join(F.broadcast(cand_ids), id_col, "left_semi")
    sh = _exploded_shingles(df, id_col, text_col, shingle_n)
    if candidates is not None:
        # The pruned shingle table feeds four consumers (both join
        # sides + both size lookups); checkpoint the small post-prune
        # result so the explode runs once, not four times. eager=False
        # is not job-free: with AQE on, the call runs the pruned
        # explode's shuffle stages at construction (3 jobs on the
        # sf0.01 documents); only the checkpoint job itself waits.
        sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    if candidates is not None:
        # Candidate-driven plan: never build the all-pairs shingle
        # self-join. Fan each (id_a, id_b) candidate out over id_a's
        # shingles, then equi-join on (id_b, shingle) to count the
        # intersection. |candidates| << |pairs|, and candidates is
        # usually broadcastable.
        common = (
            F.broadcast(candidates)
            .join(a, "id_a")
            .join(b, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    else:
        common = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = (
        F.col("n_common").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
    ).alias("jaccard")
    joined = common.join(sa, "id_a").join(sb, "id_b")
    if with_containment:
        # Broder '97's second resemblance measure: |A∩B| / min(|A|,|B|)
        # — the subset-duplication detector symmetric Jaccard misses
        return joined.select(
            "id_a",
            "id_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            (
                F.col("n_common").cast("double")
                / F.least("n_a", "n_b").cast("double")
            ).alias("containment"),
            jac,
        ).filter(F.col("jaccard") >= threshold)
    return joined.select("id_a", "id_b", jac).filter(
        F.col("jaccard") >= threshold
    )


# Edge sets of at most this many rows are labeled on the driver. The
# bound caps the driver at about 32 MB, the default of
# graph_ann.HNSW_UPPER_COLLECT_MAX_BYTES. Driver footprint measured with
# tracemalloc (CPython 3.11, bigint ids, every edge bringing two new
# nodes, the worst case): the collected Rows hold 328-344 bytes per
# edge, and the peak over the collect, the union-find map and the
# output rows is 732 bytes per edge at 20k edges and 753 at 100k. So
# 40k edges peak near 30 MB; the output's Arrow buffers (17 bytes per
# node) come on top.
CC_COLLECT_MAX_EDGES = 40_000


def _symmetric(edges: DataFrame) -> DataFrame:
    """Both directions of every (src, dst) edge; its column type is the
    output id type of either path."""
    return edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _components_on_driver(spark, rows: list, id_type) -> DataFrame:
    """Union-find (path halving, min-id root) over collected edge rows.
    A null endpoint yields one (null, null, null) row and leaves the
    other endpoint to its own component, as the round path does."""
    parent = {}
    has_null = False

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        for n in (a, b):
            if n is None:
                has_null = True
            else:
                parent.setdefault(n, n)
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    out = [(n, r, n == r) for n in parent for r in (find(n),)]
    if has_null:
        out.append((None, None, None))
    t = id_type.simpleString()
    return local_frame(
        spark, out, f"doc_id {t}, component_id {t}, is_keeper boolean"
    )


def _components_by_rounds(edges: DataFrame, max_iters: int) -> DataFrame:
    """Min-label propagation over materialized edges (the scale path)."""
    # localCheckpoint: sym is re-consumed every round; the checkpoint
    # keeps each round's plan flat instead of re-deriving the
    # symmetric, distinct edge set from ``edges``.
    sym = _symmetric(edges).distinct().localCheckpoint()
    labels = (
        sym.select(F.col("src").alias("node")).distinct().withColumn(
            "label", F.col("node")
        )
    ).localCheckpoint()
    for _ in range(max_iters):
        nbr = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        # a node's label changes exactly when a neighbor's label is
        # lower, so the convergence count filters this round's own
        # checkpoint instead of joining it with the previous labels
        new_labels = (
            labels.join(nbr, labels.node == nbr.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
                ).alias("label"),
                (F.col("nbr_min") < F.col("label")).alias("changed"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("changed")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"neardup_components did not converge in {max_iters} rounds — "
            "pathological graph diameter; use the star-contraction variant"
        )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("component_id"),
        (F.col("node") == F.col("label")).alias("is_keeper"),
    )


def neardup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over near-dup pairs: the step that turns
    pairwise similarity into dedup CLUSTERS (keep one doc per
    component, drop the rest) — what a training-data pipeline actually
    executes after LSH.

    The edge set is materialized once (an eager ``localCheckpoint``, so
    the caller's pair pipeline never runs twice), then one bounded
    collect takes at most ``CC_COLLECT_MAX_EDGES + 1`` rows:

    * At most ``CC_COLLECT_MAX_EDGES`` edges (every near-dup graph of
      the fixtures and benchmarks) with integer or string ids:
      union-find on the driver, returned as a local relation. Exact
      for any diameter, so ``max_iters`` does not apply: a 30-edge
      chain resolves here.
    * More edges: iterative min-label propagation over the checkpointed
      edges. Every node starts labeled with its own id; each round
      takes the min of its own and its neighbors' labels; at fixpoint
      the label is the component's minimum id. Each round is one
      equi-join + groupBy (shuffles keyed on node id, ~|E| rows) and a
      ``localCheckpoint``. Rounds needed = graph diameter — near-dup
      components are shallow (dup clusters, not social graphs), so
      this converges in a handful of rounds. More than ``max_iters``
      rounds raises ``RuntimeError``: the graph then needs the
      star-contraction variant, large-star/small-star (Kiveris et al.,
      2014): each step re-links a node's neighbors to the smallest id
      of its neighborhood, so the rounds grow with log² n instead of
      the diameter, with the same per-round plan shape. It is not
      implemented here.

    Returns (doc_id, component_id, is_keeper) with the input's id type:
    every node that appears in a pair, its component's min id, and
    whether it is that min (the deterministic keeper, matching
    exact_dedup's min-id rule). A pair with a null endpoint adds one
    (null, null, null) row; its other endpoint keeps its own label
    unless another pair connects it.
    """
    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).localCheckpoint()
    id_type = _symmetric(edges).schema["src"].dataType
    # the driver orders ids as Python does, which is Spark's order for
    # integers and binary-collated strings
    if isinstance(id_type, IntegralType) or id_type == StringType():
        # bounded by construction: at most CC_COLLECT_MAX_EDGES + 1 rows
        rows = edges.limit(CC_COLLECT_MAX_EDGES + 1).collect()
        if len(rows) <= CC_COLLECT_MAX_EDGES:
            return _components_on_driver(edges.sparkSession, rows, id_type)
    return _components_by_rounds(edges, max_iters)


def embedding_lsh_bucketed_pairs(
    emb: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "nvec",
    top_n: int = 10,
) -> DataFrame:
    """Embedding near-dup with hyperplane-LSH blocking — the 100 TB
    path :func:`embedding_similar_pairs` only documents.

    The sign-bit signature (operators/ann.py) is the blocking key:
    exact cosine is scored ONLY within a bucket, so the corpus shuffles
    once on the (bigint) bucket key and the pair space shrinks from
    |N|^2 to sum(|bucket|^2) — with P planes, ~N^2/2^P in expectation.
    Each vector has exactly one Hamming-0 bucket, so no pair is scored
    twice and no dedup pass is needed. Recall is governed by P exactly
    as in the lsh_topk probe (fewer planes = bigger buckets = higher
    recall, more compute). Returns the global top-N colliding pairs by
    cosine, ties by (id_a, id_b).
    """
    sig = hyperplane_signature(vec_col, planes)
    b = emb.select(F.col(id_col), F.col(vec_col), sig.alias("lsh_bucket"))
    left = b.select(
        "lsh_bucket", F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    right = b.select(
        "lsh_bucket", F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    return (
        left.join(right, "lsh_bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dot("va", "vb").alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc())
        .limit(top_n)
    )


def embedding_similar_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "nvec",
    top_n: int = 10,
    candidates: str | None = None,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Top-N most-similar embedding pairs by cosine.

    The DEFAULT serving path (``candidates="lsh"``) is the bucketed
    plan — hyperplane-LSH sign-bit blocking, exact cosine scored only
    within a bucket (:func:`embedding_lsh_bucketed_pairs`) — the only
    shape that survives 100 TB. ``candidates="exact"`` is the
    ORACLE-PARITY tier: the all-pairs crossJoin, O(N^2) in the corpus,
    kept solely so exact-result queries/tests can hash-match a
    quadratic SQL oracle (the same exact/bucketed split the NSW
    operator uses, operators/graph_ann.py). ``planes`` defaults to 4
    seeded hyperplanes sized by a bounded 1-row dim peek.

    The default FLIPPED in r7 (exact -> lsh): a defaulted call warns
    once per call site (r7 advice — a pre-flip caller relying on exact
    top-N should degrade loudly, not silently), pass ``candidates=``
    to silence.
    """
    if candidates is None:
        import warnings

        warnings.warn(
            "embedding_similar_pairs default changed (r7) from the "
            "exact all-pairs plan to approximate hyperplane-LSH "
            "blocking, which can miss true top-N pairs spanning "
            "sign-bit buckets; pass candidates='lsh' to accept the "
            "serving plan or candidates='exact' for the quadratic "
            "oracle-parity tier",
            stacklevel=2,
        )
        candidates = "lsh"
    if candidates == "lsh":
        if planes is None:
            from cnc_visionsearch_spark.operators.ann import hyperplanes

            first = (
                emb.filter(F.col(vec_col).isNotNull())
                .select(F.size(F.col(vec_col)).alias("d"))
                .first()
            )
            if first is None or first["d"] is None or first["d"] <= 0:
                raise ValueError(
                    "embedding_similar_pairs: cannot infer the embedding "
                    f"dim from an empty/all-null {vec_col!r} column — "
                    "pass planes= explicitly"
                )
            planes = hyperplanes(dim=int(first["d"]), n_planes=4, seed=42)
        return embedding_lsh_bucketed_pairs(
            emb, planes, id_col=id_col, vec_col=vec_col, top_n=top_n
        )
    if candidates != "exact":
        raise ValueError(f"candidates must be 'lsh' or 'exact': {candidates!r}")
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dot("va", "vb").alias("cosine"))
    )
    return (
        pairs.orderBy(F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc())
        .limit(top_n)
    )


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int = 1 << 31,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance with EXACT
    banded blocking: split the ``bits``-bit sketch into ``bands`` equal
    bit-bands; any pair within ``max_hamming`` differing bits shares at
    least one intact band whenever ``max_hamming < bands`` (pigeonhole)
    — so the blocking loses nothing, unlike probabilistic MinHash
    bands. Candidates come from ONE group-by per the band key (same
    no-self-join shape as minhash_lsh_pairs); verification is
    ``bit_count(xor)`` on the two 8-byte sketches — the cheapest
    verify step of any dedup tier (no re-tokenization). Returns
    (id_a, id_b, hamming), id_a < id_b, hamming <= max_hamming.

    OPERATING ENVELOPE: each band key has only 2^(bits/bands) values
    (2^15 at the defaults), so birthday collisions make the expected
    bucket ~N/2^15 members regardless of similarity — candidate volume
    grows quadratically past N ~ 10^7 docs. For larger corpora set
    ``max_bucket`` (oversized buckets are skipped: once a bucket is
    dominated by random collisions it carries no blocking signal; a
    true hd<=max_hamming pair is lost only if EVERY one of its intact
    bands — at least bands-max_hamming of them — is itself oversized),
    or use the MinHash path, whose concatenated-hash band keys are
    effectively unbounded.
    """
    if max_hamming >= bands:
        raise ValueError(
            f"banded blocking is exact only for max_hamming < bands; "
            f"got max_hamming={max_hamming}, bands={bands}"
        )
    if bits % bands != 0:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    width = bits // bands
    mask = (1 << width) - 1
    sk = simhash(df, text_col, id_col, bits)
    stacked = sk.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        (
                            F.shiftright(F.col("simhash"), b * width)
                            .bitwiseAND(F.lit(mask))
                        ).alias("band_val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bd"),
    ).select(id_col, "simhash", "bd.band_id", "bd.band_val")
    buckets = (
        stacked.groupBy("band_id", "band_val")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col).alias("id"), "simhash"))
            ).alias("members")
        )
        .filter((F.size("members") > 1) & (F.size("members") <= max_bucket))
    )
    pairs = (
        _bucket_pairs(
            buckets,
            "named_struct('id_a', x.id, 'sh_a', x.simhash, "
            "'id_b', y.id, 'sh_b', y.simhash)",
        )
        .select("p.id_a", "p.id_b", "p.sh_a", "p.sh_b")
        .distinct()
    )
    hamming = F.bit_count(F.expr("sh_a ^ sh_b"))
    return (
        pairs.select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def cc_incremental_merge(
    store: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Incremental connected-components maintenance — the daily-batch
    twin of :func:`neardup_components`, for a PERSISTED cluster store.

    ``store`` is the resident assignment table ``(doc_id,
    component_id)`` (component_id = the component's min doc id, the
    store invariant); ``new_pairs`` are the batch's near-dup edges
    (batch×batch and batch×store — candidate generation stays LSH-
    blocked upstream). Rather than re-running CC over the whole corpus,
    only the TOUCHED part of the graph is relabeled:

    1. affected components = store labels of any new-edge endpoint
       (an equi-join on doc_id; new-edge endpoints are batch-bounded);
    2. the subgraph = new edges ∪ one ``(member, old_root)`` edge per
       member of an affected component — the old root edge is a
       lossless contraction of the component's internal structure
       (every member is connected to the root by construction), so the
       relabel never needs the original corpus edges;
    3. one :func:`neardup_components` pass over that subgraph.

    Returns assignments for the touched docs only ``(doc_id,
    component_id, is_keeper)``; the caller unions untouched store rows
    back (or merges by key in the store table). Labels equal the
    from-scratch result: the subgraph preserves connectivity of the
    affected region exactly, and min-id labels are order-free.

    Scale shape: per batch the work is O(|new edges| + |affected
    members|) — the store is touched by one equi-join (probe side is
    the batch's endpoint set) plus one semi-join for members of the
    (typically few) affected components; resident components with no
    new edge never enter a shuffle.
    """
    nodes = (
        new_pairs.select(F.col(id_a).alias("doc_id"))
        .union(new_pairs.select(F.col(id_b).alias("doc_id")))
        .distinct()
    )
    affected = (
        store.join(nodes, "doc_id").select("component_id").distinct()
    )
    members = store.join(F.broadcast(affected), "component_id")
    old_edges = members.select(
        F.col("doc_id").alias(id_a), F.col("component_id").alias(id_b)
    )
    sub = new_pairs.select(id_a, id_b).union(old_edges)
    return neardup_components(sub, id_a=id_a, id_b=id_b)


def tag_minhash_verdicts(
    batch: DataFrame,
    store_pairs: DataFrame,
    in_batch_pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Shared verdict tagging for the incremental near-dedup tier —
    ONE definition consumed by both the batch query
    (queries_dedup_ext.dedup_incremental_minhash) and the streaming
    twin (streaming/pipelines.minhash_dedup_stream), so the
    stream==batch contract cannot drift. Precedence: a verified store
    match wins (``neardup_of_store``), else a verified in-batch pair
    with a lower-id keeper (``neardup_in_batch``), else ``new``.
    Expects ``store_pairs`` with a ``batch_id`` column
    (minhash_store_probe output) and ``in_batch_pairs`` with ``id_b``
    (minhash_lsh_pairs output). Returns one (id, verdict) row per
    DISTINCT batch id."""
    of_store = (
        store_pairs.select(F.col("batch_id").alias(id_col))
        .distinct()
        .withColumn("_os", F.lit(True))
    )
    in_batch = (
        in_batch_pairs.select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_ib", F.lit(True))
    )
    return (
        batch.select(id_col)
        .dropDuplicates([id_col])
        .join(of_store, id_col, "left")
        .join(in_batch, id_col, "left")
        .select(
            id_col,
            F.when(F.col("_os"), "neardup_of_store")
            .when(F.col("_ib"), "neardup_in_batch")
            .otherwise("new")
            .alias("verdict"),
        )
    )
