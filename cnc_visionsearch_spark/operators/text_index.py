"""Inverted text index: build-once postings layout + pruned phrase
probes — the lexical twin of the ANN tiers' "derived layout, probed by
partition pruning" design (SURVEY §4).

Layout: a transaction log (sources/tlog.py) whose postings hold one row
per (term, doc) — ``(term, doc_id, tf, positions)`` where positions are
the 1-based whitespace-token offsets — in one conflict domain per
``bucket`` = the portable 31-bit md5 hash of the term
(operators/dedup._base_hash, the same hash family the MinHash tier uses)
mod ``n_buckets``. A query touches only its terms' buckets: term lookup
is log-level file pruning, and at 100 TB a phrase query reads
|terms|/n_buckets of the postings instead of scanning the corpus.
Positions in the row make phrase adjacency a per-row array
intersection — no second corpus pass, no shuffle.

The doclens subtable is the layout's norms table — one (doc_id, dl) row
per document, dl = whitespace token count. It is what lets RANKED
probes (BM25, :func:`bm25_probe`) run without ever touching the
corpus: tf and df come from the pruned postings buckets, dl from this
table, and avgdl/N from its 1-row aggregate. Every production
inverted index (Lucene norms, Tantivy fieldnorms) keeps exactly this
side table; it is ~1/avg_dl the size of the postings and appends are
per-document facts, so :func:`inverted_append` extends it O(batch).

Every mutation is one atomic commit; conflict DOMAINS are the
postings' term-hash buckets plus two reserved tags (doclens,
tombstones), so:

- appends (new docs) and deletes (tombstones) are BLIND commits —
  never blocked, never lost;
- vacuum/compact are REWRITES declaring the buckets they read: a
  racing append/delete makes them raise ``TLogConflictError`` and
  recompute (``run_transaction``), exactly Delta's
  append-wins/compaction-retries arbitration;
- readers get snapshot isolation: a probe planned at version N never
  sees a torn mix of pre- and post-vacuum files.

Every probe reads through :func:`read_postings`/:func:`read_doclens`
(the ONLY sanctioned readers), which resolve the snapshot's live files
minus the documents tombstoned in that same snapshot; the ranked probes
take postings and doclens from ONE snapshot, so N and avgdl always
describe the postings they score.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cnc_visionsearch_spark.operators.dedup import _MERSENNE31, _base_hash
from cnc_visionsearch_spark.session import local_frame
from cnc_visionsearch_spark.sources.tlog import (
    TLog,
    compact_domains,
    delete_ids,
    open_layout,
    read_live,
    retag,
    vacuum_tombstones,
)

__all__ = [
    "inverted_build",
    "inverted_append",
    "inverted_delete",
    "inverted_vacuum",
    "inverted_compact",
    "term_bucket",
    "read_postings",
    "read_doclens",
    "phrase_probe",
    "bm25_probe",
    "bm25_multi_probe",
]


def term_bucket(term: str, n_buckets: int) -> int:
    """Driver-side twin of the layout's bucket hash (md5[:8] mod
    2^31-1 mod n_buckets) — lets a probe prune partitions without a
    cluster job, exactly like ivf_probe_cells ranks cells."""
    h = int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % _MERSENNE31
    return h % n_buckets


# tlog conflict-domain tags: postings files carry their term-hash
# bucket (0..n_buckets-1); the two auxiliary subtables get reserved
# tags far above any real bucket count so postings domains can never
# collide with them
TLOG_DOCLENS_TAG = 10_000
TLOG_TOMBS_TAG = 10_001


def inverted_build(
    docs: DataFrame, path: str, n_buckets: int = 16, use_tlog: bool = True
) -> None:
    """Materialize the postings layout: posexplode the whitespace
    tokens (the corpus tokenization convention shared with every text
    oracle), aggregate per (term, doc) into tf + sorted positions, and
    write partitioned by the term's hash bucket. One shuffle, keyed on
    (term, doc_id) — the shuffle carries positions, never text.

    Also writes the ``doclens`` norms table (doc_id, dl) — shuffle-free
    (a per-row projection of the same scan). Both subtables + the
    layout geometry (commit meta) land as ONE atomic init commit; every
    later mutation goes through the commit protocol. Refuses a
    non-empty log (the tlog_init_id_mapping doctrine: a second init
    would append a duplicate full index).

    ``use_tlog`` is accepted for callers written when a directory
    format existed; only ``True`` (the log) is valid."""
    if use_tlog is not True:
        raise ValueError(
            "inverted_build: the transaction log is the only layout "
            f"format; use_tlog={use_tlog!r} is not supported"
        )
    t = TLog(path)
    if t.latest_version() != 0:
        raise ValueError(
            f"inverted_build: tlog layout {path} already holds "
            f"{t.latest_version()} commit(s); wipe to rebuild"
        )
    adds = t.write_data(
        # bucket stays an int DATA column — probes filter on it; the
        # log's per-file tag replays it for pruning
        _postings(docs, n_buckets).withColumn(
            "bucket", F.col("bucket").cast("int")
        ),
        bucket_expr=F.col("bucket"),
    )
    adds += retag(t.write_data(_doclens(docs)), TLOG_DOCLENS_TAG)
    t.commit(
        adds=adds,
        op="append",
        meta={"kind": "inverted", "n_buckets": n_buckets},
        base_version=0,
    )


def _postings(docs: DataFrame, n_buckets: int) -> DataFrame:
    sp = F.split("text", " ")
    return (
        docs.select("doc_id", F.posexplode(sp).alias("pos0", "term"))
        .withColumn("pos", F.col("pos0") + 1)
        .groupBy("term", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tf"),
            F.sort_array(F.collect_list("pos")).alias("positions"),
        )
        .withColumn("bucket", _base_hash(F.col("term")) % F.lit(n_buckets))
    )


def _doclens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("dl"),
    )


def inverted_append(
    docs: DataFrame,
    path: str,
    n_buckets: int = 16,
    txn: "tuple[str, int] | None" = None,
) -> None:
    """Append a document batch's postings into an existing layout —
    the maintenance twin of :func:`inverted_build` (same shape as
    ivf_append for the vector tiers): postings are per-document facts,
    so a batch append equals a full rebuild over the union, existing
    files stay byte-identical, and probes see the new documents at the
    same pruned cost. O(batch), never a corpus rescan.

    The batch lands as ONE blind append commit (postings adds tagged by
    bucket + the doclens add) — never blocked by a racing
    vacuum/compact, which instead detects the new files and recomputes.
    ``txn`` (app id, batch seq) makes an at-least-once replay commit
    NOTHING: exactly-once index ingest in the TABLE's protocol (the
    tlog_upsert_stream doctrine extended to a derived artifact)."""
    t = open_layout(path)
    n_buckets = int(t.snapshot().meta["n_buckets"])
    adds = t.write_data(
        _postings(docs, n_buckets).withColumn(
            "bucket", F.col("bucket").cast("int")
        ),
        bucket_expr=F.col("bucket"),
    )
    adds += retag(t.write_data(_doclens(docs)), TLOG_DOCLENS_TAG)
    t.commit(adds=adds, op="append", txn=txn)


def inverted_delete(spark, path: str, doc_ids: list[int]) -> None:
    """Tombstone delete from the inverted layout — the document
    analog of operators/ann.ivf_delete (and another operation the
    reference structurally lacks, main.py:119-126): append the doc ids
    to the layout's tombstone set; EVERY probe reads postings and
    doclens through :func:`read_postings` / :func:`read_doclens`,
    whose live read hides the tombstoned documents — deleted
    documents disappear from hits, tf/df, and the N/avgdl norms
    immediately, resident postings files stay byte-identical.
    O(batch); physical removal rides :func:`inverted_vacuum`."""
    delete_ids(spark, open_layout(path), TLOG_TOMBS_TAG, doc_ids, "doc_id")


def _postings_tags(snap, buckets) -> list[int]:
    return (
        sorted(buckets)
        if buckets is not None
        else list(range(int(snap.meta["n_buckets"])))
    )


def _postings_and_doclens(spark, path: str, buckets=None):
    """(postings, doclens), both live reads of ONE snapshot — what the
    ranked probes score with, so df, N and avgdl describe one version."""
    t = open_layout(path)
    snap = t.snapshot()
    return tuple(
        read_live(spark, t, snap, tags, TLOG_TOMBS_TAG, "doc_id")
        for tags in (_postings_tags(snap, buckets), [TLOG_DOCLENS_TAG])
    )


def read_postings(spark, path: str, buckets=None) -> DataFrame:
    """The ONLY sanctioned way to read the postings: the live read of
    one SNAPSHOT (postings files = tags below the reserved range, minus
    the documents tombstoned in that snapshot), so no probe path can
    resurrect a deleted document.

    ``buckets`` (optional, a probe's term-bucket list) prunes at the
    LOG level — only those buckets' files enter the scan, no directory
    listing, no footer reads for pruned buckets."""
    t = open_layout(path)
    snap = t.snapshot()
    return read_live(
        spark, t, snap, _postings_tags(snap, buckets), TLOG_TOMBS_TAG, "doc_id"
    )


def read_doclens(spark, path: str) -> DataFrame:
    """Live reader for the doclens norms table: deleted documents leave
    N and avgdl as if they were never indexed."""
    t = open_layout(path)
    return read_live(
        spark, t, t.snapshot(), [TLOG_DOCLENS_TAG], TLOG_TOMBS_TAG, "doc_id"
    )


def phrase_probe(
    spark, path: str, first: str, second: str, n_buckets: int = 16
) -> DataFrame:
    """Adjacent-bigram phrase query over the postings layout: read ONLY
    the two terms' buckets (partition pruning, driver-side
    :func:`term_bucket`), join the two postings rows per doc, and count
    adjacency as |positions(first)+1 ∩ positions(second)| — per-row
    array arithmetic on metadata-sized rows. Returns
    (doc_id, n_occurrences > 0)."""
    buckets = sorted({term_bucket(first, n_buckets), term_bucket(second, n_buckets)})
    posts = read_postings(spark, path, buckets=buckets).filter(
        F.col("bucket").isin(buckets)
    )
    a = posts.filter(F.col("term") == first).select(
        "doc_id", F.col("positions").alias("pa")
    )
    b = posts.filter(F.col("term") == second).select(
        "doc_id", F.col("positions").alias("pb")
    )
    return (
        a.join(b, "doc_id")
        .select(
            "doc_id",
            F.size(
                F.array_intersect(
                    F.transform("pa", lambda p: p + 1), F.col("pb")
                )
            )
            .cast("bigint")
            .alias("n_occurrences"),
        )
        .filter(F.col("n_occurrences") > 0)
    )


def proximity_probe(
    spark,
    path: str,
    first: str,
    second: str,
    window: int = 5,
    k: int = 10,
    n_buckets: int = 16,
) -> DataFrame:
    """Proximity-ranked two-term search (the sloppy-phrase / NEAR
    operator of Lucene's SpanNearQuery): read ONLY the two terms'
    hash-bucket partitions, join the two postings rows per doc, and
    score each doc by the number of position pairs within ``window``
    tokens of each other — nested array transforms over the
    metadata-sized positions lists, pure codegen, no corpus scan.
    Returns the top ``k`` by (n_close_pairs DESC, min_gap ASC,
    doc_id ASC): many tight co-occurrences beat one loose one, and the
    tightest pairing breaks ties. Docs where both terms occur but
    never within the window do not rank."""
    buckets = sorted(
        {term_bucket(first, n_buckets), term_bucket(second, n_buckets)}
    )
    posts = read_postings(spark, path, buckets=buckets).filter(
        F.col("bucket").isin(buckets)
    )
    a = posts.filter(F.col("term") == first).select(
        "doc_id", F.col("positions").alias("pa")
    )
    b = posts.filter(F.col("term") == second).select(
        "doc_id", F.col("positions").alias("pb")
    )
    gaps = F.flatten(
        F.transform(
            "pa", lambda p1: F.transform("pb", lambda p2: F.abs(p1 - p2))
        )
    )
    scored = a.join(b, "doc_id").select(
        "doc_id",
        F.size(
            F.filter(gaps, lambda d: (d > 0) & (d <= F.lit(window)))
        )
        .cast("bigint")
        .alias("n_close_pairs"),
        F.array_min(F.filter(gaps, lambda d: d > 0))
        .cast("bigint")
        .alias("min_gap"),
    )
    return (
        scored.filter(F.col("n_close_pairs") > 0)
        .orderBy(
            F.col("n_close_pairs").desc(),
            F.col("min_gap").asc(),
            F.col("doc_id").asc(),
        )
        .limit(k)
    )


def bm25_probe(
    spark,
    path: str,
    terms: list[str],
    n_buckets: int = 16,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Ranked BM25 retrieval served ENTIRELY from the persisted layout
    — no corpus scan: tf and df come from the query terms' pruned
    postings buckets (|terms|/n_buckets of the postings files), dl from
    the ``doclens`` norms table, N/avgdl from its 1-row aggregate.

    Same determinism doctrine as queries_hybrid._bm25_scored (the
    corpus-rescan BM25 this probe must hash-match): rational
    probabilistic idf (N - df + 0.5)/(df + 0.5) without ln() (libm
    independence), each per-(doc, term) score a single double chain
    quantized at 1e-9 and BIGINT-summed so the cross-term reduction is
    order-free. Returns (doc_id, n_terms, score_q) for docs matching
    >= 1 term.

    100 TB shape: postings reads are partition-pruned; the df table is
    <= |terms| rows (broadcast); N/avgdl is 1 row (broadcast); the only
    doc-keyed join is matched-postings x doclens — the norms table is
    ~1/avg_dl the corpus and the matched side is term-selective, which
    AQE is free to broadcast. This is Lucene's execution shape on a
    data lake."""
    from cnc_visionsearch_spark.functions.vector import fixed_point_q

    buckets = sorted({term_bucket(t, n_buckets) for t in terms})
    posts, dl = _postings_and_doclens(spark, path, buckets)
    posts = (
        posts.filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
        .select("term", "doc_id", F.col("tf").cast("double").alias("tf"))
    )
    dfreq = posts.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    dl = dl.select(
        "doc_id", F.col("dl").cast("double").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    scored = (
        posts.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    term_score = idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom
    return (
        scored.select("doc_id", fixed_point_q(term_score).alias("sq"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("sq").alias("score_q"),
        )
    )


def bm25_multi_probe(
    spark,
    path: str,
    queries: list[tuple[int, list[str]]],
    n_buckets: int = 16,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Batch BM25 kNN-join over the inverted layout — the lexical twin
    of ann.ivf_knn_join_probe: MANY queries answered from ONE pruned
    read of the union of their terms' buckets. Per-term, per-doc
    scores depend only on (term, doc) — so the postings slice is
    scored once and every query reuses it through a broadcast
    (qid, term) join; the per-query reduction is a BIGINT sum of the
    shared 1e-9-quantized scores (identical chain to
    :func:`bm25_probe`, so single- and multi-query ranking cannot
    drift). Top-k per qid via the row_number window Spark rewrites to
    WindowGroupLimit. Returns (qid, doc_id, n_terms, score_q).

    100 TB: one partition-pruned postings read + one doclens join pays
    for the WHOLE query batch — the amortization that makes
    micro-batch lexical serving (bm25_serving_stream) throughput-bound
    instead of per-query-bound."""
    from pyspark.sql import Window

    from cnc_visionsearch_spark.functions.vector import fixed_point_q

    all_terms = sorted({t for _, ts in queries for t in ts})
    buckets = sorted({term_bucket(t, n_buckets) for t in all_terms})
    posts, dl = _postings_and_doclens(spark, path, buckets)
    posts = (
        posts.filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(all_terms))
        .select("term", "doc_id", F.col("tf").cast("double").alias("tf"))
    )
    dfreq = posts.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    dl = dl.select(
        "doc_id", F.col("dl").cast("double").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    term_score = idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom
    scored = (
        posts.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("term", "doc_id", fixed_point_q(term_score).alias("sq"))
    )
    qterms = local_frame(
        spark, [(int(q), t) for q, ts in queries for t in ts],
        "qid bigint, term string",
    )
    per_query = (
        scored.join(F.broadcast(qterms), "term")
        .groupBy("qid", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("sq").alias("score_q"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score_q").desc(), F.col("doc_id").asc()
    )
    return (
        per_query.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "doc_id", "n_terms", "score_q")
    )


def _row_families():
    """The layout's two row families: postings (tagged by their
    ``bucket`` column, every tag below the reserved range) and the
    single-tag doclens table."""
    return [
        (lambda b: b < TLOG_DOCLENS_TAG, F.col("bucket")),
        (lambda b: b == TLOG_DOCLENS_TAG, None),
    ]


def inverted_vacuum(spark, path: str) -> bool:
    """Apply accumulated tombstones physically — the text-index twin
    of ann.ivf_vacuum — as ONE rewrite commit
    (:func:`~cnc_visionsearch_spark.sources.tlog.vacuum_tombstones`)
    that rewrites only the postings buckets holding tombstoned docs (a
    document's terms spread across buckets, so the touched set is wider
    than the vector tiers' — the cost a vacuum SCHEDULE amortizes) and
    the doclens norms table, and drops every tombstone file. Results
    are unchanged by construction (the live read already hid the rows);
    untouched buckets keep their files.

    A racing append into a touched bucket or the doclens table, or a
    racing delete, raises :class:`TLogConflictError` (wrap in
    ``run_transaction`` to retry against the new snapshot) — every
    append extends doclens, whose rewrite this vacuum owns, so the
    loser is always the vacuum, never the append. Returns whether it
    committed."""
    return vacuum_tombstones(
        spark, open_layout(path), TLOG_TOMBS_TAG, "doc_id", _row_families()
    )


def inverted_compact(spark, path: str) -> None:
    """Settle the layout's accreted files: rewrite every bucket that
    holds more than one file into one file, plus the doclens table, as
    ONE rewrite commit (a racing append conflicts the compaction, never
    the reverse). No-op on a single-file-per-bucket layout."""
    compact_domains(spark, open_layout(path), _row_families())


def maxscore_pruned_topk(
    spark,
    path: str,
    terms: list[str],
    k: int = 10,
    n_buckets: int = 16,
    k1: float = 1.2,
    b: float = 0.75,
    introspect: dict | None = None,
) -> DataFrame:
    """MaxScore/WAND-family LOSSLESS pruned top-k (Turtle & Flood '95;
    Broder et al. CIKM'03; the skipping discipline behind Lucene's
    WANDScorer): rank exactly like :func:`bm25_probe` while aggregating
    only documents that can still make the top ``k``.

    Three bounded phases over the SAME pruned postings slice the plain
    probe reads (every collect is planner state, commented):

    1. per-term impact bounds ``u_t = max_doc sq(term, doc)`` — the
       1e-9-quantized BM25 impacts, so bounds and scores live in one
       exact BIGINT domain (<= |terms| rows collected). Production
       layouts precompute these at build/compaction like Lucene's
       impacts; deriving them probe-time from live reads keeps the
       bound sound under tombstones (a stale build-time max is NOT an
       upper bound once deletes shrink df and lift idf).
    2. a threshold θ: the k-th best EXACT score among docs containing
       the highest-impact term (k rows collected). A subset's k-th
       best lower-bounds the true k-th best, so pruning with it is
       conservative.
    3. the MaxScore split: terms whose ascending cumulative bound sum
       stays below θ are non-essential — a doc matching ONLY those
       cannot reach θ (sum of its impacts <= the cumulative bound,
       strictly below the k-th best score). Candidates = docs in the
       ESSENTIAL terms' postings; they alone enter the doc-keyed
       aggregation + ranking.

    Losslessness is the registered query's hash gate: the output must
    equal the plain full-aggregation BM25 oracle. At 100 TB the win is
    the doc-keyed shuffle: a query mixing a rare term with stopword-
    class terms aggregates the rare term's postings instead of the
    stopwords' millions of rows (on the fixture: 25 candidate docs
    instead of ~480 — tests/test_analytics pins the pruning).
    """
    from cnc_visionsearch_spark.functions.vector import fixed_point_q

    buckets = sorted({term_bucket(t, n_buckets) for t in terms})
    posts, dl = _postings_and_doclens(spark, path, buckets)
    posts = (
        posts.filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
        .select("term", "doc_id", F.col("tf").cast("double").alias("tf"))
    )
    dfreq = posts.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    dl = dl.select(
        "doc_id", F.col("dl").cast("double").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    joined = (
        posts.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    # the EXACT per-(doc, term) impact chain of bm25_probe — kept in
    # lockstep so pruned and plain ranking cannot drift
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    term_score = idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom
    scored = joined.select(
        "term", "doc_id", fixed_point_q(term_score).alias("sq")
    )
    # the slice feeds three actions (impact bounds, θ, final ranking);
    # the lazy barrier computes the pruned read + doclens join once
    # instead of three times (same discipline as the dedup candidate
    # table)
    if introspect is not None:  # test hook: the barrier severs file
        # lineage on everything downstream, so expose the pre-barrier
        # slice for index-only / bucket-pruning plan assertions
        introspect["scored_slice"] = scored
    scored = scored.localCheckpoint(eager=False)

    def _topk(df: DataFrame) -> DataFrame:
        return (
            df.groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_terms"),
                F.sum("sq").alias("score_q"),
            )
            .orderBy(F.col("score_q").desc(), F.col("doc_id").asc())
            .limit(k)
        )

    # phase 1: impact bounds (collect bounded: <= |terms| rows)
    u = {
        r.term: int(r.u_q)
        for r in scored.groupBy("term").agg(F.max("sq").alias("u_q")).collect()
    }
    if not u:
        return _topk(scored)  # no term matches anywhere -> empty
    t1 = max(u, key=lambda t: (u[t], t))
    # phase 2: θ = k-th best exact score among t1's docs (collect
    # bounded: <= k rows)
    d1 = scored.filter(F.col("term") == t1).select("doc_id")
    head = (
        scored.join(F.broadcast(d1), "doc_id")
        .groupBy("doc_id")
        .agg(F.sum("sq").alias("score_q"))
        .orderBy(F.col("score_q").desc(), F.col("doc_id").asc())
        .limit(k)
        .collect()
    )
    theta = int(head[-1].score_q) if len(head) == k else 0
    # phase 3: MaxScore essential/non-essential split (driver-side on
    # the <= |terms| bounds — planner state, never data)
    cum = 0
    non_essential = []
    for t in sorted(u, key=lambda t: (u[t], t)):
        if cum + u[t] < theta:
            cum += u[t]
            non_essential.append(t)
        else:
            break
    essential = [t for t in u if t not in non_essential]
    cand = (
        scored.filter(F.col("term").isin(essential))
        .select("doc_id")
        .distinct()
    )
    if introspect is not None:  # test hook: expose the pruning decision
        introspect.update(
            {"u": u, "theta": theta, "essential": sorted(essential)}
        )
    return _topk(scored.join(F.broadcast(cand), "doc_id"))


def percolate_docs(
    docs: DataFrame, queries: list[tuple[str, tuple[str, ...]]]
) -> DataFrame:
    """Match a batch of documents against STORED conjunctive queries —
    the operator core shared by the index-served registered query
    (queries_analytics.text_percolator_matches aggregates its output
    shape from postings) and the streaming alerting twin
    (streaming/pipelines.percolator_stream): explode each doc's
    distinct whitespace tokens (the corpus tokenization convention),
    join the broadcast (query_name, term, n_terms) table, and a
    (query_name, doc_id)-keyed count equal to the query's term count
    IS the AND match. Returns (query_name, doc_id) alert pairs.

    Stateless by design: percolation is a per-document decision, so
    the streaming twin needs no keyed state, no watermark — each
    micro-batch is matched independently, which is why alerting
    engines scale horizontally on ingest."""
    s = docs.sparkSession
    qdf = local_frame(
        s, [(n, t, len(ts)) for n, ts in queries for t in ts],
        "query_name string, term string, n_terms int",
    )
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias(
            "term"
        ),
    )
    return (
        toks.join(F.broadcast(qdf), "term")
        .groupBy("query_name", "n_terms", "doc_id")
        .agg(F.count(F.lit(1)).alias("hit"))
        .filter(F.col("hit") == F.col("n_terms"))
        .select("query_name", "doc_id")
    )
