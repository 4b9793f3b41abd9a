"""Derived artifacts under the transaction log (r8 verdict #1): each
tier's full lifecycle serves the rows the retired tmp+rename layouts
served (pinned below as literals and digests recorded from those
layouts), and racing writers are arbitrated per artifact — a
concurrent append+vacuum either SERIALIZES (disjoint conflict domains) or raises
TLogConflictError cleanly and recomputes under run_transaction; no
interleave loses data or tears a read."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from cnc_visionsearch_spark.operators.ann import (
    ivf_append,
    ivf_build,
    ivf_delete,
    ivf_probe,
    ivf_vacuum,
    read_cells,
)
from cnc_visionsearch_spark.operators.dedup import (
    minhash_banded,
    minhash_store_append,
    minhash_store_compact,
    minhash_store_init,
    read_minhash_store,
)
from cnc_visionsearch_spark.operators.knn import with_normalized
from cnc_visionsearch_spark.operators.text_index import (
    bm25_probe,
    inverted_append,
    inverted_build,
    inverted_compact,
    inverted_delete,
    inverted_vacuum,
    read_doclens,
    read_postings,
)
from cnc_visionsearch_spark.sources.catalog import load_table
from cnc_visionsearch_spark.sources.tlog import (
    TLog,
    TLogConflictError,
    run_transaction,
)
from layout_files import resident_rows

SF = "/root/testdata/sf0.001"


def _digest(rows) -> str:
    """md5 of the rows' repr — pins a whole table as one literal."""
    return hashlib.md5(repr(rows).encode()).hexdigest()


def _docs(spark):
    return load_table(spark, SF, "documents").select("doc_id", "text")


def _emb(spark):
    return with_normalized(load_table(spark, SF, "embeddings")).select(
        "vec_id", "nvec"
    )


def _inject_before_first_rewrite(monkeypatch, inject_fn):
    """Deterministic race: the FIRST rewrite commit attempted anywhere
    sees ``inject_fn`` land a racing commit between its snapshot read
    and its version claim — exactly the optimistic-concurrency window
    the protocol arbitrates."""
    orig = TLog.commit
    state = {"armed": True}

    def patched(self, *a, **k):
        if k.get("op") == "rewrite" and state["armed"]:
            state["armed"] = False
            inject_fn()
        return orig(self, *a, **k)

    monkeypatch.setattr(TLog, "commit", patched)
    return state


# ---------------------------------------------------------------- inverted


def test_inverted_tlog_mode_invariant_lifecycle(spark, tmp_path):
    """build -> append -> delete -> vacuum -> compact yields the BM25
    rows the retired directory layout returned for the same lifecycle
    (pinned: row count, digest, top 5)."""
    docs = _docs(spark)
    base = docs.filter(F.col("doc_id") < 150)
    day2 = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 200))
    path = str(tmp_path / "tl")

    def probe():
        return [
            tuple(r)
            for r in bm25_probe(spark, path, ["vector", "scan"], n_buckets=8)
            .orderBy(F.col("score_q").desc(), "doc_id")
            .collect()
        ]

    inverted_build(base, path, n_buckets=8)
    inverted_append(day2, path, n_buckets=8)
    inverted_delete(spark, path, [5, 7, 160])
    pre = probe()
    inverted_vacuum(spark, path)
    tl = probe()
    assert pre == tl  # vacuum never changes results
    assert (len(tl), _digest(tl)) == (184, "8182d6b7760816ec321e8e7c48188c5d")
    assert tl[:5] == [
        (94, 2, 1079873363),
        (131, 2, 1078984421),
        (63, 2, 1072751307),
        (25, 2, 1058893275),
        (41, 2, 1035467255),
    ]
    # compact settles to one file per live domain, results unchanged
    inverted_compact(spark, path)
    assert probe() == tl
    assert read_doclens(spark, path).count() == 197


def test_inverted_racing_append_vs_vacuum_conflicts_and_recomputes(
    spark, tmp_path, monkeypatch
):
    """An append landing inside the vacuum's read->commit window makes
    the vacuum raise TLogConflictError (it owns the doclens domain
    every append extends); run_transaction recomputes against the new
    snapshot and the final state holds BOTH the append and the
    delete's effect — nothing lost, nothing resurrected."""
    path = str(tmp_path / "inv")
    docs = _docs(spark)
    inverted_build(
        docs.filter(F.col("doc_id") < 100), path, n_buckets=8
    )
    inverted_delete(spark, path, [5, 7])
    racing = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 120))
    state = _inject_before_first_rewrite(
        monkeypatch, lambda: inverted_append(racing, path)
    )
    with pytest.raises(TLogConflictError):
        inverted_vacuum(spark, path)
    assert not state["armed"]  # the race actually fired
    # optimistic retry wins cleanly (the injector is spent)
    run_transaction(lambda: inverted_vacuum(spark, path))
    ids = {
        r[0]
        for r in read_doclens(spark, path).select("doc_id").collect()
    }
    assert 5 not in ids and 7 not in ids  # vacuum applied
    assert 110 in ids  # racing append survived
    assert read_postings(spark, path).filter(
        F.col("doc_id").isin(5, 7)
    ).count() == 0


# ---------------------------------------------------------------- IVF


def test_ivf_tlog_mode_invariant_lifecycle(spark, tmp_path):
    """build -> append -> delete -> vacuum serves the probe rows the
    retired directory layout returned (pinned literals)."""
    q = [r["nvec"] for r in _emb(spark).filter(F.col("vec_id") == 3).collect()][0]
    emb = _emb(spark)
    path = str(tmp_path / "tl")
    ivf_build(emb.filter(F.col("vec_id") < 300), path, n_cells=8)
    ivf_append(spark, path, emb.filter(F.col("vec_id") >= 300))
    ivf_delete(spark, path, [3, 7, 450])
    pre = ivf_probe(spark, path, list(q), k=10, nprobe=4).collect()
    ivf_vacuum(spark, path)
    post = [tuple(r) for r in ivf_probe(spark, path, list(q), k=10, nprobe=4).collect()]
    assert [tuple(r) for r in pre] == post
    assert post == [
        (223, 1.3181691692934476),
        (212, 1.3605571723761458),
        (84, 1.360671525790928),
        (426, 1.3698035574338148),
        (278, 1.4612057914616303),
        (137, 1.5080864759005719),
        (32, 1.543794093283275),
        (108, 1.560202670145336),
        (380, 1.5619350001685477),
        (53, 1.5654909493450304),
    ]


def test_ivf_racing_append_to_untouched_cells_serializes(
    spark, tmp_path, monkeypatch
):
    """The DISJOINT-domain case: a racing append whose adds land only
    in cells the vacuum did NOT touch commits between the vacuum's
    read and its claim — and the vacuum still commits cleanly (no
    conflict, no retry): bucket-domain arbitration, not a table lock."""
    path = str(tmp_path / "ivf")
    emb = _emb(spark)
    ivf_build(emb.filter(F.col("vec_id") < 300), path, n_cells=8)
    ivf_delete(spark, path, [3])
    t = TLog(path)
    # the vacuum will touch exactly the deleted id's cell — race an
    # append into a DIFFERENT cell (pick a resident row from one); the
    # raw read still holds the tombstoned row
    cells = resident_rows(spark, path)
    del_cell = cells.filter(F.col("vec_id") == 3).collect()[0]["cell_id"]
    other = cells.filter(F.col("cell_id") != del_cell).limit(1).collect()[0]
    racing_df = spark.createDataFrame(
        [(int(9999), [float(x) for x in other["nvec"]], int(other["cell_id"]))],
        "vec_id bigint, nvec array<double>, cell_id int",
    )

    def racing_append():
        adds = t.write_data(racing_df, bucket_expr=F.col("cell_id"))
        t.commit(adds=adds, op="append")

    state = _inject_before_first_rewrite(monkeypatch, racing_append)
    ivf_vacuum(spark, path)  # must NOT raise: disjoint domains
    assert not state["armed"]
    ids = {r[0] for r in read_cells(spark, path).select("vec_id").collect()}
    assert 3 not in ids  # vacuum applied
    assert 9999 in ids  # racing append survived


def test_ivf_racing_delete_vs_vacuum_conflicts(spark, tmp_path, monkeypatch):
    """A racing DELETE (tombstone domain) inside the vacuum window
    conflicts — the vacuum owns the tombstone set it is retiring; the
    retry applies BOTH deletes."""
    path = str(tmp_path / "ivf2")
    emb = _emb(spark)
    ivf_build(emb.filter(F.col("vec_id") < 300), path, n_cells=8)
    ivf_delete(spark, path, [3])
    state = _inject_before_first_rewrite(
        monkeypatch, lambda: ivf_delete(spark, path, [7])
    )
    with pytest.raises(TLogConflictError):
        ivf_vacuum(spark, path)
    assert not state["armed"]
    run_transaction(lambda: ivf_vacuum(spark, path))
    ids = {r[0] for r in read_cells(spark, path).select("vec_id").collect()}
    assert not ids & {3, 7}


# ----------------------------------------------------- composed codecs


def test_pq_rq_tlog_mode_invariant_lifecycle(spark, tmp_path):
    """r11 (the r10 'last tier' exclusion closed): the composed-codec
    code tables — stride-PQ, trained-PQ and RQ — run build/append/
    delete/vacuum as tlog commits and serve code tables content-equal
    to the retired directory layouts' (pinned digests); ivf_vacuum rewrites the
    touched CODE domains in the SAME commit as the vector rewrite (the
    no-resurrection rule, now atomic)."""
    from cnc_visionsearch_spark.operators.ann import (
        ivf_append,
        ivf_delete,
        ivf_vacuum,
        pq_append,
        pq_build,
        pq_trained_append,
        pq_trained_build,
        read_pq_codes,
        read_pq_trained_codebook,
    )
    from cnc_visionsearch_spark.operators.rq import (
        read_rq_codebooks,
        read_rq_codes,
        rq_build,
        rq_probe_topk,
    )

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") < 300)
    rest = emb.filter(F.col("vec_id") >= 300)
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 9).collect()[0]["nvec"]
    ]

    def by_name(df, cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    out = {}
    for mode in ("tl",):
        p = str(tmp_path / mode)
        ivf_build(base, p, n_cells=4)
        pq_build(spark, p, m=4)
        pq_trained_build(spark, p, m=4, k_star=8, iters=1)
        ivf_append(spark, p, rest)
        pq_append(spark, p, rest, m=4)
        pq_trained_append(spark, p, rest, m=4)
        rq_build(spark, p, emb, k1=4, k2=8, iters=1)
        ivf_delete(spark, p, [3, 9, 450])
        run_transaction(lambda: ivf_vacuum(spark, p))
        out[mode] = {
            "pq": by_name(
                read_pq_codes(spark, p),
                ["vec_id", "sub_j", "code", "cell_id"],
            ),
            "pqt": by_name(
                read_pq_codes(spark, p, trained=True),
                ["vec_id", "sub_j", "code", "cell_id"],
            ),
            "pqt_model": by_name(
                read_pq_trained_codebook(spark, p),
                ["sub_j", "code", "cv"],
            ),
            "rq": by_name(read_rq_codes(spark, p), ["vec_id", "c1", "c2"]),
            "rq_model": tuple(
                by_name(cb, ["code", "cv"])
                for cb in read_rq_codebooks(spark, p)
            ),
            "probe": rq_probe_topk(spark, p, q, emb, k=5).collect(),
        }
    # pinned from the retired directory layouts' lifecycle: (rows, digest)
    pinned = {
        "pq": (1988, "9972fa24b33d3ae7577f1c78f6026489"),
        "pqt": (1988, "1666cf7f4cb0cd22530064a10f8d5527"),
        "pqt_model": (32, "98ed380c1f8217cbfd793833c3b7977a"),
        "rq": (497, "2eb30ef6adb5c867a9522ae31168d511"),
        "rq_model": (2, "c45a5081c2f603ef9c54611402eb5a76"),
    }
    for key, want in pinned.items():
        got = out["tl"][key]
        assert (len(got), _digest(got)) == want, f"{key} diverged"
    assert [tuple(r) for r in out["tl"]["probe"]] == [
        (365, 1.3577022722901495),
        (216, 1.454925765616184),
        (327, 1.4812082936540727),
        (205, 1.5449716711054535),
        (352, 1.5453909806089696),
    ]
    # the vacuum physically removed deleted ids from EVERY code table
    for key in ("pq", "pqt", "rq"):
        assert not {r[0] for r in out["tl"][key]} & {3, 9, 450}
    # deleted query id 9 cannot be served
    assert 9 not in {r.vec_id for r in out["tl"]["probe"]}


def test_pq_build_racing_cell_append_conflicts_and_recomputes(
    spark, tmp_path, monkeypatch
):
    """pq_build's commit declares ALL cell domains as its read set: a
    cell append landing inside the build window would leave appended
    vectors code-less (breaking codes == re-encode-of-union), so the
    build must conflict and recompute over the union."""
    from cnc_visionsearch_spark.operators.ann import (
        ivf_append,
        pq_build,
        read_pq_codes,
    )

    path = str(tmp_path / "pq")
    emb = _emb(spark)
    ivf_build(emb.filter(F.col("vec_id") < 300), path, n_cells=4)
    state = _inject_before_first_rewrite(
        monkeypatch,
        lambda: ivf_append(spark, path, emb.filter(F.col("vec_id") >= 300)),
    )
    with pytest.raises(TLogConflictError):
        pq_build(spark, path, m=4)
    assert not state["armed"]
    run_transaction(lambda: pq_build(spark, path, m=4))
    coded = {r[0] for r in read_pq_codes(spark, path).select("vec_id").collect()}
    full = {r[0] for r in emb.select("vec_id").collect()}
    assert coded == full  # the recompute covered the appended rows


# ----------------------------------------------------------------- shards


def test_shard_tlog_mode_invariant_lifecycle(spark, tmp_path):
    """r10 verdict #3: the shard tier's lifecycle (build -> append ->
    delete -> vacuum -> compact) under tlog commits serves the rows the
    retired tmp+rename layout served (pinned literals)."""
    from cnc_visionsearch_spark.operators.ann import (
        read_shards,
        shard_append,
        shard_build,
        shard_compact,
        shard_delete,
        shard_vacuum,
        sharded_topk_persisted,
    )

    emb = _emb(spark)
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 9).collect()[0]["nvec"]
    ]
    base = emb.filter(F.col("vec_id") < 300)
    rest = emb.filter(F.col("vec_id") >= 300)

    def run(path):
        shard_build(base, path, num_shards=4)
        shard_append(spark, path, rest)
        shard_delete(spark, path, [9, 11])
        pre = sharded_topk_persisted(spark, path, q, k=10).collect()
        shard_vacuum(spark, path)
        post = sharded_topk_persisted(spark, path, q, k=10).collect()
        assert pre == post
        assert not {r.vec_id for r in post} & {9, 11}
        return post

    tl_path = str(tmp_path / "tl")
    tl = run(tl_path)
    assert [tuple(r) for r in tl] == [
        (381, 1.2866169631432427),
        (107, 1.3406439618746575),
        (365, 1.3577022722901495),
        (261, 1.4405745230245282),
        (396, 1.4409251754307357),
        (216, 1.454925765616184),
        (327, 1.4812082936540727),
        (88, 1.4963477640258087),
        (463, 1.4972910644284656),
        (314, 1.4981418103894553),
    ]
    # compact settles every build+append two-file domain to one live
    # file with results unchanged
    run_transaction(lambda: shard_compact(spark, tl_path))
    assert sharded_topk_persisted(spark, tl_path, q, k=10).collect() == tl
    from collections import Counter

    cnt = Counter(b for _p, b in TLog(tl_path).snapshot().files)
    assert cnt and max(cnt.values()) == 1
    # a directory that is not a log layout is refused loudly
    os.makedirs(str(tmp_path / "plain"))
    with pytest.raises(ValueError, match="not a transaction-log"):
        shard_compact(spark, str(tmp_path / "plain"))
    # snapshot reads prune at the log level: one shard's read lists
    # only that shard's file
    one = read_shards(spark, tl_path, shard_ids=[1])
    assert {r.shard for r in one.select("shard").distinct().collect()} == {1}


def test_shard_tlog_negative_ids_and_empty_domain_vacuum(spark, tmp_path):
    """Review findings pinned: (a) tlog shard assignment is pmod, not
    Java % — a negative id under Java remainder would land in a
    NEGATIVE tag that read_shards' range pruning never lists, making
    the row invisible to every probe; (b) vacuuming a tombstone whose
    shard holds no live files (already emptied, or a never-present id)
    retires the tombstone cleanly instead of crashing on a None read."""
    from cnc_visionsearch_spark.operators.ann import (
        read_shards,
        shard_build,
        shard_delete,
        shard_vacuum,
        sharded_topk_persisted,
    )

    emb = spark.createDataFrame(
        [(-3, [1.0, 0.0]), (-8, [0.0, 1.0]), (5, [0.6, 0.8])],
        "vec_id bigint, nvec array<double>",
    )
    path = str(tmp_path / "neg")
    shard_build(emb, path, num_shards=4)
    ids = {r.vec_id for r in read_shards(spark, path).collect()}
    assert ids == {-3, -8, 5}  # negative ids visible (pmod tags)
    got = sharded_topk_persisted(spark, path, [1.0, 0.0], k=2).collect()
    assert got[0].vec_id == -3 and got[0].distance == 0.0
    # empty shard 0 (sole member -8), then vacuum a tombstone whose
    # domain now holds zero files — must retire, not crash
    shard_delete(spark, path, [-8])
    run_transaction(lambda: shard_vacuum(spark, path))
    assert {r.vec_id for r in read_shards(spark, path).collect()} == {-3, 5}
    shard_delete(spark, path, [4])  # pmod 0: the emptied, file-less shard
    run_transaction(lambda: shard_vacuum(spark, path))  # no AttributeError
    snap = TLog(path).snapshot()
    from cnc_visionsearch_spark.operators.ann import TLOG_IVF_TOMBS_TAG

    assert not snap.files_in([TLOG_IVF_TOMBS_TAG])  # tombstones retired
    assert {r.vec_id for r in read_shards(spark, path).collect()} == {-3, 5}


def test_shard_racing_append_to_untouched_shards_serializes(
    spark, tmp_path, monkeypatch
):
    """Disjoint shard domains: an append racing a vacuum that touches
    OTHER shards commits between the vacuum's read and claim, and the
    vacuum still commits cleanly — the arbitration the mutex-only
    layout resolved by refusal now serializes."""
    from cnc_visionsearch_spark.operators.ann import (
        read_shards,
        shard_build,
        shard_delete,
        shard_vacuum,
    )

    path = str(tmp_path / "sh")
    emb = _emb(spark)
    shard_build(
        emb.filter(F.col("vec_id") < 300), path, num_shards=4
    )
    shard_delete(spark, path, [8])  # shard 0 — vacuum touches only it
    t = TLog(path)
    donor = read_shards(spark, path, shard_ids=[3]).limit(1).collect()[0]
    racing_df = spark.createDataFrame(
        [(9999, [float(x) for x in donor["nvec"]], 3)],
        "vec_id bigint, nvec array<double>, shard int",
    )

    def racing_append():
        t.commit(adds=t.write_data(racing_df, bucket_expr=F.col("shard")))

    state = _inject_before_first_rewrite(monkeypatch, racing_append)
    shard_vacuum(spark, path)  # must NOT raise: disjoint domains
    assert not state["armed"]
    ids = {r[0] for r in read_shards(spark, path).select("vec_id").collect()}
    assert 8 not in ids and 9999 in ids


def test_shard_racing_delete_vs_vacuum_conflicts(spark, tmp_path, monkeypatch):
    """A racing delete (tombstone domain) inside the vacuum window
    conflicts; the run_transaction retry applies BOTH deletes."""
    from cnc_visionsearch_spark.operators.ann import (
        read_shards,
        shard_build,
        shard_delete,
        shard_vacuum,
    )

    path = str(tmp_path / "sh2")
    emb = _emb(spark)
    shard_build(
        emb.filter(F.col("vec_id") < 300), path, num_shards=4
    )
    shard_delete(spark, path, [8])
    state = _inject_before_first_rewrite(
        monkeypatch, lambda: shard_delete(spark, path, [9])
    )
    with pytest.raises(TLogConflictError):
        shard_vacuum(spark, path)
    assert not state["armed"]
    run_transaction(lambda: shard_vacuum(spark, path))
    ids = {r[0] for r in read_shards(spark, path).select("vec_id").collect()}
    assert not ids & {8, 9}


# ---------------------------------------------------------------- minhash


def test_minhash_store_racing_append_vs_compact(spark, tmp_path, monkeypatch):
    """compact (rewrite over every band domain) racing an append:
    conflict + clean retry; the final store holds base + both appends
    exactly once per (doc, band, sig) — at-least-once replays and the
    race both collapse to exactly-once content."""
    path = str(tmp_path / "mh")
    docs = _docs(spark)
    banded = lambda lo, hi: minhash_banded(  # noqa: E731
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
        num_hashes=16, bands=4, shingle_n=3,
    )
    minhash_store_init(banded(0, 100), path)
    minhash_store_append(banded(100, 150), path, txn=("d2", 1))
    minhash_store_append(banded(100, 150), path, txn=("d2", 1))  # replay
    racing = banded(150, 170)
    state = _inject_before_first_rewrite(
        monkeypatch, lambda: minhash_store_append(racing, path, txn=("d3", 1))
    )
    with pytest.raises(TLogConflictError):
        minhash_store_compact(spark, path)
    assert not state["armed"]
    run_transaction(lambda: minhash_store_compact(spark, path))
    rows = read_minhash_store(spark, path)
    # exactly-once content: every (doc, band) appears once per band
    assert rows.count() == rows.dropDuplicates(
        ["doc_id", "band_id", "band_sig"]
    ).count()
    ids = {r[0] for r in rows.select("doc_id").distinct().collect()}
    # shingle-less docs (< 3 tokens) legitimately have no signature
    assert 160 in ids and 120 in ids and 50 in ids
    # settled: one file per band
    assert len(TLog(path).snapshot().files) == 4


def test_minhash_store_replayed_append_commits_nothing(spark, tmp_path):
    path = str(tmp_path / "mh2")
    docs = _docs(spark)
    b = minhash_banded(docs.filter(F.col("doc_id") < 50))
    minhash_store_init(b, path)
    d2 = minhash_banded(
        docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 80))
    )
    v1 = minhash_store_append(d2, path, txn=("day", 1))
    n1 = read_minhash_store(spark, path).count()
    v2 = minhash_store_append(d2, path, txn=("day", 1))
    assert v2 == v1
    assert read_minhash_store(spark, path).count() == n1


def test_store_probe_divergent_text_latest_batch_wins(spark):
    """r8 advice: when store docs carry the streaming twin's
    ``_src_batch`` provenance, a doc re-delivered with DIVERGENT text
    verifies against the LATEST delivery's content (max _src_batch),
    matching upsert semantics — never against file-scan order or the
    lexically-max text."""
    from cnc_visionsearch_spark.operators.dedup import (
        minhash_banded,
        minhash_store_probe,
    )

    old_text = "alpha beta gamma delta epsilon zeta"
    new_text = "aaaa bbbb cccc dddd eeee ffff"  # lexically SMALLER
    store_docs = spark.createDataFrame(
        [
            (1, old_text, "run:0001"),
            (1, new_text, "run:0002"),  # latest delivery, changed text
        ],
        "doc_id bigint, text string, _src_batch string",
    )
    # the banded store reflects the latest content (as the streaming
    # appender would have written it)
    store_banded = minhash_banded(
        store_docs.filter(F.col("_src_batch") == "run:0002").select(
            "doc_id", "text"
        )
    )
    batch = spark.createDataFrame(
        [(100, new_text)], "doc_id bigint, text string"
    )
    pairs = minhash_store_probe(
        batch, store_banded, store_docs, jaccard_threshold=0.9
    ).collect()
    # identical to the LATEST text -> jaccard 1.0; had max(text)
    # picked the old row, jaccard would be 0 and no pair would pass
    assert [(r.batch_id, r.store_id) for r in pairs] == [(100, 1)]
    assert pairs[0].jaccard == 1.0


def test_inverted_append_txn_replay_commits_nothing(spark, tmp_path):
    """Exactly-once index ingest on a transactional layout: the same
    batch appended twice under one txn key lands ONCE (the replay
    finds its txn in the log and commits nothing); a directory that is
    not a log layout refuses appends loudly."""
    path = str(tmp_path / "inv")
    docs = _docs(spark)
    inverted_build(
        docs.filter(F.col("doc_id") < 100), path, n_buckets=8
    )
    day2 = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 130))
    inverted_append(day2, path, txn=("ing", 1))
    n1 = read_doclens(spark, path).count()
    inverted_append(day2, path, txn=("ing", 1))  # at-least-once replay
    assert read_doclens(spark, path).count() == n1 == 130
    # only a log can honor the idempotence contract
    plain = str(tmp_path / "plain")
    os.makedirs(plain)
    with pytest.raises(ValueError, match=f"{plain} is not a transaction-log"):
        inverted_append(day2, plain, txn=("ing", 1))


def test_inverted_ingest_stream_exactly_once_on_tlog_layout(
    spark, tmp_path
):
    """The streaming ingest pipeline passes (run id, batch id) txn
    keys on transactional layouts — streamed layout == one-shot batch
    append, and the commit log shows every batch exactly once."""
    from cnc_visionsearch_spark.streaming.pipelines import (
        inverted_ingest_stream,
    )

    docs = _docs(spark)
    path = str(tmp_path / "inv")
    inverted_build(
        docs.filter(F.col("doc_id") < 100), path, n_buckets=8
    )
    stream_dir = str(tmp_path / "in")
    docs.filter(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 160)
    ).coalesce(2).write.parquet(stream_dir)
    q = inverted_ingest_stream(
        spark,
        stream_dir,
        path,
        str(tmp_path / "ckpt"),
        n_buckets=8,
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    assert read_doclens(spark, path).count() == 160
    got = (
        bm25_probe(spark, path, ["vector", "scan"], n_buckets=8)
        .orderBy(F.col("score_q").desc(), "doc_id")
        .collect()
    )
    # one-shot twin over the same final corpus
    ref = str(tmp_path / "ref")
    inverted_build(
        docs.filter(F.col("doc_id") < 160), ref, n_buckets=8
    )
    want = (
        bm25_probe(spark, ref, ["vector", "scan"], n_buckets=8)
        .orderBy(F.col("score_q").desc(), "doc_id")
        .collect()
    )
    assert got == want
    # every committed append carries its txn (exactly-once evidence)
    txns = [
        h["txn"] for h in TLog(path).history() if h["txn"] is not None
    ]
    assert len(txns) == len({(t["app"], t["seq"]) for t in txns}) >= 1


def test_shard_ingest_stream_exactly_once_on_tlog_layout(spark, tmp_path):
    """r11: the shard tier's streaming ingest twin (shard_ingest_stream)
    passes (run id, batch id) txn keys on transactional layouts —
    streamed layout == one-shot batch build over the same corpus, every
    committed batch appears exactly once in the log, and pre-existing
    data files survive byte-identical."""
    import hashlib

    from cnc_visionsearch_spark.operators.ann import (
        shard_build,
        sharded_topk_persisted,
    )
    from cnc_visionsearch_spark.operators.knn import with_normalized
    from cnc_visionsearch_spark.streaming.pipelines import shard_ingest_stream

    emb = with_normalized(load_table(spark, SF, "embeddings"))
    path = str(tmp_path / "sh")
    shard_build(
        emb.filter(F.col("vec_id") < 300), path, num_shards=4
    )

    def md5s():
        out = {}
        for dp, _d, fs in os.walk(os.path.join(path, "data")):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(dp, f)
                    with open(p, "rb") as fh:
                        out[p] = hashlib.md5(fh.read()).hexdigest()
        return out

    before = md5s()
    stream_dir = str(tmp_path / "in")
    load_table(spark, SF, "embeddings").filter(
        F.col("vec_id") >= 300
    ).coalesce(2).write.parquet(stream_dir)
    q = shard_ingest_stream(
        spark,
        stream_dir,
        path,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    after = md5s()
    for p, digest in before.items():
        assert after.get(p) == digest  # resident files byte-identical
    # probe over the streamed-into layout == one-shot build twin
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 301).first()["nvec"]
    ]
    ref = str(tmp_path / "ref")
    shard_build(emb, ref, num_shards=4)
    got = sharded_topk_persisted(spark, path, qv, k=10).collect()
    want = sharded_topk_persisted(spark, ref, qv, k=10).collect()
    assert got == want
    assert got[0].vec_id == 301 and got[0].distance == 0.0
    # every committed append carries its txn exactly once
    txns = [h["txn"] for h in TLog(path).history() if h["txn"] is not None]
    assert len(txns) == len({(t["app"], t["seq"]) for t in txns}) >= 1


def test_inverted_concurrent_mixed_workload_serializes(spark, tmp_path):
    """Torture the arbitration with REAL threads: four appenders
    (disjoint doc ranges), two deleters, and a vacuum+compact loop all
    racing on one transactional layout. Whatever the interleave, the
    final state must equal the serial outcome: every appended doc
    present exactly once, every deleted doc gone everywhere, no torn
    reads (the probe at the end equals a from-scratch build over the
    surviving docs)."""
    import threading

    from cnc_visionsearch_spark.sources.tlog import run_transaction

    path = str(tmp_path / "inv")
    docs = _docs(spark)
    inverted_build(
        docs.filter(F.col("doc_id") < 100), path, n_buckets=8
    )
    ranges = [(100, 130), (130, 160), (160, 190), (190, 220)]
    deletes = [[3, 17], [105, 42]]
    errs: list = []

    def appender(lo, hi):
        try:
            inverted_append(
                docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
                path,
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def deleter(ids):
        try:
            inverted_delete(spark, path, ids)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def maintainer():
        try:
            run_transaction(
                lambda: inverted_vacuum(spark, path), max_retries=20
            )
            run_transaction(
                lambda: inverted_compact(spark, path), max_retries=20
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = (
        [threading.Thread(target=appender, args=r) for r in ranges]
        + [threading.Thread(target=deleter, args=(d,)) for d in deletes]
        + [threading.Thread(target=maintainer)]
    )
    [t.start() for t in threads]
    [t.join() for t in threads]
    assert not errs
    # final maintenance pass applies any tombstones the racing vacuum
    # legitimately missed (deletes that landed after its snapshot)
    run_transaction(lambda: inverted_vacuum(spark, path), max_retries=20)
    deleted = {i for d in deletes for i in d}
    expect = set(range(220)) - deleted
    ids = {r[0] for r in read_doclens(spark, path).select("doc_id").collect()}
    assert ids == expect
    dl = read_doclens(spark, path)
    assert dl.count() == dl.select("doc_id").distinct().count()
    got = (
        bm25_probe(spark, path, ["vector", "scan"], n_buckets=8)
        .orderBy(F.col("score_q").desc(), "doc_id")
        .collect()
    )
    ref = str(tmp_path / "ref")
    inverted_build(
        docs.filter(F.col("doc_id") < 220).filter(
            ~F.col("doc_id").isin(sorted(deleted))
        ),
        ref,
        n_buckets=8,
    )
    want = (
        bm25_probe(spark, ref, ["vector", "scan"], n_buckets=8)
        .orderBy(F.col("score_q").desc(), "doc_id")
        .collect()
    )
    assert got == want


# ---------------------------------------------------------------- NSW graph
# r10: the graph tier joins the transactional-artifact doctrine (the
# r9 scope exclusion "a graph-ANN append racing a compact is still
# unarbitrated" closed): nsw_build lays the edge table
# down as ONE init commit with src_bucket conflict domains, appends
# are blind commits, nsw_compact is a rewrite commit over the touched
# buckets.


def test_nsw_tlog_mode_invariant_search_and_blind_append(spark, tmp_path):
    """The NSW layout serves the beam search the retired directory
    layout served (pinned literals), and appends land as blind commits:
    resident edge files stay byte-identical, appended nodes reachable."""
    from cnc_visionsearch_spark.operators.graph_ann import (
        nsw_append,
        nsw_build,
        nsw_search,
    )

    emb = _emb(spark)
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 5).first()["nvec"]
    ]
    tl = str(tmp_path / "tl")
    nsw_build(emb, tl, m=6, n_buckets=8, n_entries=2)
    assert nsw_search(spark, tl, q, k=10, ef=16, hops=4) == [
        (5, 0.0),
        (113, 1.2711349220115475),
        (440, 1.381490229488229),
        (234, 1.391176095557496),
        (298, 1.4018538191615226),
        (448, 1.4416969901719556),
        (118, 1.4529155619180167),
        (31, 1.4746708605571224),
        (143, 1.5270241752715161),
        (109, 1.5515429802403877),
    ]

    def sig(root):
        out = {}
        for r, _d, fs in os.walk(os.path.join(root, "data")):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(r, f)
                    out[p] = (os.path.getsize(p), os.path.getmtime(p))
        return out

    before = sig(tl)
    new = spark.createDataFrame(
        [(10_000, q)], "vec_id bigint, nvec array<double>"
    )
    nsw_append(spark, tl, new)
    after = sig(tl)
    assert set(before) <= set(after) and len(after) > len(before)
    for p, s in before.items():
        assert after[p] == s  # resident files byte-untouched
    ids = [i for i, _ in nsw_search(spark, tl, q, k=5, ef=16, hops=4)]
    assert 10_000 in ids
    t = TLog(tl)
    ops = [t._read_commit(v)["op"] for v in t._versions()]
    assert ops.count("append") >= 2  # init commit + the blind append


def test_nsw_tlog_compact_racing_append_conflicts_and_recomputes(
    spark, tmp_path, monkeypatch
):
    """An append landing inside nsw_compact's read->commit window makes
    the compact raise TLogConflictError (overlapping src_bucket
    domains); run_transaction recomputes against the new snapshot and
    the final graph holds the racing edges — nothing lost."""
    from collections import Counter

    from cnc_visionsearch_spark.operators.graph_ann import (
        nsw_append,
        nsw_build,
        nsw_compact,
        nsw_search,
    )

    emb = _emb(spark)
    path = str(tmp_path / "tl")
    nsw_build(
        emb.filter(F.col("vec_id") < 300),
        path,
        m=6,
        n_buckets=8,
        n_entries=2,
    )
    nsw_append(
        spark,
        path,
        emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 305)),
    )  # buckets now hold >1 file: the compact has work to declare
    racing = emb.filter((F.col("vec_id") >= 305) & (F.col("vec_id") < 308))
    state = _inject_before_first_rewrite(
        monkeypatch, lambda: nsw_append(spark, path, racing)
    )
    with pytest.raises(TLogConflictError):
        nsw_compact(spark, path)
    assert not state["armed"]  # the race actually fired
    run_transaction(lambda: nsw_compact(spark, path))
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 306).first()["nvec"]
    ]
    ids = [i for i, _ in nsw_search(spark, path, qv, k=5, ef=16, hops=4)]
    assert 306 in ids  # racing append survived the recomputed compact
    cnt = Counter(
        b
        for _p, b in TLog(path).snapshot().files
        if b is not None and b < 8
    )
    assert cnt and max(cnt.values()) == 1  # every bucket settled to 1 file


def test_tlog_graph_builds_validate_conflict_domain_bounds(spark, tmp_path):
    """r10 advice: the (layer, bucket) conflict-domain tag is
    layer * TLOG_HNSW_LAYER_STRIDE + bucket, so n_buckets >= STRIDE
    silently aliases tags ACROSS layers (wrong pruning, wrong
    append/compact conflict domains). The invariant was docstring
    prose; it is now a loud ValueError before any file is written.
    Same for NSW's reserved entries tag."""
    from cnc_visionsearch_spark.operators.graph_ann import (
        TLOG_HNSW_LAYER_STRIDE,
        TLOG_NSW_ENTRIES_TAG,
        hnsw_build,
        nsw_build,
    )

    emb = _emb(spark).limit(10)
    hp = str(tmp_path / "h")
    with pytest.raises(ValueError, match="TLOG_HNSW_LAYER_STRIDE"):
        hnsw_build(
            emb, hp, n_buckets=TLOG_HNSW_LAYER_STRIDE
        )
    np_ = str(tmp_path / "n")
    with pytest.raises(ValueError, match="entries conflict-domain tag"):
        nsw_build(
            emb, np_, n_buckets=TLOG_NSW_ENTRIES_TAG
        )
    from cnc_visionsearch_spark.operators.ann import (
        TLOG_TAG_STRIDE_GAP,
        shard_build,
    )

    sp = str(tmp_path / "s")
    with pytest.raises(ValueError, match="reserved tag stride gap"):
        shard_build(emb, sp, num_shards=TLOG_TAG_STRIDE_GAP)
    # the refusal wrote NOTHING: no tlog dir, no partial layout
    import os as _os

    assert not _os.path.exists(_os.path.join(hp, "_tlog"))
    assert not _os.path.exists(_os.path.join(np_, "_tlog"))


def test_hnsw_tlog_mode_invariant_and_meta_entry_promotion(
    spark, tmp_path
):
    """HNSW joins the doctrine: the descent returns the rows the retired
    directory layout returned (pinned literals); an append whose node
    out-levels the entry PROMOTES it through a meta-key commit
    (read-modify-write serialized by base_version),
    and hnsw_compact settles every (layer, bucket) domain to one file
    with results unchanged."""
    from collections import Counter

    from cnc_visionsearch_spark.operators.graph_ann import (
        hnsw_append,
        hnsw_build,
        hnsw_compact,
        hnsw_level_col,
        hnsw_search,
    )

    emb = _emb(spark)
    lv = emb.select(
        "vec_id", "nvec", hnsw_level_col("vec_id", 8, 3).alias("level")
    )
    base = lv.filter(F.col("level") <= 1).select("vec_id", "nvec")
    hi = (
        lv.filter(F.col("level") >= 2)
        .orderBy("vec_id")
        .limit(1)
        .first()
    )
    assert hi is not None, "fixture has no level>=2 node"
    tl = str(tmp_path / "tl")
    hnsw_build(
        base, tl, m=6, m_upper=4, level_mult=8, max_level=3, n_buckets=8
    )
    qid = base.orderBy("vec_id").first()
    q = [float(x) for x in qid["nvec"]]
    pinned = [
        (0, 0.0),
        (17, 1.3310874376696016),
        (225, 1.3697452825815666),
        (12, 1.3779455356583084),
        (483, 1.3990975603533056),
        (260, 1.4026616935355627),
        (73, 1.4055235568223716),
        (212, 1.4372016103731433),
        (347, 1.450984773364004),
        (402, 1.4510002844731653),
    ]
    assert hnsw_search(spark, tl, q, k=10, ef=16, hops=4, upper_hops=2) == pinned
    newbie = spark.createDataFrame(
        [(int(hi["vec_id"]), [float(x) for x in hi["nvec"]])],
        "vec_id bigint, nvec array<double>",
    )
    hnsw_append(spark, tl, newbie)
    a2 = hnsw_search(spark, tl, q, k=10, ef=16, hops=4, upper_hops=2)
    assert a2 == pinned  # the retired layout returned the same rows
    # the promotion landed as commit meta, not a directory swap
    ent = TLog(tl).snapshot().meta["entry"]
    assert int(ent["vec_id"]) == int(hi["vec_id"])
    assert int(ent["level"]) >= 2
    # compact: every domain settles to one live file, results unchanged
    run_transaction(lambda: hnsw_compact(spark, tl))
    assert hnsw_search(spark, tl, q, k=10, ef=16, hops=4, upper_hops=2) == a2
    cnt = Counter(b for _p, b in TLog(tl).snapshot().files if b is not None)
    assert cnt and max(cnt.values()) == 1
