"""The two workloads.  Each is a closed loop with one client thread:
the next operation starts when the previous one has returned and been
checked.  The library is driven only through its public functions.

``serve``   the search service.  Search phase: build IVF + RQ + inverted
            index + HNSW, then serve knn / rq / hnsw / bm25 requests in
            seeded order.  Ingest phase: writes beside reads on
            transactional (tlog) tables: upserts into an id_mapping,
            appends / deletes / compactions of an inverted index, and a
            read-after-write BM25 probe per cycle.
``corpus``  repeated ``pipeline.build_training_corpus`` over seeded row
            orders of one document table.

This module is imported only after ``run.py`` has pointed the library's
artifact and scratch directories at the run's private directory.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import inputs
import layers
import spans
from cnc_visionsearch_spark import pipeline, service
from cnc_visionsearch_spark.operators import ann, graph_ann, ingest, rq, text_index
from cnc_visionsearch_spark.operators.knn import with_normalized
from cnc_visionsearch_spark.session import get_session
from cnc_visionsearch_spark.sources.catalog import load_table
from cnc_visionsearch_spark.sources.tlog import TLog, run_transaction

SIZES = {
    # below sf0.01 in vectors: the exact-candidate HNSW build is quadratic
    "default": dict(n_vec=400, n_docs=2000, ingest_base=1000, corpus_docs=2000),
    # sf0.001-sized, for the self-test
    "tiny": dict(n_vec=200, n_docs=400, ingest_base=200, corpus_docs=400),
}
SETUP_ROUNDS = 5
# untimed corpus builds between the cold one and the timed ones
CORPUS_WARM_BUILDS = 1
# the geometry of the registry's ensure_* builders
IVF_CELLS, RQ_K1, RQ_K2, RQ_ITERS, RQ_NPROBE, RQ_DEPTH = 8, 16, 32, 3, 4, 80
HNSW = dict(m=12, m_upper=8, level_mult=8, max_level=3)
HNSW_EF, HNSW_HOPS, HNSW_UPPER_HOPS = 24, 6, 3
INV_BUCKETS = 16
K = 10
# run-level quality floors on mean recall@10 against the brute force
RECALL_FLOOR = {"rq": 0.1, "hnsw": 0.5}
# funnel of build_training_corpus over the default corpus; every keep/drop
# decision is a pure function of the row, so no row order may change it
CORPUS_FUNNEL = [
    ("1_exact_dedup", 2000, 1958, 42),
    ("2_neardup_dedup", 1958, 1906, 52),
    ("3_quality_filter", 1906, 1865, 41),
    ("4_decontamination", 1865, 1639, 226),
    ("5_stratified_sample", 1639, 551, 1088),
]


class Run:
    """State of one benchmark run: the session, the timed operations
    and the problems the checks found."""

    def __init__(self, root: str, seed: int, seconds: float, size: str, traced: bool):
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.size = SIZES[size]
        self.size_name = size
        self.traced = traced
        self.rng = np.random.default_rng(seed)
        self.spark = None
        self.tracer = None
        self.ops: list[dict] = []
        self.problems: list[str] = []
        self.failed = 0
        # end-of-run checks count as operations of their own
        self.final_attempted = 0
        self.final_failed = 0
        self.info: dict = {}
        self.warming = False

    # ---- session and set-up -----------------------------------------------

    def new_session(self):
        return get_session(
            app_name="perfbench",
            cpus=os.cpu_count() or 4,
            extra_conf={"spark.sql.warehouse.dir": os.path.join(self.root, "warehouse")},
        )

    def setup_rounds(self, stage, warm) -> str:
        """Set up ``SETUP_ROUNDS`` times, each with a fresh SparkSession,
        fresh staged inputs and a warm-up; the last round's session and
        inputs stay.  Round 0 also pays the JVM launch."""
        setup_t, warm_t = [], []
        for r in range(SETUP_ROUNDS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self.new_session()
            if r == 0:
                self.info["session_start_s"] = time.perf_counter() - t0
            sf = os.path.join(self.root, f"stage{r}")
            os.makedirs(sf)
            stage(sf)
            tw = time.perf_counter()
            warm(self.spark, sf)
            warm_t.append(time.perf_counter() - tw)
            setup_t.append(time.perf_counter() - t0)
        self.info["setup_rounds_s"] = setup_t
        self.info["setup_s"] = statistics.median(setup_t)
        self.info["warm_s"] = statistics.median(warm_t)
        return sf

    def start_tracer(self) -> None:
        """A tracer on the final session; it wraps the library only in a
        traced run, so an untraced run calls the library directly."""
        sc = self.spark.sparkContext
        self.tracer = spans.Tracer(sc, spans.ProcCpu(sc._gateway.proc.pid))
        if self.traced:
            layers.install(self.tracer)

    # ---- timed operations -------------------------------------------------

    def op(self, kind: str, fn):
        """One timed operation of the closed loop.  In a traced run half
        the operations are traced, so the other half gives the tracing
        overhead.  An exception counts as a failed operation."""
        tr = self.tracer
        # every other operation of each kind is traced
        same = sum(1 for o in self.ops if o["kind"] == kind and not o["warm"])
        rec = {"kind": kind, "traced": self.traced and not self.warming and same % 2 == 0,
               "warm": self.warming}
        tr.cpu.refresh()
        cpu0 = time.process_time() * 1000.0 + tr.cpu.ms()
        tr.enabled = rec["traced"]
        t0 = time.perf_counter()
        out = None
        try:
            with tr.span(f"op.{kind}", request=kind):
                out = fn()
        except Exception:
            self.problems.append(f"{kind}: raised\n{traceback.format_exc()}")
            rec["failed"] = True
        finally:
            rec["ms"] = (time.perf_counter() - t0) * 1000.0
            tr.enabled = False
            tr.cpu.refresh()
            rec["cpu_ms"] = time.process_time() * 1000.0 + tr.cpu.ms() - cpu0
            self.ops.append(rec)
        self.failed += bool(rec.get("failed"))
        return out

    def fail(self, problem: str) -> None:
        """Mark the last operation failed (once) and keep the reason."""
        self.problems.append(problem)
        if self.ops and not self.ops[-1].get("failed"):
            self.ops[-1]["failed"] = True
            self.failed += 1

    def check(self, probs: list[str]) -> None:
        for p in probs[:3]:
            self.fail(p)

    def final_check(self, probs: list[str]) -> None:
        self.final_attempted += 1
        if probs:
            self.final_failed += 1
            self.problems.extend(probs)

    def timed_phase(self, name: str, fn) -> float:
        """Seconds ``fn`` takes (a build); traced as one request when tracing."""
        self.tracer.enabled = self.traced
        t0 = time.perf_counter()
        with self.tracer.span(name, request=name):
            fn()
        self.tracer.enabled = False
        return time.perf_counter() - t0

    def loop_done(self, t0: float, blocks: int, min_blocks: int, share: float = 1.0) -> bool:
        """A loop measures its ``share`` of the run's seconds, and at least
        ``min_blocks`` blocks of operations."""
        return time.perf_counter() - t0 >= self.seconds * share and blocks >= min_blocks


def _collect(run: Run, name: str, df):
    with run.tracer.span(f"{name}.action"):
        return df.collect()


# ---------------------------------------------------------------- serve

def serve(run: Run) -> dict:
    """Search phase, then ingest phase, on one session."""
    sz = run.size
    emb_pd = inputs.embeddings(sz["n_vec"])
    docs_pd = inputs.documents(sz["n_docs"])

    def stage(sf):
        inputs.write_table(emb_pd, os.path.join(sf, "embeddings.parquet"))
        inputs.write_table(docs_pd, os.path.join(sf, "documents.parquet"))

    sf = run.setup_rounds(stage, lambda spark, sf: load_table(spark, sf, "embeddings").count())
    run.start_tracer()
    search_phase(run, sf, emb_pd, docs_pd)
    ingest_phase(run, sf, docs_pd)
    run.info["build_s"] = run.info["index_build_s"] + run.info["graph_build_s"] + run.info["ingest_build_s"]
    return run.info


def search_phase(run: Run, sf: str, emb_pd: pd.DataFrame, docs_pd: pd.DataFrame) -> None:
    """Build IVF + RQ + inverted index + HNSW, then serve knn / rq / hnsw /
    bm25 requests in seeded order, each block holding one of each."""
    spark = run.spark
    corpus_n = checks.normalized(np.stack(emb_pd["embedding"].to_numpy()))
    emb = with_normalized(load_table(spark, sf, "embeddings"))
    docs = load_table(spark, sf, "documents")
    art = os.path.join(run.root, "artifacts")
    p_ivf, p_inv, p_hnsw = (os.path.join(art, x) for x in ("ivf", "inverted", "hnsw"))

    t_ivf = run.timed_phase("build.ivf", lambda: ann.ivf_build(emb, p_ivf, n_cells=IVF_CELLS))
    t_rq = run.timed_phase("build.rq", lambda: rq.rq_build(
        spark, p_ivf, emb, k1=RQ_K1, k2=RQ_K2, iters=RQ_ITERS))
    t_inv = run.timed_phase("build.inverted", lambda: text_index.inverted_build(
        docs, p_inv, n_buckets=INV_BUCKETS, use_tlog=True))
    t_hnsw = run.timed_phase("build.hnsw", lambda: graph_ann.hnsw_build(
        emb.select("vec_id", "nvec"), p_hnsw, **HNSW))
    run.info.update(index_build_s=t_ivf + t_rq + t_inv, graph_build_s=t_hnsw)

    recalls = {"rq": [], "hnsw": []}

    def knn(qv, qn):
        def go():
            return _collect(run, "service.search_drawing", service.search_drawing(spark, sf, list(qv), top_k=K))
        rows = run.op("knn", go)
        if rows is not None:
            run.check(checks.check_knn(checks.brute_topk(corpus_n, qn, K),
                                       [(r["str_id"], r["distance"]) for r in rows]))

    def rq_req(qv, qn):
        def go():
            df = rq.rq_probe_topk(spark, p_ivf, list(qn), emb, k=K, nprobe=RQ_NPROBE, depth=RQ_DEPTH)
            return _collect(run, "rq.rq_probe_topk", df)
        rows = run.op("rq", go)
        if rows is not None:
            got = [(int(r["vec_id"]), float(r["distance"])) for r in rows]
            run.check(checks.check_ann(corpus_n, qn, got, K, "rq"))
            recalls["rq"].append(checks.recall(checks.brute_topk(corpus_n, qn, K), got))

    def hnsw(qv, qn):
        got = run.op("hnsw", lambda: graph_ann.hnsw_search(
            spark, p_hnsw, list(qn), k=K, ef=HNSW_EF, hops=HNSW_HOPS, upper_hops=HNSW_UPPER_HOPS))
        if got is not None:
            got = [(int(i), float(d)) for i, d in got]
            run.check(checks.check_ann(corpus_n, qn, got, K, "hnsw"))
            recalls["hnsw"].append(checks.recall(checks.brute_topk(corpus_n, qn, K), got))

    def bm25(terms):
        def go():
            df = text_index.bm25_probe(spark, p_inv, terms, n_buckets=INV_BUCKETS)
            top = df.orderBy(F.col("score_q").desc(), F.col("doc_id").asc()).limit(K)
            return _collect(run, "text_index.bm25_probe", top)
        rows = run.op("bm25", go)
        if rows is not None:
            run.check(checks.check_bm25(checks.bm25_topk(docs_pd, terms, K),
                                        [(int(r["doc_id"]), int(r["score_q"])) for r in rows], len(terms)))

    kinds = ["knn", "rq", "hnsw", "bm25"]

    # more queries than any run uses
    vectors = iter(inputs.query_vectors(emb_pd, run.rng, 256))
    terms = iter(inputs.bm25_queries(docs_pd, run.rng, 256))

    def request(kind):
        if kind == "bm25":
            bm25(next(terms))
            return
        qv = next(vectors)
        {"knn": knn, "rq": rq_req, "hnsw": hnsw}[kind](qv, checks.normalized(qv))

    # warm-up: one request of each type, checked but left out of the latencies
    tw = time.perf_counter()
    run.warming = True
    for kind in kinds:
        request(kind)
    run.warming = False
    run.info["post_build_warm_s"] = time.perf_counter() - tw

    t0, blocks = time.perf_counter(), 0
    while not run.loop_done(t0, blocks, min_blocks=2, share=0.5):
        for kind in run.rng.permutation(kinds):
            request(str(kind))
        blocks += 1
    run.info["search_loop_s"] = time.perf_counter() - t0
    for kind, floor in RECALL_FLOOR.items():
        r = float(np.mean(recalls[kind])) if recalls[kind] else 0.0
        run.info[f"{kind}_recall_at10"] = r
        run.final_check([f"{kind}: mean recall@10 {r:.3f} below floor {floor}"] if r < floor else [])
    run.info["recall_at10"] = float(np.mean(recalls["rq"] + recalls["hnsw"]))
    run.info["tlog_tables"] = [p_inv]


def ingest_phase(run: Run, sf: str, docs_pd: pd.DataFrame) -> None:
    """A transactional inverted index over the first documents and a tlog
    id_mapping; then cycles of one upsert (10 existing + 10 new str_ids),
    one append of the next 20 documents and one read-after-write BM25
    probe of a term from that batch, with a delete and a compaction after
    every second cycle."""
    spark = run.spark
    base = run.size["ingest_base"]
    text_of = dict(zip(docs_pd["doc_id"], docs_pd["text"]))
    mapping_pd = pd.DataFrame({
        "str_id": [f"doc_{i}" for i in range(base)],
        "faiss_id": np.arange(1, base + 1, dtype=np.int64),
        "text_content": [text_of[i] for i in range(base)],
    })
    p_inv, p_idm = os.path.join(run.root, "ingest_inverted"), os.path.join(run.root, "id_mapping")
    docs = load_table(spark, sf, "documents")

    def build():
        text_index.inverted_build(docs.filter(F.col("doc_id") < base), p_inv, n_buckets=INV_BUCKETS,
                                  use_tlog=True)
        ingest.tlog_init_id_mapping(TLog(p_idm), spark.createDataFrame(mapping_pd, ingest.ID_MAPPING_SCHEMA))

    run.info["ingest_build_s"] = run.timed_phase("build.ingest", build)
    idm = TLog(p_idm)

    expected_text = dict(zip(mapping_pd["str_id"], mapping_pd["text_content"]))
    live = set(range(base))
    deleted: set[int] = set()
    pending = [int(i) for i in run.rng.permutation(np.arange(base, len(docs_pd)))]
    commits = {"idm": 1, "inv": 1}
    user_bytes_in = 0

    def data_bytes():
        return sum(layers.disk_bytes(os.path.join(p, "data"))[1] for p in (p_inv, p_idm))

    data_before = data_bytes()

    def upsert(c):
        nonlocal user_bytes_in
        old = [str(s) for s in run.rng.choice(sorted(expected_text), 10, replace=False)]
        batch = pd.DataFrame({
            "str_id": old + [f"new_{run.seed}_{c}_{j}" for j in range(10)],
            "text_content": [f"rev {run.seed} {c} {j}" for j in range(20)],
        })
        v = run.op("upsert", lambda: ingest.tlog_merge_upsert(
            idm, spark.createDataFrame(batch, "str_id string, text_content string")))
        if v is not None:
            commits["idm"] += 1
            expected_text.update(zip(batch["str_id"], batch["text_content"]))
            user_bytes_in += sum(len(s.encode()) + len(t.encode()) for s, t in batch.itertuples(index=False))

    def append_and_read(ids):
        nonlocal user_bytes_in
        done = run.op("append", lambda: text_index.inverted_append(
            docs.filter(F.col("doc_id").isin(ids)), p_inv, n_buckets=INV_BUCKETS) or True)
        if not done:
            return
        commits["inv"] += 1
        live.update(ids)
        user_bytes_in += sum(len(text_of[i].encode()) for i in ids)
        live_pd = docs_pd[docs_pd["doc_id"].isin(live)]
        # the batch's rarest term, so the read is selective
        df = live_pd["text"].str.split(" ").map(set).explode().value_counts()
        term = min({w for i in ids for w in text_of[i].split(" ")}, key=lambda w: (df[w], w))

        def go():
            q = text_index.bm25_probe(spark, p_inv, [term], n_buckets=INV_BUCKETS)
            return _collect(run, "text_index.bm25_probe",
                            q.orderBy(F.col("score_q").desc(), F.col("doc_id").asc()))
        rows = run.op("read", go)
        if rows is None:
            return
        got = [(int(r["doc_id"]), int(r["score_q"])) for r in rows]
        with_term = {i for i in ids if term in text_of[i].split(" ")}
        run.check(checks.check_read_your_writes({i for i, _ in got}, with_term, deleted))
        run.check(checks.check_bm25(checks.bm25_topk(live_pd, [term], k=len(live_pd)), got, 1))

    def delete():
        ids = [int(i) for i in run.rng.choice(sorted(live), 2, replace=False)]
        if run.op("delete", lambda: text_index.inverted_delete(spark, p_inv, ids) or True):
            commits["inv"] += 1
            live.difference_update(ids)
            deleted.update(ids)

    def compact():
        before = TLog(p_inv).latest_version()
        if run.op("compact", lambda: run_transaction(lambda: text_index.inverted_compact(spark, p_inv)) or True):
            commits["inv"] += TLog(p_inv).latest_version() - before

    t0, c, blocks = time.perf_counter(), 0, 0
    while not run.loop_done(t0, blocks, min_blocks=1, share=0.5) and len(pending) >= 2 * 20:
        for _ in range(2):  # one block: 2 cycles, then a delete and a compaction
            c += 1
            upsert(c)
            batch, pending = pending[:20], pending[20:]
            append_and_read(batch)
        delete()
        compact()
        blocks += 1
    run.info["ingest_loop_s"] = time.perf_counter() - t0
    run.info["cycles"] = c

    # a fresh handle must show every acknowledged commit and the latest text
    fresh = TLog(p_idm)
    probs = checks.check_id_mapping(
        fresh.read(spark, schema=ingest.ID_MAPPING_SCHEMA).toPandas(), expected_text)
    if fresh.latest_version() != commits["idm"]:
        probs.append(f"id_mapping: version {fresh.latest_version()}, acknowledged {commits['idm']}")
    if TLog(p_inv).latest_version() != commits["inv"]:
        probs.append(f"inverted: version {TLog(p_inv).latest_version()}, acknowledged {commits['inv']}")
    run.final_check(probs)

    user_live = sum(len(text_of[i].encode()) for i in live) + sum(
        len(s.encode()) + len(t.encode()) for s, t in expected_text.items())
    disk = layers.disk_bytes(p_inv)[1] + layers.disk_bytes(p_idm)[1]
    run.info.update(
        space_amp=disk / user_live,
        bytes_written_per_user_byte=(data_bytes() - data_before) / max(user_bytes_in, 1),
    )
    run.info["tlog_tables"] += [p_inv, p_idm]


# ---------------------------------------------------------------- corpus

def corpus(run: Run) -> dict:
    docs_pd = inputs.documents(run.size["corpus_docs"])

    def stage_copy(sf):
        """The documents table in a seeded row order."""
        order = run.rng.permutation(len(docs_pd))
        inputs.write_table(docs_pd.iloc[order].reset_index(drop=True), os.path.join(sf, "documents.parquet"))

    def warm(spark, sf):
        load_table(spark, sf, "documents").count()

    sf = run.setup_rounds(stage_copy, warm)
    spark = run.spark
    run.start_tracer()
    funnels = []

    def build(i, timed):
        if i > 0:
            sf_i = os.path.join(run.root, f"copy{i}")
            os.makedirs(sf_i)
            stage_copy(sf_i)
        else:
            sf_i = sf
        out = os.path.join(run.root, f"corpus{i}")

        run.warming = not timed
        rows = run.op("corpus", lambda: _collect(
            run, "pipeline.build_training_corpus", pipeline.build_training_corpus(spark, sf_i, out)))
        run.warming = False
        if rows is None:
            return
        funnel = [tuple(r) for r in rows]
        funnels.append(funnel)
        if funnel != funnels[0]:
            run.fail(f"corpus: funnel {funnel} differs across row orders from {funnels[0]}")
        if run.size_name == "default" and funnel != CORPUS_FUNNEL:
            run.fail(f"corpus: funnel {funnel} differs from the pinned {CORPUS_FUNNEL}")
        written = pq.read_table(out).to_pandas()
        written["lang"] = written["lang"].astype(str)
        run.check(checks.check_corpus_output(written, funnel, docs_pd))

    # the first build in a fresh session is the cold one: it is the
    # workload's build time.  It and the warm-up builds after it are left
    # out of the op latencies: the JIT still speeds the builds up by a
    # quarter over the first few.
    build(0, timed=False)
    run.info["build_s"] = run.ops[-1]["ms"] / 1000.0
    for n in range(1, CORPUS_WARM_BUILDS + 1):
        build(n, timed=False)
    t0, n = time.perf_counter(), CORPUS_WARM_BUILDS
    # at least two timed builds, so a traced run has a traced and an
    # untraced one for the overhead
    while not run.loop_done(t0, n - CORPUS_WARM_BUILDS, min_blocks=2):
        n += 1
        build(n, timed=True)
    run.info["loop_s"] = time.perf_counter() - t0
    run.info["funnel"] = funnels[0] if funnels else None
    run.info["tlog_tables"] = []
    return run.info


WORKLOADS = {"serve": serve, "corpus": corpus}
