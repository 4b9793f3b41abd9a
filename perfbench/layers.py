"""Per-layer metrics of a traced run.

``install`` wraps the library's public functions (the layers are the
repo's modules); ``metrics`` turns the recorded spans into the per-layer
metrics named in BENCHMARK.json.  A layer a workload never calls reads 0.
Times are medians per call, counts are per call or per operation as the
name says.
"""

from __future__ import annotations

import os
import statistics

import spans
from cnc_visionsearch_spark.sources.tlog import TLog

PKG = "cnc_visionsearch_spark"
WRAPPED = [
    ("service", "search_drawing"),
    ("sources.catalog", "load_table"),
    ("operators.knn", "knn_single"),
    ("operators.knn", "attach_metadata"),
    ("operators.ann", "ivf_build"),
    ("operators.rq", "rq_build"),
    ("operators.rq", "rq_probe_topk"),
    ("operators.graph_ann", "hnsw_build"),
    ("operators.graph_ann", "hnsw_search"),
    ("operators.text_index", "inverted_build"),
    ("operators.text_index", "bm25_probe"),
    ("operators.text_index", "inverted_append"),
    ("operators.text_index", "inverted_delete"),
    ("operators.text_index", "inverted_compact"),
    ("operators.ingest", "tlog_init_id_mapping"),
    ("operators.ingest", "tlog_merge_upsert"),
    ("pipeline", "build_training_corpus"),
    ("operators.dedup", "exact_dedup"),
    ("operators.dedup", "minhash_lsh_pairs"),
    ("operators.dedup", "neardup_components"),
]
TLOG_METHODS = ("snapshot", "commit", "write_data")


def span_name(module: str, attr: str) -> str:
    return f"{module.rsplit('.', 1)[-1]}.{attr}"


def _artifact_size(rec, args, kwargs, out) -> None:
    rec["extra"]["files"], rec["extra"]["bytes"] = disk_bytes(args[1])


def _written(rec, args, kwargs, out) -> None:
    root = args[0].root
    n = b = 0
    for add in out:
        fn, fb = disk_bytes(os.path.join(root, add["path"]))
        n, b = n + fn, b + fb
    rec["extra"]["files"], rec["extra"]["bytes"] = n, b


def install(tracer: spans.Tracer) -> None:
    for module, attr in WRAPPED:
        tracer.wrap_function(f"{PKG}.{module}", attr, span_name(module, attr))
    for m in TLOG_METHODS:
        tracer.wrap_method(TLog, m, f"tlog.{m}")
    tracer.hooks.update({
        "ann.ivf_build": _artifact_size,
        "graph_ann.hnsw_build": _artifact_size,
        "tlog.write_data": _written,
    })


def disk_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the regular files below ``path``."""
    n = b = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            b += os.path.getsize(os.path.join(d, f))
    return n, b


# name -> unit; BENCHMARK.json's per_layer list
METRICS = {
    "session.start_s": "s",
    "setup.warm_s": "s",
    "service.search_drawing.construct_ms": "ms",
    "service.search_drawing.action_ms": "ms",
    "service.search_drawing.jobs": "count",
    "service.search_drawing.tasks": "count",
    "catalog.load_table.calls": "count",
    "catalog.load_table.ms": "ms",
    "knn.knn_single.construct_ms": "ms",
    "knn.attach_metadata.construct_ms": "ms",
    "rq.rq_probe_topk.construct_ms": "ms",
    "rq.rq_probe_topk.action_ms": "ms",
    "rq.rq_probe_topk.jobs": "count",
    "rq.rq_probe_topk.tasks": "count",
    "ann.ivf_build.s": "s",
    "ann.ivf_build.jobs": "count",
    "ann.ivf_build.tasks": "count",
    "ann.ivf_build.files": "count",
    "ann.ivf_build.bytes": "B",
    "rq.rq_build.s": "s",
    "rq.rq_build.jobs": "count",
    "rq.rq_build.tasks": "count",
    "graph_ann.hnsw_search.ms": "ms",
    "graph_ann.hnsw_search.jobs": "count",
    "graph_ann.hnsw_search.tasks": "count",
    "graph_ann.hnsw_search.py_cpu_ms": "ms",
    "graph_ann.hnsw_search.jvm_cpu_ms": "ms",
    "graph_ann.hnsw_build.s": "s",
    "graph_ann.hnsw_build.jobs": "count",
    "graph_ann.hnsw_build.tasks": "count",
    "graph_ann.hnsw_build.jvm_cpu_ms": "ms",
    "graph_ann.hnsw_build.files": "count",
    "graph_ann.hnsw_build.bytes": "B",
    "text_index.inverted_build.s": "s",
    "text_index.bm25_probe.construct_ms": "ms",
    "text_index.bm25_probe.action_ms": "ms",
    "text_index.bm25_probe.jobs": "count",
    "text_index.bm25_probe.tasks": "count",
    "text_index.inverted_append.ms": "ms",
    "text_index.inverted_append.jobs": "count",
    "text_index.inverted_append.tasks": "count",
    "text_index.inverted_delete.ms": "ms",
    "text_index.inverted_delete.jobs": "count",
    "text_index.inverted_compact.ms": "ms",
    "text_index.inverted_compact.jobs": "count",
    "text_index.inverted_compact.bytes_rewritten": "B",
    "tlog.snapshot.calls_per_op": "count",
    "tlog.snapshot.ms": "ms",
    "tlog.commit.calls": "count",
    "tlog.commit.ms": "ms",
    "tlog.commit.conflicts": "count",
    "tlog.write_data.ms": "ms",
    "tlog.write_data.files": "count",
    "tlog.write_data.bytes": "B",
    "tlog.live_files": "count",
    "tlog.live_bytes": "B",
    "tlog.versions": "count",
    "tlog.bytes_written_per_user_byte": "ratio",
    "tlog.space_amp": "ratio",
    "ingest.tlog_merge_upsert.ms": "ms",
    "ingest.tlog_merge_upsert.jobs": "count",
    "ingest.tlog_merge_upsert.tasks": "count",
    "pipeline.build_training_corpus.ms": "ms",
    "pipeline.build_training_corpus.jobs": "count",
    "pipeline.build_training_corpus.tasks": "count",
    "pipeline.build_training_corpus.py_cpu_ms": "ms",
    "pipeline.build_training_corpus.jvm_cpu_ms": "ms",
    "dedup.exact_dedup.ms": "ms",
    "dedup.exact_dedup.jobs": "count",
    "dedup.minhash_lsh_pairs.ms": "ms",
    "dedup.minhash_lsh_pairs.jobs": "count",
    "dedup.neardup_components.ms": "ms",
    "dedup.neardup_components.jobs": "count",
    "pipeline.survival.exact_dedup": "ratio",
    "pipeline.survival.neardup_dedup": "ratio",
    "pipeline.survival.quality_filter": "ratio",
    "pipeline.survival.decontamination": "ratio",
    "pipeline.survival.stratified_sample": "ratio",
    "engine.jobs_per_op": "count",
    "engine.tasks_per_op": "count",
    "engine.jvm_cpu_ms": "ms",
    "engine.core_util": "ratio",
    "driver.py_cpu_ms": "ms",
    "check.recall_at10": "ratio",
    "check.error_rate": "ratio",
    "trace.overhead": "ratio",
    "trace.coverage": "ratio",
    "trace.uncovered_ms": "ms",
    "trace.bookkeeping_ms": "ms",
}


def _med(vals) -> float:
    vals = list(vals)
    return float(statistics.median(vals)) if vals else 0.0


def _mean(vals) -> float:
    vals = list(vals)
    return float(sum(vals) / len(vals)) if vals else 0.0


def metrics(run, nproc: int) -> dict[str, float]:
    tr = run.tracer
    kids = tr.children()
    by_name: dict[str, list[dict]] = {}
    for s in tr.spans:
        by_name.setdefault(s["name"], []).append(s)
    roots = [s for s in tr.spans if s["parent"] is None and s["name"].startswith("op.")]

    def dur_ms(s):
        return (s["t1"] - s["t0"]) / 1e6

    def incl(s, key):
        """Jobs land in the innermost span's group, so a call's counts add
        its descendants'; CPU is read over the span's whole interval."""
        return tr.inclusive(s, kids, key) if key in ("jobs", "stages", "tasks") else s[key]

    def per_request(names, key):
        """Per request holding ``names[0]``: inclusive ``key`` summed
        over the spans named in ``names`` (a call and its action)."""
        tot: dict[str, float] = {}
        for n in names:
            for s in by_name.get(n, ()):
                tot[s["request"]] = tot.get(s["request"], 0.0) + incl(s, key)
        first = {s["request"] for s in by_name.get(names[0], ())}
        return [v for r, v in tot.items() if r in first]

    def per_op(name):
        counts = {r["request"]: 0 for r in roots}
        for s in by_name.get(name, ()):
            if s["request"] in counts:
                counts[s["request"]] += 1
        return _mean(counts.values())

    out: dict[str, float] = {
        "session.start_s": run.info["session_start_s"],
        "setup.warm_s": run.info["warm_s"],
    }
    for name in ("service.search_drawing", "rq.rq_probe_topk", "text_index.bm25_probe"):
        out[f"{name}.construct_ms"] = _med(dur_ms(s) for s in by_name.get(name, ()))
        out[f"{name}.action_ms"] = _med(dur_ms(s) for s in by_name.get(f"{name}.action", ()))
        out[f"{name}.jobs"] = _med(per_request([name, f"{name}.action"], "jobs"))
        out[f"{name}.tasks"] = _med(per_request([name, f"{name}.action"], "tasks"))
    out["catalog.load_table.calls"] = per_op("catalog.load_table")
    out["catalog.load_table.ms"] = _med(dur_ms(s) for s in by_name.get("catalog.load_table", ()))
    for name in ("knn.knn_single", "knn.attach_metadata"):
        out[f"{name}.construct_ms"] = _med(dur_ms(s) for s in by_name.get(name, ()))
    for name in ("ann.ivf_build", "rq.rq_build", "graph_ann.hnsw_build", "text_index.inverted_build"):
        calls = by_name.get(name, ())
        out[f"{name}.s"] = _med(dur_ms(s) / 1000.0 for s in calls)
        for key in ("jobs", "tasks", "jvm_cpu_ms"):
            if f"{name}.{key}" in METRICS:
                out[f"{name}.{key}"] = _med(incl(s, key) for s in calls)
        for key in ("files", "bytes"):
            if f"{name}.{key}" in METRICS:
                out[f"{name}.{key}"] = _med(s["extra"].get(key, 0) for s in calls)
    for name in ("graph_ann.hnsw_search", "text_index.inverted_append", "text_index.inverted_delete",
                 "text_index.inverted_compact", "ingest.tlog_merge_upsert", "dedup.exact_dedup",
                 "dedup.minhash_lsh_pairs", "dedup.neardup_components", "tlog.snapshot",
                 "tlog.commit", "tlog.write_data"):
        calls = by_name.get(name, ())
        out[f"{name}.ms"] = _med(dur_ms(s) for s in calls)
        for key in ("jobs", "tasks", "py_cpu_ms", "jvm_cpu_ms"):
            if f"{name}.{key}" in METRICS:
                out[f"{name}.{key}"] = _med(incl(s, key) for s in calls)
    compacts = by_name.get("text_index.inverted_compact", ())
    out["text_index.inverted_compact.bytes_rewritten"] = _med(
        sum(d["extra"].get("bytes", 0) for d in descendants(s, kids) if d["name"] == "tlog.write_data")
        for s in compacts)
    out["tlog.snapshot.calls_per_op"] = per_op("tlog.snapshot")
    out["tlog.commit.calls"] = per_op("tlog.commit")
    out["tlog.commit.conflicts"] = float(sum(
        1 for s in by_name.get("tlog.commit", ()) if s.get("error") == "TLogConflictError"))
    for key in ("files", "bytes"):
        out[f"tlog.write_data.{key}"] = _med(s["extra"].get(key, 0) for s in by_name.get("tlog.write_data", ()))
    live_files = live_bytes = versions = 0
    for path in run.info.get("tlog_tables", ()):
        snap = TLog(path).snapshot()
        versions += snap.version
        for p, _b in snap.files:
            n, b = disk_bytes(os.path.join(path, p))
            live_files, live_bytes = live_files + n, live_bytes + b
    out.update({
        "tlog.live_files": live_files, "tlog.live_bytes": live_bytes, "tlog.versions": versions,
        "tlog.bytes_written_per_user_byte": run.info.get("bytes_written_per_user_byte", 0.0),
        "tlog.space_amp": run.info.get("space_amp", 0.0),
    })
    name = "pipeline.build_training_corpus"
    out[f"{name}.ms"] = _med(dur_ms(s) for s in by_name.get(name, ()))
    for key in ("jobs", "tasks", "py_cpu_ms", "jvm_cpu_ms"):
        out[f"{name}.{key}"] = _med(per_request([name, f"{name}.action"], key))
    funnel = run.info.get("funnel") or []
    for stage in ("exact_dedup", "neardup_dedup", "quality_filter", "decontamination", "stratified_sample"):
        row = next((f for f in funnel if f[0].endswith(stage)), None)
        out[f"pipeline.survival.{stage}"] = row[2] / row[1] if row and row[1] else 0.0
    out["engine.jobs_per_op"] = _med(incl(r, "jobs") for r in roots)
    out["engine.tasks_per_op"] = _med(incl(r, "tasks") for r in roots)
    out["engine.jvm_cpu_ms"] = _med(r["jvm_cpu_ms"] for r in roots)
    out["engine.core_util"] = _med(r["jvm_cpu_ms"] / (dur_ms(r) * nproc) for r in roots)
    out["driver.py_cpu_ms"] = _med(r["py_cpu_ms"] for r in roots)
    out["check.recall_at10"] = run.info.get("recall_at10", 0.0)
    attempted = len(run.ops) + run.final_attempted
    out["check.error_rate"] = (run.failed + run.final_failed) / max(attempted, 1)
    ops = [o for o in run.ops if not o["warm"]]
    ratios = []
    for kind in sorted({o["kind"] for o in ops}):
        t = [o["ms"] for o in ops if o["kind"] == kind and o["traced"]]
        u = [o["ms"] for o in ops if o["kind"] == kind and not o["traced"]]
        if t and u:
            ratios.append(statistics.median(t) / statistics.median(u))
    out["trace.overhead"] = _mean(ratios) - 1.0 if ratios else 0.0
    # a request's time outside every child span, less the tracer's own
    # bookkeeping between child spans: the benchmark's glue
    bk = {r["sid"]: tr.bookkeeping_ms(r, kids) for r in roots}
    direct = {r["sid"]: sum(c["bookkeeping_ns"] / 1e6 for c in kids.get(r["sid"], ())) for r in roots}
    uncovered = [max(tr.self_ms(r, kids) - direct[r["sid"]], 0.0) for r in roots]
    out["trace.coverage"] = _med(1.0 - u / dur_ms(r) for u, r in zip(uncovered, roots))
    out["trace.uncovered_ms"] = _med(uncovered)
    out["trace.bookkeeping_ms"] = _med(bk.values())
    return {k: float(out[k]) for k in METRICS}


def descendants(s, kids):
    out, todo = [], list(kids.get(s["sid"], ()))
    while todo:
        d = todo.pop()
        out.append(d)
        todo.extend(kids.get(d["sid"], ()))
    return out
