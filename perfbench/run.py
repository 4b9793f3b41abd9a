#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics with the library called
directly; ``--trace 1`` wraps the library's public functions and prints
the per-layer metrics instead.  The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``; the line
before it holds the details (per-operation medians under the names the
workloads document, tail latency with its sample count, machine state).

Every file the run makes goes to a private directory under
``.perfbench_run/`` in the checkout, which is removed at the end; the
traced run keeps its spans in ``.perfbench_out/<workload>.spans.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# name -> unit; BENCHMARK.json's end_to_end list
E2E = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "build_s": "s",
}
# per-operation names of the detail line, by workload
KIND_METRICS = {
    "serve": {"knn": "knn_p50_ms", "rq": "rq_p50_ms", "hnsw": "hnsw_p50_ms", "bm25": "bm25_p50_ms",
              "upsert": "upsert_p50_ms", "append": "append_p50_ms", "read": "rw_read_p50_ms",
              "delete": "delete_p50_ms", "compact": "compact_p50_ms"},
    "corpus": {"corpus": "corpus_build_ms"},
}


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(KIND_METRICS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("default", "tiny"), default="default",
                    help="input size; 'tiny' is the self-test's sf0.001-sized inputs")
    return ap.parse_args(argv)


def private_env(root: str) -> None:
    """Point every directory the library or Spark writes to at ``root``
    before the library is imported (its artifact root is read at import)."""
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_ANN_DIR": os.path.join(root, "ann_artifacts"),
        "SPARK_LOCAL_DIRS": os.path.join(root, "spark_local"),
        "TMPDIR": tmp,
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g"),
        "PYSPARK_SUBMIT_ARGS": (
            f'--conf "spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
            "pyspark-shell"
        ),
        # spark-submit's own launcher JVM
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: time a hypervisor gave to others."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def machine_state(bench, parallel: bool) -> dict:
    out = {"loadavg": bench._loadavg(), "calibration_s": bench._calibration_loop(),
           "cpu_ticks": _cpu_ticks()}
    if parallel:
        out["parallel"] = bench._parallel_calibration()
    return out


def contended(start: dict, end: dict, ncpu: int) -> bool:
    """bench.py's rule: the single-thread calibration slowed by over
    1.35x, the machine was loaded before the run, or fewer than 60% of
    the cores were effectively available; and more than 5% of the CPU
    time stolen by the hypervisor during the run."""
    cal = [start["calibration_s"], end["calibration_s"]]
    eff = start["parallel"]["effective_cores"]
    return bool(
        (min(cal) > 0 and max(cal) / min(cal) > 1.35)
        or (start["loadavg"] and start["loadavg"][0] > max(2.0, ncpu / 8))
        or eff < 0.6 * ncpu
        or steal_share(start, end) > 0.05
    )


def steal_share(start: dict, end: dict) -> float:
    steal = end["cpu_ticks"][0] - start["cpu_ticks"][0]
    total = end["cpu_ticks"][1] - start["cpu_ticks"][1]
    return steal / total if total else 0.0


def tail(values: list[float]) -> dict | None:
    """The highest whole percentile with at least 10 samples above it;
    None while that is not above the median."""
    n = len(values)
    p = int(100 * (n - 10) / n) if n > 10 else 0
    if p <= 50:
        return None
    return {"percentile": p, "value": sorted(values)[-(n * (100 - p) // 100) - 1], "n": n}


def per_kind_median(ops: list[dict], key: str) -> float:
    """The mean over operation kinds of each kind's median ``key``: one
    figure for a mix of kinds that does not jump from kind to kind as a
    pooled median does when the share of each kind in a run shifts."""
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o[key])
    return statistics.mean(statistics.median(v) for v in by_kind.values())


def end_to_end(run) -> dict:
    ops = [o for o in run.ops if not o["warm"]]
    return {
        "setup_s": run.info["setup_s"],
        "op_p50_ms": per_kind_median(ops, "ms"),
        "build_s": run.info["build_s"],
    }


def details(workload: str, run) -> dict:
    ops = [o for o in run.ops if not o["warm"]]
    out = {}
    for kind, name in KIND_METRICS[workload].items():
        lat = [o["ms"] for o in ops if o["kind"] == kind]
        out[name] = {"value": statistics.median(lat) if lat else None, "unit": "ms", "n": len(lat)}
    for name, kinds in (("serve_tail_ms", ("knn", "rq", "hnsw", "bm25")),
                        ("ingest_tail_ms", ("upsert", "append", "read", "delete", "compact")),
                        ("corpus_tail_ms", ("corpus",))):
        lat = [o["ms"] for o in ops if o["kind"] in kinds]
        if lat:
            t = tail(lat)
            out[name] = {"value": t and t["value"], "unit": "ms", "percentile": t and t["percentile"],
                         "n": len(lat)}
    attempted = len(run.ops) + run.final_attempted
    out["cpu_ms_per_op"] = {"value": per_kind_median(ops, "cpu_ms") if ops else None, "unit": "ms"}
    out["error_rate"] = {"value": (run.failed + run.final_failed) / max(attempted, 1), "unit": "ratio"}
    keys = {"serve": ("index_build_s", "graph_build_s", "ingest_build_s", "recall_at10", "rq_recall_at10",
                      "hnsw_recall_at10", "post_build_warm_s", "search_loop_s", "space_amp",
                      "bytes_written_per_user_byte", "cycles", "ingest_loop_s"),
            "corpus": ("funnel", "loop_s")}[workload]
    for k in keys + ("setup_rounds_s", "session_start_s"):
        if k in run.info:
            out[k] = run.info[k]
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and the Python workers
    below it, and wait until each has ended."""
    from pyspark import SparkContext

    import spans

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    tree = spans.descendants(proc.pid)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    for pid in tree[1:]:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _terminated(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the clean-up below


def main(argv=None) -> int:
    args = parse(argv)
    signal.signal(signal.SIGTERM, _terminated)
    if not os.path.isfile(os.path.join(REPO, "cnc_visionsearch_spark", "__init__.py")) or not (
        os.path.isfile(os.path.join(REPO, "bench.py"))
    ):
        print("perfbench: the library sources are not next to perfbench/", file=sys.stderr)
        return 2
    root = os.path.join(REPO, ".perfbench_run", f"{args.workload}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(root)
    try:
        private_env(root)
        sys.path.insert(1, REPO)
        import bench

        import layers
        import workloads

        ncpu = os.cpu_count() or 1
        m_start = machine_state(bench, parallel=True)
        run = workloads.Run(root, args.seed, args.seconds, args.size, bool(args.trace))
        try:
            workloads.WORKLOADS[args.workload](run)
            metrics = layers.metrics(run, ncpu) if args.trace else end_to_end(run)
            units = layers.METRICS if args.trace else E2E
            if args.trace:
                out_dir = os.path.join(REPO, ".perfbench_out")
                os.makedirs(out_dir, exist_ok=True)
                run.tracer.dump(os.path.join(out_dir, f"{args.workload}.spans.jsonl"))
                run.tracer.uninstall()
        finally:
            if run.spark is not None:
                stop_spark(run.spark)
        m_end = machine_state(bench, parallel=False)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))
        except OSError:
            pass  # another run still uses it

    detail = details(args.workload, run)
    detail.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        size=args.size, sizes=run.size, nproc=ncpu, machine_start=m_start, machine_end=m_end,
        steal_share=steal_share(m_start, m_end), contended=contended(m_start, m_end, ncpu),
        problems=run.problems[:20],
    )
    print(json.dumps({"perfbench_detail": detail}, default=str))
    attempted = len(run.ops) + run.final_attempted
    failed = run.failed + run.final_failed
    print(json.dumps({
        "correct": not run.problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
