#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py            # everything (about 5 minutes)
    python3 perfbench/selftest.py --oracles  # only the check functions (seconds)

1. The checks accept correct outputs and reject deliberately perturbed
   ones (a swapped top-k id, a wrong distance, a reordered BM25 top-k, a
   lost write, a resurrected delete, a stale upsert, a held-out doc).
2. Each workload, at its shortest length on sf0.001-sized inputs, prints
   every metric BENCHMARK.json names, with its unit, untraced and traced,
   and its checks pass.
3. In a directory holding only BENCHMARK.json and the benchmark, the
   runner exits non-zero without printing a result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402


def oracle_cases() -> list[tuple[str, list[str], bool]]:
    """(case, problems, should_fail)."""
    rng = np.random.default_rng(7)
    emb = inputs.embeddings(300)
    corpus_n = checks.normalized(np.stack(emb["embedding"].to_numpy()))
    qn = checks.normalized(inputs.query_vectors(emb, rng, 1)[0])
    exp = checks.brute_topk(corpus_n, qn, 10)
    knn_rows = [(f"img_{i}", d) for i, d in exp]
    far = max(range(len(corpus_n)), key=lambda i: ((corpus_n[i] - qn) ** 2).sum())
    far_d = float(((corpus_n[far] - qn) ** 2).sum())
    cases = [
        ("knn exact", checks.check_knn(exp, knn_rows), False),
        ("knn swapped id", checks.check_knn(exp, knn_rows[:9] + [(f"img_{far}", exp[9][1])]), True),
        ("knn reordered", checks.check_knn(exp, [knn_rows[1], knn_rows[0]] + knn_rows[2:]), True),
        ("knn short", checks.check_knn(exp, knn_rows[:9]), True),
        ("ann exact", checks.check_ann(corpus_n, qn, exp, 10), False),
        ("ann approximate", checks.check_ann(corpus_n, qn, exp[:9] + [(far, far_d)], 10), False),
        ("ann wrong distance", checks.check_ann(corpus_n, qn, exp[:9] + [(exp[9][0], exp[9][1] * 1.01)], 10), True),
        ("ann duplicate id", checks.check_ann(corpus_n, qn, exp[:9] + [exp[0]], 10), True),
        ("ann out of order", checks.check_ann(corpus_n, qn, [exp[-1]] + exp[:-1], 10), True),
    ]
    docs = inputs.documents(300)
    terms = inputs.bm25_queries(docs, rng, 1)[0]
    top = checks.bm25_topk(docs, terms, 10)
    cases += [
        ("bm25 exact", checks.check_bm25(top, top, len(terms)), False),
        ("bm25 reordered", checks.check_bm25(top, top[::-1], len(terms)), True),
        ("bm25 wrong score", checks.check_bm25(top, [(top[0][0], top[0][1] + 10_000)] + top[1:], len(terms)), True),
        ("bm25 missing doc", checks.check_bm25(top, top[:-1], len(terms)), True),
        ("read-your-writes ok", checks.check_read_your_writes({1, 2, 3}, {1, 2}, {9}), False),
        ("read-your-writes lost write", checks.check_read_your_writes({1, 3}, {1, 2}, {9}), True),
        ("read-your-writes resurrected delete", checks.check_read_your_writes({1, 2, 9}, {1, 2}, {9}), True),
    ]
    rows = pd.DataFrame({"str_id": ["a", "b"], "faiss_id": [1, 2], "text_content": ["x", "y"]})
    cases += [
        ("id_mapping ok", checks.check_id_mapping(rows, {"a": "x", "b": "y"}), False),
        ("id_mapping stale text", checks.check_id_mapping(rows, {"a": "x", "b": "z"}), True),
        ("id_mapping lost insert", checks.check_id_mapping(rows, {"a": "x", "b": "y", "c": "w"}), True),
    ]
    keep = docs[(docs["doc_id"] % 97 != 0) & (docs["text"].str.split(" ").str.len() >= 12)]
    keep = keep.drop_duplicates("text").head(20)
    funnel = [("1_exact_dedup", 300, 20, 280)]
    cases += [
        ("corpus ok", checks.check_corpus_output(keep, funnel, docs), False),
        ("corpus relabelled doc", checks.check_corpus_output(
            keep.assign(lang=keep["lang"].where(keep.index != keep.index[0], "xx")), funnel, docs), True),
        ("corpus held-out doc", checks.check_corpus_output(
            pd.concat([keep.head(19), docs[docs["doc_id"] == 97]]), funnel, docs), True),
    ]
    return cases


def run_workload(workload: str, trace: int, cwd: str = REPO) -> tuple[int, str, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, p.stdout, p.stderr


def check_output(stdout: str, expected: dict[str, str]) -> list[str]:
    probs = []
    last = json.loads(stdout.strip().splitlines()[-1])
    if set(last) != {"correct", "attempted", "failed", "metrics"}:
        probs.append(f"result keys {sorted(last)}")
    if last.get("correct") is not True:
        probs.append("result not correct")
    if not (isinstance(last.get("attempted"), int) and last["attempted"] >= 1):
        probs.append(f"attempted {last.get('attempted')}")
    got = {k: v.get("unit") for k, v in last.get("metrics", {}).items()}
    if got != expected:
        probs.append(f"metric names/units differ: {sorted(set(got.items()) ^ set(expected.items()))}")
    for k, v in last.get("metrics", {}).items():
        if not isinstance(v.get("value"), (int, float)) or not math.isfinite(v["value"]):
            probs.append(f"{k} value {v.get('value')!r}")
    return probs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--oracles", action="store_true", help="only test the check functions")
    ap.add_argument("--workload", action="append", help="limit the workload runs")
    args = ap.parse_args()
    bad = 0
    for name, probs, should_fail in oracle_cases():
        ok = bool(probs) == should_fail
        bad += not ok
        print(f"{'ok  ' if ok else 'FAIL'} oracle: {name}" + ("" if ok else f" -> {probs}"))
    if args.oracles:
        return 1 if bad else 0

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bm = json.load(f)
    lists = {0: {m["name"]: m["unit"] for m in bm["end_to_end"]},
             1: {m["name"]: m["unit"] for m in bm["per_layer"]}}
    for w in args.workload or [x["name"] for x in bm["workloads"]]:
        for trace in (0, 1):
            rc, out, err = run_workload(w, trace)
            probs = [f"exit code {rc}: {err[-2000:]}"] if rc else check_output(out, lists[trace])
            bad += bool(probs)
            print(f"{'ok  ' if not probs else 'FAIL'} {w} trace={trace}" + "".join(f"\n    {p}" for p in probs))

    bare = os.path.join(REPO, ".perfbench_run", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
    try:
        rc, out, _err = run_workload("serve", 0, cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bare))
        except OSError:
            pass  # a run is using it
    ok = rc != 0 and not out.strip()
    bad += not ok
    print(f"{'ok  ' if ok else 'FAIL'} bare checkout exits {rc} without a result")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
