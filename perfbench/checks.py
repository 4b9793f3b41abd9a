"""Independent oracles for the benchmark's correctness checks.

Everything here is numpy/pandas over the generated inputs; nothing
calls the library.  Each ``check_*`` returns a list of problems (empty
when the output is correct), so a caller can count failures and keep
going.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

DIST_TOL = 1e-9  # squared-L2 values are O(1); Spark and numpy sum in different orders


def normalized(x: np.ndarray) -> np.ndarray:
    x = np.asarray(x, dtype=np.float64)
    return x / np.linalg.norm(x, axis=-1, keepdims=True)


def brute_topk(corpus_n: np.ndarray, q_n: np.ndarray, k: int = 10) -> list[tuple[int, float]]:
    """Exact squared-L2 top-k over normalized vectors, ties by id."""
    d = ((corpus_n - q_n) ** 2).sum(axis=1)
    order = np.lexsort((np.arange(len(d)), d))[:k]
    return [(int(i), float(d[i])) for i in order]


def _ranked_problems(expected, got, tol, what) -> list[str]:
    """``expected``/``got`` are [(id, score)] in rank order.  Ids must
    match position by position, except where the expected scores of the
    two ids involved are within ``tol`` (a near-tie that the engine may
    order either way)."""
    if len(got) != len(expected):
        return [f"{what}: {len(got)} rows, expected {len(expected)}"]
    exp_score = dict(expected)
    probs = []
    for pos, ((ei, es), (gi, gs)) in enumerate(zip(expected, got)):
        if abs(gs - es) > tol:
            probs.append(f"{what}: rank {pos} score {gs!r}, expected {es!r}")
        elif gi != ei and (gi not in exp_score or abs(exp_score[gi] - es) > tol):
            probs.append(f"{what}: rank {pos} id {gi}, expected {ei}")
    return probs


def check_knn(expected: list[tuple[int, float]], got: list[tuple[str, float]]) -> list[str]:
    """``search_drawing`` rows (str_id, distance) against the brute
    force; str_id is ``img_<vec_id>``."""
    got_ids = [(int(s[len("img_"):]), float(d)) for s, d in got]
    return _ranked_problems(expected, got_ids, DIST_TOL, "knn")


def check_ann(corpus_n: np.ndarray, q_n: np.ndarray, got: list[tuple[int, float]],
              k: int = 10, what: str = "ann") -> list[str]:
    """An approximate top-k must hold ``k`` distinct ids, each with its
    exact distance, in (distance, id) order.  Recall is measured apart."""
    probs = []
    if len(got) != k:
        probs.append(f"{what}: {len(got)} rows, expected {k}")
    ids = [i for i, _ in got]
    if len(set(ids)) != len(ids):
        probs.append(f"{what}: duplicate ids {ids}")
    for i, d in got:
        true = float(((corpus_n[i] - q_n) ** 2).sum())
        if abs(true - d) > DIST_TOL:
            probs.append(f"{what}: id {i} distance {d!r}, exact {true!r}")
    if any(b[1] - a[1] < -DIST_TOL for a, b in zip(got, got[1:])):
        probs.append(f"{what}: not in distance order")
    return probs


def recall(expected: list[tuple[int, float]], got: list[tuple[int, float]]) -> float:
    return len({i for i, _ in expected} & {i for i, _ in got}) / max(len(expected), 1)


def bm25_topk(docs: pd.DataFrame, terms: list[str], k: int = 10,
              k1: float = 1.2, b: float = 0.75) -> list[tuple[int, int]]:
    """Recompute ``text_index.bm25_probe``'s documented scoring over the
    live documents ``docs(doc_id, text)``: whitespace tokens, rational
    idf (N - df + 0.5) / (df + 0.5), per-(doc, term) score quantized as
    floor(x * 1e9 + 0.5) and summed per doc.  Returns the top ``k`` as
    [(doc_id, score_q)] ordered by score desc, doc_id asc."""
    toks = docs["text"].str.split(" ")
    dl = toks.str.len().astype(np.float64).to_numpy()
    n_docs = float(len(dl))
    avgdl = float(dl.sum()) / n_docs
    ids = docs["doc_id"].to_numpy()
    total = {}
    for t in set(terms):
        tf = toks.map(lambda ws: ws.count(t)).to_numpy().astype(np.float64)
        hit = tf > 0
        df = float(hit.sum())
        if df == 0:
            continue
        idf = (n_docs - df + 0.5) / (df + 0.5)
        s = idf * (tf[hit] * (k1 + 1.0)) / (tf[hit] + k1 * (1.0 - b + b * dl[hit] / avgdl))
        for i, q in zip(ids[hit], np.floor(s * 1e9 + 0.5).astype(np.int64)):
            total[int(i)] = total.get(int(i), 0) + int(q)
    return sorted(total.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def check_bm25(expected: list[tuple[int, int]], got: list[tuple[int, int]], n_terms: int) -> list[str]:
    # one quantum of rounding per term separates engines at most
    return _ranked_problems(expected, got, n_terms, "bm25")


def check_read_your_writes(got_ids: set[int], batch_with_term: set[int],
                           deleted: set[int]) -> list[str]:
    probs = []
    missing = batch_with_term - got_ids
    if missing:
        probs.append(f"read-after-write: appended docs {sorted(missing)} not returned")
    back = got_ids & deleted
    if back:
        probs.append(f"read-after-write: deleted docs {sorted(back)} returned")
    return probs


def check_id_mapping(rows: pd.DataFrame, expected_text: dict[str, str]) -> list[str]:
    """Final id_mapping state: one row per str_id, the latest
    acknowledged text for each, and unique dense faiss ids."""
    probs = []
    if rows["str_id"].duplicated().any():
        probs.append("id_mapping: duplicate str_id rows")
    if rows["faiss_id"].duplicated().any():
        probs.append("id_mapping: duplicate faiss_id values")
    fids = np.sort(rows["faiss_id"].to_numpy())
    if len(fids) and not np.array_equal(fids, np.arange(1, len(fids) + 1)):
        probs.append("id_mapping: faiss ids are not dense from 1")
    have = dict(zip(rows["str_id"], rows["text_content"]))
    if set(have) != set(expected_text):
        probs.append(f"id_mapping: {len(set(expected_text) ^ set(have))} str_ids differ")
    bad = [s for s, t in expected_text.items() if s in have and have[s] != t]
    if bad:
        probs.append(f"id_mapping: stale text for {len(bad)} str_ids, e.g. {bad[0]}")
    return probs


def check_corpus_output(out: pd.DataFrame, funnel: list[tuple], docs: pd.DataFrame) -> list[str]:
    """Invariants of a written training corpus that hold whatever the
    pipeline's thresholds: the row count is the funnel's last docs_out,
    each doc is a distinct input doc with its original text and language
    and passes the token-count rule, and no held-out doc survives."""
    probs = []
    if len(out) != funnel[-1][2]:
        probs.append(f"corpus: wrote {len(out)} rows, funnel says {funnel[-1][2]}")
    if out["doc_id"].duplicated().any():
        probs.append("corpus: duplicate doc_id in output")
    if out["text"].duplicated().any():
        probs.append("corpus: exact duplicate texts survived")
    src = out.merge(docs[["doc_id", "text", "lang"]], on="doc_id", how="left", suffixes=("", "_src"))
    if ((src["text"] != src["text_src"]) | (src["lang"] != src["lang_src"])).any():
        probs.append("corpus: an output row differs from its input doc")
    if (out["text"].str.split(" ").str.len() < 12).any():
        probs.append("corpus: a doc under the token floor survived")
    if (out["doc_id"] % 97 == 0).any():
        probs.append("corpus: a held-out doc survived")
    for (_s, n_in, n_out, dropped) in funnel:
        if n_in - n_out != dropped or n_out > n_in:
            probs.append(f"corpus: inconsistent funnel row {_s}")
    for a, b in zip(funnel, funnel[1:]):
        if a[2] != b[1]:
            probs.append("corpus: funnel stages do not chain")
    return probs
