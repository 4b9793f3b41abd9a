"""Seeded benchmark inputs, in the schemas of the repo's fixture tables.

The corpus content (embeddings and documents) is fixed by ``CORPUS_SEED``
so that build times and the corpus funnel compare across runs; the
``--seed`` of a run chooses the queries, the request order, the ingest
batches and the corpus copy's row order.  Nothing here touches Spark.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20240611
DIM = 64
N_LABELS = 10
LANGS = ("en", "es", "de", "fr", "zh")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
N_SOURCES = 5


def vocabulary(n_terms: int) -> list[str]:
    """``n_terms`` distinct lowercase words built from syllables."""
    syl = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]  # 70
    out = []
    for i in range(n_terms):
        a, b = divmod(i, len(syl))
        word = syl[b] + (syl[a % len(syl)] if a else "") + ("x" * (a // len(syl)))
        out.append(word)
    return out


def embeddings(n: int) -> pd.DataFrame:
    """``embeddings(vec_id, embedding array<float>, label)``: ``n``
    vectors, not normalized, around ``N_LABELS`` weakly separated centres
    (centre norm about 0.07, per-dimension spread 0.125: the shape of
    the repo's fixture table)."""
    rng = np.random.default_rng(CORPUS_SEED)
    centres = rng.normal(0.0, 0.009, (N_LABELS, DIM))
    label = rng.integers(0, N_LABELS, n)
    x = (centres[label] + rng.normal(0.0, 0.125, (n, DIM))).astype(np.float32)
    return pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(x),
         "label": label.astype(np.int32)}
    )


def documents(n: int, n_terms: int = 3000) -> pd.DataFrame:
    """``documents(doc_id, text, lang, source, n_chars)``: Zipf-distributed
    words (so queries can mix rare and common terms), 10-100 tokens per
    document, with about 2% exact and 4% near duplicates so every dedup
    stage of the corpus pipeline has work."""
    rng = np.random.default_rng(CORPUS_SEED + 1)
    vocab = np.array(vocabulary(n_terms))
    p = 1.0 / np.arange(1, n_terms + 1) ** 1.05
    p /= p.sum()
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.06:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[int(j)] = str(vocab[rng.choice(n_terms, p=p)])
            texts.append(" ".join(toks))
        else:
            ln = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.choice(n_terms, ln, p=p)]))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_table(df: pd.DataFrame, path: str) -> None:
    """One parquet file, like the fixture tables (``embedding`` stays
    ``list<float>``)."""
    fields = []
    for col, dt in df.dtypes.items():
        if col == "embedding":
            fields.append(pa.field(col, pa.list_(pa.float32())))
        else:
            fields.append(pa.field(col, pa.from_numpy_dtype(dt) if dt != object else pa.string()))
    pq.write_table(pa.Table.from_pandas(df, schema=pa.schema(fields), preserve_index=False), path)


def query_vectors(emb: pd.DataFrame, rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` queries: a seeded corpus vector plus Gaussian noise."""
    x = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    picks = rng.integers(0, len(x), n)
    return x[picks] + rng.normal(0.0, 0.03, (n, x.shape[1]))


def bm25_queries(docs: pd.DataFrame, rng: np.random.Generator, n: int) -> list[list[str]]:
    """``n`` queries of 1-3 distinct terms drawn from the corpus
    vocabulary, mixing common terms (top 30 by document frequency) with
    rarer ones (document frequency 3-50)."""
    df = (
        docs["text"].str.split(" ").map(set).explode().value_counts()
    )
    common = sorted(df.index[:30])
    rare = sorted(df[(df >= 3) & (df <= 50)].index)
    out = []
    for _ in range(n):
        k = int(rng.integers(1, 4))
        terms = {str(rng.choice(rare))}
        while len(terms) < k:
            terms.add(str(rng.choice(common if rng.random() < 0.5 else rare)))
        out.append(sorted(terms))
    return out
