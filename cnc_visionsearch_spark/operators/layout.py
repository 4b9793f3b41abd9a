"""Z-order (Morton-curve) data layout for multi-dimensional pruning.

At 100 TB a fact table is usually range-partitioned/sorted on ONE key
(time). A predicate on any OTHER column then touches every file. The
standard fix (Delta OPTIMIZE ZORDER BY, Hudi/Iceberg z-ordering) is to
sort the table by an interleaved-bit key over the hot filter columns so
every file covers a small hyper-rectangle of the key space: parquet
footer min/max stats on EACH original column become tight per file, and
a multi-dimensional predicate prunes to O(matching volume) files
instead of O(table).

This module implements that layout natively:

- :func:`morton_key` — the interleaved-bit key as a pure codegen
  column expression (shiftleft/shiftright/bit-and; no UDF). The same
  arithmetic string renders for DuckDB, so layout keys are
  oracle-checkable bit-for-bit (queries_layout.py).
- :func:`zorder_layout` — one `repartitionByRange(z).sortWithinPartitions(z)`
  shuffle, then a plain parquet write. Range partitioning bounds every
  output file to a contiguous z-interval; no other state is needed, so
  the write scales exactly like any sorted write.
- :func:`file_bucket_spans` — reads ONLY parquet footers (pyarrow) to
  report per-file min/max of the bucketed dimensions; the test gate
  asserts z-ordered files have strictly tighter per-dimension spans
  than an unsorted layout.

The reference keeps its corpus in one flat FAISS index + SQLite table
(/root/reference/main.py:33-40) — fine at 60k vectors, no analog of
data layout. This operator is part of the [EXT] 100 TB surface.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cnc_visionsearch_spark.session import local_frame


def _interleave_terms(col_names: list[str], bits: int, shl: str, shr: str) -> list[str]:
    """Shared SQL-text generator for the Morton key so the Spark
    expression and the DuckDB oracle are the SAME arithmetic.

    ``shl``/``shr`` are per-dialect shift templates with {x} and {n}
    slots (Spark: shiftleft/shiftright functions; DuckDB: << / >>
    operators). Bit b of column i lands at position b*len(cols)+i, so
    terms touch disjoint bits and plain ``+`` composes them.
    """
    n = len(col_names)
    terms = []
    for b in range(bits):
        for i, c in enumerate(col_names):
            bit = f"({shr.format(x=c, n=b)} & 1)"
            terms.append(shl.format(x=bit, n=b * n + i))
    return terms


def morton_sql(col_names: list[str], bits: int, dialect: str = "spark") -> str:
    """Morton (z-order) key over already-bucketed int columns, as SQL
    text. Each input must lie in [0, 2**bits); the result has
    bits*len(cols) significant bits. dialect: 'spark' | 'duckdb'."""
    if dialect == "spark":
        shl, shr = "shiftleft({x}, {n})", "shiftright({x}, {n})"
    elif dialect == "duckdb":
        shl, shr = "(({x}) << {n})", "(({x}) >> {n})"
    else:
        raise ValueError(f"unknown dialect {dialect!r}")
    return "(" + " + ".join(_interleave_terms(col_names, bits, shl, shr)) + ")"


def morton_key(col_names: list[str], bits: int = 8) -> Column:
    """The z-order key as a codegen'd Spark column (no UDF)."""
    return F.expr(morton_sql(col_names, bits, "spark"))


def zorder_layout(
    df: DataFrame,
    bucket_cols: list[str],
    path: str,
    bits: int = 8,
    n_files: int = 16,
) -> None:
    """Write ``df`` z-ordered on ``bucket_cols`` (int columns already
    bucketed to [0, 2**bits)).

    ONE range-partition shuffle on the z key (Spark samples range
    bounds, so skewed z-regions still split evenly), in-partition sort,
    plain parquet write — the z key itself is dropped from the files
    (it is derivable; footers on the original columns carry the
    pruning information). At 100 TB this is the same cost as any
    repartition+sort write of the table.
    """
    keyed = df.withColumn("__z", morton_key(bucket_cols, bits))
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_write(
    df: DataFrame,
    cols: list[str],
    path: str,
    bits: int = 8,
    n_files: int = 16,
) -> None:
    """:func:`zorder_layout` for RAW numeric columns: quantile-bucket
    each column to [0, 2**bits) first, then z-order on the buckets.

    Buckets come from ``approxQuantile`` (driver-side, but its result
    is 2**bits-1 split points per column — parameter-sized, one pass
    over the data with a bounded-error sketch). Quantile buckets beat
    fixed-width ones under skew: every bucket holds ~equal row counts,
    so z-tiles stay balanced and range predicates prune proportionally
    to selectivity, not to value-range coverage. The bucketed helper
    columns are derived and not persisted (the original columns carry
    the footer stats a reader prunes on).
    """
    from pyspark.ml.feature import Bucketizer

    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    quantiles = df.approxQuantile(cols, probs, 0.001)
    bucketed = df
    bcols = []
    for c, cuts in zip(cols, quantiles):
        # strictly-increasing split points (duplicate quantiles collapse)
        splits = [float("-inf"), *sorted(set(cuts)), float("inf")]
        tmp = f"__zbd_{c}"
        bucketed = Bucketizer(
            splits=splits, inputCol=c, outputCol=tmp
        ).transform(bucketed)
        bucketed = bucketed.withColumn(
            f"__zb_{c}", F.col(tmp).cast("bigint")
        ).drop(tmp)
        bcols.append(f"__zb_{c}")
    keyed = bucketed.withColumn("__z", morton_key(bcols, bits))
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", *bcols)
        .write.mode("overwrite")
        .parquet(path)
    )


def pruned_scan(
    spark,
    path: str,
    ranges: dict[str, tuple],
) -> "DataFrame":
    """Footer-stats file skipping: read ONLY the files whose per-column
    min/max intersect every ``col: (lo, hi)`` range, then apply the
    ranges as a residual row filter.

    This is the manifest-prune an Iceberg/Delta reader does before
    handing Spark a file list; over a :func:`zorder_layout` table a
    multi-dimensional predicate selects O(matching volume) files. The
    driver-side loop is over FILES (footers only, no data) — at 100 TB
    that list lives in a real table format's manifest; here the
    listing itself is the bounded metadata operation.

    Returns an empty DataFrame with the layout's schema when no file
    intersects (read.schema avoids a files-less read error).
    """
    import functools
    import operator

    cols = list(ranges)
    keep = []
    for entry in file_bucket_spans(path, cols):
        ok = True
        for c, (lo, hi) in ranges.items():
            fmin, fmax = entry[c]
            if fmin is None or fmax < lo or fmin > hi:
                ok = False
                break
        if ok:
            keep.append(os.path.join(path, entry["file"]))
    schema = spark.read.parquet(path).schema
    if not keep:
        return local_frame(spark, [], schema)
    df = spark.read.schema(schema).parquet(*keep)
    residual = functools.reduce(
        operator.and_,
        (F.col(c).between(lo, hi) for c, (lo, hi) in ranges.items()),
    )
    return df.filter(residual)


def file_bucket_spans(path: str, cols: list[str]) -> list[dict]:
    """Per parquet file: min/max (from footer statistics only — no data
    read) for each of ``cols``, plus the per-dimension span. This is
    exactly the information a scan planner prunes on."""
    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        stats: dict[str, list] = {c: [None, None] for c in cols}
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                cname = col.path_in_schema
                if cname in stats and col.statistics is not None:
                    lo, hi = stats[cname]
                    cmin, cmax = col.statistics.min, col.statistics.max
                    stats[cname] = [
                        cmin if lo is None else min(lo, cmin),
                        cmax if hi is None else max(hi, cmax),
                    ]
        entry = {"file": name, "rows": md.num_rows}
        for c in cols:
            lo, hi = stats[c]
            entry[c] = (lo, hi)
            entry[f"{c}_span"] = None if lo is None else hi - lo
        out.append(entry)
    return out
