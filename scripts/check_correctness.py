"""Driver-mimic correctness check: run every queries() entry on Spark
and its oracle_sql() on DuckDB over the same parquet, compare
row-count + column names + order-insensitive values.

Usage: python scripts/check_correctness.py [sf_dir] [query-prefix ...]
       python scripts/check_correctness.py --json CORRECTNESS_FULL.json

Args containing "/" select the sf_dir (default /root/testdata/sf0.01);
``--json PATH`` additionally writes the per-query results in the round
driver's CORRECTNESS_r{N}.json format (the committed full-surface
artifact — the driver's own file hard-gates only its first-50 window);
anything else filters queries by name prefix.

The script checks the checkout it lives in (its parent directory goes
first on sys.path). DuckDB runs under a memory limit, spilling to a
temporary directory; an oracle that still runs out of memory is
reported as ``FAIL ... UNCHECKED`` and counted as a failure, never as a
pass. Whenever the process's peak RSS (``ru_maxrss``) rises after a
query, an ``RSS`` line names that query; the summary names the query at
which the peak was reached.
"""

from __future__ import annotations

import math
import os
import resource
import shutil
import sys
import tempfile
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cnc_visionsearch_spark.schemas import ALL_TABLES  # noqa: E402
from cnc_visionsearch_spark.session import get_session  # noqa: E402


# DuckDB's share of this process; the Spark driver JVM runs beside it
DUCKDB_MEMORY_LIMIT = "3GB"


def canon_value(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v!r}"
    if isinstance(v, bool):
        return str(v)
    return str(v)


def canon_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append(tuple(canon_value(vals[i]) for i in idx))
    return sorted(out)


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    dirs = [a for a in args if "/" in a]
    sf_dir = dirs[0] if dirs else "/root/testdata/sf0.01"
    only = [a for a in args if "/" not in a]

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_session()
    spill = tempfile.mkdtemp(prefix="check_correctness_duckdb_")
    con = duckdb.connect(
        config={"memory_limit": DUCKDB_MEMORY_LIMIT, "temp_directory": spill}
    )
    for t in ALL_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    peak = {"mb": 0.0, "at": None}

    def note_peak(after: str) -> None:
        mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024  # KiB on Linux
        if mb > peak["mb"]:
            peak.update(mb=mb, at=after)
            print(f"RSS {after}: peak {mb:.0f} MB")

    n_pass = n_fail = n_weak = n_oom = 0
    results: dict[str, dict] = {}
    prev = "(startup)"
    for name, fn in qs.items():
        if only and not any(name.startswith(p) for p in only):
            continue
        note_peak(prev)
        prev = name
        rec = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        results[name] = rec
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
            rec["spark_rows"] = len(srows)
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            rec["err"] = f"spark error: {e}"
            n_fail += 1
            continue
        if name not in oracles:
            print(f"weak {name}: rows={len(srows)} (no oracle) [{time.time()-t0:.1f}s]")
            rec["err"] = "no oracle (rows-only)"
            n_weak += 1
            continue
        try:
            res = con.sql(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            rec["oracle_rows"] = len(drows)
        except duckdb.OutOfMemoryException as e:
            print(f"FAIL {name}: UNCHECKED, oracle out of memory: {e}")
            rec["err"] = f"unchecked: oracle out of memory: {e}"
            n_fail += 1
            n_oom += 1
            continue
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            rec["err"] = f"duckdb error: {e}"
            n_fail += 1
            continue
        problems = []
        rec["schema_match"] = sorted(scols) == sorted(dcols)
        if not rec["schema_match"]:
            problems.append(f"columns spark={sorted(scols)} duck={sorted(dcols)}")
        rec["rows_match"] = len(srows) == len(drows)
        if not rec["rows_match"]:
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            cs = canon_rows(scols, [[row[c] for c in scols] for row in srows])
            cd = canon_rows(dcols, drows)
            rec["hash_match"] = cs == cd
            if not rec["hash_match"]:
                diffs = [
                    (a, b) for a, b in zip(cs, cd) if a != b
                ][:3]
                problems.append(f"values differ, first diffs: {diffs}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    note_peak(prev)
    shutil.rmtree(spill, ignore_errors=True)
    print(f"\npeak RSS {peak['mb']:.0f} MB, reached at {peak['at']}")
    print(f"{n_pass} pass, {n_weak} weak (rows-only), {n_fail} fail")
    if n_oom:
        print(f"{n_oom} of the failures are UNCHECKED: oracle out of memory")
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump(results, fh, indent=2)
        print(f"wrote {json_out} ({len(results)} queries)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
