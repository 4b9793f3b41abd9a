"""Test helpers that look at an index layout's live files through its
transaction log: which data files a probe can see, their digests, and
whether tombstones are pending."""

from __future__ import annotations

import hashlib
import os

from cnc_visionsearch_spark.sources.tlog import TLog, read_tags

TAG_GAP = 10_000  # partition keys sit below this above their tag base


def live_md5s(path: str, part: str = "cell_id", base: int = 0) -> dict:
    """``'<part>=<key>/<file>'`` -> md5 for every live parquet file of
    the layout domains tagged ``base + key`` (key below TAG_GAP)."""
    out = {}
    for rel, tag in TLog(path).snapshot().files:
        if tag is None or not base <= tag < base + TAG_GAP:
            continue
        d = os.path.join(path, rel)
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                with open(os.path.join(d, f), "rb") as fh:
                    out[f"{part}={tag - base}/{rel}/{f}"] = hashlib.md5(
                        fh.read()
                    ).hexdigest()
    return out


def resident_rows(spark, path: str, base: int = 0):
    """Every resident row of the layout domains tagged ``base + key``
    (key below TAG_GAP) — the raw view a vacuum rewrites, tombstoned
    rows included (the tiers' readers hide them)."""
    t = TLog(path)
    snap = t.snapshot()
    tags = {b for _p, b in snap.files if b is not None and base <= b < base + TAG_GAP}
    return read_tags(spark, t, snap, tags)


def has_files(path: str, tag: int) -> bool:
    """Whether the layout's snapshot holds live files tagged ``tag``
    (e.g. pending tombstones)."""
    return bool(TLog(path).snapshot().files_in([tag]))


def scan_tags(df) -> set:
    """Domain tags of the tagged-directory files ``df``'s scans read —
    log-level pruning shows as a tag set smaller than the layout's."""
    import re

    tags = (re.search(r"_tb=(\d+)", f) for f in df.inputFiles())
    return {int(m.group(1)) for m in tags if m}
