"""memo.py — the one bounded LRU and the one file fingerprint behind
every driver-side memo, plus a guard that no module grows its own."""

from __future__ import annotations

import ast
import os
import pathlib

import pytest

import cnc_visionsearch_spark
from cnc_visionsearch_spark import memo
from cnc_visionsearch_spark.memo import LRU, file_fingerprint

PKG = pathlib.Path(cnc_visionsearch_spark.__file__).parent


def test_lru_evicts_least_recently_used():
    m = LRU(2)
    m.put("a", 1)
    m.put("b", 2)
    assert m.get("a") == 1  # a read refreshes "a"
    m.put("c", 3)
    assert m.get("b") is None and m.get("a") == 1 and m.get("c") == 3
    assert len(m) == 2 and sorted(m) == ["a", "c"]
    # a None key (an unfingerprintable input) is never stored
    m.put(None, 9)
    assert m.get(None) is None and len(m) == 2
    # falsy values are hits, told apart from a miss by the default
    m.put("z", 0)
    miss = object()
    assert m.get("z", miss) == 0 and m.get("y", miss) is miss


def test_lru_holds_its_cap_under_concurrent_use():
    """Serving threads share the memos: concurrent get/put must neither
    raise nor leave the map past its cap."""
    import sys
    import threading

    m = LRU(8)
    errors = []

    def work(t):
        try:
            for i in range(20000):
                m.put((t, i % 13), i)
                m.get((t ^ 1, i % 13))
        except Exception as e:  # a lost race surfaces here
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == [] and len(m) == 8


def test_clear_drops_every_memo():
    a, b = LRU(4), LRU(4)
    a.put(1, 1)
    b.put(2, 2)
    memo.clear()
    assert len(a) == 0 and len(b) == 0


def test_file_fingerprint_lists_data_files_and_tracks_changes(tmp_path):
    d = tmp_path / "t"
    (d / "k=1").mkdir(parents=True)
    (d / "_tb=2").mkdir()
    (d / "_tlog").mkdir()
    for rel, body in [
        ("k=1/part-0.parquet", b"abc"),
        ("_tb=2/part-1.parquet", b"de"),
        ("_SUCCESS", b""),
        (".part-0.parquet.crc", b"x"),
        ("_tlog/000001.json", b"{}"),
    ]:
        (d / rel).write_bytes(body)
    fp = file_fingerprint([str(d)])
    assert [(os.path.relpath(n, d), s) for n, s, _ in fp] == [
        ("_tb=2/part-1.parquet", 2),
        ("k=1/part-0.parquet", 3),
    ]
    # file: and file:// URIs name the same local files
    assert file_fingerprint([f"file:{d}"]) == fp
    assert file_fingerprint([f"file://{d}"]) == fp
    # a single file stands for itself
    one = str(d / "k=1/part-0.parquet")
    assert file_fingerprint([f"file://{one}"]) == (fp[1],)
    # a rewrite (size or mtime) and a new file both change it
    (d / "k=1/part-0.parquet").write_bytes(b"abcd")
    assert file_fingerprint([str(d)]) != fp
    (d / "k=1/part-2.parquet").write_bytes(b"abcd")
    assert len(file_fingerprint([str(d)])) == 3
    # hidden files never count
    before = file_fingerprint([str(d)])
    (d / "_SUCCESS").write_bytes(b"changed")
    assert file_fingerprint([str(d)]) == before


def test_file_fingerprint_is_none_when_unverifiable(tmp_path):
    (tmp_path / "a").write_bytes(b"1")
    assert file_fingerprint([str(tmp_path / "a"), str(tmp_path / "gone")]) is None
    assert file_fingerprint(["hdfs://nn/warehouse/t/part-0.parquet"]) is None
    assert file_fingerprint([]) == ()


def test_metadata_rows_memo_is_bounded(tmp_path):
    """One entry per artifact dir (every tlog codebook/radii commit is
    a new dir) — the memo stays at its cap, oldest first out."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from cnc_visionsearch_spark.operators import ann

    memo.clear()
    cap = ann._ARTIFACT_ROWS.cap
    dirs = []
    for i in range(cap + 1):
        d = tmp_path / f"a{i}"
        d.mkdir()
        papq.write_table(pa.table({"cell_id": [i]}), str(d / "part-0.parquet"))
        dirs.append(str(d))
        assert ann._metadata_rows(dirs[-1]) == [{"cell_id": i}]
    assert len(ann._ARTIFACT_ROWS) == cap
    assert dirs[0] not in list(ann._ARTIFACT_ROWS)
    assert dirs[-1] in list(ann._ARTIFACT_ROWS)
    with pytest.raises(FileNotFoundError):
        ann._metadata_rows(str(tmp_path / "missing"))


def test_point_memo_is_bounded(spark, monkeypatch):
    """Point lookups memoize per (path, table, key, column), up to the
    cap; the stubbed table counts the lookups that really ran."""
    from cnc_visionsearch_spark.sources import catalog

    ran = []

    class Table:
        def filter(self, cond):
            return self

        def select(self, col):
            return self

        def first(self):
            return [len(ran) - 1]

    def stub_load(spark, sf_dir, name):
        ran.append(name)
        return Table()

    monkeypatch.setattr(catalog, "load_table", stub_load)
    memo.clear()
    cap = catalog._POINTS.cap
    for key in range(cap + 1):
        catalog.memoized_point_value(spark, "/sf", "t", "id", key, "v")
    assert len(ran) == cap + 1 and len(catalog._POINTS) == cap
    # the newest lookup is a hit, the oldest was evicted
    assert catalog.memoized_point_value(spark, "/sf", "t", "id", cap, "v") == cap
    assert len(ran) == cap + 1
    catalog.memoized_point_value(spark, "/sf", "t", "id", 0, "v")
    assert len(ran) == cap + 2


def test_vocab_bound_two_sighting_protocol(spark, monkeypatch):
    """maxsim's corpus vocabulary bound is counted only for a corpus
    seen twice: the first sighting returns None and runs no count, the
    second seeds the bound, later calls replay it. The sightings are a
    bounded memo that drops the OLDEST sighting first."""
    from cnc_visionsearch_spark.operators import maxsim, rank

    monkeypatch.setattr(rank, "_input_key", lambda df: df.key)
    counts = []

    class Docs:
        def __init__(self, key):
            self.key = key

        def select(self, *cols):
            return self

        def distinct(self):
            return self

        def count(self):
            counts.append(self.key)
            return 7

    memo.clear()
    a = Docs("a")
    assert maxsim._corpus_vocab_bound(a) is None and counts == []
    assert maxsim._corpus_vocab_bound(a) == 7 and counts == ["a"]
    assert maxsim._corpus_vocab_bound(a) == 7 and counts == ["a"]

    memo.clear()
    cap = maxsim._VOCAB_SIGHTINGS.cap
    n = cap + 172
    for i in range(n):
        assert maxsim._corpus_vocab_bound(Docs(i)) is None
    assert counts == ["a"]
    # every one of the `cap` most recent sightings survived ...
    for i in range(n - cap, n):
        assert maxsim._corpus_vocab_bound(Docs(i)) == 7
    assert counts[1:] == list(range(n - cap, n))
    # ... and the oldest is a first sighting again
    assert maxsim._corpus_vocab_bound(Docs(n - cap - 1)) is None
    assert len(counts) == cap + 1


def _module_level_empty_containers(path: pathlib.Path) -> list[str]:
    found = []
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets = [node.target]
        else:
            continue
        v = node.value
        empty = (isinstance(v, ast.Dict) and not v.keys) or (
            isinstance(v, ast.Call)
            and isinstance(v.func, ast.Name)
            and v.func.id in ("dict", "set")
            and not v.args
            and not v.keywords
        )
        if empty:
            rel = path.relative_to(PKG).as_posix()
            found += [f"{rel}:{ast.unparse(t)}" for t in targets]
    return found


def test_no_hand_rolled_module_memos():
    """A module-level empty dict or set is how a hand-rolled memo
    starts: every driver-side memo is a memo.LRU instead. The query
    registry is the one module-level map that is not a memo."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name != "memo.py":
            found += _module_level_empty_containers(path)
    assert found == ["registry.py:REGISTRY"], found
