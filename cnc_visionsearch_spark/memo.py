"""Driver-side memos: one bounded LRU and one file fingerprint.

Like the reference service, which keeps its FAISS index and id map in
memory, the driver keeps what it has read: table handles, point
lookups, codebook rows, rank-kernel literals, the corpus vocabulary
bound. Each such memo is an :class:`LRU` with a constant cap. The
contract:

- Inputs are immutable within a process: a memo replays what it
  stored and never re-reads to check it.
- Fingerprints invalidate: a key holding a :func:`file_fingerprint`
  misses once those files change. An input that cannot be
  fingerprinted keys as ``None``, which is never memoized.
- Keys carry the session identity: a value bound to a Spark session
  (a DataFrame) is keyed on it, so a sibling or restarted session
  misses.

:func:`clear` drops every memo, for a mutation no fingerprint sees (a
temp view redefined behind an unchanged plan).
"""

from __future__ import annotations

import os
import re
import stat
import threading
import weakref
from collections import OrderedDict
from typing import Iterable

__all__ = ["LRU", "clear", "file_fingerprint"]

_ALL: "weakref.WeakSet[LRU]" = weakref.WeakSet()


class LRU:
    """A map holding at most ``cap`` entries; a put past the cap evicts
    the least recently read or written key. A ``None`` key is never
    stored, and reading it always misses."""

    def __init__(self, cap: int):
        self.cap = cap
        self._d: OrderedDict = OrderedDict()
        self._lock = threading.Lock()
        _ALL.add(self)

    def get(self, key, default=None):
        if key is None:
            return default
        with self._lock:
            if key not in self._d:
                return default
            self._d.move_to_end(key)
            return self._d[key]

    def put(self, key, value) -> None:
        if key is None:
            return
        with self._lock:
            self._d[key] = value
            self._d.move_to_end(key)
            while len(self._d) > self.cap:
                self._d.popitem(last=False)

    def clear(self) -> None:
        with self._lock:
            self._d.clear()

    def __len__(self) -> int:
        return len(self._d)

    def __iter__(self):
        with self._lock:
            return iter(list(self._d))


def clear() -> None:
    """Drop every entry of every memo in the process."""
    for m in list(_ALL):
        m.clear()


def _stat_files(path: str):
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        yield (path, st.st_size, st.st_mtime_ns)
        return
    with os.scandir(path) as it:
        # Spark's listing rule: no dot files, no underscore files
        # except partition dirs (`_tb=3`)
        kids = [
            e.path
            for e in it
            if not (e.name[0] == "." or (e.name[0] == "_" and "=" not in e.name))
        ]
    for kid in kids:
        yield from _stat_files(kid)


def file_fingerprint(paths: Iterable[str]):
    """``(name, size, mtime_ns)`` of every data file under ``paths``
    (files or directories, local paths or ``file:``/``file://`` URIs),
    sorted by local path. ``None`` when any of them cannot be stat'd
    locally (another URI scheme, a missing or concurrently removed
    file): a name-only fallback would let an in-place remote overwrite
    keep its old key."""
    try:
        return tuple(sorted(
            f for uri in paths for f in _stat_files(re.sub("^file:(//)?", "", uri))
        ))
    except OSError:
        return None
