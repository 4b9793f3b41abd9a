"""Spans around calls into the library, recorded from outside it.

:class:`Tracer` replaces a public function by a wrapper in every loaded
module of the package that holds it under some name (``service`` imports
``knn_single`` by name, so ``service``'s binding is replaced too), and
can wrap methods on a class (``TLog.commit``).  Each span records its
name, start, end, parent and request, and sets a Spark job group of its
own while it is open, restoring the parent's group on exit; the jobs,
stages and tasks of that group are read from ``statusTracker()`` when
the span closes, because the tracker keeps only a bounded number of
jobs.  Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PKG = "cnc_visionsearch_spark"


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()  # fields from 'state' on


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it, from one pass over /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


class ProcCpu:
    """CPU time of the JVM process tree (the JVM and the Python workers
    it forks), read from /proc; the tree is re-listed on :meth:`refresh`."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.pids = [jvm_pid]

    def refresh(self) -> None:
        self.pids = descendants(self.jvm_pid)

    def ms(self) -> float:
        total = 0
        for p in self.pids:
            st = _stat(p)
            if st is not None:  # utime, stime, cutime, cstime
                total += sum(int(x) for x in st[11:15])
        return total * 1000.0 / _CLK_TCK


def union_ns(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Tracer:
    def __init__(self, sc, cpu: ProcCpu):
        self.sc = sc
        self.cpu = cpu
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self._request = None
        # span name -> fn(span, args, kwargs, result), run before the span closes
        self.hooks: dict = {}

    # ---- spans -----------------------------------------------------------

    @contextmanager
    def span(self, name: str, request: str | None = None):
        """Open a span; with ``request`` it is the root of a new request."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if request is not None:
            self._request = f"{request}#{len(self.spans)}"
            self.cpu.refresh()
        rec = {
            "sid": len(self.spans), "name": name,
            "parent": parent["sid"] if parent else None,
            "request": self._request, "extra": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        gid = f"perfbench-{rec['sid']}"
        b0 = time.perf_counter_ns()
        self.sc.setJobGroup(gid, name)
        py0, jvm0 = time.process_time(), self.cpu.ms()
        rec["t0"] = time.perf_counter_ns()
        try:
            yield rec
        except Exception as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["t1"] = time.perf_counter_ns()
            rec["py_cpu_ms"] = (time.process_time() - py0) * 1000.0
            rec["jvm_cpu_ms"] = self.cpu.ms() - jvm0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent['sid']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._harvest(rec, gid)
            if request is not None:
                self._request = None
            # the tracer's own time around the span: job groups, /proc, harvest
            rec["bookkeeping_ns"] = (rec["t0"] - b0) + (time.perf_counter_ns() - rec["t1"])

    def _harvest(self, rec: dict, gid: str) -> None:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = st.getStageInfo(s)
                stages += 1
                tasks += si.numTasks if si else 0
        rec.update(jobs=len(jobs), stages=stages, tasks=tasks)

    # ---- wrapping ----------------------------------------------------------

    def _wrapper(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*a, **kw):
            if not tracer.enabled:
                return fn(*a, **kw)
            with tracer.span(name) as rec:
                out = fn(*a, **kw)
                hook = tracer.hooks.get(name)
                if hook is not None:
                    hook(rec, a, kw, out)
                return out

        return wrapped

    def wrap_function(self, module: str, attr: str, name: str) -> None:
        """Replace ``module.attr`` wherever a loaded module of the
        package (or the benchmark) binds the same object."""
        orig = getattr(sys.modules[module], attr)
        w = self._wrapper(orig, name)
        for mname, m in list(sys.modules.items()):
            if m is None or not (mname.startswith(_PKG) or mname.startswith("perfbench")):
                continue
            for k, v in list(vars(m).items()):
                if v is orig:
                    setattr(m, k, w)
                    self._patched.append((m, k, orig))

    def wrap_method(self, cls, attr: str, name: str) -> None:
        orig = cls.__dict__[attr]
        setattr(cls, attr, self._wrapper(orig, name))
        self._patched.append((cls, attr, orig))

    def uninstall(self) -> None:
        for obj, k, orig in reversed(self._patched):
            setattr(obj, k, orig)
        self._patched.clear()

    # ---- reading spans -----------------------------------------------------

    def children(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                out.setdefault(s["parent"], []).append(s)
        return out

    def inclusive(self, rec: dict, kids: dict, key: str) -> float:
        return rec.get(key, 0) + sum(self.inclusive(c, kids, key) for c in kids.get(rec["sid"], ()))

    def self_ms(self, rec: dict, kids: dict) -> float:
        covered = union_ns([(c["t0"], c["t1"]) for c in kids.get(rec["sid"], ())])
        return (rec["t1"] - rec["t0"] - covered) / 1e6

    def bookkeeping_ms(self, rec: dict, kids: dict) -> float:
        """The tracer's own time inside ``rec``: around each child span and
        its descendants."""
        return sum(c["bookkeeping_ns"] / 1e6 + self.bookkeeping_ms(c, kids) for c in kids.get(rec["sid"], ()))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
