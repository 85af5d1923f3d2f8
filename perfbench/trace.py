"""Spans, Spark job counts and host/JVM counters, recorded from outside the
engine.

A span wraps one call into a layer's public function. Spans live in memory
and are written out when the run ends. Each traced span runs under its own
Spark job group, so the jobs (and their tasks) a call launched are read back
from Spark's status tracker afterwards. With tracing off, ``span`` is a
no-op and no method is wrapped.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str):
        self.sc = spark.sparkContext
        self.enabled = enabled
        # spans are recorded only while ``active``; ``label`` names the
        # phase ("setup", "op3", ...) every span and count is filed under
        self.active = enabled
        self.label = ""
        self.run_id = run_id
        self.spans: list = []
        self.counts: dict = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, label: str | None = None, parent: int | None = None,
             active: bool | None = None, **attrs):
        """Record a span around the block. ``label``, ``parent`` and
        ``active`` default to the tracer's current state; a call finished
        on another thread passes the state it was started under."""
        if not (self.active if active is None else active):
            yield None
            return
        stack = self._stack()
        sid = next(self._ids)
        if parent is None and stack:
            parent = stack[-1]["id"]
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "run_id": self.run_id,
            "label": self.label if label is None else label,
            "group": f"{self.run_id}-{sid}",
            **attrs,
        }
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.spans.append(rec)

    def current(self) -> int | None:
        """Id of this thread's innermost open span."""
        stack = self._stack()
        return stack[-1]["id"] if stack else None

    def patch(self, cls, method: str, fn) -> None:
        """Replace ``cls.method`` by ``fn`` until ``restore``."""
        self._patched.append((cls, method, cls.__dict__.get(method)))
        setattr(cls, method, functools.wraps(getattr(cls, method))(fn))

    def wrap(self, cls, method: str, layer: str) -> None:
        """Open a ``layer`` span around each call of ``cls.method``."""
        if not self.enabled:
            return
        inner = getattr(cls, method)

        def traced(*args, **kwargs):
            with self.span(layer, op=f"{cls.__name__}.{method}"):
                return inner(*args, **kwargs)

        self.patch(cls, method, traced)

    def count(self, label: str, key: str, n: float = 1) -> None:
        c = self.counts.setdefault(label, {})
        c[key] = c.get(key, 0) + n

    def totals(self, labels) -> dict:
        out: dict = {}
        for lbl in labels:
            for k, v in self.counts.get(lbl, {}).items():
                out[k] = out.get(k, 0) + v
        return out

    def restore(self) -> None:
        for cls, method, orig in reversed(self._patched):
            if orig is None:
                delattr(cls, method)
            else:
                setattr(cls, method, orig)
        self._patched.clear()

    def count_jobs(self) -> None:
        """Attach ``jobs``/``tasks`` to every span: its own job group's
        jobs plus those of its descendants."""
        tracker = self.sc.statusTracker()
        own = {}
        for rec in self.spans:
            jobs = list(tracker.getJobIdsForGroup(rec["group"]))
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for st in info.stageIds if info else ():
                    sinfo = tracker.getStageInfo(st)
                    tasks += sinfo.numTasks if sinfo else 0
            own[rec["id"]] = (len(jobs), tasks)
        children: dict = {}
        for rec in self.spans:
            children.setdefault(rec["parent"], []).append(rec["id"])

        def total(sid):
            j, t = own[sid]
            for c in children.get(sid, ()):
                cj, ct = total(c)
                j, t = j + cj, t + ct
            return j, t

        for rec in self.spans:
            rec["jobs"], rec["tasks"] = total(rec["id"])

    def self_times(self) -> dict:
        """Per span id: duration minus the union of its children's
        intervals (children of one parent run sequentially here)."""
        kids: dict = {}
        for rec in self.spans:
            kids.setdefault(rec["parent"], []).append(rec)
        out = {}
        for rec in self.spans:
            covered, last = 0.0, rec["start"]
            for c in sorted(kids.get(rec["id"], ()), key=lambda r: r["start"]):
                lo, hi = max(c["start"], last), min(c["end"], rec["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[rec["id"]] = rec["end"] - rec["start"] - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps(rec) + "\n")


def count_cache(tracer: Tracer, manager_cls) -> None:
    """Artifact-cache traffic per phase label. Each ``store`` or
    ``store_async`` is a miss (the artifact had to be computed) and adds
    the artifact's on-disk bytes. A ``load`` is a hit unless it runs inside
    a ``store`` or its artifact was stored earlier under the same label
    (callers often store and then load what they stored).

    ``store_async`` publishes from a background thread that may finish
    after its operation ended, so the label, the active flag and the parent
    span are taken when it is called and the publish is filed under them."""
    if not tracer.enabled:
        return
    load, store, store_async = manager_cls.load, manager_cls.store, manager_cls.store_async
    stored: dict = {}  # label -> {(cache_dir, fingerprint)} stored under it
    started: dict = {}  # (cache_dir, fingerprint) -> (label, parent, active) of a store_async
    local = threading.local()

    def miss(label: str, key: tuple) -> None:
        tracer.count(label, "misses")
        stored.setdefault(label, set()).add(key)

    def traced_load(self, spark, fingerprint):
        key = (self.cache_dir, fingerprint)
        if (tracer.active and not getattr(local, "storing", False)
                and key not in stored.get(tracer.label, ())):
            tracer.count(tracer.label, "hits")
        return load(self, spark, fingerprint)

    def traced_store(self, df, fingerprint, meta=None):
        key = (self.cache_dir, fingerprint)
        if key in started:
            label, parent, active = started.pop(key)
        else:
            label, parent, active = tracer.label, None, tracer.active
            if active:
                miss(label, key)
        prev, local.storing = getattr(local, "storing", False), True
        try:
            with tracer.span("pipes.cache.store", label=label, parent=parent, active=active):
                out = store(self, df, fingerprint, meta)
        finally:
            local.storing = prev
        if active:
            tracer.count(label, "bytes", _dir_bytes(self.path_for(fingerprint)))
        return out

    def traced_store_async(self, df, fingerprint, meta=None, release=True):
        key = (self.cache_dir, fingerprint)
        if tracer.active:
            miss(tracer.label, key)
        started[key] = (tracer.label, tracer.current(), tracer.active)
        return store_async(self, df, fingerprint, meta, release)

    tracer.patch(manager_cls, "load", traced_load)
    tracer.patch(manager_cls, "store", traced_store)
    tracer.patch(manager_cls, "store_async", traced_store_async)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def proc_cpu_times() -> tuple:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it: the driver JVM, Spark's Python daemon and its
    workers. A child's time moves into its parent's ``cutime``/``cstime``
    when it is reaped, so the sum stays continuous across worker exits.
    The kernel's task clock leaves out time a vCPU spent stolen by the
    hypervisor, so this reads the same on a busy shared host."""
    total = 0
    for pid in (os.getpid(), *_descendants(os.getpid())):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields 14-17 of stat (utime stime cutime cstime), counted from
        # the state field, which is field 3
        total += sum(int(v) for v in fields[11:15])
    return total / _CLK_TCK


def steal_pct(before: tuple, after: tuple) -> float:
    d_total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def jvm_counters(spark) -> tuple:
    """(gc_s, jit_s) accumulated by the driver JVM so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(max(b.getCollectionTime(), 0) for b in mf.getGarbageCollectorMXBeans())
    jit_ms = mf.getCompilationMXBean().getTotalCompilationTime()
    return gc_ms / 1e3, jit_ms / 1e3


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared by the forked Python workers
    are split among them instead of counted once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _descendants(root: int) -> list:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


class RssSampler:
    """Summed resident memory (PSS) of this process and every process
    under it (the driver JVM, Spark's Python daemon and its workers),
    sampled every ``period`` seconds on a background thread. ``peak_kb`` is
    the peak over the whole run; ``mark`` closes a window (one operation)
    and keeps that window's peaks (total, JVM, Python) in ``windows``."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_kb = 0
        self.windows: list = []
        self._window = dict.fromkeys(("total", "jvm", "python"), 0)
        # per-part peaks (not simultaneous), to tell JVM heap growth from
        # the Python worker count
        self.parts_kb = {"jvm": 0, "python": 0, "processes": 0}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        procs = [os.getpid(), *_descendants(os.getpid())]
        jvm = py = 0
        for p in procs:
            if _comm(p) == "java":
                jvm += _pss_kb(p)
            else:
                py += _pss_kb(p)
        with self._lock:
            self.peak_kb = max(self.peak_kb, jvm + py)
            for k, v in (("total", jvm + py), ("jvm", jvm), ("python", py)):
                self._window[k] = max(self._window[k], v)
            for k, v in (("jvm", jvm), ("python", py), ("processes", len(procs))):
                self.parts_kb[k] = max(self.parts_kb[k], v)

    def mark(self) -> None:
        self.sample()
        with self._lock:
            self.windows.append(self._window)
            self._window = dict.fromkeys(self._window, 0)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
