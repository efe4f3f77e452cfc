"""Measurement plumbing: Spark job/stage metrics per op, process-tree
RSS sampling, and the spans written at the end of a traced run."""

from __future__ import annotations

import json
import os
import sys
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_STAGE_FIELDS = ("jobs", "tasks", "failed_tasks", "exec_s", "cpu_s", "read_mb",
                 "write_mb", "shuffle_mb", "spill_mb", "gc_s")


class StageMetrics:
    """Reads job, stage and task metrics of one job group from Spark's
    ``AppStatusStore`` through py4j, split by the layer each job is
    credited to.  It works with the UI disabled.

    A job is credited to the layer named in its description, which
    :class:`CallSiteLayers` sets to the layer whose code launched it;
    a job without one is credited to the op's own layer.  A stage is
    credited to the layer of the first job that runs it.

    The store keeps only the most recent jobs and stages (1000 each by
    default), so call :meth:`read` after every op.  Jobs are looked up by
    id (``job``) and stages by id (``stageData``) rather than by listing
    the whole store, which keeps one read proportional to the op's own
    jobs.  A stage that several jobs share, or that a later job skips
    because its shuffle output is reused, is counted once per run.
    """

    def __init__(self, spark, layers: tuple[str, ...]):
        sc = spark.sparkContext
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._tracker = sc.statusTracker()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._all_tasks = sc._jvm.java.util.ArrayList()
        self._counted: set[int] = set()
        self._layers = set(layers)
        self.call_sites = CallSiteLayers(sc, layers)

    def start(self, group: str, layer: str) -> None:
        self._sc.setJobGroup(group, layer)
        self.call_sites.enter(layer)

    def read(self, group: str, layer: str) -> dict[str, dict[str, float]]:
        """{layer: metrics} of the jobs of ``group``; ``layer`` is the
        op's own layer."""
        out: dict[str, dict[str, float]] = {}
        for j in sorted(self._tracker.getJobIdsForGroup(group)):
            job = self._store.job(j)
            desc = job.description()
            owner = desc.get() if desc.isDefined() and desc.get() in self._layers else layer
            m = out.setdefault(owner, dict.fromkeys(_STAGE_FIELDS, 0.0))
            m["jobs"] += 1
            seq = job.stageIds()
            for s in sorted(seq.apply(i) for i in range(seq.size())):
                if s not in self._counted:
                    self._counted.add(s)
                    self._add_stage(s, m)
        return out

    def _add_stage(self, s: int, out: dict[str, float]) -> None:
        attempts = self._store.stageData(s, False, self._all_tasks, False,
                                         self._no_quantiles)
        for i in range(attempts.size()):
            a = attempts.apply(i)
            out["tasks"] += a.numCompleteTasks() + a.numFailedTasks() + a.numKilledTasks()
            out["failed_tasks"] += a.numFailedTasks()
            out["exec_s"] += a.executorRunTime() / 1e3
            out["cpu_s"] += a.executorCpuTime() / 1e9
            out["read_mb"] += a.inputBytes() / 1e6
            out["write_mb"] += a.outputBytes() / 1e6
            out["shuffle_mb"] += a.shuffleWriteBytes() / 1e6
            out["spill_mb"] += a.diskBytesSpilled() / 1e6
            out["gc_s"] += a.jvmGcTime() / 1e3

    def clear(self) -> None:
        self.call_sites.enter(None)
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)


class CallSiteLayers:
    """Names, in each Spark job's description, the layer whose code
    launched the job.

    While installed, every py4j call from Python looks up the innermost
    frame on the Python stack that belongs to one of ``layers`` (a
    module of ``fsharp_dataframe_spark``: ``operators/asof.py`` is
    ``operators.asof``, any module under ``sources/`` is ``sources``;
    helper modules such as ``functions/util.py`` are looked through).
    With no such frame, the call is the benchmark's own (registry
    wrappers and the materialization) and is credited to the op's
    layer.  When the layer changes, the job description is set to it
    before the call goes out, so every job the call submits, including
    those Spark runs on its own threads, carries it.

    Only the thread that installs it may call into the JVM while it is
    installed.  ``overhead_s`` is the time spent in the lookup.
    """

    def __init__(self, sc, layers: tuple[str, ...]):
        import fsharp_dataframe_spark

        self._sc = sc
        self._pkg = os.path.dirname(os.path.realpath(fsharp_dataframe_spark.__file__)) + os.sep
        self._layers = sorted(layers, key=len, reverse=True)
        self._by_file: dict[str, str | None] = {}
        self._default: str | None = None
        self._current: str | None = None
        self._busy = False
        self._orig = None
        self.overhead_s = 0.0

    def layer_of(self, filename: str) -> str | None:
        """The layer a source file belongs to, or None."""
        real = os.path.realpath(filename)
        if not real.startswith(self._pkg):
            return None
        module = real[len(self._pkg):].removesuffix(".py").replace(os.sep, ".")
        module = module.removesuffix(".__init__")
        return next((la for la in self._layers
                     if module == la or module.startswith(la + ".")), None)

    def enter(self, layer: str | None) -> None:
        """Start an op of ``layer`` (None: between ops); the caller has
        just set the job description to ``layer``."""
        self._default = self._current = layer

    def _tag(self) -> None:
        t = time.perf_counter()
        by_file = self._by_file
        layer = None
        f = sys._getframe(2)
        while f is not None and layer is None:
            name = f.f_code.co_filename
            if name not in by_file:
                by_file[name] = self.layer_of(name)
            layer = by_file[name]
            f = f.f_back
        layer = layer or self._default
        if layer != self._current:
            self._busy = True
            try:
                self._sc.setLocalProperty("spark.job.description", layer)
            finally:
                self._busy = False
            self._current = layer
        self.overhead_s += time.perf_counter() - t

    def __enter__(self) -> "CallSiteLayers":
        from py4j.java_gateway import JavaMember

        orig = self._orig = JavaMember.__call__

        def call(member, *args):
            if not self._busy and self._default is not None:
                self._tag()
            return orig(member, *args)

        JavaMember.__call__ = call
        return self

    def __exit__(self, *exc) -> None:
        from py4j.java_gateway import JavaMember

        JavaMember.__call__ = self._orig


def tree_rss(root: int) -> dict[str, float]:
    """Resident set size in MB of ``root`` and all its descendants (the
    Python driver, the JVM it launched and the JVM's Python workers),
    summed per command name."""
    parent, rss, comm = {}, {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        pid = int(name)
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            with open(f"/proc/{pid}/statm") as f:
                rss[pid] = int(f.read().split()[1]) * _PAGE / 1e6
        except (FileNotFoundError, ProcessLookupError):
            continue
        comm[pid] = stat[stat.index("(") + 1:stat.rindex(")")]
        parent[pid] = int(stat[stat.rindex(")") + 2:].split()[1])
    out: dict[str, float] = {}
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid in rss:
            out[comm[pid]] = out.get(comm[pid], 0.0) + rss[pid]
        stack.extend(c for c, p in parent.items() if p == pid)
    return out


class RssSampler:
    """Samples :func:`tree_rss` of this process every ``period`` s
    on a daemon thread and keeps the peak."""

    def __init__(self, period: float = 0.25):
        self.peak_mb = 0.0
        self.peak_parts: dict[str, float] = {}
        self._period = period
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            parts = tree_rss(me)
            if sum(parts.values()) > self.peak_mb:
                self.peak_mb, self.peak_parts = sum(parts.values()), parts
            self._stop.wait(self._period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Spans:
    """In-memory spans (name, start, end, parent, iteration); written out
    once, at the end of the run."""

    def __init__(self):
        self._t0 = time.perf_counter()
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None,
            iteration: int, **attrs) -> int:
        self.items.append({"id": len(self.items), "name": name,
                           "start": round(start - self._t0, 6),
                           "end": round(end - self._t0, 6),
                           "parent": parent, "iteration": iteration, **attrs})
        return len(self.items) - 1

    def write(self, path: str, **header) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**header, "spans": self.items}, f, indent=1)
