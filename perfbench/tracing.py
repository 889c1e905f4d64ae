"""Tracing and host probes for the benchmark.

Spans come from the benchmark's own wrappers around the engine's public
calls; nothing inside the engine is changed. A span records its name, start,
end, parent span and request id, and stays in memory until the run writes
its report. Spark work per request comes from the status store, keyed by one
job group per request; Python-worker CPU comes from ``/proc``.
"""

from __future__ import annotations

import functools
import os
import platform
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory span recorder. ``on`` toggles recording, so the same
    wrappers can stay installed through untraced passes."""

    def __init__(self) -> None:
        self.spans: list[list] = []  # [name, start, end, parent, request]
        self.counters: Counter = Counter()
        self.on = True
        self.request: str | None = None
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        rec = [name, time.perf_counter(), None,
               self._stack[-1] if self._stack else -1, self.request]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owners, attr: str, name: str, before=None, after=None):
        """Replace ``attr`` on every one of ``owners`` (each a name for the
        same function) with ONE wrapper that records a span. One wrapper
        per function keeps it picklable by reference, so Spark's Python
        workers import the unwrapped engine. ``before(kwargs)`` may add
        keyword arguments; ``after(args, kwargs, result)`` records counters
        from the call's result."""
        orig = getattr(owners[0], attr)
        home = sys.modules[orig.__module__]
        if orig.__qualname__ == attr and home not in owners:
            owners = [home, *owners]  # the defining module's name too
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.on:
                return orig(*args, **kwargs)
            if before is not None:
                before(kwargs)
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(args, kwargs, out)
            return out

        for owner in owners:
            if getattr(owner, attr) is not orig:
                raise RuntimeError(f"{owner.__name__}.{attr} is not {name}")
            setattr(owner, attr, wrapper)
            self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _self_seconds(self) -> list[float]:
        """Each span's duration minus the time its child spans cover."""
        own = [t1 - t0 for _name, t0, t1, _parent, _req in self.spans]
        for _name, t0, t1, parent, _req in self.spans:
            if parent >= 0:
                own[parent] -= t1 - t0
        return own

    def self_times(self, requests: set[str]) -> dict[str, float]:
        """Self seconds per span name, over the spans of ``requests``."""
        out: dict[str, float] = defaultdict(float)
        for (name, _t0, _t1, _parent, req), own in zip(
                self.spans, self._self_seconds()):
            if req in requests:
                out[name] += own
        return dict(out)

    def parent_table(self) -> list[dict]:
        """Self time per (parent, span) pair: where each layer's time is
        spent and on whose behalf."""
        agg: dict[tuple, list] = defaultdict(lambda: [0.0, 0])
        for (name, _t0, _t1, parent, _req), own in zip(
                self.spans, self._self_seconds()):
            key = (self.spans[parent][0] if parent >= 0 else "-", name)
            agg[key][0] += own
            agg[key][1] += 1
        rows = [{"parent": p, "span": n, "self_ms": round(s * 1e3, 3),
                 "calls": c} for (p, n), (s, c) in agg.items()]
        return sorted(rows, key=lambda r: -r["self_ms"])


def install_wrappers(tracer: Tracer) -> None:
    """Wrap the engine's public calls at the names its callers resolve."""
    from pyspark.sql.classic.dataframe import DataFrame

    from research_engine_spark import api
    from research_engine_spark.functions import analyzer
    from research_engine_spark.operators import (deletes, esdsl,
                                                 generations, indexer,
                                                 scorer)

    def add_prune_stats(kwargs):
        kwargs.setdefault("prune_stats", {})

    def count_path(_args, kwargs, _out):
        ps = kwargs["prune_stats"]
        if "path" in ps:  # exact tier name, including driver_local_blockmax
            tracer.counters[f"scorer.path.{ps['path']}"] += 1
        if "n_blocks" in ps:
            tracer.counters["scorer.blocks"] += int(ps["n_blocks"])
            tracer.counters["scorer.blocks_kept"] += int(
                ps.get("n_keep", ps["n_blocks"]))

    def count_decoded(_args, _kwargs, out):
        tracer.counters["codec.postings_decoded"] += int(out[3].sum())

    def count_term_stats(_args, _kwargs, _out):
        tracer.counters["scorer.term_stats_calls"] += 1

    tracer.wrap([analyzer, scorer], "analyze_query", "analyzer.query")
    tracer.wrap([scorer], "decode_blocks_flat", "codec.decode",
                after=count_decoded)
    tracer.wrap([scorer.IndexReader], "__post_init__", "scorer.reader_open")
    tracer.wrap([scorer.IndexReader], "term_stats_arrow",
                "scorer.term_stats", after=count_term_stats)
    tracer.wrap([scorer, api], "search", "scorer.search",
                before=add_prune_stats, after=count_path)
    for fn in ("search_many", "phrase_search", "bool_should_search"):
        tracer.wrap([scorer, api], fn, "scorer.search")
    for fn in ("build_index", "append_segment", "compact_index"):
        tracer.wrap([indexer, api], fn, f"indexer.{fn}")
    tracer.wrap([esdsl], "es_search", "esdsl.search")
    tracer.wrap([esdsl], "es_aggregations", "esdsl.aggregations")
    tracer.wrap([esdsl], "es_count", "esdsl.count")
    tracer.wrap([deletes], "delete_by_query", "deletes.delete_by_query")
    tracer.wrap([generations], "gc_generations", "generations.gc")
    tracer.wrap([DataFrame], "collect", "spark.collect")


class SparkCounters:
    """Stage metrics per job group from the Spark status store (works with
    the UI disabled)."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        self.tracker = sc.statusTracker()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> dict:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = list(self.tracker.getJobIdsForGroup(group))
        stages: set[int] = set()
        deadline = time.monotonic() + 2.0
        for j in jobs:
            # the listener bus is asynchronous: wait for the job-end event
            # so the stage metrics below are final
            jd = self.store.job(j)
            while (jd.status().toString() == "RUNNING"
                   and time.monotonic() < deadline):
                time.sleep(0.002)
                jd = self.store.job(j)
            it = jd.stageIds().iterator()
            while it.hasNext():
                stages.add(int(it.next()))
        out = Counter(jobs=len(jobs))
        for s in stages:
            d = self.store.lastStageAttempt(s)
            if d.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += int(d.numTasks())
            out["executor_run_ms"] += int(d.executorRunTime())
            out["executor_cpu_ms"] += int(d.executorCpuTime()) / 1e6
            out["input_bytes"] += int(d.inputBytes())
            out["shuffle_bytes"] += int(d.shuffleReadBytes()) + int(
                d.shuffleWriteBytes())
            out["shuffle_write_bytes"] += int(d.shuffleWriteBytes())
        return dict(out)


def jvm_pid(sc) -> int:
    return int(sc._jvm.java.lang.ProcessHandle.current().pid())


def _stat(pid: str) -> tuple[int, str, int] | None:
    """(ppid, comm, cpu ticks incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state; utime, stime, cutime, cstime are fields 11-14
    return int(fields[1]), comm, sum(int(x) for x in fields[11:15])


def pyworker_cpu_s(root_pid: int) -> float:
    """CPU seconds of every Python process descended from the JVM (the
    PySpark daemon and its workers), counting reaped workers through
    their parent's child-time fields."""
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                procs[int(pid)] = st
    kids = defaultdict(list)
    for pid, (ppid, _comm, _cpu) in procs.items():
        kids[ppid].append(pid)
    total, todo = 0, list(kids[root_pid])
    while todo:
        pid = todo.pop()
        _ppid, comm, cpu = procs[pid]
        if comm.startswith("python"):
            total += cpu
        todo.extend(kids[pid])
    return total / _CLK_TCK


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class Weather:
    """Host conditions of one run, recorded beside the metrics (never
    gated on), so a noisy window can be recognised afterwards."""

    def __init__(self) -> None:
        self._t0 = _cpu_ticks()

    def report(self) -> dict:
        import pyarrow
        import pyspark

        t1 = _cpu_ticks()
        delta = [b - a for a, b in zip(self._t0, t1)]
        total = sum(delta[:8]) or 1  # user..steal; guest is inside user
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg": list(os.getloadavg()),
            "steal_frac": round(delta[7] / total, 5),
            "python": platform.python_version(),
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "PYTHONHASHSEED": os.environ.get("PYTHONHASHSEED"),
        }
