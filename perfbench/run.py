#!/usr/bin/env python3
"""Serve / scan benchmark of the research_engine_spark engine.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. One run starts a local Spark session on
every core, generates its inputs and expected results from ``--seed``,
builds a positional index, serves a fixed closed-loop request list through
one client (one pass of about 8 s on a 4-vCPU host per 8 s of
``--seconds``), then appends, deletes and compacts, checking every result
against the BM25 oracle. The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A full report
(host weather, every metric, and with tracing the spans and the self-time
table) is written under ``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # process start, the origin of setup_s

import argparse  # noqa: E402
import contextlib  # noqa: E402
import dataclasses  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from collections import Counter  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXED_ENV = {"PYTHONHASHSEED": "0", "PYTHONPATH": ROOT}

WORKLOADS = ("serve", "scan")
# one pass of the read window covers every payload of the workload's mix
# once, plus this many search_many calls over the fixed seeded batch
BATCH_REPEATS = {"serve": 6, "scan": 2}
PASS_S = 8  # nominal length of one pass on a 4-vCPU host
SETUP_PASSES = 3  # timed reader open + first answer, median taken
PROBE_REPS = 1  # timed probe passes after the delete; median probe wall
# measured and printed beside the end-to-end metrics, but not gated: a run
# holds 28 (serve) or 7 (scan) single requests, so p95 is near the maximum
REPORTED = {"query_p95_ms": "ms"}


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def parse_args(argv):
    from inputs import SCALES

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="length of the timed query window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="full",
                   help="corpus size; 'tiny' is for the self-test")
    return p.parse_args(argv)


def _reexec_with_fixed_env() -> None:
    """Hash seed and import path must be fixed before the interpreter
    starts (Spark's Python workers inherit them), so re-exec once."""
    if all(os.environ.get(k) == v for k, v in FIXED_ENV.items()):
        return
    os.execve(sys.executable, [sys.executable, *sys.argv],
              {**os.environ, **FIXED_ENV})


def _quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    import numpy as np

    return float(np.quantile(np.asarray(values, dtype=np.float64), q))


def _dir_bytes(path: str, by_table: dict | None = None) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``; Hadoop's checksum
    and _SUCCESS marker files are not data. ``by_table`` accumulates bytes
    per top-level table (``postings@3`` counts as ``postings``)."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        rel = os.path.relpath(dirpath, path)
        table = rel.split(os.sep)[0].split("@")[0]
        for name in names:
            if name.startswith(".") or name == "_SUCCESS":
                continue
            size = os.path.getsize(os.path.join(dirpath, name))
            total += size
            files += 1
            if by_table is not None and rel != ".":
                by_table[table] = by_table.get(table, 0) + size
    return total, files


class Bench:
    """One run: set-up, the timed query window and the write lifecycle."""

    def __init__(self, spark, args, work: str, tracer) -> None:
        from inputs import SCALES
        from tracing import SparkCounters, jvm_pid

        self.spark = spark
        self.sc = spark.sparkContext
        self.args = args
        self.workload = args.workload
        self.scale = SCALES[args.scale]
        self.n = int(self.sc.defaultParallelism)
        self.work = work
        self.idx = os.path.join(work, "index")
        self.tracer = tracer
        self.spark_counters = SparkCounters(self.sc) if tracer else None
        self.jvm = jvm_pid(self.sc)
        self.requests: list[dict] = []
        self.timeline: list[tuple] = []  # (phase, kind, wall) per request
        self.attempted = 0
        self.failures: list[str] = []
        self.phase = "setup"
        self.m: dict[str, float] = {}  # end-to-end metrics
        self.layer: dict[str, float] = {}  # per-layer metrics

    # --- requests and checks ----------------------------------------------
    def call(self, kind: str, fn):
        """Run one request; return (result, wall seconds). Traced, it gets
        its own Spark job group, a root span and a /proc CPU reading."""
        from tracing import pyworker_cpu_s

        tr = self.tracer
        if tr is None or not tr.on:
            t0 = time.perf_counter()
            out = fn()
            wall = time.perf_counter() - t0
            self.timeline.append((self.phase, kind, wall))
            return out, wall
        group = f"r{len(self.requests)}"
        tr.request = group
        cpu0 = pyworker_cpu_s(self.jvm)
        self.spark_counters.begin(group)
        t0 = time.perf_counter()
        with tr.span(f"request.{kind}"):
            out = fn()
        wall = time.perf_counter() - t0
        tr.request = None
        self.timeline.append((self.phase, kind, wall))
        self.requests.append({
            "id": group, "kind": kind, "phase": self.phase, "wall_s": wall,
            **self.spark_counters.end(group),
            "pyworker_cpu_s": pyworker_cpu_s(self.jvm) - cpu0})
        return out, wall

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def settle(self) -> None:
        """Python and JVM garbage collection before every timed phase, so
        no timed read falls right after a write and no phase collects the
        garbage of the one before."""
        gc.collect()
        self.spark._jvm.System.gc()

    # --- inputs and expected results ----------------------------------------
    def make_inputs(self) -> None:
        """The seeded corpus and queries, and every expected result the
        oracle gives: all computed here, before anything is timed."""
        import pandas as pd

        from inputs import (TOP_K, Expected, delete_victims, make_queries,
                            write_corpus)
        from research_engine_spark.oracle import BM25Oracle

        t0 = time.perf_counter()
        self.parts = write_corpus(self.spark, self.args.seed, self.scale,
                                  self.n, os.path.join(self.work, "input"))
        self.phase_s["corpus"] = time.perf_counter() - t0
        frames = [pd.read_parquet(p) for p in self.parts]
        base = frames[0]
        self.base_turns = len(base)
        self.queries = q = make_queries(self.args.seed, base, self.scale)
        self.queries_sha = hashlib.sha256(json.dumps(
            dataclasses.asdict(q), sort_keys=True).encode()).hexdigest()
        self.batch = {f"q{i:04d}": x for i, x in enumerate(q.batch)}
        self.agg_body = {"size": 0, "query": {"match": {"text": q.agg_query}},
                         "aggs": {"roles": {"terms": {"field": "role"}}}}
        self.payloads = self._payloads()

        self.expected = ex = Expected(base)
        for kind, payloads in self.payloads.items():
            if kind in ("search", "phrase", "bool_should", "fuzzy"):
                for x in payloads:
                    ex.get(kind, x)
        for x in q.batch:
            ex.get("search", x)
        self.agg_expected = sorted(ex.role_counts(q.agg_query).items(),
                                   key=lambda kv: (-kv[1], kv[0]))

        # the lifecycle: tombstone whole conversations, base or appended
        grown = pd.concat(frames, ignore_index=True)
        victims = delete_victims(self.args.seed, grown,
                                 self.scale.n_delete_turns)
        self.delete_where = "conv_id IN ({})".format(
            ", ".join(f"'{v}'" for v in victims))
        dead = grown["conv_id"].isin(victims)
        self.n_dead, self.n_live = int(dead.sum()), int((~dead).sum())
        # until the purge, corpus statistics stay as built: the grown
        # corpus's scores (appended docs included), deleted docs filtered;
        # the purge recomputes them exactly, as a fresh oracle over the
        # live corpus gives them
        grown_oracle = BM25Oracle(grown)
        live_oracle = BM25Oracle(grown[~dead].reset_index(drop=True))
        gone = set(victims)
        self.probe_after_delete = {x: [
            row for row in _keyed_df(grown_oracle.search(
                x, k=TOP_K + self.n_dead)) if row[0] not in gone][:TOP_K]
            for x in q.probes}
        self.probe_after_purge = {
            x: _keyed_df(live_oracle.search(x, k=TOP_K)) for x in q.probes}

    def _payloads(self) -> dict[str, list]:
        """kind -> the payloads one pass of the read window sends, in the
        order the kinds interleave."""
        q, reps = self.queries, BATCH_REPEATS[self.workload]
        if self.workload == "serve":
            return {"search": q.match[0::2], "phrase": q.phrases,
                    "bool_should": q.match[1::2], "fuzzy": q.fuzzy,
                    "es": q.es_bodies, "batch": [self.batch] * reps}
        return {"search": q.match[0::3], "agg": [self.agg_body],
                "batch": [self.batch] * reps}

    def expect_es(self) -> None:
        """ES bodies are checked against the pinned-distributed tier, where
        every query runs through Spark: computed after the build, before
        the set-up passes, all bodies in one es_msearch job."""
        from research_engine_spark.operators import esdsl
        from research_engine_spark.operators.scorer import IndexReader

        self.es_expected = {}
        if "es" not in self.payloads:
            return
        pinned = IndexReader(self.spark, self.idx,
                             driver_local_max_postings=0,
                             driver_local_max_vocab=0)
        bodies = {f"b{i}": body for i, body in enumerate(self.payloads["es"])}
        with _untraced(self.tracer):
            rows = esdsl.es_msearch(pinned, bodies).collect()
        for qid, body in bodies.items():
            hits = sorted(((-float(r["score"]), int(r["doc_id"]))
                           for r in rows if r["qid"] == qid))
            self.es_expected[json.dumps(body, sort_keys=True)] = [
                (d, -s) for s, d in hits]

    # --- operations ---------------------------------------------------------
    def _ops(self) -> dict:
        """kind -> (run(payload) -> rows, check(payload, rows))."""
        from inputs import TOP_K
        from research_engine_spark.operators import esdsl, scorer

        ex, e = self.expected, self.engine

        def same(kind):
            return lambda x, rows: _pairs(rows) == ex.get(kind, x)

        def batch_ok(_x, rows):
            got: dict[str, list] = {qid: [] for qid in self.batch}
            for r in rows:
                got[r["qid"]].append((int(r["doc_id"]), float(r["score"])))
            return all(got[qid] == ex.get("search", text)
                       for qid, text in self.batch.items())

        def agg_ok(_x, rows):
            got = [(r["key"], int(r["doc_count"])) for r in rows]
            return got == self.agg_expected

        def es_ok(x, rows):
            return _pairs(rows) == self.es_expected[
                json.dumps(x, sort_keys=True)]

        if self.workload == "serve":
            return {
                "search": (lambda x: e.search(x, top_k=TOP_K).collect(),
                           same("search")),
                "phrase": (lambda x: e.phrase_search(
                    x, top_k=TOP_K).collect(), same("phrase")),
                "bool_should": (lambda x: e.search(
                    x, top_k=TOP_K, bool_should=True).collect(),
                    same("bool_should")),
                "fuzzy": (lambda x: e.search(
                    x, top_k=TOP_K, fuzzy=True).collect(), same("fuzzy")),
                "es": (lambda x: e.es_search(x).collect(), es_ok),
                "batch": (lambda x: e.batch_search(
                    x, top_k=TOP_K).collect(), batch_ok),
            }
        r = self.scan_reader
        return {
            "search": (lambda x: scorer.search(
                r, x, k=TOP_K, with_text=False).collect(), same("search")),
            "agg": (lambda x: esdsl.es_aggregations(r, x).collect(), agg_ok),
            "batch": (lambda x: scorer.search_many(
                r, x, k=TOP_K).collect(), batch_ok),
        }

    def run_op(self, kind: str, payload, lat: list, batch: list) -> int:
        """One request of the mix, timed and checked; returns result rows."""
        run, ok = self.ops[kind]
        rows, wall = self.call(kind, lambda: run(payload))
        if kind == "batch":
            batch.append((len(payload), wall))
        else:
            lat.append(wall)
        self.check(f"{kind}: {payload!r}", ok(payload, rows))
        return len(rows)

    def request_list(self) -> list[tuple[str, object]]:
        """One pass of the read window: every payload of every kind once,
        the kinds interleaved round-robin, the same list on every run."""
        lists = [[(kind, x) for x in xs] for kind, xs in self.payloads.items()]
        return [lst[i] for i in range(max(map(len, lists)))
                for lst in lists if i < len(lst)]

    # --- phases -------------------------------------------------------------
    def build(self) -> None:
        """One full positional build of the base corpus, timed: the run's
        first build, so JIT warm-up is part of it. Its index is the one
        served."""
        from research_engine_spark.api import ResearchEngine

        self.engine = ResearchEngine(self.spark, self.idx)
        tx = self.spark.read.parquet(self.parts[0])
        self.settle()
        stats, wall = self.call("build", lambda: self.engine.build(
            tx, n_buckets=self.n, n_partitions=self.n, with_positions=True))
        self.check("build n_docs", stats["n_docs"] == self.base_turns)
        self.m["build_turns_per_s"] = self.base_turns / wall
        self.build_timings = stats["timings"]

    def setup(self) -> None:
        """SETUP_PASSES timed passes of reader open + first answer; setup_s
        is the session start plus their median. Then an untimed warm-up
        request of every other kind in the mix."""
        from research_engine_spark.api import ResearchEngine
        from research_engine_spark.operators.scorer import IndexReader

        passes = []
        first = next(iter(self.payloads))
        self.settle()  # the timed first answers follow the build
        for _ in range(SETUP_PASSES):
            t0 = time.perf_counter()
            self.engine = ResearchEngine(self.spark, self.idx)
            if self.workload == "scan":
                self.scan_reader = IndexReader(
                    self.spark, self.idx, driver_local_max_postings=0,
                    driver_local_max_vocab=0)
            else:
                self.engine.reader  # noqa: B018 - opens the reader
            self.ops = self._ops()
            self.run_op(first, self.payloads[first][0], [], [])
            passes.append(time.perf_counter() - t0)
        self.m["setup_s"] = self.session_start_s + statistics.median(passes)
        self.phase_s["setup_passes"] = passes
        for kind, payloads in self.payloads.items():
            if kind != first:
                self.run_op(kind, payloads[0], [], [])

    def read_window(self, passes: int):
        """The closed loop: one client, the next request after the previous
        one returns, ``passes`` times over the fixed request list."""
        self.settle()
        self.phase = "read"
        lat: list[float] = []
        batch: list[tuple[int, float]] = []
        hits = 0
        for _ in range(passes):
            for kind, payload in self.request_list():
                hits += self.run_op(kind, payload, lat, batch)
        self.phase = "lifecycle"
        return lat, batch, hits

    def lifecycle(self) -> None:
        """Append the micro-batches, delete_by_query, then one compaction
        that force-merges the segments and purges the tombstones, and gc -
        on the served index. The probes are timed after the delete (settled,
        PROBE_REPS passes) and checked after the delete and after the
        purge."""
        from inputs import TOP_K

        e = self.engine
        walls = []
        for p in self.parts[1:]:
            self.settle()
            walls.append(self.call("append", lambda p=p: e.append(
                self.spark.read.parquet(p), n_partitions=self.n))[1])
        # every micro-batch holds the same number of turns, so the
        # throughput does not move with the seed's conversation lengths
        self.m["append_turns_per_s"] = (self.scale.append_turns
                                        * len(walls) / sum(walls))
        self.layer["indexer.append_s"] = statistics.median(walls)

        n_del, wall = self.call("delete", lambda: e.delete_by_query(
            self.delete_where))
        self.layer["deletes.delete_ms"] = wall * 1e3
        self.layer["deletes.tombstones"] = n_del
        self.check("delete_by_query count", n_del == self.n_dead)
        self.check("live doc count after delete", self.call(
            "count", e.es_count)[0] == self.n_live)

        def probe(label, want) -> list[float]:
            """One pass over the probes, checked; returns the walls."""
            walls = []
            for x in self.queries.probes:
                rows, wall = self.call("probe", lambda: e.search(
                    x, top_k=TOP_K).collect())
                self.check(f"probe {label}: {x!r}", _keyed(rows) == want[x])
                walls.append(wall)
            return walls

        self.settle()
        self.layer["deletes.probe_ms"] = statistics.median(
            w for _ in range(PROBE_REPS)
            for w in probe("after delete", self.probe_after_delete)) * 1e3

        self.layer["storage.segments_before_compact"] = len(
            e.reader.stats["snapshots"])
        self.settle()
        _, wall = self.call("compact", lambda: e.compact(n_partitions=self.n))
        self.m["compact_s"] = wall
        self.layer["indexer.compact_s"] = wall
        self.call("gc", lambda: e.gc())
        self.check("live doc count after purge",
                   self.call("count", e.es_count)[0] == self.n_live)
        probe("after compaction", self.probe_after_purge)

        tables: dict[str, int] = {}
        index_bytes, files = _dir_bytes(self.idx, tables)
        input_bytes = sum(_dir_bytes(p)[0] for p in self.parts)
        self.m["index_bytes_per_input_byte"] = index_bytes / input_bytes
        for t in ("postings", "docs", "doc_stats", "term_stats", "lineage"):
            self.layer[f"storage.{t}_bytes"] = tables.get(t, 0)
        self.layer["storage.files"] = files

    # --- the run ------------------------------------------------------------
    def run(self, session_start_s: float) -> None:
        from tracing import install_wrappers, peak_rss_mb

        self.session_start_s = session_start_s
        self.phase_s = {"session": session_start_s}
        t0 = time.perf_counter()
        self.make_inputs()
        if self.tracer is not None:
            install_wrappers(self.tracer)
        t1 = time.perf_counter()
        self.build()
        te = time.perf_counter()
        self.expect_es()
        self.phase_s["expect_es"] = time.perf_counter() - te
        tb = time.perf_counter()
        self.setup()
        t2 = time.perf_counter()
        if self.tracer is None:
            lat, batch, _ = self.read_window(
                max(1, round(self.args.seconds / PASS_S)))
        else:
            lat, batch = self.traced_read_window()
        t3 = time.perf_counter()
        self.phase_s.update(inputs=t1 - t0, build=tb - t1, setup=t2 - tb,
                            read=t3 - t2)
        self.m["query_p50_ms"] = _quantile(lat, 0.50) * 1e3
        self.m["query_p95_ms"] = _quantile(lat, 0.95) * 1e3
        self.m["batch_qps"] = sum(n for n, _ in batch) / sum(
            w for _, w in batch)
        self.n_latency_samples = len(lat)
        self.lifecycle()
        self.phase_s["lifecycle"] = time.perf_counter() - t3
        self.m["driver_peak_rss_mb"] = peak_rss_mb()
        if self.tracer is not None:
            self.layer_metrics()

    def traced_read_window(self):
        """Untraced, traced, untraced passes over the same fixed requests:
        per-layer numbers come from the traced pass, and its wall against
        the mean of the other two is the tracing overhead."""
        walls = []
        for on in (False, True, False):
            self.tracer.on = on
            first = len(self.requests)
            before = Counter(self.tracer.counters)
            t0 = time.perf_counter()
            lat, batch, hits = self.read_window(1)
            walls.append(time.perf_counter() - t0)
            if on:
                traced = (lat, batch)
                self.read_counters = self.tracer.counters - before
                self.read_ids = {r["id"] for r in self.requests[first:]}
                self.read_hits = hits
        self.tracer.on = True
        self.layer["trace.overhead_frac"] = walls[1] / (
            (walls[0] + walls[2]) / 2) - 1
        return traced

    def layer_metrics(self) -> None:
        """Per-layer metrics from the spans, counters and request records."""
        from tracing import peak_rss_mb

        tr, L = self.tracer, self.layer
        reads = [r for r in self.requests if r["id"] in self.read_ids]
        n = len(reads)
        st = tr.self_times(self.read_ids)

        def per_query_ms(name):
            return st.get(name, 0.0) * 1e3 / n

        def per_query(key):
            return sum(r.get(key, 0) for r in reads) / n

        L["session.start_s"] = self.session_start_s
        L["session.jvm_peak_rss_mb"] = peak_rss_mb(self.jvm)
        L["analyzer.query_ms"] = per_query_ms("analyzer.query")
        opens = [t1 - t0 for name, t0, t1, _p, _r in tr.spans
                 if name == "scorer.reader_open"]
        L["scorer.reader_open_ms"] = statistics.median(opens) * 1e3
        L["scorer.term_stats_ms"] = per_query_ms("scorer.term_stats")
        L["scorer.search_ms"] = per_query_ms("scorer.search")
        L["codec.decode_ms"] = per_query_ms("codec.decode")
        L["spark.collect_ms"] = per_query_ms("spark.collect")
        L["esdsl.search_ms"] = per_query_ms("esdsl.search")
        c = self.read_counters
        L["scorer.term_stats_calls"] = c["scorer.term_stats_calls"]
        for path in ("driver_local", "driver_local_blockmax",
                     "fallback_plain", "single_clause_pruned", "two_phase"):
            L[f"scorer.path.{path}"] = c[f"scorer.path.{path}"]
        L["scorer.blocks_kept_frac"] = (
            c["scorer.blocks_kept"] / c["scorer.blocks"]
            if c["scorer.blocks"] else 1.0)
        L["codec.postings_decoded"] = c["codec.postings_decoded"]
        L["codec.postings_per_hit"] = c["codec.postings_decoded"] / max(
            self.read_hits, 1)
        L["spark.jobs_per_query"] = per_query("jobs")
        L["spark.stages_per_query"] = per_query("stages")
        L["spark.tasks_per_query"] = per_query("tasks")
        L["spark.executor_cpu_ms_per_query"] = per_query("executor_cpu_ms")
        L["spark.pyworker_cpu_ms_per_query"] = per_query(
            "pyworker_cpu_s") * 1e3
        L["spark.input_bytes_per_query"] = per_query("input_bytes")
        L["spark.shuffle_bytes_per_query"] = per_query("shuffle_bytes")

        build = next(r for r in self.requests if r["kind"] == "build")
        for phase in ("docs_write", "doc_stats", "term_stats", "spimi_pack",
                      "lineage"):
            L[f"indexer.{phase}_s"] = self.build_timings[f"{phase}_sec"]
        L["indexer.shuffle_bytes_per_turn"] = build.get(
            "shuffle_write_bytes", 0) / self.base_turns
        L["indexer.pyworker_cpu_s_per_kturn"] = build["pyworker_cpu_s"] / (
            self.base_turns / 1e3)
        L["indexer.compact_shuffle_bytes"] = statistics.median(
            r.get("shuffle_write_bytes", 0) for r in self.requests
            if r["kind"] == "compact")


@contextlib.contextmanager
def _untraced(tracer):
    """Pause span recording (the benchmark's own checks are not traced)."""
    if tracer is None:
        yield
        return
    on, tracer.on = tracer.on, False
    try:
        yield
    finally:
        tracer.on = on


def _pairs(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def _keyed(rows) -> list[tuple[str, int, float]]:
    return [(r["conv_id"], int(r["turn_idx"]), float(r["score"]))
            for r in rows]


def _keyed_df(df) -> list[tuple[str, int, float]]:
    return [(c, int(t), float(s))
            for c, t, s in zip(df["conv_id"], df["turn_idx"], df["score"])]


def start_spark(work: str, n: int):
    from research_engine_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(app_name="perfbench", cores=n, shuffle_partitions=n,
                     extra_conf={
                         "spark.ui.showConsoleProgress": "false",
                         "spark.driver.memory": "3g",
                         "spark.sql.warehouse.dir": os.path.join(
                             work, "warehouse"),
                         "spark.driver.extraJavaOptions":
                             f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
                     })


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "research_engine_spark",
                                       "__init__.py")):
        print("perfbench: no research_engine_spark package beside "
              "perfbench/ - run from a checkout of the repository",
              file=sys.stderr)
        return 2
    _reexec_with_fixed_env()
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    from tracing import Tracer, Weather

    weather = Weather()
    n = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # keep every temporary file inside the checkout: Python's and the
    # JVMs' temp dirs, and no JVM perf-data files under /tmp
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    tracer = Tracer() if args.trace else None
    spark = None
    try:
        spark = start_spark(work, n)
        session_start_s = time.perf_counter() - T_START
        bench = Bench(spark, args, work, tracer)
        bench.run(session_start_s)
    finally:
        if tracer is not None:
            tracer.restore()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return report(args, bench, weather.report())


def report(args, bench: Bench, weather: dict) -> int:
    """Print the human-readable report and the result line; write the
    full report file. Exit status 1 if any output was wrong."""
    failed = len(bench.failures)
    e2e_units, layer_units = metric_units()
    metrics = {k: {"value": bench.m[k], "unit": unit}
               for k, unit in e2e_units.items()}
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"weather={json.dumps(weather)}")
    for name, mv in metrics.items():
        print(f"{name:30s} {mv['value']:14.4f} {mv['unit']}")
    for name, unit in REPORTED.items():
        print(f"{name:30s} {bench.m[name]:14.4f} {unit} (not gated)")
    print(f"{'failed_frac':30s} {failed / bench.attempted:14.4f} ratio")
    print(f"{'latency_samples':30s} {bench.n_latency_samples:14d} count")
    print("# phase walls (s): " + json.dumps(
        bench.phase_s, default=lambda v: round(v, 2)))
    for what in bench.failures[:20]:
        print(f"# FAILED {what}")
    out = {"workload": args.workload, "seed": args.seed,
           "queries_sha": bench.queries_sha,
           "trace": args.trace, "weather": weather, "end_to_end": metrics,
           "reported": {k: bench.m[k] for k in REPORTED},
           "per_layer": bench.layer, "phase_s": bench.phase_s,
           "timeline": bench.timeline, "failures": bench.failures,
           "attempted": bench.attempted}
    if args.trace:
        table = bench.tracer.parent_table()
        print(f"# self time by (parent, span): {'parent':24s} "
              f"{'span':26s} self_ms calls")
        for row in table[:40]:
            print(f"#   {row['parent']:40s} {row['span']:26s} "
                  f"{row['self_ms']:10.1f} {row['calls']:5d}")
        for name in sorted(bench.layer):
            print(f"{name:36s} {bench.layer[name]:14.4f}")
        out.update(self_time=table, counters=dict(bench.tracer.counters),
                   requests=bench.requests,
                   spans=[[s[0], s[1] - T_START, s[2] - T_START, s[3], s[4]]
                          for s in bench.tracer.spans])
        metrics = {k: {"value": bench.layer[k], "unit": unit}
                   for k, unit in layer_units.items()}
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                                    f"-trace{args.trace}.json"), "w") as f:
        json.dump(out, f, indent=1, default=float)
    print(json.dumps({"correct": failed == 0, "attempted": bench.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
