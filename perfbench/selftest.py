#!/usr/bin/env python3
"""Self-test of the benchmark's exact-repeat counters, on a tiny corpus.

    python3 perfbench/selftest.py [--workload serve|scan]

Runs each workload traced three times on the tiny corpus: twice with one
seed, once with another. It asserts that every run's outputs are correct,
that the two same-seed runs give identical counts (serving tiers, postings
decoded, Spark jobs per query, storage bytes) and that the other seed
changes the query set. Exits non-zero on the first violation.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# counts that must repeat exactly for one seed; times never do
EXACT = (
    "scorer.path.driver_local", "scorer.path.driver_local_blockmax",
    "scorer.path.fallback_plain", "scorer.path.single_clause_pruned",
    "scorer.path.two_phase", "scorer.term_stats_calls",
    "codec.postings_decoded", "spark.jobs_per_query",
    "spark.stages_per_query", "deletes.tombstones",
    "storage.segments_before_compact", "storage.postings_bytes",
    "storage.docs_bytes", "storage.doc_stats_bytes",
    "storage.term_stats_bytes", "storage.lineage_bytes", "storage.files",
)


def traced_run(workload: str, seed: int) -> dict:
    """One traced tiny run; returns its report."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", "1", "--trace", "1",
           "--scale", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                          timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"FAIL {workload} seed {seed}: exit "
                         f"{proc.returncode}\n{proc.stdout[-2000:]}")
    path = os.path.join(ROOT, ".perfbench_out",
                        f"{workload}-seed{seed}-trace1.json")
    with open(path) as f:
        return json.load(f)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=("serve", "scan"), action="append")
    args = p.parse_args(argv)
    for workload in args.workload or ("serve", "scan"):
        a = traced_run(workload, 101)
        b = traced_run(workload, 101)
        c = traced_run(workload, 202)
        for name in EXACT:
            va, vb = a["per_layer"][name], b["per_layer"][name]
            if va != vb:
                raise SystemExit(f"FAIL {workload}: {name} differs between "
                                 f"same-seed runs: {va} != {vb}")
        if a["queries_sha"] != b["queries_sha"]:
            raise SystemExit(f"FAIL {workload}: same seed, other queries")
        if a["queries_sha"] == c["queries_sha"]:
            raise SystemExit(f"FAIL {workload}: another seed, same queries")
        print(f"ok {workload}: {len(EXACT)} counts repeat exactly; "
              "another seed changes the query set")
    return 0


if __name__ == "__main__":
    sys.exit(main())
