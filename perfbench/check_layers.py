"""Check that the traced run measures every layer it should.

    python3 perfbench/check_layers.py [--seed 1] [--seconds 15]

Run from the repository root. Runs ``run.py --trace 1`` on each workload
and fails when a per-layer metric is zero on a workload that exercises
its layer, so renaming an engine function cannot silently zero a layer.
Metrics absent from both lists are legitimately zero in a healthy run
(spills, failed tasks) or sign-free (tracing overhead).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

COMMON = [
    "cypher.parse_ms",
    "cypher.parse_calls",
    "cypher.run_ms",
    "catalog.view_calls",
    "catalog.view_misses",
    "catalog.view_hit_ratio",
    "catalog.view_build_ms",
    "catalog.table_loads",
    "api.ubo_report_ms",
    "graph_algos.bfs_distances_ms",
    "graph_algos.ubo_closure_ms",
    "graph_algos.path_rows_ms",
    "graph_algos.jobs",
    "session.start_s",
    "session.warm_s",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.scheduler_delay_ms",
    "spark.executor_run_ms",
    "spark.core_busy_ratio",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.gc_ms",
]

EXPECTED = {
    "interactive": COMMON
    + [
        "serving.respond_ms",
        "serving.response_bytes",
        "serving.transport_ms",
        "api.expand_neighborhood_ms",
        "graph_algos.multi_source_distances_ms",
    ],
    "compliance_batch": COMMON
    + [
        "cypher.run_jobs",
        "api.conflict_report_ms",
        "api.circular_ownership_ms",
        "api.structure_diff_ms",
        "api.centrality_ms",
        "api.export_audit_report_ms",
        "api.export_graph_viz_ms",
        "graph_algos.pagerank_ms",
        "graph_algos.betweenness_ms",
        "graph_algos.connected_components_ms",
        "pregel.fixpoint_calls",
        "pregel.supersteps",
        "pregel.supersteps_per_call",
        "pregel.fixpoint_ms",
        "operators.build_ms",
        "operators.exec_ms",
        "io.export_ms",
        "io.export_bytes",
        "io.export_files",
    ]
    + [
        f"operators.{op}.{part}_ms"
        for op in (
            "graph_risk_score",
            "graph_scc",
            "cypher_supply_chain",
            "cypher_temporal_bare_headline",
        )
        for part in ("build", "exec")
    ],
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    args = ap.parse_args()
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    bad = []
    for workload, names in EXPECTED.items():
        out = subprocess.run(
            [sys.executable, run, "--workload", workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", "1"],
            capture_output=True, text=True, check=True,
        ).stdout.splitlines()[-1]
        result = json.loads(out)
        metrics = result["metrics"]
        zero = [n for n in names if not metrics.get(n, {}).get("value")]
        print(f"{workload}: correct={result['correct']} zero={zero}")
        bad += [(workload, n) for n in zero]
        if not result["correct"]:
            bad.append((workload, "correct"))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
