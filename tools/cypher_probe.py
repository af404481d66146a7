"""Per-template parse time, compile time, execute time and Spark jobs of the interactive Cypher templates.

    python tools/cypher_probe.py [--reps 4]

Runs every template of ``perfbench/interactive.py`` (imported, not
edited) the way the HTTP server answers it: ``api.cypher`` builds the
DataFrame (compile), then ``limit(1000).collect()`` runs it (execute).
One warm-up call per template precedes the ``--reps`` timed calls; each
call draws its parameters from the template's generator with the rep
index as seed. Jobs are counted per call through a job group and
``statusTracker``. Parse time is the pure-Python ``cypher.parse`` of the
template's bound text, timed over ``PARSE_CALLS`` calls with seeds
0, 1, …. Prints one line per template (median parse ms, median compile
ms, median execute ms, median jobs per call) and a JSON object on the
last line.

The dataset is perfbench's fixed one (written under ``.perfbench/`` on
first use). The engine runs ``local[N]`` with N = half the CPUs, as perfbench does; set
``SPARK_GRAFT_CPUS`` to override.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import datagen  # noqa: E402
import interactive  # noqa: E402
import program  # noqa: E402


PARSE_CALLS = 30


def parse_ms(name: str) -> float:
    """Median ms of ``cypher.parse`` on the template's bound text."""
    from mimranalytics_core_spark import cypher

    _, query, _, gen = interactive.TEMPLATE_BY_NAME[name]
    times = []
    for seed in range(PARSE_CALLS):
        bound = cypher.bind_params(query, gen(random.Random(seed)))
        t0 = time.perf_counter()
        cypher.parse(bound)
        times.append((time.perf_counter() - t0) * 1e3)
    return round(statistics.median(times), 3)


def probe(spark, data_dir: str, name: str, reps: int) -> dict:
    from mimranalytics_core_spark import api

    _, query, _, gen = interactive.TEMPLATE_BY_NAME[name]
    graph = interactive.TEMPLATE_GRAPH.get(name, "hierarchy")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    compile_ms, execute_ms, jobs = [], [], []
    for rep in range(-1, reps):  # rep -1 is the warm-up call
        group = f"cypher-probe-{name}-{rep}"
        sc.setJobGroup(group, group)
        params = gen(random.Random(rep))
        t0 = time.perf_counter()
        df = api.cypher(spark, data_dir, query, graph=graph, params=params)
        t1 = time.perf_counter()
        df.limit(1000).collect()
        t2 = time.perf_counter()
        if rep >= 0:
            compile_ms.append((t1 - t0) * 1e3)
            execute_ms.append((t2 - t1) * 1e3)
            jobs.append(len(tracker.getJobIdsForGroup(group)))
    return {
        "parse_ms": parse_ms(name),
        "compile_ms": round(statistics.median(compile_ms), 1),
        "execute_ms": round(statistics.median(execute_ms), 1),
        "jobs": statistics.median(jobs),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=4)
    args = ap.parse_args()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(program.task_slots()))
    data_dir = datagen.ensure_dataset(os.path.join(ROOT, ".perfbench"))
    spark, _ = program.start_engine(data_dir)
    try:
        out = {}
        for name, *_ in interactive.TEMPLATES:
            r = out[name] = probe(spark, data_dir, name, args.reps)
            print(
                f"{name:24s} parse {r['parse_ms']:6.2f} ms  "
                f"compile {r['compile_ms']:7.1f} ms  "
                f"execute {r['execute_ms']:7.1f} ms  jobs {r['jobs']:g}",
                flush=True,
            )
        print(json.dumps(out))
    finally:
        program.stop_engine(spark)


if __name__ == "__main__":
    main()
