"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 20 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` times the work untraced and traced and prints the per-layer
metrics, including the tracing overhead. The last
stdout line is the result object ``{"correct", "attempted", "failed",
"metrics"}``; the line before it holds the run's details: pinned engine
configuration, host load, sample counts, ``peak_rss_mb``, ``wall_s`` and
``error_rate``.
Workloads and metrics are described in ``perfbench/LAYERS.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path[0:0] = [ROOT, HERE]

WORK_ROOT = os.path.join(ROOT, ".perfbench")


def percentile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q``-th percentile: a Beta-weighted
    mean of all order statistics. With the 30 samples of one run it
    moves far less between runs than a single order statistic does."""
    xs = sorted(values)
    n = len(xs)
    a, b = (n + 1) * q / 100.0, (n + 1) * (1 - q / 100.0)
    log_norm = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    steps = 64  # midpoint rule per order statistic's interval

    def density(x: float) -> float:
        return math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x) - log_norm)

    est = 0.0
    for i, x in enumerate(xs):
        lo = i / n
        w = sum(density(lo + (k + 0.5) / (steps * n)) for k in range(steps)) / (steps * n)
        est += w * x
    return est


def _read_json(proc, prefix: str = "") -> dict:
    """Next stdout line of the server that is ``prefix`` + a JSON object
    (the engine's JVM shares the stream; anything else is skipped)."""
    for line in proc.stdout:
        body = line[len(prefix) :] if line.startswith(prefix) else ""
        if body.startswith("{"):
            return json.loads(body)
    raise RuntimeError("server exited")


def _control(proc, line: str) -> dict:
    proc.stdin.write(line + "\n")
    proc.stdin.flush()
    return _read_json(proc)


def _group(records, key) -> list[tuple[str, list[float]]]:
    out: dict[str, list[float]] = {}
    for r in records:
        out.setdefault(key(r), []).append(r["ms"])
    return sorted(out.items())


def run_interactive(args, work: str, data_dir: str, env: dict) -> dict:
    import http.client

    import interactive
    import program
    import spans
    from tests.compare import duck_connect

    t_launch = time.perf_counter()
    log = open(os.path.join(work, "server.log"), "w")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "server.py"), data_dir, str(args.trace)],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        stderr=log,
        env=env,
        text=True,
    )
    try:
        ready = _read_json(proc, prefix="READY ")
        port = ready["port"]
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        conn.request("GET", "/health")
        health_ok = conn.getresponse().read() == b'{"status": "ok"}'
        conn.close()
        warm = interactive.closed_loop(port, interactive.warmup_sequence())
        setup_s = time.perf_counter() - t_launch

        n = interactive.window_requests(args.seconds)
        seq = interactive.request_sequence(args.seed)
        t0 = time.perf_counter()
        records = interactive.closed_loop(port, seq[:n])
        window_s = time.perf_counter() - t0
        traced = []
        if args.trace:
            _control(proc, "trace on")
            e0 = time.time() * 1000.0
            t1 = time.perf_counter()
            traced = interactive.closed_loop(port, seq[n : 2 * n])
            traced_window_s = time.perf_counter() - t1
            e1 = time.time() * 1000.0
            _control(proc, "trace off")
            _control(proc, f"dump {os.path.join(work, 'spans.json')}")
        rss = _control(proc, "stats")["peak_rss_mb"]
        _control(proc, "quit")
        proc.wait(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()

    verifier = interactive.Verifier(duck_connect(data_dir))
    warm_ok = health_ok and all(verifier.check(r) for r in warm)
    checked = records + traced
    failed = sum(not verifier.check(r) for r in checked) + (not warm_ok)
    lat = [r["ms"] for r in records]
    details = {
        "config": ready["config"],
        "requests": len(records),
        "peak_rss_mb": rss,
        "traced_requests": len(traced),
        "error_rate": failed / max(len(checked), 1),
        "p50_ms_by_request": {
            kind: statistics.median(ms)
            for kind, ms in _group(records, lambda r: r["req"].get("template", r["req"]["kind"]))
        },
    }
    e2e = {
        "setup_s": (setup_s, "s"),
        "throughput_ops": (len(records) / window_s, "1/s"),
        "latency_p50_ms": (percentile(lat, 50), "ms"),
        "latency_p90_ms": (percentile(lat, 90), "ms"),
    }
    layers = None
    if args.trace:
        with open(os.path.join(work, "spans.json")) as fh:
            dumped = json.load(fh)
        jobs = spans.read_event_log(os.path.join(work, "eventlog"), e0, e1)
        layers = spans.layer_metrics(
            dumped["spans"],
            dumped["counts"],
            jobs,
            len(traced),
            traced_window_s,
            program.task_slots(),
        )
        handle = [t1 - t0 for _, _, name, t0, t1 in dumped["spans"] if name == "serving.handle"]
        traced_ms = [r["ms"] for r in traced]
        layers["serving.transport_ms"] = statistics.mean(traced_ms) - 1000.0 * statistics.mean(
            handle or [0]
        )
        untraced_ms = statistics.mean(r["ms"] for r in records)
        layers["trace.overhead_pct"] = 100.0 * (statistics.mean(traced_ms) / untraced_ms - 1)
    return {
        "attempted": len(checked) + 1,
        "failed": failed,
        "e2e": e2e,
        "layers": layers,
        # warm_s: everything after the session started, warm-up requests included
        "session": {
            "session.start_s": ready["start_s"],
            "session.warm_s": setup_s - ready["start_s"],
        },
        "details": details,
    }


# A cold pass of the report list takes 35-50 s on 4 CPUs.
PASS_S = 35.0


def batch_passes(seconds: float) -> int:
    """Passes of the report list in an untraced run. The count follows
    ``--seconds`` alone, never the speed of the host or the code, so every
    run mixes cold and warm operations in the same proportion."""
    return max(1, round(seconds / PASS_S))


def run_compliance(args, work: str, data_dir: str, env: dict) -> dict:
    # this process is the engine's driver: pin its environment before the
    # engine modules read it at import
    os.environ.clear()
    os.environ.update(env)
    import compliance
    import program
    import spans
    from tests.compare import duck_connect

    tracer = spans.Tracer()
    if args.trace:
        spans.install(tracer, op_names=compliance.REGISTRY_OPS)
    t_launch = time.perf_counter()
    spark, timing = program.start_engine(data_dir)
    setup_s = time.perf_counter() - t_launch
    config = program.engine_config(spark)

    p = compliance.plan(args.seed)
    out_dir = os.path.join(work, "exports")
    items = compliance.operations(spark, data_dir, p, out_dir, tracer)
    layers = None
    if not args.trace:
        passes = [compliance.run_pass(items) for _ in range(batch_passes(args.seconds))]
        rerun = retraced = []
        rss = program.peak_rss_mb(spark)
    else:
        # the traced pass is cold, like the untraced run's pass. Then every
        # other operation runs once untraced and once traced for the tracing
        # overhead; the spans and counts of that pair are left out.
        e0 = time.time() * 1000.0
        tracer.active = True
        t1 = time.perf_counter()
        passes = [compliance.run_pass(items)]
        traced_s = time.perf_counter() - t1
        tracer.active = False
        e1 = time.time() * 1000.0
        n_spans, counts = len(tracer.spans), dict(tracer.counts)
        rerun = compliance.run_pass(items[::2])
        tracer.active = True
        retraced = compliance.run_pass(items[::2])
        tracer.active = False
        rss = program.peak_rss_mb(spark)
    program.stop_engine(spark)

    runs = [*passes, rerun, retraced]
    errors = {label: err for one in runs for label, _, err in one if err}
    t_verify = time.perf_counter()
    checks = compliance.verify(
        duck_connect(data_dir), data_dir, p, out_dir, f"{data_dir}-oracles"
    )
    verify_s = time.perf_counter() - t_verify
    bad = {k: v for k, v in checks.items() if v}
    attempted = sum(len(one) for one in runs) + len(checks)
    failed = sum(1 for one in runs for _, _, err in one if err) + len(bad)
    walls = [sum(s for _, s, _ in one) for one in passes]
    lat = [s * 1000.0 for one in passes for _, s, _ in one]
    details = {
        "config": config,
        "passes": len(passes),
        "wall_s": statistics.median(walls),
        "peak_rss_mb": rss,
        "verify_s": verify_s,
        "error_rate": failed / attempted,
        "errors": {**errors, **bad},
        "params": {k: v for k, v in p.items() if k != "formats"},
        "op_s": {label: round(s, 3) for label, s, _ in passes[-1]},
    }
    e2e = {
        "setup_s": (setup_s, "s"),
        "throughput_ops": (len(lat) / sum(walls), "1/s"),
        "latency_p50_ms": (percentile(lat, 50), "ms"),
        "latency_p90_ms": (percentile(lat, 90), "ms"),
    }
    if args.trace:
        jobs = spans.read_event_log(os.path.join(work, "eventlog"), e0, e1)
        layers = spans.layer_metrics(
            tracer.spans[:n_spans],
            counts,
            jobs,
            len(items),
            traced_s,
            program.task_slots(),
            op_names=compliance.REGISTRY_OPS,
        )
        untraced_s = sum(s for _, s, _ in rerun)
        layers["trace.overhead_pct"] = 100.0 * (sum(s for _, s, _ in retraced) / untraced_s - 1)
    return {
        "attempted": attempted,
        "failed": failed,
        "e2e": e2e,
        "layers": layers,
        "session": {f"session.{k}": v for k, v in timing.items()},
        "details": details,
    }


def _timeout(signum, frame):
    raise TimeoutError("run exceeded its time limit")


WORKLOADS = {"interactive": run_interactive, "compliance_batch": run_compliance}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [
        p
        for p in ("mimranalytics_core_spark/serving.py", "tests/compare.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2

    import datagen
    import program

    # a run must end within 180 s; the alarm unwinds a stuck run so the
    # server process is still stopped on the way out
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(175)

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data_dir = datagen.ensure_dataset(WORK_ROOT)
        env = program.engine_env(work, bool(args.trace))
        load0, cpu0 = os.getloadavg(), program.cpu_times()
        out = WORKLOADS[args.workload](args, work, data_dir, env)
        load1, cpu1 = os.getloadavg(), program.cpu_times()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    details = out["details"]
    details["workload"] = args.workload
    details["seed"] = args.seed
    details["host"] = {
        "cpus": program.cpus(),
        "loadavg_start": [round(x, 2) for x in load0],
        "loadavg_end": [round(x, 2) for x in load1],
        "cpu_steal_pct": round(100.0 * (cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1), 3),
    }
    if args.trace:
        metrics = {**out["layers"], **out["session"]}
        units = layer_units()
        result = {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        result = {k: {"value": v, "unit": u} for k, (v, u) in out["e2e"].items()}
    print(json.dumps({"details": details}, default=str))
    print(
        json.dumps(
            {
                "correct": out["failed"] == 0,
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": result,
            }
        )
    )
    return 0


def layer_units() -> dict[str, str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
