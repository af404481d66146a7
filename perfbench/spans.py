"""Span tracing for the traced run, recorded only from the benchmark's side.

``install`` wraps the public functions of each engine layer and rebinds
every module-level name that refers to them, so a function imported by
name elsewhere (``api`` binds ``bfs_distances``; ``graph_algos`` and
``operators.graph`` bind ``iterate_fixpoint``) is traced where it is looked
up. A span is (id, parent id, name, start, end); spans of one thread nest.
Every span sets the Spark local property ``perfbench.span`` to its id, so
the Spark event log attributes every job to its innermost enclosing span.
``layer_metrics`` folds the spans, the counters and the event log into the
per-layer metrics.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict

PKG = "mimranalytics_core_spark"
SPAN_PROP = "perfbench.span"

API_FNS = (
    "expand_neighborhood",
    "ubo_report",
    "conflict_report",
    "circular_ownership",
    "structure_diff",
    "centrality",
    "export_audit_report",
    "export_graph_viz",
)
GRAPH_FNS = (
    "bfs_distances",
    "ubo_closure",
    "pagerank",
    "betweenness",
    "connected_components",
    "path_rows",
    "multi_source_distances",
)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[int, int, str, float, float]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.active = False
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _state(self):
        loc = self._local
        if not hasattr(loc, "stack"):
            loc.stack = []
            loc.prop = None
        return loc

    def call(self, name: str, fn, args, kwargs):
        if not self.active:
            return fn(*args, **kwargs)
        loc = self._state()
        sid = next(self._ids)
        parent = loc.stack[-1] if loc.stack else 0
        loc.stack.append(sid)
        prev = loc.prop
        sc = _spark_context()
        if sc is not None:
            sc.setLocalProperty(SPAN_PROP, str(sid))
            loc.prop = sid
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            loc.stack.pop()
            if sc is not None:
                sc.setLocalProperty(SPAN_PROP, None if prev is None else str(prev))
                loc.prop = prev
            self.spans.append((sid, parent, name, t0, t1))

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            return self.call(name, fn, args, kwargs)

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    def count(self, key: str, value: float = 1.0, always: bool = False) -> None:
        """Add to a counter; ``always`` counts outside the traced phase too."""
        if self.active or always:
            with self._lock:
                self.counts[key] += value

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, fh)


def _spark_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


def rebind(orig, new) -> None:
    """Point every engine module-level name bound to ``orig`` at ``new``."""
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith(PKG):
            continue
        for key, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, key, new)


def _dir_size(path: str) -> tuple[int, int]:
    files = [
        p
        for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "_"))
    ]
    return len(files), sum(os.path.getsize(p) for p in files)


def install(tracer: Tracer, op_names=()) -> None:
    """Wrap every traced layer entry point; call once per process."""
    from mimranalytics_core_spark import api, catalog, cypher, serving
    from mimranalytics_core_spark.functions import graph_algos
    from mimranalytics_core_spark.plans import pregel
    from mimranalytics_core_spark.registry import all_ops
    from mimranalytics_core_spark.sources import io as sources_io

    ops = all_ops()  # imports every operator module before rebinding

    for fn_name in API_FNS:
        orig = getattr(api, fn_name)
        rebind(orig, tracer.wrap(f"api.{fn_name}", orig))
    for fn_name in GRAPH_FNS:
        orig = getattr(graph_algos, fn_name)
        rebind(orig, tracer.wrap(f"graph_algos.{fn_name}", orig))
    for fn_name in ("parse", "run"):
        orig = getattr(cypher, fn_name)
        rebind(orig, tracer.wrap(f"cypher.{fn_name}", orig))

    # catalog: memoised view constructors (calls, misses = _VIEW_CACHE growth)
    for orig in list(vars(catalog).values()):
        if callable(orig) and getattr(orig, "__module__", "") == catalog.__name__ and hasattr(
            orig, "__wrapped__"
        ):

            def view(*args, _orig=orig, **kwargs):
                before = len(catalog._VIEW_CACHE)
                t0 = time.perf_counter()
                out = _orig(*args, **kwargs)
                tracer.count("catalog.view_calls")
                if len(catalog._VIEW_CACHE) > before:
                    # misses and build time are counted over the whole run:
                    # the views are built during set-up and warm-up
                    tracer.count("catalog.window_misses")
                    tracer.count("catalog.view_misses", always=True)
                    ms = (time.perf_counter() - t0) * 1000.0
                    tracer.count("catalog.view_build_ms", ms, always=True)
                return out

            rebind(orig, view)

    orig_load = catalog.load_table

    def load_table(*args, **kwargs):
        tracer.count("catalog.table_loads", always=True)
        return orig_load(*args, **kwargs)

    rebind(orig_load, load_table)

    orig_fixpoint = pregel.iterate_fixpoint

    def iterate_fixpoint(state, step, *args, **kwargs):
        def counted(df):
            tracer.count("pregel.supersteps")
            return step(df)

        tracer.count("pregel.fixpoint_calls")
        return tracer.call(
            "pregel.iterate_fixpoint", orig_fixpoint, (state, counted, *args), kwargs
        )

    rebind(orig_fixpoint, iterate_fixpoint)

    orig_export = sources_io.export_report

    def export_report(df, path, *args, **kwargs):
        out = tracer.call("io.export_report", orig_export, (df, path, *args), kwargs)
        files, size = _dir_size(path)
        tracer.count("io.export_files", files)
        tracer.count("io.export_bytes", size)
        return out

    rebind(orig_export, export_report)

    orig_df_json = serving._df_json

    def df_json(*args, **kwargs):
        out = tracer.call("serving.respond", orig_df_json, args, kwargs)
        tracer.count("serving.response_bytes", len(out))
        return out

    rebind(orig_df_json, df_json)

    for name in op_names:
        spec = ops[name]
        spec.fn = tracer.wrap(f"operators.{name}.build", spec.fn)


def wrap_handler(tracer: Tracer, server) -> None:
    """Time each request inside the server (``serving.handle`` spans)."""
    handler = server.RequestHandlerClass
    for meth in ("do_GET", "do_POST"):
        setattr(handler, meth, tracer.wrap("serving.handle", getattr(handler, meth)))


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str, t0_ms: float, t1_ms: float) -> list[dict]:
    """Jobs submitted in [t0_ms, t1_ms] with their task totals."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    paths = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sub = ev.get("Submission Time", 0)
                    if not (t0_ms <= sub <= t1_ms):
                        continue
                    span = (ev.get("Properties") or {}).get(SPAN_PROP)
                    job = {
                        "span": int(span) if span else 0,
                        "stages": len(ev.get("Stage IDs", [])),
                        "tasks": 0,
                        "failed_tasks": 0,
                        "run_ms": 0,
                        "delay_ms": 0,
                        "gc_ms": 0,
                        "shuffle_write": 0,
                        "shuffle_read": 0,
                        "spill": 0,
                    }
                    jobs[ev["Job ID"]] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                    if job is None:
                        continue
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    job["tasks"] += 1
                    job["failed_tasks"] += int(bool(info.get("Failed")))
                    run = m.get("Executor Run Time", 0)
                    job["run_ms"] += run
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    got = info.get("Getting Result Time", 0)
                    fin = info.get("Finish Time", 0)
                    fetch = fin - got if got else 0
                    job["delay_ms"] += max(
                        0,
                        fin
                        - info.get("Launch Time", fin)
                        - run
                        - m.get("Executor Deserialize Time", 0)
                        - m.get("Result Serialization Time", 0)
                        - fetch,
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    job["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    job["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return list(jobs.values())


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------


def layer_metrics(
    spans: list,
    counts: dict,
    jobs: list[dict],
    n_ops: int,
    window_s: float,
    cores: int,
    op_names=(),
) -> dict[str, float]:
    """Per-operation layer totals (``_ms``/bytes/counts divided by the
    operations completed in the traced phase), plus ratios."""
    per = max(n_ops, 1)
    total_ms: dict[str, float] = defaultdict(float)
    calls: dict[str, int] = defaultdict(int)
    parent: dict[int, int] = {}
    name_of: dict[int, str] = {}
    for sid, par, name, t0, t1 in spans:
        total_ms[name] += (t1 - t0) * 1000.0
        calls[name] += 1
        parent[sid] = par
        name_of[sid] = name

    def ancestry(sid: int):
        while sid:
            yield name_of.get(sid, "")
            sid = parent.get(sid, 0)

    jobs_under: dict[str, int] = defaultdict(int)
    for job in jobs:
        names = set(ancestry(job["span"]))
        jobs_under["cypher.run"] += "cypher.run" in names
        jobs_under["graph_algos"] += any(n.startswith("graph_algos.") for n in names)

    m: dict[str, float] = {}
    m["serving.respond_ms"] = total_ms["serving.respond"] / per
    m["serving.response_bytes"] = counts.get("serving.response_bytes", 0) / per
    m["cypher.parse_ms"] = total_ms["cypher.parse"] / per
    m["cypher.parse_calls"] = calls["cypher.parse"] / per
    m["cypher.run_ms"] = total_ms["cypher.run"] / per
    m["cypher.run_jobs"] = jobs_under["cypher.run"] / per
    vc = counts.get("catalog.view_calls", 0)
    m["catalog.view_calls"] = vc / per
    m["catalog.view_hit_ratio"] = (1.0 - counts.get("catalog.window_misses", 0) / vc) if vc else 0.0
    for key in ("catalog.view_misses", "catalog.view_build_ms", "catalog.table_loads"):
        m[key] = counts.get(key, 0)
    for fn in API_FNS:
        m[f"api.{fn}_ms"] = total_ms[f"api.{fn}"] / per
    for fn in GRAPH_FNS:
        m[f"graph_algos.{fn}_ms"] = total_ms[f"graph_algos.{fn}"] / per
    m["graph_algos.jobs"] = jobs_under["graph_algos"] / per
    fc = counts.get("pregel.fixpoint_calls", 0)
    ss = counts.get("pregel.supersteps", 0)
    m["pregel.fixpoint_calls"] = fc / per
    m["pregel.supersteps"] = ss / per
    m["pregel.supersteps_per_call"] = ss / fc if fc else 0.0
    m["pregel.fixpoint_ms"] = total_ms["pregel.iterate_fixpoint"] / per
    build = exec_ = 0.0
    for name in op_names:
        b = total_ms[f"operators.{name}.build"] / max(calls[f"operators.{name}.build"], 1)
        e = total_ms[f"operators.{name}.exec"] / max(calls[f"operators.{name}.exec"], 1)
        m[f"operators.{name}.build_ms"] = b
        m[f"operators.{name}.exec_ms"] = e
        build += total_ms[f"operators.{name}.build"]
        exec_ += total_ms[f"operators.{name}.exec"]
    m["operators.build_ms"] = build / per
    m["operators.exec_ms"] = exec_ / per
    m["io.export_ms"] = total_ms["io.export_report"] / per
    m["io.export_bytes"] = counts.get("io.export_bytes", 0) / per
    m["io.export_files"] = counts.get("io.export_files", 0) / per

    run_ms = sum(j["run_ms"] for j in jobs)
    m["spark.jobs"] = len(jobs) / per
    m["spark.stages"] = sum(j["stages"] for j in jobs) / per
    m["spark.tasks"] = sum(j["tasks"] for j in jobs) / per
    m["spark.scheduler_delay_ms"] = sum(j["delay_ms"] for j in jobs) / per
    m["spark.executor_run_ms"] = run_ms / per
    m["spark.core_busy_ratio"] = run_ms / (window_s * 1000.0 * cores) if window_s else 0.0
    m["spark.shuffle_write_bytes"] = sum(j["shuffle_write"] for j in jobs) / per
    m["spark.shuffle_read_bytes"] = sum(j["shuffle_read"] for j in jobs) / per
    m["spark.spill_bytes"] = sum(j["spill"] for j in jobs) / per
    m["spark.gc_ms"] = sum(j["gc_ms"] for j in jobs) / per
    m["spark.failed_tasks"] = float(sum(j["failed_tasks"] for j in jobs))
    return m
