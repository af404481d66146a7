"""Driver-contract tests: the exact surface the verify harness consumes
(__spark_entry__.py entry/queries/oracle_sql + bench.py JSON line)."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import __spark_entry__ as entrymod
from tools.audit_gate import DECADE_RECORDS, SF01_RECORD


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert [f.name for f in df.schema.fields] == [
        "region_name",
        "nation_name",
        "custkey",
        "revenue",
        "rn",
    ]


def test_queries_and_oracles_aligned():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert len(q) >= 110
    assert set(o) <= set(q)  # every oracle belongs to a declared query
    rows_only = set(q) - set(o)
    # rows-only ops are the declared exceptions (approx/iterative/streaming/
    # engine-specific candidate sets)
    assert rows_only == {
        "agg_approx_distinct",
        "agg_approx_percentile",
        "agg_hll_sketch_merge",
        "sim_lsh_ann",
        "sim_ivf_topk",
        "sim_pq_topk",
        "sample_stratified",
        "stream_watermark_late",
        "stream_stateful_custom",
        "stream_session_real",
        "stream_dedup_real",
        "stream_stream_join",
    }


def test_bench_emits_single_json_line(tmp_path):
    # The sidecar MUST be redirected via SPARK_GRAFT_BENCH_OUT: the driver
    # records an sf0.1 BENCH_LOCAL.json each round, and an un-redirected
    # sf0.001 run from pytest silently replaces it (fired in the r7 AND r8
    # judging sessions — VERDICT.md r8 "what's wrong" #2).
    repo = Path(__file__).resolve().parent.parent
    sidecar_before = (repo / "BENCH_LOCAL.json").read_bytes() if (repo / "BENCH_LOCAL.json").exists() else None
    record_before = (repo / SF01_RECORD).read_bytes()
    detail_path = tmp_path / "bench_detail.json"
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        capture_output=True,
        text=True,
        timeout=540,
        env={
            **__import__("os").environ,
            "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
            "SPARK_GRAFT_CPUS": "8",
            "SPARK_GRAFT_BENCH_OUT": str(detail_path),
        },
        cwd="/root/repo",
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert len(lines) == 1, proc.stdout[:500] + proc.stderr[-500:]
    # stdout contract: ONE compact line (<2 KB — survives tail-truncating log
    # capture); per-query detail goes to stderr + the redirected sidecar.
    assert len(lines[0]) < 2000
    payload = json.loads(lines[0])
    assert payload["unit"] == "sec"
    assert payload["sf"] == 0.001
    assert payload["n_queries"] >= 110
    assert payload["n_failed"] == 0
    full = json.loads(detail_path.read_text())
    assert len(full["queries"]) == payload["n_queries"]
    assert all(v >= 0 for v in full["queries"].values())
    # Regression gate for the clobber itself: the repo-root sidecar is
    # byte-identical after the run.
    sidecar_after = (repo / "BENCH_LOCAL.json").read_bytes() if (repo / "BENCH_LOCAL.json").exists() else None
    assert sidecar_after == sidecar_before, "bench.py run from tests clobbered BENCH_LOCAL.json"
    # ...and so is the committed sf0.1 decade record that tools/audit_gate.py reads.
    record_after = (repo / SF01_RECORD).read_bytes()
    assert record_after == record_before, f"bench.py run from tests clobbered {SF01_RECORD}"


def test_bench_refuses_partial_or_wrong_sf_onto_decade_records():
    # The committed decade records take only a full run at their own scale
    # factor; the guard fires before Spark starts.
    import os

    repo = Path(__file__).resolve().parent.parent
    for record, record_sf in DECADE_RECORDS.items():
        # bench.py reads the scale factor off the directory name
        wrong_sf = "testdata/sf0.001"
        right_sf = "testdata/sf0.1" if record_sf == 0.1 else "testdata/replica_sf1"
        before = (repo / record).read_bytes()
        for extra in (
            {"SPARK_GRAFT_SF_DIR": wrong_sf},
            {"SPARK_GRAFT_SF_DIR": right_sf, "SPARK_GRAFT_BENCH_ONLY": "agg_global"},
        ):
            proc = subprocess.run(
                [sys.executable, str(repo / "bench.py")],
                env={**os.environ, **extra, "SPARK_GRAFT_BENCH_OUT": record},
                capture_output=True,
                text=True,
                timeout=60,
            )
            assert proc.returncode != 0, (record, extra)
            assert f"{record} is the committed" in proc.stderr, proc.stderr[-500:]
        assert (repo / record).read_bytes() == before


def test_survey_registry_count_pinned():
    """SURVEY.md §2's authoritative registry-count line must track the live
    registry (round-12, r11 VERDICT #9 — the line had drifted one round
    behind twice)."""
    import re

    from mimranalytics_core_spark.registry import all_ops

    ops = all_ops()
    total = len(ops)
    oracled = sum(1 for o in ops.values() if o.oracle is not None)
    text = open("SURVEY.md").read()
    m = re.search(
        r"Registry count \(authoritative, round \d+\): (\d+) declared "
        r"queries, (\d+)\s*>?\s*oracle-checked",
        text,
    )
    assert m, "SURVEY.md §2 registry-count line missing"
    assert (int(m.group(1)), int(m.group(2))) == (total, oracled), (
        f"SURVEY.md says {m.group(1)}/{m.group(2)}, registry has "
        f"{total}/{oracled} — update the §2 line"
    )
