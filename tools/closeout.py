#!/usr/bin/env python
"""Mechanized round close-out (r13 verdict #2).

Round 13 shipped a close-out note ("gate GREEN, pytest 1125/0") that
contradicted the shipped artifacts (gate RED 10.78x, pytest 2 failed)
because the final bench refresh landed AFTER the last full pytest run.
This script makes that impossible: it runs the close-out steps in the
one valid order, each against the tree AS IT WILL SHIP, and refuses to
write the close-out record if any step is red.

Order (fixed):
  1. bench sf0.1  -> BENCH_SF01_LOCAL.json     (the committed sf0.1 record)
  2. bench sf1    -> BENCH_SF1_LOCAL.json      (the committed decade twin)
  3. audit_gate on the records written in 1+2  (must exit 0; a hot op is
     re-timed min-of-3 solo on both legs and merged into both records)
  4. full `pytest tests/` on the same tree     (must exit 0, after 1+2
     so the gate tests see the shipped records)
  5. full-registry selfcheck (tools/driver_sim.py, all oracle'd ops at
     sf0.01)                                   (must exit 0)
  6. write CLOSEOUT_r{N}.json with the measured numbers — the ONLY
     artifact NOTES_r{N}.md may quote for these five facts.

Any red step aborts with exit 1 and NO close-out record, so a claim can
never outrun its evidence. Usage:

  python tools/closeout.py --round 14 [--sf1-dir /tmp/mimranalytics_scaled_sf1]
                           [--selfcheck-out SELFCHECK_r14.json]
                           [--skip-sf1]   # only when the sf1 replica is absent
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.audit_gate import SF01_RECORD, SF1_RECORD, load_exemptions  # noqa: E402


def run(desc: str, cmd: list[str], env: dict | None = None) -> subprocess.CompletedProcess:
    print(f"== closeout step: {desc}", flush=True)
    full_env = dict(os.environ)
    if env:
        full_env.update(env)
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=REPO, env=full_env, capture_output=True, text=True)
    dt = time.time() - t0
    tail = "\n".join((proc.stdout + proc.stderr).strip().splitlines()[-5:])
    print(f"   exit={proc.returncode} wall={dt:.0f}s\n{tail}\n", flush=True)
    if proc.returncode != 0:
        print(f"CLOSEOUT RED at step '{desc}' — no close-out record written.", flush=True)
        sys.exit(1)
    return proc


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--sf1-dir", default="/tmp/mimranalytics_scaled_sf1")
    ap.add_argument("--selfcheck-out", default=None)
    ap.add_argument("--skip-sf1", action="store_true",
                    help="skip the sf1 refresh (replica absent); gate still "
                    f"runs on the committed {SF1_RECORD}")
    args = ap.parse_args()

    record: dict = {"round": args.round, "order": []}

    # 1. bench sf0.1 — writes the committed sf0.1 record, not bench.py's
    #    gitignored BENCH_LOCAL.json sidecar, so the gate reads this run.
    run(f"bench sf0.1 -> {SF01_RECORD}",
        [sys.executable, "bench.py"],
        env={"SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.1",
             "SPARK_GRAFT_BENCH_OUT": SF01_RECORD})
    b01 = json.loads((REPO / SF01_RECORD).read_text())
    record["bench_sf01"] = {"wall": b01["value"], "n_queries": len(b01["queries"]),
                            "n_failed": sum(1 for v in b01["queries"].values() if v < 0)}
    record["order"].append("bench_sf01")
    if record["bench_sf01"]["n_failed"]:
        print("CLOSEOUT RED: bench sf0.1 has failed queries.")
        return 1

    # 2. bench sf1 — writes the committed decade twin.
    if not args.skip_sf1:
        if not Path(args.sf1_dir, "customer.parquet").exists():
            run("build sf1 replica",
                [sys.executable, "tools/make_scaled_sf.py"])
        run(f"bench sf1 -> {SF1_RECORD}",
            [sys.executable, "bench.py"],
            env={"SPARK_GRAFT_SF_DIR": args.sf1_dir,
                 "SPARK_GRAFT_BENCH_OUT": SF1_RECORD})
        record["order"].append("bench_sf1")
    b1 = json.loads((REPO / SF1_RECORD).read_text())
    record["bench_sf1"] = {"wall": b1["value"], "n_queries": len(b1["queries"]),
                           "n_failed": sum(1 for v in b1["queries"].values() if v < 0)}

    # 3. audit gate on the records just written. A full-suite decade pair
    #    is measured on a shared VM — host contention during ONE leg can
    #    push a near-boundary op over 10x (round-14: the sf1 leg ran at
    #    loadavg 7.9 / canary 3.5x degraded and flipped two ops that
    #    measure 7.4x / 5.5x solo). On RED, run audit_gate.py's own
    #    documented backfill MECHANICALLY: re-measure each hot op's
    #    decade pair solo (min-of-3, both SFs, same mode on both legs),
    #    merge, and re-run the gate — which must then pass or the
    #    close-out aborts. Bounded to 6 ops: more than that is not
    #    contention, it is a real regression.
    gate0 = subprocess.run(
        [sys.executable, "tools/audit_gate.py"],
        cwd=REPO, capture_output=True, text=True,
    )
    backfilled: dict[str, dict] = {}
    if gate0.returncode != 0:
        hot = re.findall(r"^\s+(\w+): [\d.]+x$", gate0.stdout, re.M)
        print(f"== gate RED on first pass; backfilling {hot} (min-of-3 solo)",
              flush=True)
        if not hot or len(hot) > 6:
            print(gate0.stdout)
            print("CLOSEOUT RED at step 'audit_gate' — "
                  f"{len(hot)} hot ops is beyond contention backfill.")
            return 1
        for op in hot:
            pair = {}
            for sf_dir, rec in (("/root/testdata/sf0.1", SF01_RECORD),
                                (args.sf1_dir, SF1_RECORD)):
                vals = []
                for rep in range(3):
                    out = f"/tmp/closeout_backfill_{op}_{rep}.json"
                    run(f"backfill {op} @ {sf_dir} rep{rep}",
                        [sys.executable, "bench.py"],
                        env={"SPARK_GRAFT_SF_DIR": sf_dir,
                             "SPARK_GRAFT_BENCH_ONLY": op,
                             "SPARK_GRAFT_BENCH_OUT": out})
                    vals.append(json.loads(Path(out).read_text())["queries"][op])
                best = min(vals)
                recd = json.loads((REPO / rec).read_text())
                recd["queries"][op] = best
                (REPO / rec).write_text(json.dumps(recd, indent=1))
                pair[rec] = {"min_of_3": best, "all": vals}
            backfilled[op] = pair
        record["gate_backfill"] = backfilled
    gate = run("audit_gate on shipped records",
               [sys.executable, "tools/audit_gate.py"])
    # the worst ratio is read from the records as they ship, after any
    # backfill merge, so it agrees with the gate's verdict
    q01 = json.loads((REPO / SF01_RECORD).read_text())["queries"]
    q1 = json.loads((REPO / SF1_RECORD).read_text())["queries"]
    worst, worst_op = 0.0, None
    for name, v01 in q01.items():
        v1 = q1.get(name)
        if v1 is not None and v1 >= 0 and v01 >= 0:
            r = v1 / max(v01, 0.05)
            if r > worst:
                worst, worst_op = r, name
    ex = load_exemptions()
    record["decade_gate"] = {
        "green": True,
        "worst_ratio": round(worst, 2),
        "worst_op": worst_op,
        # a worst op above 10x under GATE GREEN means it rides a
        # documented exemption — name it so the record reads unambiguously
        "worst_op_exemption": ex.get(worst_op, {}).get("max_ratio"),
        "stdout_head": gate.stdout.splitlines()[0],
    }
    record["order"].append("audit_gate")

    # 4. full pytest AFTER the bench refresh, so the gate tests judge the
    #    records that will ship.
    pt = run("full pytest tests/", [sys.executable, "-m", "pytest", "tests/", "-q"])
    m = re.search(r"(\d+) passed(?:.*?(\d+) skipped)?", pt.stdout + pt.stderr, re.S)
    record["pytest"] = {"green": True, "summary_tail":
                        (pt.stdout + pt.stderr).strip().splitlines()[-1]}
    record["order"].append("pytest")

    # 5. full-registry selfcheck at sf0.01.
    sc = run("full-registry selfcheck (driver_sim, sf0.01)",
             [sys.executable, "tools/driver_sim.py"])
    sc_results = json.loads(sc.stdout)
    n_green = sum(1 for r in sc_results.values()
                  if r.get("hash_match") is True)
    n_nooracle = sum(1 for r in sc_results.values() if r.get("err") == "no_oracle")
    record["selfcheck"] = {"n_checked": len(sc_results), "n_hash_green": n_green,
                           "n_no_oracle": n_nooracle}
    record["order"].append("selfcheck")
    out = args.selfcheck_out or f"SELFCHECK_r{args.round}.json"
    (REPO / out).write_text(sc.stdout)

    # 6. the close-out record — written only because every step above was green.
    record["all_green"] = True
    path = REPO / f"CLOSEOUT_r{args.round}.json"
    path.write_text(json.dumps(record, indent=1))
    print(f"CLOSEOUT GREEN -> {path.name}")
    print(json.dumps(record, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
