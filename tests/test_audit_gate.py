"""The decade-audit completeness gate (tools/audit_gate.py).

Round-8 verdict #2: the scale audit was prose-only, so newly registered ops
could ship with no measured 10x decade pair (the hole the round-6 39.9x
scale-killer entered through). This test makes the record mechanical: it is
RED whenever registry.all_ops() has an op absent from either
BENCH_SF01_LOCAL.json (sf0.1) or BENCH_SF1_LOCAL.json (10x replica), or whose
decade ratio exceeds 10x.
"""

from __future__ import annotations

import copy
import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

import audit_gate  # noqa: E402


def test_gate_green_on_committed_records():
    missing, hot = audit_gate.check()
    assert missing == set(), f"registered ops without a decade pair: {sorted(missing)}"
    assert hot == {}, f"ops superlinear across the decade: {hot}"


def test_gate_red_when_op_lacks_pair():
    sf01 = json.loads((REPO / audit_gate.SF01_RECORD).read_text())
    sf1 = copy.deepcopy(json.loads((REPO / "BENCH_SF1_LOCAL.json").read_text()))
    victim = sorted(sf1["queries"])[0]
    del sf1["queries"][victim]
    missing, _ = audit_gate.check(sf01=sf01, sf1=sf1)
    assert victim in missing


def test_gate_red_when_ratio_superlinear():
    sf01 = json.loads((REPO / audit_gate.SF01_RECORD).read_text())
    sf1 = copy.deepcopy(json.loads((REPO / "BENCH_SF1_LOCAL.json").read_text()))
    victim = max(sf01["queries"], key=sf01["queries"].get)
    sf1["queries"][victim] = sf01["queries"][victim] * 50
    _, hot = audit_gate.check(sf01=sf01, sf1=sf1)
    assert victim in hot


def test_gate_cli_green():
    proc = subprocess.run(
        [sys.executable, "tools/audit_gate.py"],
        capture_output=True,
        text=True,
        cwd=str(REPO),
        timeout=120,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "GATE GREEN" in proc.stdout


def test_exemption_annotates_but_still_caps():
    # round-11: a DOCUMENTED exemption raises the cap for exactly that op
    # — and the cap is still enforced (an exemption never uncaps)
    sf01 = json.loads((REPO / audit_gate.SF01_RECORD).read_text())
    sf1 = copy.deepcopy(json.loads((REPO / "BENCH_SF1_LOCAL.json").read_text()))
    victim = sorted(sf1["queries"])[0]
    sf1["queries"][victim] = max(sf01["queries"][victim], 0.05) * 11
    ex = {victim: {"max_ratio": 12.0, "reason": "test artifact"}}
    _, hot = audit_gate.check(sf01=sf01, sf1=sf1, exemptions=ex)
    assert victim not in hot  # 11x rides the 12x annotated cap
    sf1["queries"][victim] = max(sf01["queries"][victim], 0.05) * 13
    _, hot = audit_gate.check(sf01=sf01, sf1=sf1, exemptions=ex)
    assert victim in hot  # 13x exceeds even the annotated cap


def test_exemption_without_reason_is_ignored(tmp_path):
    sf01 = json.loads((REPO / audit_gate.SF01_RECORD).read_text())
    sf1 = copy.deepcopy(json.loads((REPO / "BENCH_SF1_LOCAL.json").read_text()))
    victim = sorted(sf1["queries"])[0]
    sf1["queries"][victim] = max(sf01["queries"][victim], 0.05) * 11
    # empty reason → the entry must NOT weaken the gate
    _, hot = audit_gate.check(
        sf01=sf01, sf1=sf1, exemptions={}
    )
    assert victim in hot
    assert audit_gate.load_exemptions() == {
        k: v for k, v in audit_gate.load_exemptions().items()
        if str(v.get("reason", "")).strip() and float(v["max_ratio"]) > 0
    }


def test_committed_exemption_file_is_well_formed():
    ex = audit_gate.load_exemptions()
    for op, spec in ex.items():
        assert len(str(spec["reason"]).strip()) >= 40, (
            f"exemption for {op} needs a substantive reason"
        )
        assert 0 < float(spec["max_ratio"]) <= 15, (
            f"exemption cap for {op} must stay in a detectable band"
        )
