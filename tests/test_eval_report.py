"""The eval report's exit gate (Spark-free): a tier that fails its P/R
gate or whose Spark tagger diverges from the oracle tagger must make
scripts/eval_report.py exit non-zero."""

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _eval_report():
    spec = importlib.util.spec_from_file_location(
        "eval_report", os.path.join(REPO, "scripts", "eval_report.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _out(tier, passed=True, diverged=0):
    return {"tier": tier, "artifact": "tagger_v1.npz", "pass": passed,
            "tagger_diverged_sentences": diverged}


def test_failed_gates_names_each_failing_tier():
    failed_gates = _eval_report().failed_gates
    assert failed_gates([_out("t2"), _out("t2_zh")]) == []
    failed = failed_gates([_out("t2"), _out("t2_zh", passed=False),
                           _out("t2_noisy", diverged=3)])
    assert len(failed) == 2
    assert failed[0].startswith("t2_zh/") and "pass=False" in failed[0]
    assert failed[1].startswith("t2_noisy/")
    assert "tagger_diverged_sentences=3" in failed[1]
