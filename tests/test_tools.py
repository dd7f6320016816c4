"""Pin the pre-commit tooling: the plan gate's selection logic and its
rules.

``tools/plan_gate.py --changed`` is the per-commit gate; rounds 5 and 7
shipped red trees when per-commit checks were skipped, and the round-8
advice found a silent hole in its file->query mapping: editing an
operator module whose stem matches no query module (operators/psl.py,
operators/similarity.py, ...) re-gated nothing.  The ``--changed``
tests pin the transitive mapping without invoking Spark or real git
state; ``test_violations_rule_fires`` shows each rule can flag.
"""

from __future__ import annotations

import dataclasses
import subprocess
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))


def _changed_with_diff(monkeypatch, paths: list[str]) -> set[str]:
    import plan_gate

    real_run = subprocess.run

    def fake_run(cmd, **kw):
        if cmd[:3] == ["git", "diff", "--name-only"]:
            class R:
                stdout = "\n".join(paths)

            return R()
        return real_run(cmd, **kw)

    monkeypatch.setattr(plan_gate.subprocess, "run", fake_run)
    return set(plan_gate.changed_query_names())


def test_changed_maps_operator_module_to_importing_queries(monkeypatch):
    """Editing an operator module must re-gate every query whose
    defining module imports it: operators/web.py feeds the web family's
    plans even though no query-module stem matches the diff path (the
    round-8 advice's silent hole)."""
    names = _changed_with_diff(
        monkeypatch, ["heparchy_spark/operators/web.py"]
    )
    assert "web_url_dedup_canonical" in names
    assert "web_host_quality_rollup" in names
    # unrelated families are NOT dragged in
    assert "q1_pricing_summary" not in names


def test_changed_maps_query_module_to_its_queries(monkeypatch):
    names = _changed_with_diff(
        monkeypatch, ["heparchy_spark/queries/tpch.py"]
    )
    assert "q2_min_cost_supplier" in names and "q21_waiting_suppliers" in names
    assert "text_bm25_topk" not in names


def test_changed_ignores_non_package_files(monkeypatch):
    names = _changed_with_diff(
        monkeypatch, ["tools/plan_gate.py", "README.md", "tests/test_plans.py"]
    )
    assert names == set()


def test_registry_broadcast_declarations_are_nonempty_strings():
    """Every expects_broadcast declaration must carry a real reason —
    an empty string would satisfy the gate while documenting nothing."""
    from heparchy_spark.queries import REGISTRY, _load_all

    _load_all()
    bad = [
        n
        for n, s in REGISTRY.items()
        if s.expects_broadcast is not None
        and not s.expects_broadcast.strip()
    ]
    assert not bad, bad


@pytest.mark.parametrize(
    "name, change, want",
    [
        ("q1_pricing_summary", {}, []),
        ("q1_pricing_summary", {"expects_global_window": "x"},
         ["stale-global-window-declaration"]),
        ("q1_pricing_summary", {"expects_broadcast": "x"},
         ["stale-broadcast-declaration"]),
        ("profile_benford_price", {"expects_global_window": None},
         ["undeclared-global-window"]),
    ],
)
def test_violations_rule_fires(spark, name, change, want):
    from heparchy_spark.queries import REGISTRY, _load_all
    from plan_gate import SF_DIR, violations

    _load_all()
    spec = dataclasses.replace(REGISTRY[name], **change)
    assert violations(spec, spec.spark(spark, SF_DIR)) == want
