"""Fast pre-commit plan gate for one or a few named queries.

The corpus-wide scale-killer gate (``tests/test_plans.py::
test_corpus_wide_no_scale_killers``) plans all ~270 queries and takes
minutes — rounds 5 and 7 both shipped a red tree because it wasn't run
before commit.  This tool applies the SAME rules (``violations``, which
that test calls too; declarations read from the registry, no separate
allowlist) to just the queries you touched, in seconds:

    python tools/plan_gate.py agg_theil_inequality orders_rfm_segments
    python tools/plan_gate.py --changed     # queries in modules touched
                                            # since HEAD (git diff)
    python tools/plan_gate.py --all         # the full corpus gate

Checks per query (planned at sf0.001 — plan shape, no execution of the
final frame): see ``violations``, the single source of the rules.
Exit code 0 = clean, 1 = offenders found.
"""

from __future__ import annotations

import re
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"


def violations(spec, df) -> list[str]:
    """The scale-killer rules a query's plan breaks, by rule name; ``[]``
    when clean.  ``spec`` is the query's registry entry: its
    ``expects_*`` declarations allow a shape, and a declaration whose
    shape is gone (stale) fails too.

    - ``cartesian``: any CartesianProduct.
    - ``unexpected-BNLJ``: a BroadcastNestedLoopJoin without
      ``expects_bnlj=True`` (the scalar-subquery / bounded-broadcast
      pattern).
    - ``row-python-udf``: a row-at-a-time Python UDF (BatchEvalPython)
      without ``expects_row_udf=True``.
    - ``undeclared-broadcast-hint``: an ESCALATING join hint
      (``ResolvedHint`` in the ANALYZED plan with strategy broadcast /
      shuffle_replicate_nl) without ``expects_broadcast="why bounded"``.
      An explicit hint is honored at any size and AQE never demotes it,
      so a hint on an SF-scaling frame hard-fails above Spark's 8 GB
      broadcast cap.
    - ``undeclared-global-window``: an unpartitioned window (the
      single-task sort class) without ``expects_global_window="why
      bounded"``.
    - ``stale-broadcast-declaration`` /
      ``stale-global-window-declaration``: a declaration outliving its
      plan shape, which would let a future SF-scaling one slip in."""
    from heparchy_spark.plans import (
        analyzed_plan,
        executed_plan,
        global_windows,
    )

    plan = executed_plan(df)
    probs = []
    if "CartesianProduct" in plan:
        probs.append("cartesian")
    if "BroadcastNestedLoopJoin" in plan and not spec.expects_bnlj:
        probs.append("unexpected-BNLJ")
    if "BatchEvalPython" in plan and not spec.expects_row_udf:
        probs.append("row-python-udf")
    # merge/shuffle_hash hints are DEMOTIONS (never pin a growing frame
    # in memory; SMJ/SHJ spill and AQE skew-splits them) and need no
    # declaration — the defense AGAINST planner-misestimate broadcasts
    # of Python-map-derived frames
    escalating = set(
        re.findall(r"ResolvedHint \(strategy=(\w+)", analyzed_plan(df))
    ) - {"merge", "shuffle_hash"}
    if escalating and spec.expects_broadcast is None:
        probs.append("undeclared-broadcast-hint")
    if not escalating and spec.expects_broadcast is not None:
        probs.append("stale-broadcast-declaration")
    global_win = bool(global_windows(df))
    if global_win and spec.expects_global_window is None:
        probs.append("undeclared-global-window")
    if not global_win and spec.expects_global_window is not None:
        probs.append("stale-global-window-declaration")
    return probs


def changed_query_names() -> list[str]:
    """Queries whose defining module — or any module their defining
    module imports from this package — was touched since HEAD.

    The transitive hop matters: editing ``operators/psl.py`` changes the
    plans of ``queries/web.py``'s queries even though no query module
    stem matches the diff (the round-8 advice: bare-stem matching
    re-gated web/graph/text only by stem coincidence)."""
    root = Path(__file__).resolve().parent.parent
    out = subprocess.run(
        ["git", "diff", "--name-only", "HEAD"],
        capture_output=True,
        text=True,
        cwd=root,
    ).stdout.split()
    touched = {
        p.removesuffix(".py").replace("/", ".")
        for p in out
        if p.endswith(".py") and p.startswith("heparchy_spark/")
    }
    if not touched:
        return []
    import ast

    from heparchy_spark.queries import REGISTRY, _load_all

    _load_all()
    # module -> set of heparchy_spark modules it DIRECTLY imports
    dep_cache: dict[str, set[str]] = {}

    def imports_of(module: str) -> set[str]:
        if module in dep_cache:
            return dep_cache[module]
        deps: set[str] = set()
        dep_cache[module] = deps  # pre-seed: cycles terminate
        path = root / (module.replace(".", "/") + ".py")
        try:
            tree = ast.parse(path.read_text())
        except (OSError, SyntaxError):
            return deps
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module:
                if node.module.startswith("heparchy_spark"):
                    deps.add(node.module)
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.startswith("heparchy_spark"):
                        deps.add(a.name)
        return deps

    def closure_of(module: str) -> set[str]:
        # TRANSITIVE closure over the per-module dep sets (round-9
        # advice: one hop misses an operator reachable only through
        # another operator's import)
        seen: set[str] = set()
        stack = [module]
        while stack:
            m = stack.pop()
            for d in imports_of(m):
                if d not in seen:
                    seen.add(d)
                    stack.append(d)
        return seen

    names = []
    for name, spec in REGISTRY.items():
        mod = spec.spark.__module__
        if mod in touched or closure_of(mod) & touched:
            names.append(name)
    return names


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    flags = {a for a in sys.argv[1:] if a.startswith("-")}

    from heparchy_spark.queries import REGISTRY, _load_all
    from heparchy_spark.session import get_spark

    _load_all()
    if "--all" in flags:
        names = list(REGISTRY)
    elif "--changed" in flags:
        names = changed_query_names()
        if not names:
            print("no registered queries in modules changed since HEAD")
            return 0
    else:
        names = args
    if not names:
        print(__doc__)
        return 1
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 1

    spark = get_spark("plan-gate")
    offenders = []
    for name in names:
        spec = REGISTRY[name]
        probs = violations(spec, spec.spark(spark, SF_DIR))
        status = "FAIL " + ",".join(probs) if probs else "ok"
        print(f"{name}: {status}")
        if probs:
            offenders.append((name, probs))
    spark.stop()
    if offenders:
        print(f"\n{len(offenders)} offender(s): {offenders}")
        return 1
    print(f"\n{len(names)} quer{'y' if len(names) == 1 else 'ies'} clean")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
