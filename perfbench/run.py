"""The repository benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload store_rw --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout, as ``bench.py`` is run: Spark's Python
workers import ``heparchy_spark`` from the working directory, so from any
other directory the queries that ship Python code to the workers fail (the
engine does not ship its own package yet). The benchmark neither works
around that nor hides it; such a run reports those queries as failed.

A run sets up (session start, data preparation, untimed warm-up passes
until the JIT has settled, see ``warm_up``), then repeats timed passes over
the workload's fixed operation list while the next pass is predicted to end
within ``--seconds``, always at least three.

With ``--trace 0`` every pass is untraced and the last line carries the
end-to-end metrics. ``wall_s`` is the wall time of a typical pass: the sum
over its operations of each operation's median over the passes, so that a
stall in one operation of one pass does not set it. With ``--trace 1``
passes run in groups of four (untraced, traced, traced, untraced), each
after the ``q6_forecast_revenue`` canary; the last line carries the
per-layer metrics, taken from the traced passes, and ``trace.overhead_s``,
the traced minus the untraced pass wall. The spans are written to
``.perfbench/trace-<workload>-seed<seed>.json``.

Spark runs ``local[N]`` with N the number of CPUs this process may use
(``SPARK_GRAFT_CPUS``, set for this process only): the engine's own default
of 32 oversubscribes a small machine. Everything the run writes stays under
``.perfbench/`` in the checkout, Spark's scratch space included.

``PER_LAYER`` below is the map from each per-layer metric to its layer, the
end-to-end metric it should move and the workload it should move it on. A
workload prints every metric; a layer it does not call reads 0.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
DATA_DIR = Path(__file__).resolve().parent / "data" / "sf0.01"
WORK = ROOT / ".perfbench"
CANARY = "q6_forecast_revenue"
WORKLOADS = ("store_rw", "corpus_llm")
# Wall, CPU and canary are medians over at least three passes.
MIN_PASSES = 3
# Warm-up: at least WARM_MIN untimed passes, then more while the last one
# was still WARM_DROP or more faster than the one before, up to WARM_MAX.
WARM_MIN = 2
WARM_MAX = 4
WARM_DROP = 0.1

# name, unit, better
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("ok_frac", "fraction", "higher"),
]

# name, unit, better, layer, end-to-end metric it moves, workload
PER_LAYER = [
    ("session.get_spark_s", "s", "lower", "session", "setup_s", "all"),
    ("sources.writer.commit_ms", "ms", "lower", "sources", "wall_s", "store_rw"),
    ("sources.writer.close_s", "s", "lower", "sources", "wall_s", "store_rw"),
    ("sources.writer.jobs", "count", "lower", "sources", "wall_s", "store_rw"),
    ("sources.writer.events_per_s", "1/s", "higher", "sources", "wall_s", "store_rw"),
    ("sources.store.files", "count", "lower", "sources", "wall_s", "store_rw"),
    ("sources.store.bytes", "bytes", "lower", "sources", "wall_s", "store_rw"),
    ("sources.store.bytes_per_user_byte", "ratio", "lower", "sources", "wall_s", "store_rw"),
    ("sources.reader.open_s", "s", "lower", "sources", "wall_s", "store_rw"),
    ("sources.reader.lookup_p50_ms", "ms", "lower", "sources", "wall_s", "store_rw"),
    ("sources.reader.jobs_per_lookup", "count", "lower", "sources", "wall_s", "store_rw"),
    ("sources.reader.iter_events_per_s", "1/s", "higher", "sources", "wall_s", "store_rw"),
    ("sources.reader.jobs_per_iter_event", "count", "lower", "sources", "wall_s", "store_rw"),
    ("sources.reader.scan_rows_per_s", "1/s", "higher", "sources", "wall_s", "store_rw"),
    ("sources.reader.scan_tasks", "count", "lower", "sources", "wall_s", "store_rw"),
    ("queries.build_s", "s", "lower", "queries", "wall_s", "corpus_llm"),
    ("queries.build_jobs", "count", "lower", "queries", "wall_s", "corpus_llm"),
    ("queries.exec_s", "s", "lower", "queries", "wall_s", "corpus_llm"),
    ("spark.jobs", "count", "lower", "execution", "wall_s", "all"),
    ("spark.stages", "count", "lower", "execution", "wall_s", "all"),
    ("spark.tasks", "count", "lower", "execution", "wall_s", "all"),
    ("spark.single_task_stages", "count", "lower", "execution", "wall_s", "all"),
    ("jvm.cpu_s", "s", "lower", "execution", "cpu_s", "all"),
    ("operators.pyworker_cpu_s", "s", "lower", "operators", "cpu_s", "corpus_llm"),
    ("cpu_util", "ratio", "higher", "operators", "wall_s", "corpus_llm"),
    ("plans.residue_rdds", "count", "lower", "plans", "none", "corpus_llm"),
    ("jvm.peak_rss_mb", "MB", "lower", "execution", "none", "all"),
    ("env.canary_s", "s", "lower", "env", "none", "all"),
    ("env.steal_frac", "fraction", "lower", "env", "none", "all"),
    ("trace.overhead_s", "s", "lower", "trace", "none", "all"),
]


def _query_metrics() -> list[tuple]:
    from corpus import SLATE

    return [
        (f"q.{q}.{part}_s", "s", "lower", "queries", "wall_s", "corpus_llm")
        for q in SLATE
        for part in ("build", "exec")
    ]


def per_layer_table() -> list[tuple]:
    return PER_LAYER + _query_metrics()


def _preflight() -> str | None:
    for need in (
        ROOT / "heparchy_spark" / "__init__.py",
        ROOT / "tools" / "parity_check.py",
        DATA_DIR / "orders.parquet",
    ):
        if not need.is_file():
            return f"{need.relative_to(ROOT)} not found; run from a checkout of the repository"
    return None


def _pin_environment() -> int:
    """Pin Spark to the visible CPUs and keep its scratch space in the
    checkout. Must run before ``heparchy_spark.session`` is imported, which
    reads ``SPARK_GRAFT_CPUS`` at import time."""
    import tempfile

    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # every JVM Spark starts, the launcher included; no perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None
    return cpus


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for it and its Python workers."""
    import meter
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    children = list(meter.descendants())
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in children:
        while meter.running(pid) and time.monotonic() < deadline:
            time.sleep(0.05)


def _canary(spark, queries) -> float:
    import corpus
    import meter

    t0 = time.perf_counter()
    corpus.run_query(spark, meter.Tracer(), queries[CANARY], CANARY, str(DATA_DIR))
    return time.perf_counter() - t0


def warm_up(w) -> list[float]:
    """Untimed passes until the JIT has settled; returns their walls.

    From a cold JVM on a 4-vCPU VM a corpus_llm pass took about 20, 5,
    4.2, 3.8, 3.5 s and a store_rw pass about 17, 6, 5, 4.6, 4.4 s, and
    some JVMs lag a pass or two behind: timed passes that start on the
    steep part of that slope are set by how far down it the JIT has got,
    not by the program. A first pass in which every operation fails ends
    the run."""
    walls: list[float] = []
    while len(walls) < WARM_MAX:
        r = w.run_pass(-1 - len(walls))
        if not walls and r.failed == r.attempted:
            raise RuntimeError(f"{w.name}: every operation of the first pass failed")
        walls.append(r.wall)
        if len(walls) >= WARM_MIN and walls[-1] > (1 - WARM_DROP) * walls[-2]:
            break
    return walls


@dataclass
class Pass:
    traced: bool
    result: object  # the workload's PassResult: wall, attempted, failed
    root: object  # the pass span when traced, else None
    cpu: object  # meter.Cpu spent during the pass
    canary_s: float


def run(workload: str, seed: int, seconds: float, trace: bool, cpus: int) -> dict:
    import corpus
    import meter
    import store_rw
    from heparchy_spark.queries import spark_queries
    from heparchy_spark.session import get_spark

    module = {"store_rw": store_rw, "corpus_llm": corpus}[workload]
    tracer = meter.Tracer()

    t_setup = time.perf_counter()
    spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - t_setup
    try:
        tracer.bind(spark)
        queries = spark_queries()
        w = module.Workload(spark, tracer, seed, WORK / workload, str(DATA_DIR))
        w.prepare()
        warm = warm_up(w)
        if trace:
            _canary(spark, queries)
        setup_s = time.perf_counter() - t_setup

        passes: list[Pass] = []
        steal0 = meter.steal_ticks()
        t_meas = time.perf_counter()
        while True:
            canary = _canary(spark, queries) if trace else 0.0
            # untraced, traced, traced, untraced: drift across the run
            # cancels out of the tracing overhead
            traced = trace and len(passes) % 4 in (1, 2)
            tracer.enabled = traced
            cpu0 = meter.cpu_now()
            with tracer.span("pass", "workload") as root:
                r = w.run_pass(len(passes))
            cpu = meter.cpu_now() - cpu0
            tracer.enabled = False
            passes.append(Pass(traced, r, root, cpu, canary))
            elapsed = time.perf_counter() - t_meas
            if len(passes) < MIN_PASSES or (trace and len(passes) % 4):
                continue
            if elapsed * (len(passes) + 1) / len(passes) > seconds:
                break
        steal = meter.steal_ticks() - steal0
        rss = meter.jvm_peak_rss_mb()
        extra_failed = w.check([p.result for p in passes])
    finally:
        _stop_spark(spark)

    attempted = sum(p.result.attempted for p in passes)
    failed = min(attempted, sum(p.result.failed for p in passes) + extra_failed)
    untraced = [p for p in passes if not p.traced]
    if trace:
        metrics = layer_metrics(tracer, passes, cpus, getattr(w, "user_bytes", 0))
        metrics["session.get_spark_s"] = get_spark_s
        metrics["jvm.peak_rss_mb"] = rss
        metrics["env.steal_frac"] = steal.share
        path = WORK / f"trace-{workload}-seed{seed}.json"
        path.write_text(json.dumps([s.to_json() for s in tracer.spans]))
        units = {m[0]: m[1] for m in per_layer_table()}
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": typical_pass_s([p.result for p in untraced]),
            "cpu_s": meter.median(p.cpu.jvm + p.cpu.py for p in untraced),
            "ok_frac": 1.0 - failed / attempted,
        }
        units = {m[0]: m[1] for m in END_TO_END}
    print(
        f"perfbench: workload={workload} seed={seed} cpus={cpus} cwd={os.getcwd()}"
        f" warm_s={[round(s, 3) for s in warm]}"
        f" pass_s={[round(p.result.wall, 3) for p in passes]}"
        f" jvm_peak_rss_mb={rss:.0f} steal_frac={steal.share:.3f}"
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def typical_pass_s(results) -> float:
    """The sum over a pass's operations of each one's median over passes."""
    import meter

    names = dict.fromkeys(op for r in results for op in r.ops)
    return sum(meter.median(r.ops[op] for r in results if op in r.ops) for op in names)


def layer_metrics(tracer, passes: list[Pass], cpus: int, user_bytes: int) -> dict:
    """Per-layer metrics: the median over traced passes of each pass's value."""
    import meter

    per_pass: dict[str, list[float]] = {}

    def put(name: str, value: float) -> None:
        per_pass.setdefault(name, []).append(value)

    for p in passes:
        if not p.traced:
            continue
        root = p.root
        spans = tracer.below(root)
        named: dict[str, list] = {}
        for s in spans:
            named.setdefault(s.name, []).append(s)

        def dur(name: str) -> float:
            return sum(s.dur for s in named.get(name, ()))

        def jobs(name: str) -> int:
            return sum(s.counts.jobs for s in named.get(name, ()))

        def per(total: float, n: int) -> float:
            return total / n if n else 0.0

        commits = named.get("writer.commit", [])
        put("sources.writer.commit_ms", 1e3 * meter.median(s.dur for s in commits))
        put("sources.writer.close_s", dur("writer.close"))
        put("sources.writer.jobs", jobs("write") + jobs("writer.close"))
        put("sources.writer.events_per_s", per(len(commits), dur("write")))
        size = getattr(p.result, "store_bytes", 0)
        put("sources.store.files", getattr(p.result, "store_files", 0))
        put("sources.store.bytes", size)
        put("sources.store.bytes_per_user_byte", per(size, user_bytes))
        put("sources.reader.open_s", dur("reader.open"))
        lookups = named.get("reader.lookup", [])
        put("sources.reader.lookup_p50_ms", 1e3 * meter.median(s.dur for s in lookups))
        put("sources.reader.jobs_per_lookup", per(jobs("reader.lookup"), len(lookups)))
        steps = named.get("reader.cursor_step", [])
        put("sources.reader.iter_events_per_s", per(len(steps), dur("reader.cursor_step")))
        put("sources.reader.jobs_per_iter_event", per(jobs("reader.cursor_step"), len(steps)))
        scans = named.get("reader.scan", [])
        rows = sum(s.attrs.get("rows", 0) for s in scans)
        put("sources.reader.scan_rows_per_s", per(rows, dur("reader.scan")))
        put("sources.reader.scan_tasks", sum(s.counts.tasks for s in scans))

        put("queries.build_s", dur("build"))
        put("queries.build_jobs", jobs("build"))
        put("queries.exec_s", dur("exec"))
        total = meter.Counts()
        for s in spans:
            total += s.counts
        put("spark.jobs", total.jobs)
        put("spark.stages", total.stages)
        put("spark.tasks", total.tasks)
        put("spark.single_task_stages", total.single_task_stages)
        put("jvm.cpu_s", root.cpu.jvm)
        put("operators.pyworker_cpu_s", root.cpu.py)
        put("cpu_util", (root.cpu.jvm + root.cpu.py) / (root.dur * cpus))
        put("plans.residue_rdds", sum(s.attrs.get("residue_rdds", 0) for s in spans))
        for name, *_ in _query_metrics():
            q, part = name.rsplit(".", 1)
            children = [c for s in named.get(q, ()) for c in spans if c.parent == s.id]
            put(name, sum(c.dur for c in children if c.name == part.removesuffix("_s")))

    out = {name: meter.median(values) for name, values in per_pass.items()}
    out["env.canary_s"] = meter.median(p.canary_s for p in passes)
    out["trace.overhead_s"] = meter.median(
        p.result.wall for p in passes if p.traced
    ) - meter.median(p.result.wall for p in passes if not p.traced)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    problem = _preflight()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    cpus = _pin_environment()
    sys.path.insert(0, str(ROOT))
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), cpus)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
