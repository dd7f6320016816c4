"""``store_rw``: the heparchy store surface, written and read back.

One pass writes ``N_EVENTS`` seeded events of ~100 particles through
``HepWriter``/``HepProcessWriter`` at the writer's default chunk size, then
reads the store back three ways:
random point lookups ``proc[i]`` reading pmu, pdg, status and
``masks["final"]``; a sequential cursor reading pmu; and a Spark-native scan
of ``proc.particles`` with per-event physics aggregates. Each of these is
one operation in a closed loop driven by one thread. The pass runs only
``session`` and ``sources``; it bypasses ``queries``, ``operators`` and
``plans``.

Every array read back is compared with the generated one exactly, and the
scan aggregates with NumPy over the generated events, after the pass and
outside its timing.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from contextlib import ExitStack
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyspark.sql.functions as F

from heparchy_spark.functions.physics import pt
from heparchy_spark.sources import HepReader, HepWriter
from meter import Tracer

# A tenth of the writer's default 1000-event chunk: the chunk is flushed
# when the process closes, so each pass stays short enough to repeat.
N_EVENTS = 100
# A lookup is one Spark job per column read, ~1 s a lookup.
LOOKUPS = 1
CURSOR_STEPS = 2
PROCESS = "bench"
PMU = np.dtype([("x", "<f8"), ("y", "<f8"), ("z", "<f8"), ("e", "<f8")])
EDGE = np.dtype([("src", "<i4"), ("dst", "<i4")])


def make_events(rng: np.random.Generator, n: int) -> list[dict]:
    events = []
    for _ in range(n):
        k = int(rng.integers(90, 111))
        pmu = np.empty(k, dtype=PMU)
        for f in ("x", "y", "z"):
            pmu[f] = rng.normal(0.0, 50.0, k)
        pmu["e"] = np.sqrt(pmu["x"] ** 2 + pmu["y"] ** 2 + pmu["z"] ** 2)
        pmu["e"] += rng.uniform(0.0, 5.0, k)
        n_edges = int(rng.integers(k, 2 * k))
        edges = np.empty(n_edges, dtype=EDGE)
        edges["src"] = rng.integers(-k, 0, n_edges)
        edges["dst"] = rng.integers(-k, 0, n_edges)
        events.append(
            {
                "pmu": pmu,
                "pdg": rng.choice([1, 2, 21, 22, 11, -11, 211, -211], k).astype("<i4"),
                "status": rng.choice([1, 2, 23, -23, 62], k).astype("<i2"),
                "edges": edges,
                "final": rng.random(k) < 0.4,
            }
        )
    return events


def user_bytes(events: list[dict]) -> int:
    return sum(a.nbytes for ev in events for a in ev.values())


def _du(path: Path) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


@dataclass
class PassResult:
    wall: float = 0.0
    attempted: int = 0
    failed: int = 0
    store_files: int = 0
    store_bytes: int = 0
    ops: dict = field(default_factory=dict)  # operation -> seconds
    lookups: list = field(default_factory=list)
    cursor: list = field(default_factory=list)
    scan: list | None = None
    errors: int = 0


class Workload:
    name = "store_rw"

    def __init__(self, spark, tracer: Tracer, seed: int, work: Path, data_dir: str):
        self.spark = spark
        self.tr = tracer
        self.seed = seed
        self.work = work
        self.rng = np.random.default_rng(seed)

    def prepare(self) -> None:
        self.events = make_events(self.rng, N_EVENTS)
        self.user_bytes = user_bytes(self.events)

    def check(self, passes: list[PassResult]) -> int:
        """Reads are checked inside each pass, after its timing stops."""
        return 0

    def run_pass(self, n: int) -> PassResult:
        path = self.work / f"pass{n}"
        shutil.rmtree(path, ignore_errors=True)
        events = self.events
        keys = [int(k) for k in self.rng.integers(0, len(events), LOOKUPS)]
        tr = self.tr
        r = PassResult(attempted=3 + LOOKUPS + CURSOR_STEPS)
        t0 = t = time.perf_counter()

        def lap(op: str) -> None:
            nonlocal t
            now = time.perf_counter()
            r.ops[op] = now - t
            t = now

        try:
            with tr.span("write", "sources", op=True):
                with ExitStack() as stack:
                    w = stack.enter_context(HepWriter(self.spark, path))
                    p = stack.enter_context(w.new_process(PROCESS))
                    for ev in events:
                        with tr.span("writer.commit", "sources", light=True):
                            with p.new_event() as e:
                                e.pmu = ev["pmu"]
                                e.pdg = ev["pdg"]
                                e.status = ev["status"]
                                e.edges = ev["edges"]
                                e.masks["final"] = ev["final"]
                    with tr.span("writer.close", "sources"):
                        stack.close()
            lap("write")
            with tr.span("reader.open", "sources", op=True):
                proc = HepReader(self.spark, path)[PROCESS]
            lap("open")
        except Exception:  # noqa: BLE001 - a failed write fails the whole pass
            traceback.print_exc(file=sys.stderr)
            r.failed = r.errors = r.attempted
            r.wall = time.perf_counter() - t0
            return r

        for i, k in enumerate(keys):
            try:
                with tr.span("reader.lookup", "sources", op=True):
                    e = proc[k]
                    got = (e.pmu, e.pdg, e.status, e.masks["final"])
                r.lookups.append((k, got))
            except Exception:  # noqa: BLE001
                traceback.print_exc(file=sys.stderr)
                r.errors += 1
            lap(f"lookup{i}")

        it = iter(proc)
        try:
            for _ in range(CURSOR_STEPS):
                with tr.span("reader.cursor_step", "sources", op=True):
                    e = next(it)
                    got = (int(e.name.removeprefix("evt-")), e.pmu)
                r.cursor.append(got)
        except Exception:  # noqa: BLE001
            traceback.print_exc(file=sys.stderr)
            r.errors += CURSOR_STEPS - len(r.cursor)
        finally:
            it.close()
        lap("cursor")

        try:
            with tr.span("reader.scan", "sources", op=True) as s:
                rows = (
                    proc.particles.groupBy("event_id")
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.max("e").alias("max_e"),
                        F.sum(pt()).alias("sum_pt"),
                        F.sum(F.col("mask_final").cast("int")).alias("n_final"),
                    )
                    .collect()
                )
            r.scan = [tuple(row) for row in rows]
            if s is not None:
                s.attrs["rows"] = sum(row[1] for row in r.scan)
        except Exception:  # noqa: BLE001
            traceback.print_exc(file=sys.stderr)
            r.errors += 1
        lap("scan")
        r.wall = time.perf_counter() - t0

        r.store_files, r.store_bytes = _du(path)
        r.failed = r.errors + self._mismatches(events, r)
        return r

    @staticmethod
    def _mismatches(events, r: PassResult) -> int:
        bad = 0
        for k, (pmu, pdg, status, final) in r.lookups:
            ev = events[k]
            bad += not (
                np.array_equal(pmu, ev["pmu"])
                and np.array_equal(pdg, ev["pdg"])
                and np.array_equal(status, ev["status"])
                and np.array_equal(final, ev["final"])
            )
        for k, pmu in r.cursor:
            bad += not (0 <= k < len(events) and np.array_equal(pmu, events[k]["pmu"]))
        if r.scan is not None:
            bad += not _scan_matches(events, r.scan)
        return bad


def _scan_matches(events, rows) -> bool:
    """Counts and maxima are exact; the pT sum may differ from NumPy's in
    the last bits (summation order, ``hypot`` rounding), so it gets a
    relative tolerance far below any real error."""
    if len(rows) != len(events):
        return False
    for event_id, n, max_e, sum_pt, n_final in rows:
        if not 0 <= event_id < len(events):
            return False
        ev = events[event_id]
        pmu = ev["pmu"]
        if (
            n != len(pmu)
            or max_e != pmu["e"].max()
            or n_final != int(ev["final"].sum())
            or not np.isclose(sum_pt, np.hypot(pmu["x"], pmu["y"]).sum(), rtol=1e-12, atol=0)
        ):
            return False
    return True
