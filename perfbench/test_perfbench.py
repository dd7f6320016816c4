"""Self-test of the benchmark, on a tiny store and a short corpus slate.

    python3 -m pytest perfbench -q -p no:cacheprovider

Each workload runs once untraced with a deliberately corrupted program
output, which must print every end-to-end metric with its unit and report
failed operations, and once traced and clean, which must print every
per-layer metric with its unit and report no failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import run  # noqa: E402

SMALL_STORE = "import store_rw\nstore_rw.N_EVENTS = 30\n"
# Every read of pmu returns a copy with one energy changed.
CORRUPT_STORE = (
    "from heparchy_spark.sources.reader import HepEventReader\n"
    "_pmu = HepEventReader.pmu.fget\n"
    "def _bad(self):\n"
    "    out = _pmu(self)\n"
    "    out['e'][0] += 1.0\n"
    "    return out\n"
    "HepEventReader.pmu = property(_bad)\n"
)
SHORT_SLATE = "import corpus\ncorpus.SLATE = ['dedup_exact', 'text_fingerprints']\n"
# One slate query loses one row of its output.
CORRUPT_CORPUS = (
    "import corpus\n"
    "_queries = corpus.spark_queries\n"
    "def _bad():\n"
    "    qs = dict(_queries())\n"
    "    good = qs['dedup_exact']\n"
    "    def drop_one(spark, d):\n"
    "        df = good(spark, d)\n"
    "        return df.exceptAll(df.limit(1))\n"
    "    qs['dedup_exact'] = drop_one\n"
    "    return qs\n"
    "corpus.spark_queries = _bad\n"
)


def _run(workload: str, trace: int, patch: str) -> tuple[int, str]:
    code = (
        f"import sys\nsys.path.insert(0, {str(HERE)!r})\n{patch}"
        f"import run\nsys.exit(run.main(['--workload', {workload!r}, '--seed', '7',"
        f" '--seconds', '1', '--trace', '{trace}']))\n"
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    p = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, env=env, capture_output=True,
        text=True, timeout=600,
    )
    return p.returncode, p.stdout


def _result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def _declared() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_benchmark_json_matches_code():
    bench = _declared()
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        m[:3] for m in run.per_layer_table()
    ]
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


@pytest.mark.parametrize(
    "workload,patch",
    [("store_rw", SMALL_STORE + CORRUPT_STORE), ("corpus_llm", SHORT_SLATE + CORRUPT_CORPUS)],
)
def test_corrupted_output_fails(workload, patch):
    rc, out = _run(workload, 0, patch)
    assert rc == 0, out
    res = _result(out)
    assert res["failed"] > 0 and not res["correct"]
    metrics = res["metrics"]
    assert set(metrics) == {m["name"] for m in _declared()["end_to_end"]}
    assert all(isinstance(m["value"], (int, float)) and m["unit"] for m in metrics.values())
    assert metrics["ok_frac"]["value"] < 1.0


@pytest.mark.parametrize("workload,patch", [("store_rw", SMALL_STORE), ("corpus_llm", "")])
def test_traced_run_prints_every_layer(workload, patch):
    rc, out = _run(workload, 1, patch)
    assert rc == 0, out
    res = _result(out)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    declared = {m["name"]: m["unit"] for m in _declared()["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == declared
    spans = json.loads((ROOT / ".perfbench" / f"trace-{workload}-seed7.json").read_text())
    assert {s["layer"] for s in spans} >= {"workload", "sources" if workload == "store_rw" else "queries"}


def test_refuses_a_directory_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "store_rw", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
