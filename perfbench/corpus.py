"""``corpus_llm``: LLM-pipeline queries of the registered corpus.

One pass runs every query of ``SLATE`` once, in a fixed order, each built by
its registered builder and executed into a noop sink, one at a time from one
thread (a closed loop). Apart from ``dedup_exact``, a JVM-only control, the
slate is dominated by the ``operators`` Python boundary (``mapInArrow``,
``mapInPandas``) and by ``plans`` materialization (persist, local
checkpoints, stats barriers).

The data is the fixed sf0.01 test corpus of ``TESTDATA.md`` (seed 42),
copied under ``data/``: at that scale every query has a live oracle, either
DuckDB SQL or a fixture precomputed in plain Python. The first, untimed
warm-up pass collects each result instead of writing it to the sink; after
the timed passes the results are hashed order-insensitively with
``tools/parity_check.table_hash`` and compared with the oracle.

Not measured here: ``corpus_sql`` (the relational control) and the 10x
size-regime slate, whose join and PPJoin thresholds sf0.01 never crosses.
Each run pays a JVM start and a cold warm-up, and more workloads would not
fit the benchmark's time budget.

Persisted RDDs left after each action are read before the benchmark's own
``clearCache()``, which keeps every query run independent of the last.
"""

from __future__ import annotations

import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import duckdb

from heparchy_spark.queries import oracle_map, spark_queries
from heparchy_spark.queries.tables import TABLES
from meter import Tracer

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
from parity_check import table_hash  # noqa: E402

SLATE = [
    "dedup_exact",
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard_pairs",
    "text_fingerprints",
]


@dataclass
class PassResult:
    wall: float = 0.0
    attempted: int = 0
    failed: int = 0
    ops: dict = field(default_factory=dict)  # query -> seconds
    raised: set[str] = field(default_factory=set)


class Workload:
    name = "corpus_llm"

    def __init__(self, spark, tracer: Tracer, seed: int, work: Path, data_dir: str):
        # The corpus is fixed test data; the seed has nothing to vary here.
        self.spark = spark
        self.tr = tracer
        self.data_dir = data_dir
        self.queries = spark_queries()
        self.outputs: dict[str, tuple] = {}  # query -> (columns, rows)

    def prepare(self) -> None:
        missing = [q for q in SLATE if q not in self.queries]
        if missing:
            raise KeyError(f"queries not registered: {missing}")

    def run_pass(self, n: int) -> PassResult:
        """Timed pass ``n``, or warm-up pass ``-n`` when ``n`` < 0; the first
        warm-up pass (-1) collects the results the check compares."""
        r = PassResult(attempted=len(SLATE))
        t0 = time.perf_counter()
        for name in SLATE:
            t = time.perf_counter()
            try:
                out = run_query(
                    self.spark, self.tr, self.queries[name], name, self.data_dir,
                    collect=n == -1,
                )
                if out is not None:
                    self.outputs[name] = out
            except Exception:  # noqa: BLE001
                traceback.print_exc(file=sys.stderr)
                r.failed += 1
                r.raised.add(name)
            r.ops[name] = time.perf_counter() - t
        r.wall = time.perf_counter() - t0
        return r

    def check(self, passes: list[PassResult]) -> int:
        """Failed query runs beyond those that raised: every timed run of a
        query whose output disagrees with its oracle, or whose collect
        raised, fails."""
        wrong = self._wrong_outputs() | (set(SLATE) - set(self.outputs))
        return sum(len(wrong - p.raised) for p in passes)

    def _wrong_outputs(self) -> set[str]:
        """Slate queries whose collected output disagrees with the oracle."""
        oracles = oracle_map()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        wrong = set()
        for name, (cols, rows) in self.outputs.items():
            if name not in oracles:
                continue  # rows-only, as in tools/parity_check.py
            res = con.execute(oracles[name])
            want = table_hash([d[0] for d in res.description], res.fetchall())
            if table_hash(cols, rows) != want:
                print(f"perfbench: {name} disagrees with its oracle", file=sys.stderr)
                wrong.add(name)
        con.close()
        return wrong


def run_query(
    spark, tr: Tracer, builder, name: str, data_dir: str, collect: bool = False
) -> tuple | None:
    """Build one query and execute it into a noop sink, then drop its cache.
    With ``collect``, return its columns and rows instead."""
    out = None
    with tr.span(f"q.{name}", "queries", op=True) as q:
        with tr.span("build", "queries"):
            df = builder(spark, data_dir)
        with tr.span("exec", "execution"):
            if collect:
                out = (df.columns, [tuple(r) for r in df.collect()])
            else:
                df.write.mode("overwrite").format("noop").save()
        if q is not None:
            q.attrs["residue_rdds"] = spark.sparkContext._jsc.getPersistentRDDs().size()
    spark.catalog.clearCache()
    return out
