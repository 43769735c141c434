"""The ``llm_iterative`` workload: one operation builds one catalog query
and runs ``queryExecution().toRdd().count()`` on it, as ``bench.py`` does.

Correctness: the first time a query runs in a process, its built
DataFrame is also collected (outside the timed operation) and hashed
dtype-strict, with ``canon_cell``/``frame_rows`` from
``tools/check_correctness.py``, against the DuckDB oracle's result.
Oracle digests are pinned in ``oracle_digests.json`` because the graph
and dedup oracles are recursive CTEs that take seconds each; a query whose
oracle SQL no longer matches the pinned text is hashed live with DuckDB.
Every later run of the query checks its row count against the oracle's.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import duckdb
from tools.check_correctness import frame_rows

from etl_wrap_spark import catalog
from etl_wrap_spark.session import TABLES, load_tables

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "oracle_digests.json")

# Iterative operators, whose builds run Spark jobs (q61 dedup, q205 graph),
# and one cheap query each for the incremental_join (q117) and text (q58)
# operator modules.
QUERIES = [
    "q61_incremental_dedup", "q205_harmonic_centrality", "q117_hierarchy_flatten",
    "q58_bpe_token_budget",
]


def digest(df) -> tuple[int, str]:
    """(rows, sha256) of a pandas frame under the strict canonical form."""
    cols, rows = frame_rows(df)
    return len(rows), hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def sql_sha(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()


def duck_connect(data_dir: str):
    con = duckdb.connect()
    con.execute("SET threads=4")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


class CatalogWorkload:
    name = "llm_iterative"

    def __init__(self, seed: int, data_dir: str):
        self.data_dir = data_dir
        self.rng = random.Random(seed)
        qs = catalog.queries()
        self.fns = {q: qs[q] for q in QUERIES}
        self.expected: dict[str, dict] = {}
        self._duck = None
        self.passes = 0

    def generate(self) -> None:
        """The workload reads the pinned sf0.1 tables; the seed only
        orders the queries of the measured passes."""

    def load(self, spark, tracer) -> None:
        self.spark = spark
        load_tables(spark, self.data_dir)

    def pass_ops(self) -> list[str]:
        """The listed order for the cold pass, a seeded shuffle after it.
        The first query in a fresh JVM pays for its warm-up, so a seeded
        cold pass would make cold_wall_s depend on the seed (15-16 s with
        q61 first, 17-22 s with q205 first)."""
        order = list(self.fns)
        if self.passes:
            self.rng.shuffle(order)
        self.passes += 1
        return order

    def run_op(self, q: str, tracer) -> dict:
        """Build and execute one query; returns the built DataFrame, its
        query execution and the counted rows."""
        with tracer.span(f"catalog.{q}", "catalog"):
            df = self.fns[q](self.spark, self.data_dir)
        with tracer.span("session.plan", "session"):
            qe = df._jdf.queryExecution()
            if tracer.enabled:
                qe.executedPlan()
        with tracer.span("session.exec", "session"):
            rows = qe.toRdd().count()
        return {"df": df, "qe": qe, "rows": rows}

    def measure(self, result: dict, traced: bool) -> None:
        """After the operation, outside its timing: the planning time
        (analysis, optimisation, planning) from the query's
        QueryPlanningTracker."""
        qe = result.pop("qe")
        if traced:
            phases = qe.tracker().phases()
            result["plan_s"] = sum(phases.apply(k).durationMs() for k in
                                   ("analysis", "optimization", "planning")
                                   if phases.contains(k)) / 1000.0

    def _oracle(self, q: str) -> dict:
        """Pinned oracle digest of ``q``, or a live one when the pinned
        oracle SQL differs from the catalog's."""
        sql = catalog.oracle_sql()[q]
        with open(DIGESTS) as fh:
            pinned = json.load(fh).get(f"{os.path.basename(self.data_dir)}/{q}")
        if pinned and pinned["sql_sha256"] == sql_sha(sql):
            return pinned
        if self._duck is None:
            self._duck = duck_connect(self.data_dir)
        rows, sha = digest(self._duck.execute(sql).df())
        return {"rows": rows, "sha256": sha}

    def check_op(self, q: str, result: dict) -> str | None:
        """None when correct, else the reason.  Full hash the first time a
        query is checked, the row count afterwards."""
        if q not in self.expected:
            self.expected[q] = self._oracle(q)
            rows, sha = digest(result["df"].toPandas())
            if sha != self.expected[q]["sha256"]:
                return f"{q}: result hash differs from the oracle ({rows} rows)"
        if result["rows"] != self.expected[q]["rows"]:
            return f"{q}: {result['rows']} rows, oracle has {self.expected[q]['rows']}"
        return None

    def input_rows(self, results: list[dict]) -> int:
        return sum(r["rows"] for r in results)

    def stored_per_live(self) -> float:
        """A read-only workload keeps no old versions: stored bytes equal
        live bytes."""
        return 1.0

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()
