"""``etl_nightly_load``: the reference's nightly process (fetch -> check ->
read -> coerce -> upsert -> export) driven through the engine's public
functions.  One operation is one delivery cycle; a pass replays every
delivery, in order, starting from an empty table: delivery 0 is the
initial load.
"""

from __future__ import annotations

import functools
import os

import pyarrow.parquet as pq
from deliveries import HEADER, JUNK_LINES, VALUE_DAYS, generate, replay, table_sizes

from etl_wrap_spark.connectors.transfer import LocalTransport, fetch_files
from etl_wrap_spark.functions import coerce, dateutil
from etl_wrap_spark.functions.holidays import add_days_hol_py
from etl_wrap_spark.plans.runner import ProcessedLedger, check_files
from etl_wrap_spark.sinks.files import write_single_file
from etl_wrap_spark.sinks.lake import AtomicTable
from etl_wrap_spark.sinks.merge import dedupe_for_load
from etl_wrap_spark.sources.files import apply_read_pipeline, read_csv

KEYS = ["id"]
COLUMNS = ["id", "name", "amount", "qty", "booking_date", "value_date"]

# Input sizes: an initial load of 20k rows in 2 files, then one delivery of
# 2 files x 5k rows that grows the table to about 25k rows.
SIZES = {"base_rows": 20_000, "cycles": 1, "files_per_cycle": 2, "rows_per_file": 5_000}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class EtlWorkload:
    name = "etl_nightly_load"

    def __init__(self, seed: int, work_dir: str, sizes: dict | None = None):
        self.seed = seed
        self.work = work_dir
        self.sizes = sizes or SIZES
        self.remote = os.path.join(work_dir, "remote")
        self.passes = 0

    def generate(self) -> None:
        self.manifest = generate(self.remote, self.seed, **self.sizes)
        self.expected_rows = table_sizes(self.remote, self.manifest)

    # ------------------------------------------------------------ steps
    def _typed(self, paths: list[str], tracer):
        with tracer.span("sources.read", "sources"):
            raw = read_csv(self.spark, paths, header=HEADER, sep="\t", skip=JUNK_LINES)
            df = apply_read_pipeline(raw, HEADER, normalize=True,
                                     thousandsep=".", decimalsep=",")
        with tracer.span("functions.coerce", "functions"):
            booking = coerce.coerce_datetime("booking_date").cast("date")
            df = df.select(
                df["id"].cast("long").alias("id"),
                df["name"],
                coerce.coerce_number("amount").alias("amount"),
                coerce.coerce_number("qty").cast("long").alias("qty"),
                booking.alias("booking_date"),
                dateutil.add_days_hol(booking, VALUE_DAYS, "YMD", "AT").alias("value_date"),
            )
        return df

    def load(self, spark, tracer) -> None:
        """Nothing to load: every pass starts from an empty table."""
        self.spark = spark

    def pass_ops(self) -> list[int]:
        self.passes += 1
        self.pass_dir = os.path.join(self.work, f"pass{self.passes}")
        self.lake = os.path.join(self.pass_dir, "lake")
        os.makedirs(self.pass_dir)
        self.inbox = os.path.join(self.pass_dir, "inbox")
        self.export = os.path.join(self.pass_dir, "export.tsv")
        self.ledger = ProcessedLedger(os.path.join(self.pass_dir, "ledger.jsonl"))
        return list(range(len(self.manifest["deliveries"])))

    def run_op(self, cycle: int, tracer) -> dict:
        spec = self.manifest["deliveries"][cycle]
        with tracer.span("connectors.fetch", "connectors"):
            got = fetch_files(LocalTransport(), self.remote, self.inbox, [spec["pattern"]])
        with tracer.span("plans.gate", "plans"):
            new = self.ledger.unprocessed(check_files(sorted(got.fetched)))
        df = self._typed(new, tracer)
        with tracer.span("sinks.upsert", "sinks"):
            table = AtomicTable(self.spark, self.lake)
            version = table.upsert(dedupe_for_load(df, KEYS), KEYS)
        with tracer.span("plans.mark", "plans"):
            self.ledger.mark(new)
        with tracer.span("sinks.export", "sinks"):
            write_single_file(table.read(), self.export, COLUMNS)
        with tracer.span("sinks.vacuum", "sinks"):
            table.vacuum(keep=2)
        return {
            "files": len(new),
            "rows": sum(f["rows"] for f in spec["files"]),
            "in_bytes": sum(f["bytes"] for f in spec["files"]),
            "version": version,
        }

    def measure(self, result: dict, traced: bool) -> None:
        """After the operation, outside its timing: the bytes it wrote
        (the new table version and the export)."""
        result["written"] = (dir_bytes(os.path.join(self.lake, f"v{result['version']}"))
                             + os.path.getsize(self.export))

    # ------------------------------------------------------ correctness
    def check_op(self, cycle: int, result: dict) -> str | None:
        """Row count of the new version and of the export after every
        cycle; the full table against the Python replay after the last
        cycle of the first pass."""
        vdir = os.path.join(self.lake, f"v{result['version']}")
        table = pq.read_table(vdir)
        if self.passes == 1 and cycle == len(self.manifest["deliveries"]) - 1:
            err = self._check_table(table, cycle)
            if err:
                return err
        want = self.expected_rows[cycle]
        if table.num_rows != want:
            return f"cycle {cycle}: table has {table.num_rows} rows, expected {want}"
        with open(self.export, encoding="utf-8") as fh:
            lines = sum(1 for _ in fh)
        if lines != want + 1:
            return f"cycle {cycle}: export has {lines} lines, expected {want + 1}"
        return None

    def _check_table(self, table, upto: int) -> str | None:
        expected = replay(self.remote, self.manifest, upto, _value_date)
        cols = table.to_pydict()
        seen = set()
        for row in zip(*(cols[c] for c in COLUMNS)):
            key = row[0]
            if key in seen:
                return f"key {key} appears twice in the loaded table"
            seen.add(key)
            if row not in expected.get(key, ()):
                return f"key {key}: loaded {row}, expected one of {expected.get(key)}"
        if len(seen) != len(expected):
            return f"table has {len(seen)} keys, replay has {len(expected)}"
        with open(self.export, encoding="utf-8") as fh:
            next(fh)
            keys = {int(line.split("\t", 1)[0]) for line in fh}
        if keys != seen:
            return "exported keys differ from the table's"
        return None

    def input_rows(self, results: list[dict]) -> int:
        return sum(r["rows"] for r in results)

    def stored_per_live(self) -> float:
        """Bytes of the lake directory per byte of its current version."""
        cur = AtomicTable(self.spark, self.lake).current_version()
        return dir_bytes(self.lake) / dir_bytes(os.path.join(self.lake, f"v{cur}"))

    def close(self) -> None:
        pass


@functools.lru_cache(maxsize=None)
def _value_date(yyyymmdd: str):
    return add_days_hol_py(yyyymmdd, VALUE_DAYS, "AT")
