"""End-to-end and per-layer benchmark of the engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One Spark application on ``local[4]``, one
closed-loop client: each operation starts when the previous one returned.

A run sets up (session, table loading, a probe of the per-job floor), runs
one cold pass, then measured passes: at least three untraced ones, and more
until ``--seconds`` have passed.  Every operation's output is checked
outside its timing; see the workload modules for what is checked.  With ``--trace 1``
the measured passes alternate untraced and traced, and the per-layer
metrics come from the traced ones.  The last line of standard output is
the JSON result; the lines before it print every metric with its unit.
``perfbench/METRICS.md`` describes the workloads and metrics.

Scratch files live under ``.perfbench_work/`` and are removed at the end;
the spans of a traced run are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

from tracing import OPERATOR_MODULES, Tracer  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
WORKLOADS = ("llm_iterative", "etl_nightly_load")
CORES = 4
# The JVM heap: 2 GB holds every workload with room to spare, keeps the
# benchmark's footprint small on a shared host, and makes peak RSS repeat
# from run to run (an 8 GB heap grows to 2.7-3.7 GB depending on GC timing).
JVM_HEAP = "2g"
MAX_MEASURE_S = 120  # a run must end within 180 s whatever --seconds says
# Untraced measured passes, however long they take.  The first is still
# slower than the later ones (5-20%: Spark reuses each plan's generated code
# and the JIT keeps compiling it), and now and then a pass lands in a burst
# of host load and takes half as long again; the median of three passes
# drops either outlier.
MIN_PASSES = 3

E2E_UNITS = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s",
    "rows_per_s": "1/s", "success_rate": "ratio",
    "peak_rss_mb": "MB", "bytes_stored_per_live_byte": "ratio",
}
LAYER_UNITS = {
    "session.start_s": "s", "session.load_tables_s": "s", "session.plan_s": "s",
    "session.exec_s": "s", "session.exec_jobs": "count", "session.exec_stages": "count",
    "session.exec_tasks": "count", "session.sched_floor_start_s": "s",
    "session.sched_floor_end_s": "s",
    "catalog.build_s": "s", "catalog.build_py4j_calls": "count",
    "catalog.build_jobs": "count", "catalog.build_tasks": "count",
    "catalog.build_share": "ratio",
    **{f"operators.{m}.{k}": u for m in OPERATOR_MODULES
       for k, u in (("self_s", "s"), ("calls", "count"))},
    "connectors.fetch_s": "s", "connectors.files": "count", "plans.gate_s": "s",
    "sources.build_s": "s", "sources.build_jobs": "count", "functions.build_s": "s",
    "sinks.upsert_s": "s", "sinks.upsert_jobs": "count", "sinks.bytes_written": "B",
    "sinks.write_amp": "ratio", "sinks.export_s": "s", "sinks.vacuum_s": "s",
    "sinks.upsert_share": "ratio",
    "bench.self_s": "s", "trace.op_wall_s": "s", "trace.overhead_s": "s",
    "trace.reconcile_err": "ratio",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=os.path.join(DATA, "sf0.1"),
                    help="table directory of llm_iterative")
    ap.add_argument("--etl-sizes", default=None,
                    help="JSON overriding etl_workload.SIZES (smoke test)")
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every scratch file of Python, Spark and the JVM in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path[:0] = [ROOT, HERE]


# ------------------------------------------------------------ measurements
def sched_floor(spark, n: int = 5) -> float:
    """Best-of-n wall of an empty one-task job: the host's per-job floor."""
    jsc = spark.sparkContext._jsc
    jvm = spark.sparkContext._jvm
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        jsc.parallelize(jvm.java.util.ArrayList(), 1).count()
        best = min(best, time.perf_counter() - t0)
    return best


def settle(spark) -> None:
    """Collect garbage in both processes between passes, so that a pause
    left over from the previous pass does not land in the next one."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def peak_rss_mb(spark) -> float:
    """VmHWM of this process plus the JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples above it.  Below 20 samples that percentile would lie under
    the median, so the maximum is reported, as p100."""
    s = sorted(samples)
    n = len(s)
    if n < 20:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


# ------------------------------------------------------------------ passes
class Runner:
    def __init__(self, wl, tracer):
        self.wl = wl
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict] = []

    def count(self, kind: str) -> int:
        return sum(p["kind"] == kind for p in self.passes)

    def run_pass(self, kind: str) -> dict:
        """Run every operation once.  ``kind`` is cold (the first pass in
        the JVM), warm (measured) or traced."""
        wl, tracer = self.wl, self.tracer
        ops = wl.pass_ops()
        traced = kind == "traced"
        p = {"n": len(self.passes), "kind": kind, "ops": []}
        if traced:
            tracer.start()
        try:
            for op in ops:
                op_id = f"p{p['n']}:{op}"
                first = len(tracer.spans)
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    with tracer.op(op_id) if traced else contextlib.nullcontext():
                        res = wl.run_op(op, tracer)
                    wall = time.perf_counter() - t0
                    wl.measure(res, traced)
                    err = wl.check_op(op, res)
                    res.pop("df", None)  # release the plan's JVM objects
                except Exception as e:  # a failed operation is counted, not fatal
                    wall, res, err = time.perf_counter() - t0, None, f"{type(e).__name__}: {e}"
                print(f"# op {op_id} {wall:.3f} s", file=sys.stderr)
                if err:
                    self.failed += 1
                    print(f"# FAILED {wl.name} {op_id}: {err}", file=sys.stderr)
                if traced:
                    tracer.attribute_jobs(first)
                p["ops"].append({"id": op_id, "wall": wall, "res": res, "err": err})
        finally:
            if traced:
                tracer.stop()
        p["wall"] = sum(o["wall"] for o in p["ops"])
        ok = [o["res"] for o in p["ops"] if o["res"] is not None]
        p["rows"] = wl.input_rows(ok)
        self.passes.append(p)
        return p


def e2e_metrics(r: Runner, setup_s: float, rss: float, stored: float) -> tuple[dict, list[str]]:
    warm = [p for p in r.passes if p["kind"] == "warm"]
    op_walls = [o["wall"] for p in warm for o in p["ops"]]
    t_val, t_pct, t_n = tail(op_walls)
    m = {
        "setup_s": setup_s,
        "wall_s": statistics.median(p["wall"] for p in warm),
        "op_p50_s": statistics.median(op_walls),
        "rows_per_s": statistics.median(p["rows"] / p["wall"] for p in warm),
        "success_rate": 1.0 - r.failed / r.attempted,
        "peak_rss_mb": rss,
        "bytes_stored_per_live_byte": stored,
    }
    notes = [
        f"cold_wall_s {r.passes[0]['wall']:.4f} s: the first pass in a fresh JVM "
        "(reported, not gated: one sample a run)",
        f"op_tail_s {t_val:.4f} s: p{t_pct:.0f} of {t_n} measured operations "
        "(reported, not gated: too few samples for a steady tail)",
    ]
    return m, notes


def layer_metrics(r: Runner, tracer, setup_spans: dict, floors: tuple) -> dict:
    """Per-layer metrics: per-pass sums over the traced passes, median
    across them."""
    per_pass = []
    for p in (p for p in r.passes if p["kind"] == "traced"):
        acc: dict[str, float] = {}

        def add(k, v):
            acc[k] = acc.get(k, 0.0) + v

        worst = 0.0
        for o in p["ops"]:
            recs = tracer.self_times(o["id"])
            if not recs:
                continue
            # share of the op wall that no layer span covers
            covered = sum(x["self"] for x in recs if x["layer"] != "bench")
            worst = max(worst, 1.0 - covered / o["wall"])
            res = o["res"] or {}
            for x in recs:
                layer, name = x["layer"], x["name"]
                if layer == "bench":
                    add("bench.self_s", x["self"])
                elif layer == "catalog":
                    sub = tracer.subtree(recs, x["id"])
                    add("catalog.build_s", x["wall"])
                    add("catalog.build_py4j_calls", x["py4j"])
                    add("catalog.build_jobs", sum(y["jobs"] for y in sub))
                    add("catalog.build_tasks", sum(y["tasks"] for y in sub))
                elif layer.startswith("operators."):
                    add(f"{layer}.self_s", x["self"])
                    add(f"{layer}.calls", 1)
                elif name == "session.exec":
                    add("session.exec_s", x["wall"])
                    add("session.exec_jobs", x["jobs"])
                    add("session.exec_stages", x["stages"])
                    add("session.exec_tasks", x["tasks"])
                elif layer == "connectors":
                    add("connectors.fetch_s", x["self"])
                elif layer == "plans":
                    add("plans.gate_s", x["self"])
                elif layer == "sources":
                    add("sources.build_s", x["self"])
                    add("sources.build_jobs", x["jobs"])
                elif layer == "functions":
                    add("functions.build_s", x["self"])
                elif name in ("sinks.upsert", "sinks.export", "sinks.vacuum"):
                    add(f"{name}_s", x["self"])
                    if name == "sinks.upsert":
                        add("sinks.upsert_jobs", x["jobs"])
            add("session.plan_s", res.get("plan_s") or 0.0)
            add("connectors.files", res.get("files", 0))
            add("sinks.bytes_written", res.get("written", 0))
            add("_in_bytes", res.get("in_bytes", 0))
        in_bytes = acc.pop("_in_bytes")
        acc["sinks.write_amp"] = acc["sinks.bytes_written"] / in_bytes if in_bytes else 0.0
        acc["catalog.build_share"] = acc.get("catalog.build_s", 0.0) / p["wall"]
        acc["sinks.upsert_share"] = acc.get("sinks.upsert_s", 0.0) / p["wall"]
        acc["trace.reconcile_err"] = worst
        acc["trace.op_wall_s"] = p["wall"]
        per_pass.append(acc)
    med = {k: statistics.median(a.get(k, 0.0) for a in per_pass) for k in LAYER_UNITS}
    med["trace.overhead_s"] = med["trace.op_wall_s"] - statistics.median(
        p["wall"] for p in r.passes if p["kind"] == "warm")
    med["session.start_s"] = setup_spans["session.start"]
    med["session.load_tables_s"] = setup_spans["session.load_tables"]
    med["session.sched_floor_start_s"], med["session.sched_floor_end_s"] = floors
    return med


# -------------------------------------------------------------------- main
def make_workload(args, work: str):
    if args.workload == "etl_nightly_load":
        from etl_workload import EtlWorkload

        sizes = json.loads(args.etl_sizes) if args.etl_sizes else None
        return EtlWorkload(args.seed, work, sizes)
    from catalog_workload import CatalogWorkload

    return CatalogWorkload(args.seed, args.data)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, work: str) -> dict:
    from etl_wrap_spark.session import get_session

    ticks0 = cpu_ticks()
    wl = make_workload(args, work)
    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0

    tracer = Tracer()
    with tracer.span("session.start", "session", always=True):
        spark = get_session("perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES)
    try:
        tracer.spark = spark
        spark.sparkContext.setLogLevel("ERROR")
        with tracer.span("session.load_tables", "session", always=True):
            wl.load(spark, tracer)
        floor_start = sched_floor(spark)
        setup_s = time.perf_counter() - T_START - gen_s
        setup_spans = {s["name"]: s["end"] - s["start"] for s in tracer.spans}
        tracer.spans.clear()

        r = Runner(wl, tracer)
        r.run_pass("cold")
        m0 = time.perf_counter()
        while True:
            traced = bool(args.trace) and r.count("warm") > r.count("traced")
            settle(spark)
            r.run_pass("traced" if traced else "warm")
            done = time.perf_counter() - m0
            enough = r.count("warm") >= MIN_PASSES and (
                not args.trace or r.count("traced") > 0)
            if (done >= args.seconds and enough) or done >= MAX_MEASURE_S:
                break
        floor_end = sched_floor(spark)
        ticks1 = cpu_ticks()
        rss = peak_rss_mb(spark)
        stored = wl.stored_per_live()
        e2e, notes = e2e_metrics(r, setup_s, rss, stored)
        layers = layer_metrics(r, tracer, setup_spans, (floor_start, floor_end)) if args.trace else None
        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    finally:
        wl.close()
        stop_spark(spark)

    print(f"# workload {args.workload} seed {args.seed}: {len(r.passes)} passes "
          f"({r.count('warm')} measured, {r.count('traced')} traced), "
          f"{r.attempted} operations, {r.failed} failed")
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    print(f"# epoch: session.sched_floor_s start {floor_start:.4f} s, end {floor_end:.4f} s; "
          f"CPU time stolen by the hypervisor {100 * steal:.1f}%")
    for note in notes:
        print(f"# {note}")
    for k, v in e2e.items():
        print(f"{k:32s} {v:14.4f} {E2E_UNITS[k]}")
    if layers:
        for k, v in layers.items():
            print(f"{k:32s} {v:14.4f} {LAYER_UNITS[k]}")
    chosen, units = (layers, LAYER_UNITS) if args.trace else (e2e, E2E_UNITS)
    return {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        isolate(work)
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
