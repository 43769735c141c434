"""Spans recorded from the benchmark's own files around calls into the
engine's layers.

A span has a name, a layer, start and end, a parent and the id of the
operation it belongs to.  Spans are kept in memory and written out at the
end of the run.  While tracing is on the tracer also

- counts py4j commands sent to the JVM, leaving out the memory commands
  (``m...``) that Python's garbage collector sends at unpredictable
  moments, so the count repeats exactly from run to run;
- gives every span its own Spark job group, so each job is attributed to
  the innermost span that was open when it started;
- wraps the public functions of the operator modules, so operator calls
  made inside a query's build become spans of their own.

With tracing off, ``span`` only yields: no clock, no py4j traffic.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import time

# operator modules whose public functions are traced, each a layer of its own
OPERATOR_MODULES = ("dedup", "graph", "incremental_join", "text")


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._py4j = 0
        self._counting = False
        self._op = None
        self._wrapped: list[tuple[object, str, object]] = []
        self._stages_seen: set[int] = set()
        self._client = None
        self._client_send = None

    # ---------------------------------------------------------- control
    def start(self) -> None:
        """Turn tracing on: count py4j commands, wrap operator modules."""
        self.enabled = True
        self._client = self.spark.sparkContext._gateway._gateway_client
        self._client_send = self._client.send_command
        send = self._client_send

        def counting_send(command, *a, **kw):
            if self._counting and not command.startswith("m"):
                self._py4j += 1
            return send(command, *a, **kw)

        self._client.send_command = counting_send
        self._wrap_operators()

    def stop(self) -> None:
        self.enabled = False
        if self._client is not None:
            self._client.send_command = self._client_send
            self._client = None
        for mod, name, fn in self._wrapped:
            setattr(mod, name, fn)
        self._wrapped.clear()

    def _wrap_operators(self) -> None:
        for short in OPERATOR_MODULES:
            layer = f"operators.{short}"
            mod = importlib.import_module(f"etl_wrap_spark.operators.{short}")
            for name, fn in list(vars(mod).items()):
                if (name.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__):
                    continue
                self._wrapped.append((mod, name, fn))
                setattr(mod, name, self._wrap(fn, f"{short}.{name}", layer))

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name, layer):
                return fn(*a, **kw)

        return traced

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def op(self, op_id: str):
        """Root span of one operation; its self time is the benchmark's."""
        self._op = op_id
        try:
            with self.span(op_id, "bench"):
                yield
        finally:
            self._op = None

    @contextlib.contextmanager
    def span(self, name: str, layer: str, always: bool = False):
        """A span around one call into ``layer``.  ``always`` records the
        span with tracing off too (the set-up spans, which cost nothing)."""
        if not (self.enabled or always):
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "op": self._op, "parent": parent["id"] if parent else None,
               "py4j": 0, "jobs": 0, "stages": 0, "tasks": 0}
        self.spans.append(rec)
        self._stack.append(rec)
        traced = self.enabled
        if traced:
            self._set_group(f"span{rec['id']}")
            p0 = self._py4j
            self._counting = True
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if traced:
                rec["py4j"] = self._py4j - p0
                self._set_group(f"span{parent['id']}" if parent else None)
                self._counting = bool(self._stack)

    def _set_group(self, group: str | None) -> None:
        was, self._counting = self._counting, False
        sc = self.spark.sparkContext
        if group is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(group, group)
        self._counting = was

    def attribute_jobs(self, first_span: int) -> None:
        """Fill jobs/stages/tasks of spans[first_span:] from the status
        tracker.  Called after an operation, outside its spans.

        Only stages that ran count, each once, with the tasks that ran: a
        job also lists the stages it skipped because an earlier job ran
        them (with AQE every query stage is a job of its own, and the final
        job lists them all again, with their full task counts)."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker lags the jobs
        st = sc.statusTracker()
        for rec in self.spans[first_span:]:
            if "start" not in rec or rec["op"] is None:
                continue
            for jid in sorted(st.getJobIdsForGroup(f"span{rec['id']}")):
                info = st.getJobInfo(jid)
                rec["jobs"] += 1
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    ran = stage.numCompletedTasks + stage.numFailedTasks if stage else 0
                    if ran and sid not in self._stages_seen:
                        self._stages_seen.add(sid)
                        rec["stages"] += 1
                        rec["tasks"] += ran

    # -------------------------------------------------------- analysis
    def self_times(self, op_id: str) -> list[dict]:
        """Spans of one operation with ``self`` = duration minus the time
        its direct children cover (children run one after another)."""
        recs = [r for r in self.spans if r["op"] == op_id]
        child = {r["id"]: 0.0 for r in recs}
        for r in recs:
            if r["parent"] in child:
                child[r["parent"]] += r["end"] - r["start"]
        for r in recs:
            r["wall"] = r["end"] - r["start"]
            r["self"] = r["wall"] - child[r["id"]]
        return recs

    def subtree(self, recs: list[dict], root_id: int) -> list[dict]:
        ids, out = {root_id}, []
        for r in recs:  # spans are recorded parent-first
            if r["id"] in ids or r["parent"] in ids:
                ids.add(r["id"])
                out.append(r)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for r in self.spans:
                fh.write(json.dumps(r) + "\n")
