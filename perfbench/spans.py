"""Outside-in span tracer for the benchmark's traced runs.

``Tracer.install`` wraps the public functions of each layer module (and the
``ManagedCatalog`` verbs and the registry's query callables) from here, so
no file of the program changes. Each call records a span: layer, name,
start, end, parent and operation. While a span is the innermost one open:

- its id is the thread's Spark job group, so the jobs and stages the call
  launches are charged to it (read back from the application status store
  after each operation);
- every py4j command Python sends to the JVM is counted against it;
- every ``persist``/``cache``/``checkpoint``/``localCheckpoint`` call on a
  DataFrame or RDD counts as one barrier against it.

Lazy operators only build plans, so from outside they show their
plan-building time; their execution is charged to whichever span runs the
action (usually ``drain``, or the layer that checkpoints eagerly).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import sys
import time

# layer -> module whose public functions are wrapped. Modules not listed
# here (similarity, textnorm, chunking, ...) are charged to their caller.
LAYER_MODULES = {
    "session": "data_rivers_spark.session",
    "sources": "data_rivers_spark.sources.ndjson",
    "transforms": "data_rivers_spark.operators.transforms",
    "relational": "data_rivers_spark.operators.relational",
    "geo": "data_rivers_spark.operators.geo",
    "dedup": "data_rivers_spark.operators.dedup",
    "textstats": "data_rivers_spark.operators.textstats",
    "importance": "data_rivers_spark.operators.importance",
    "sampling": "data_rivers_spark.operators.sampling",
    "plans": "data_rivers_spark.plans.pipelines",
}
LAYERS = [*LAYER_MODULES, "catalog", "drain"]
UNITS = {
    "calls": "count", "self_s": "s", "jobs": "count", "task_s": "s", "core_util": "ratio",
    "shuffle_mb": "MB", "py4j_calls": "count", "barriers": "count",
}
MEASURES = list(UNITS)
EXTRA_UNITS = {
    "catalog.bytes_written_mb": "MB", "catalog.rows_rewritten_per_input_row": "ratio",
    "catalog.write_amp": "ratio", "catalog.stored_bytes_per_row": "B", "catalog.readback_s": "s",
    "sources.quarantined_ratio": "ratio", "trace_overhead": "ratio",
}


def unit(metric: str) -> str:
    return EXTRA_UNITS.get(metric) or UNITS[metric.rsplit(".", 1)[1]]


_GROUP_KEY = "spark.jobGroup.id"
_MiB = 1024 * 1024


class Tracer:
    def __init__(self, spark, cores: int):
        self.spark = spark
        self.cores = cores
        self.on = False
        self.op = -1
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._quiet = 0  # >0 while the tracer itself talks to the JVM
        self._barrier_depth = 0
        self._last_job = -1
        self.costs: dict[int, float] = {}  # op -> seconds spent in span bookkeeping

    # -- spans ----------------------------------------------------------------

    def _set_group(self, span: dict | None) -> None:
        self._quiet += 1
        try:
            self.spark.sparkContext.setLocalProperty(_GROUP_KEY, span["key"] if span else None)
        finally:
            self._quiet -= 1

    def enter(self, layer: str, name: str) -> dict:
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": len(self.spans), "key": f"perfbench-{len(self.spans)}", "layer": layer,
            "name": name, "parent": parent["id"] if parent else None, "op": self.op,
            "start": t0, "end": None, "py4j_calls": 0, "barriers": 0,
            "jobs": 0, "task_s": 0.0, "shuffle_bytes": 0, "output_rows": 0,
        }
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        if self._stack[0]["layer"] == "op":  # bookkeeping inside a timed unit
            self.costs[self.op] = self.costs.get(self.op, 0.0) + time.perf_counter() - t0
        return span

    def exit(self, span: dict) -> None:
        t0 = time.perf_counter()
        timed = self._stack[0]["layer"] == "op"
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)
        span["end"] = time.perf_counter()
        if timed:
            self.costs[self.op] = self.costs.get(self.op, 0.0) + span["end"] - t0

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.on:
            yield None
            return
        s = self.enter(layer, name)
        try:
            yield s
        finally:
            self.exit(s)

    def wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.on:
                return fn(*args, **kwargs)
            s = tracer.enter(layer, name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.exit(s)

        return traced

    # -- installation -----------------------------------------------------------

    def install(self, queries: dict) -> None:
        """Wrap every layer's public functions, rebind the names other
        program modules imported, and hook py4j and the barrier calls."""
        replaced = {}
        for layer, mod_name in LAYER_MODULES.items():
            mod = importlib.import_module(mod_name)
            for name, fn in inspect.getmembers(mod, inspect.isfunction):
                if name.startswith("_") or fn.__module__ != mod_name:
                    continue
                w = self.wrap(layer, f"{mod_name.rsplit('.', 1)[-1]}.{name}", fn)
                replaced[id(fn)] = (fn, w)
                setattr(mod, name, w)
        # names bound by `from x import f` elsewhere in the program
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("data_rivers_spark") or mod is None:
                continue
            for name, val in list(vars(mod).items()):
                hit = replaced.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, name, hit[1])
        from data_rivers_spark.catalog.tables import ManagedCatalog

        for name, fn in list(vars(ManagedCatalog).items()):
            if inspect.isfunction(fn) and not name.startswith("_"):
                setattr(ManagedCatalog, name, self.wrap("catalog", f"ManagedCatalog.{name}", fn))
        for name, fn in list(queries.items()):
            queries[name] = self.wrap("plans", name, fn)
        self._hook_py4j()
        self._hook_barriers()

    def _hook_py4j(self) -> None:
        from py4j.java_gateway import GatewayClient

        tracer = self
        send = GatewayClient.send_command

        def send_command(client, *args, **kwargs):
            if tracer.on and not tracer._quiet and tracer._stack:
                tracer._stack[-1]["py4j_calls"] += 1
            return send(client, *args, **kwargs)

        GatewayClient.send_command = send_command

    def _hook_barriers(self) -> None:
        from pyspark import RDD
        from pyspark.sql.classic.dataframe import DataFrame

        tracer = self
        for cls in (DataFrame, RDD):
            for name in ("persist", "cache", "localCheckpoint", "checkpoint"):
                orig = cls.__dict__[name]

                def hooked(obj, *args, _orig=orig, **kwargs):
                    if tracer.on and tracer._barrier_depth == 0 and tracer._stack:
                        tracer._stack[-1]["barriers"] += 1
                    tracer._barrier_depth += 1
                    try:
                        return _orig(obj, *args, **kwargs)
                    finally:
                        tracer._barrier_depth -= 1

                setattr(cls, name, functools.wraps(orig)(hooked))

    # -- job and stage statistics -------------------------------------------------

    def harvest(self) -> None:
        """Charge the jobs finished since the last harvest to their spans."""
        self._quiet += 1
        try:
            sc = self.spark.sparkContext
            jsc = sc._jsc.sc()
            jsc.listenerBus().waitUntilEmpty()
            jvm = sc._jvm
            mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            mapper.registerModule(
                getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$").__getattr__("MODULE$")
            )
            store = jsc.statusStore()
            jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
            stages = json.loads(mapper.writeValueAsString(
                store.stageList(None, False, False, sc._gateway.new_array(jvm.double, 0), None)
            ))
        finally:
            self._quiet -= 1
        by_stage: dict[int, list[dict]] = {}
        for st in stages:
            by_stage.setdefault(st["stageId"], []).append(st)
        by_key = {s["key"]: s for s in self.spans}
        newest = self._last_job
        for job in jobs:
            if job["jobId"] <= self._last_job:
                continue
            newest = max(newest, job["jobId"])
            span = by_key.get(job.get("jobGroup"))
            if span is None:
                continue
            span["jobs"] += 1
            for sid in job["stageIds"]:
                for st in by_stage.pop(sid, []):  # a stage shared by jobs counts once
                    span["task_s"] += st["executorRunTime"] / 1000.0
                    span["shuffle_bytes"] += st["shuffleWriteBytes"]
                    span["output_rows"] += st["outputRecords"]
        self._last_job = newest

    # -- reporting ----------------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def _timed(self, ops: list[int]) -> list[dict]:
        """Layer spans of ``ops`` that ran inside a timed unit (under an
        ``op`` root span), leaving out untimed work such as read-backs."""
        keep, out = set(ops), []
        for s in self.spans:
            if s["op"] not in keep or s["layer"] not in LAYERS:
                continue
            p = s
            while p["parent"] is not None:
                p = self.spans[p["parent"]]
            if p["layer"] == "op":
                out.append(s)
        return out

    def layer_metrics(self, ops: list[int]) -> dict[str, float]:
        """Every measure of every layer over ``ops``, per operation."""
        n = len(ops)
        own = self.self_times()
        acc = {layer: dict.fromkeys(MEASURES, 0.0) for layer in LAYERS}
        for s in self._timed(ops):
            a = acc[s["layer"]]
            a["calls"] += 1
            a["self_s"] += own[s["id"]]
            a["jobs"] += s["jobs"]
            a["task_s"] += s["task_s"]
            a["shuffle_mb"] += s["shuffle_bytes"] / _MiB
            a["py4j_calls"] += s["py4j_calls"]
            a["barriers"] += s["barriers"]
        out = {}
        for layer, a in acc.items():
            a["core_util"] = a["task_s"] / (a["self_s"] * self.cores) if a["self_s"] > 0 else 0.0
            for m in MEASURES:
                out[f"{layer}.{m}"] = a[m] if m == "core_util" else a[m] / n
        return out

    def coverage_problems(self, roots: list[int]) -> list[str]:
        """Each root span's wall must be covered by the self-times of the
        layer spans under it, within 5%."""
        own = self.self_times()
        covered = dict.fromkeys(roots, 0.0)
        for s in self.spans:
            if s["layer"] not in LAYERS:
                continue
            p = s
            while p["parent"] is not None and p["id"] not in covered:
                p = self.spans[p["parent"]]
            if p["id"] in covered:
                covered[p["id"]] += own[s["id"]]
        problems = []
        for root, c in covered.items():
            wall = self.spans[root]["end"] - self.spans[root]["start"]
            if abs(wall - c) > 0.05 * wall:
                problems.append(f"trace: span {root} ({self.spans[root]['name']}) layers cover {c:.3f}s of {wall:.3f}s")
        return problems

    def output_rows(self, layer: str, ops: list[int]) -> int:
        return sum(s["output_rows"] for s in self._timed(ops) if s["layer"] == layer)

    def dump(self, path: str, t_origin: float) -> None:
        own = self.self_times()
        rows = [
            {k: v for k, v in s.items() if k != "key"}
            | {"start": s["start"] - t_origin, "end": s["end"] - t_origin, "self_s": own[s["id"]]}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f)
