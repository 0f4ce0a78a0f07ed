"""Benchmark-side tracing: spans around the program's public layer calls,
plus Spark's own job, stage and SQL-node metrics read from the status
store over py4j (both stay live with ``spark.ui.enabled=false``).

Nothing here edits the program. ``Tracer.install`` swaps module and class
attributes for timing wrappers and ``uninstall`` restores them, so an
untraced pass runs the unmodified code.

Per pass (per micro-batch, on the stream), ``decompose`` splits the wall
time into disjoint pieces:

- ``driver.floor_s``: wall time with no Spark job running;
- per-layer self time: each job's exclusive wall time, split by the
  SQL-node time of its execution (scan -> sources, Python nodes -> arrow
  or parsers, Exchange -> shuffle, aggregate build -> aggregate, file
  writes -> sinks); the job time no node accounts for goes to the layer
  whose call launched the job;
- the rest is ``trace.unattributed_share``.
"""

from __future__ import annotations

import json
import re
import statistics
import threading
import time
from contextlib import contextmanager

# module path -> layer; every public function and the listed class
# methods of each module get a span
LAYER_MODULES = {
    "go_log_forwarder_spark.sources.tail": "sources",
    "go_log_forwarder_spark.sources.tokens": "sources",
    "go_log_forwarder_spark.sources.storage": "sources",
    "go_log_forwarder_spark.functions.parsers": "parsers",
    "go_log_forwarder_spark.functions.grok": "parsers",
    "go_log_forwarder_spark.functions.filters": "filters",
    "go_log_forwarder_spark.functions.tags": "filters",
    "go_log_forwarder_spark.operators.routing": "routing",
    "go_log_forwarder_spark.operators.partitioning": "routing",
    "go_log_forwarder_spark.operators.aggregate": "aggregate",
    "go_log_forwarder_spark.operators.sinks": "sinks",
    "go_log_forwarder_spark.functions.tokenops": "arrow",
    "go_log_forwarder_spark.functions.packing": "arrow",
    "go_log_forwarder_spark.functions.dedup": "dedup",
    "go_log_forwarder_spark.functions.similarity": "similarity",
    "go_log_forwarder_spark.streaming.pipeline": "streaming",
}
CLASS_METHODS = {
    "go_log_forwarder_spark.functions.parsers": {"ParserChain": ["apply"]},
    "go_log_forwarder_spark.functions.filters": {"GrepFilter": ["apply"], "FilterChain": ["apply"]},
    "go_log_forwarder_spark.sources.storage": {"ParquetSnapshotStore": ["append", "read"]},
}
# functions that move between layers: synth_tokens_arrow is an Arrow kernel
# living in sources/tokens.py; tag matching and column builders are too
# small and too frequent to be worth a span
LAYER_OVERRIDES = {"synth_tokens_arrow": "arrow"}
SKIP = {"tag_match_py", "compile_tag_pattern", "tag_match_col", "trim_space"}
# modules holding names imported from the layer modules
IMPORTERS = ["__spark_entry__", "go_log_forwarder_spark.plans.config"]

PY_NODES = ("ArrowEvalPython", "MapInArrow", "MapInPandas", "FlatMapGroupsInPandas",
            "FlatMapCoGroupsInPandas", "BatchEvalPython", "AggregateInPandas",
            "WindowInPandas", "PythonMapInArrow", "ArrowWindowPython")

LAYERS = ["sources", "parsers", "filters", "routing", "aggregate", "sinks", "arrow",
          "dedup", "similarity", "streaming", "shuffle"]

_UNIT = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
         "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_NUM = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def metric_value(text: str | None) -> float:
    """Parse a SQL metric string ('1,000', '1.8 s', 'total (...)\\n8 KiB (...)')
    into a number in base units (rows, seconds, bytes)."""
    if not text:
        return 0.0
    line = text.strip().split("\n")[-1] if text.startswith("total") else text.strip()
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2) or "", 1.0)


class Span:
    __slots__ = ("id", "name", "layer", "parent", "start", "end")

    def __init__(self, sid, name, layer, parent, start):
        self.id, self.name, self.layer, self.parent, self.start = sid, name, layer, parent, start
        self.end = None

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "layer": self.layer,
                "parent": self.parent, "start": self.start, "end": self.end}


class Tracer:
    """Records spans (epoch seconds, so they line up with Spark's job
    times) and counts eager ``DataFrame.count`` calls per enclosing layer."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, int] = {}
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self.on_write = None  # called after each traced sink write

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    @contextmanager
    def span(self, name: str, layer: str | None):
        st = self._stack()
        s = Span(len(self.spans), name, layer, st[-1].id if st else None, time.time())
        self.spans.append(s)
        st.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            st.pop()

    def enclosing_layers(self) -> set[str]:
        return {s.layer for s in self._stack() if s.layer}

    def count(self, key: str) -> None:
        for layer in self.enclosing_layers():
            k = f"{layer}.{key}"
            self.counts[k] = self.counts.get(k, 0) + 1

    # -- installing wrappers ------------------------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        def wrapper(*a, **kw):
            with tracer.span(name, layer):
                return fn(*a, **kw)

        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", name)
        return wrapper

    def install(self) -> None:
        import importlib
        import inspect
        import sys

        from pyspark.sql import DataFrame, DataFrameWriter

        wrapped: dict[int, object] = {}
        for modname, layer in LAYER_MODULES.items():
            mod = importlib.import_module(modname)
            for attr, obj in list(vars(mod).items()):
                if (attr.startswith("_") or attr in SKIP or not inspect.isfunction(obj)
                        or obj.__module__ != modname):
                    continue
                w = self._wrap(obj, f"{modname.rsplit('.', 1)[-1]}.{attr}",
                               LAYER_OVERRIDES.get(attr, layer))
                wrapped[id(obj)] = w
                self._patch(mod, attr, w)
            for cls, methods in CLASS_METHODS.get(modname, {}).items():
                klass = getattr(mod, cls)
                for m in methods:
                    self._patch(klass, m, self._wrap(klass.__dict__[m], f"{cls}.{m}", layer))
        for modname in IMPORTERS:
            mod = sys.modules.get(modname)
            for attr, obj in list(vars(mod).items()) if mod else []:
                if id(obj) in wrapped and inspect.isfunction(obj):
                    self._patch(mod, attr, wrapped[id(obj)])
        tracer = self

        def writer(fn, name):
            def w(self_, *a, **kw):
                cur = tracer.current()
                if cur is not None and cur.name.startswith("materialize:"):
                    return fn(self_, *a, **kw)
                try:
                    with tracer.span(name, "sinks"):
                        return fn(self_, *a, **kw)
                finally:
                    if tracer.on_write is not None:
                        tracer.on_write()
            return w

        for m in ("save", "parquet"):
            self._patch(DataFrameWriter, m, writer(DataFrameWriter.__dict__[m], f"write.{m}"))

        count = DataFrame.__dict__["count"]

        def counted(*a, **kw):  # eager count() gates, per enclosing layer
            tracer.count("count_gates")
            return count(*a, **kw)

        self._patch(DataFrame, "count", counted)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


# -- Spark status store ------------------------------------------------------


class StatusStore:
    """Job, stage and SQL-execution data for one job group. Each JVM object
    crosses py4j as one JSON string: field by field, the reads took seconds
    per pass."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._st = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        jackson = sc._jvm.com.fasterxml.jackson
        self._mapper = jackson.databind.ObjectMapper()
        self._mapper.registerModule(jackson.module.scala.DefaultScalaModule())

    def _read(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self, group: str) -> list[dict]:
        out = []
        for j in self._read(self._st.jobsList(None)):
            if j["jobGroup"] != group:
                continue
            stages = []
            for sid in j["stageIds"]:
                s = self._read(self._st.lastStageAttempt(sid))
                if s["status"] == "SKIPPED":
                    continue
                tasks = [t["duration"] for t in self._read(self._st.taskList(sid, s["attemptId"], 10_000))
                         if t["duration"] is not None]
                stages.append({
                    "id": sid, "run_s": s["executorRunTime"] / 1000.0, "tasks": tasks,
                    "shuffle_write_b": s["shuffleWriteBytes"], "shuffle_read_b": s["shuffleReadBytes"],
                    "shuffle_records": s["shuffleWriteRecords"],
                    "spill_b": s["memoryBytesSpilled"] + s["diskBytesSpilled"],
                })
            out.append({"id": j["jobId"], "start": _epoch_s(j["submissionTime"]),
                        "end": _epoch_s(j["completionTime"]), "stages": stages})
        return out

    def executions(self, job_ids: set[int]) -> list[dict]:
        """SQL executions that ran any of ``job_ids``, with per-node metrics."""
        out = []
        for e in self._conv.asJava(self._sql.executionsList()):
            jobs = {int(k) for k in self._read(e.jobs())}
            if not jobs & job_ids:
                continue
            eid = e.executionId()
            values = self._read(self._sql.executionMetrics(eid))  # accumulator id -> text
            graph = self._sql.planGraph(eid)
            nodes = [{"id": n["id"], "name": n["name"].strip(),
                      "metrics": {pm["name"]: metric_value(values.get(str(pm["accumulatorId"])))
                                  for pm in n["metrics"]}}
                     for n in self._read(graph.allNodes())]
            edges = [(ed["fromId"], ed["toId"]) for ed in self._read(graph.edges())]  # child -> parent
            out.append({"id": eid, "jobs": sorted(jobs & job_ids), "nodes": nodes, "edges": edges})
        return out


def _epoch_s(ms: int | None) -> float | None:
    return ms / 1000.0 if ms is not None else None


def _python_s(m: dict) -> float:
    return (m.get("time to run Python workers", 0.0) + m.get("time to initialize Python workers", 0.0)
            + m.get("time to start Python workers", 0.0))


def _scan_s(m: dict) -> float:
    return m.get("scan time", 0.0) + m.get("metadata time", 0.0)


def _pipeline_below(e: dict, node_id: int) -> list[dict]:
    """Nodes below ``node_id`` that run in the same task pipeline: its
    descendants, not crossing an Exchange (a shuffle or broadcast edge)."""
    by_id = {n["id"]: n for n in e["nodes"]}
    children: dict[int, list[int]] = {}
    for child, parent in e["edges"]:
        children.setdefault(parent, []).append(child)
    out, todo = [], list(children.get(node_id, []))
    while todo:
        n = by_id.get(todo.pop())
        if n is None or "Exchange" in n["name"]:
            continue
        out.append(n)
        todo += children.get(n["id"], [])
    return out


def node_layer_times(e: dict, python_layer: str) -> dict[str, float]:
    """Summed task seconds per layer from one execution's node metrics."""
    t = dict.fromkeys(LAYERS, 0.0)
    for n in e["nodes"]:
        name, m = n["name"], n["metrics"]
        if name.startswith("Scan"):
            t["sources"] += _scan_s(m)
        elif name.startswith(PY_NODES):
            t[python_layer] += _python_s(m)
        elif name.startswith("Exchange"):
            t["shuffle"] += m.get("shuffle write time", 0.0) + m.get("fetch wait time", 0.0)
        elif "Aggregate" in name:
            # the build time is measured around the codegen loop, which pulls
            # rows through any Python node and scan below it in the same
            # pipeline: take theirs out (a final aggregate above an Exchange
            # keeps all of its own)
            below = _pipeline_below(e, n["id"])
            pulled = sum(_python_s(b["metrics"]) for b in below if b["name"].startswith(PY_NODES)) + sum(
                _scan_s(b["metrics"]) for b in below if b["name"].startswith("Scan"))
            t["aggregate"] += max(0.0, m.get("time in aggregation build", 0.0) - pulled)
        elif "InsertInto" in name or name.startswith(("WriteFiles", "Execute ")):
            t["sinks"] += m.get("task commit time", 0.0) + m.get("job commit time", 0.0)
    return t


def _exclusive(jobs: list[dict], t0: float, t1: float) -> tuple[dict[int, float], float]:
    """Each job's exclusive wall seconds in [t0, t1] (overlaps split evenly)
    and the wall time covered by any job."""
    edges = []
    for j in jobs:
        s, e = max(j["start"] or t0, t0), min(j["end"] or t1, t1)
        if e > s:
            edges += [(s, 1, j["id"]), (e, -1, j["id"])]
    edges.sort()
    share = {j["id"]: 0.0 for j in jobs}
    active: set[int] = set()
    covered, last = 0.0, None
    for t, kind, jid in edges:
        if active and last is not None and t > last:
            covered += t - last
            for a in active:
                share[a] += (t - last) / len(active)
        last = t
        if kind > 0:
            active.add(jid)
        else:
            active.discard(jid)
    return share, covered


def _span_at(spans: list[Span], t: float) -> Span | None:
    """Innermost span open at time ``t``."""
    best = None
    for s in spans:
        if s.start <= t <= (s.end or t) and (best is None or s.start >= best.start):
            best = s
    return best


def _chain(spans_by_id: dict[int, Span], s: Span | None):
    while s is not None:
        yield s
        s = spans_by_id.get(s.parent) if s.parent is not None else None


def decompose(t0: float, t1: float, spans: list[Span], jobs: list[dict], execs: list[dict],
              python_layer: str) -> dict:
    """Split one pass's wall time; return layer self times plus counters."""
    wall = t1 - t0
    share, covered = _exclusive(jobs, t0, t1)
    by_id = {s.id: s for s in spans}
    exec_of = {jid: e for e in execs for jid in e["jobs"]}
    self_s = dict.fromkeys(LAYERS, 0.0)
    job_layer: dict[int, str | None] = {}
    eager = 0
    for j in jobs:
        caller = next((s for s in _chain(by_id, _span_at(spans, j["start"] or t0)) if s.layer), None)
        layer = caller.layer if caller else None
        job_layer[j["id"]] = layer
        if caller is not None and layer not in ("sinks",) and not caller.name.startswith("materialize:"):
            eager += 1
        e = exec_of.get(j["id"])
        run = sum(st["run_s"] for jj in (e["jobs"] if e else [j["id"]])
                  for st in next((x["stages"] for x in jobs if x["id"] == jj), []))
        py_layer = layer if layer in ("dedup", "similarity") else python_layer
        node_t = node_layer_times(e, py_layer) if e else dict.fromkeys(LAYERS, 0.0)
        total = max(run, sum(node_t.values()), 1e-9)
        rest = share[j["id"]]
        for lay, v in node_t.items():
            part = share[j["id"]] * v / total
            self_s[lay] += part
            rest -= part
        if layer:
            self_s[layer] += rest
    self_s = {k: max(0.0, v) for k, v in self_s.items()}
    attributed = sum(self_s.values())
    floor = wall - covered
    stages = [st for j in jobs for st in j["stages"]]
    skews = [max(st["tasks"]) / max(statistics.median(st["tasks"]), 1)
             for st in stages if len(st["tasks"]) >= 2]
    layer_jobs: dict[str, int] = {}
    for lay in job_layer.values():
        if lay:
            layer_jobs[lay] = layer_jobs.get(lay, 0) + 1
    call_s: dict[str, float] = {}
    for s in spans:
        # outermost span of each layer: its wall includes eager jobs
        if s.layer and not any(p.layer == s.layer for p in list(_chain(by_id, s))[1:]):
            call_s[s.layer] = call_s.get(s.layer, 0.0) + (s.end - s.start)
    return {
        "wall_s": wall, "floor_s": floor, "self_s": self_s,
        "unattributed_s": wall - floor - attributed,
        "jobs": len(jobs), "stages": len(stages), "eager_jobs": eager,
        "layer_jobs": layer_jobs, "call_s": call_s,
        "skew": max(skews, default=1.0),
        "shuffle_write_b": sum(st["shuffle_write_b"] for st in stages),
        "shuffle_read_b": sum(st["shuffle_read_b"] for st in stages),
        "shuffle_records": sum(st["shuffle_records"] for st in stages),
        "spill_b": sum(st["spill_b"] for st in stages),
        "job_layer": job_layer,
    }


def node_counters(execs: list[dict], job_layer: dict[int, str | None]) -> dict:
    """Row and byte counters summed over node metrics."""
    c = {"scan_rows": 0.0, "scan_b": 0.0, "scans": 0, "py_rows": 0.0, "py_b": 0.0,
         "agg_groups": 0.0, "write_rows": 0.0, "write_b": 0.0, "generate_rows": 0.0,
         "cache_rows": 0.0, "similarity_py_nodes": 0}
    for e in execs:
        layers = {job_layer.get(j) for j in e["jobs"]}
        for n in e["nodes"]:
            name, m = n["name"], n["metrics"]
            if name.startswith("Scan"):
                # a plan that reads a cached frame still shows the scan below
                # it, with no metrics: count only the scans that ran
                c["scans"] += any(m.values())
                c["scan_rows"] += m.get("number of output rows", 0.0)
                c["scan_b"] += m.get("size of files read", 0.0)
            elif name.startswith(PY_NODES):
                c["py_rows"] += m.get("number of output rows", 0.0)
                c["py_b"] += m.get("data sent to Python workers", 0.0) + m.get(
                    "data returned from Python workers", 0.0)
                if "similarity" in layers:
                    c["similarity_py_nodes"] += 1
            elif name.startswith("HashAggregate"):
                c["agg_groups"] += m.get("number of output rows", 0.0)
            elif name.startswith("Generate"):
                c["generate_rows"] += m.get("number of output rows", 0.0)
            elif name.startswith("InMemoryTableScan"):
                # rows of a persisted frame, read once per action on it
                c["cache_rows"] = max(c["cache_rows"], m.get("number of output rows", 0.0))
            elif "InsertInto" in name or name.startswith("WriteFiles"):
                c["write_rows"] += m.get("number of output rows", 0.0)
                c["write_b"] += m.get("written output", 0.0)
    return c
