"""The traced run: per-layer numbers by cumulative truncation.

Each layer prefix — scan, +parse, +enrich, +route — is its own action that
materialises every column, then +output runs the workload's own output.
A layer's self time is the difference between consecutive prefixes. Each
action also takes a status-store delta (``statusstore.StoreCursor``).
Spans stay in memory until ``Tracer.write``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from ngxspark import parse as parse_mod
from ngxspark.enrich import enrich_all
from ngxspark.parse import parse_lines
from ngxspark.route import route
from ngxspark.sources import read_transcripts
from perfbench import checks
from perfbench.corpus import CURATION_QUERIES
from perfbench.statusstore import StoreCursor
from perfbench.workloads import routed, write_noop

# per-layer metrics, in BENCHMARK.json's order
LAYER_METRICS = [
    "session.s", "compile.s",
    "scan.s", "scan.bytes",
    "parse.s", "parse.build_s", "parse.py_eval_s", "parse.py_tasks", "parse.tail_rows",
    "parse.py_bytes", "parse.tail_yield",
    "enrich.s", "enrich.broadcast_build_s", "enrich.broadcast_bytes",
    "route.s", "sink.write_s", "sink.bytes", "sink.files",
    "aggregate.s", "aggregate.shuffle_write_bytes", "aggregate.shuffle_read_bytes",
    "aggregate.spill_bytes",
    "engine.plan_s", "engine.jobs", "engine.tasks", "engine.task_run_s", "engine.gc_s",
    "engine.corpus_scans",
    *[f"curation.{q}.{m}" for q in CURATION_QUERIES for m in ("build_s", "exec_s", "jobs")],
    "trace.overhead_s",
]
LAYER_UNITS = {
    "bytes": "B", "py_tasks": "count", "tail_rows": "count", "tail_yield": "ratio",
    "files": "count", "jobs": "count", "tasks": "count", "corpus_scans": "count",
    "py_bytes": "B",
}
_PARSE_GATE = "SPARK_GRAFT_PARSE_METRICS"


def layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    if last in LAYER_UNITS:
        return LAYER_UNITS[last]
    return "B" if last.endswith("_bytes") else "s"


class Tracer:
    """In-memory spans (name, parent, start, duration) on one clock."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        """Yields the span record; its ``seconds`` is set on exit."""
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None}
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["start_s"] = start - self.t0
            rec["seconds"] = time.perf_counter() - start
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _corpus_scans(delta, data_dir: str) -> int:
    return sum(1 for d in delta.scan_paths if data_dir in d)


def traced_pass(wl, tracer: Tracer, untraced_s: float | None) -> tuple[dict, dict, dict]:
    """One traced pass of workload ``wl``. Returns (metrics, output, notes),
    notes naming metrics (by prefix) that could not be read, and why."""
    spark = wl.spark
    m: dict[str, float] = {}
    notes: dict[str, str] = dict(wl.unexercised)
    cur = StoreCursor(spark)
    cum = {}

    def step(name: str, build):
        with tracer.span(f"trace.{name}") as sp:
            write_noop(build())
        cum[name] = sp["seconds"]
        return cur.delta()

    d_scan = step("scan", lambda: read_transcripts(spark, wl.data))
    m["scan.s"] = cum["scan"]
    m["scan.bytes"] = d_scan.op("Scan parquet", "size of files read")

    # the parse module's own tail counter is read when the frame is built
    has_gate = hasattr(parse_mod, "take_parse_tier_obs")
    build_s = {}

    def build_parse():
        os.environ[_PARSE_GATE] = "1"
        try:
            if has_gate:
                parse_mod.take_parse_tier_obs()
            src = read_transcripts(spark, wl.data)
            t = time.perf_counter()
            df = parse_lines(src, wl.plan)
            build_s["parse"] = time.perf_counter() - t
            return df
        finally:
            os.environ.pop(_PARSE_GATE, None)

    d_parse = step("parse", build_parse)
    m["parse.s"] = cum["parse"] - cum["scan"]
    m["parse.build_s"] = build_s["parse"]
    m["parse.py_eval_s"] = d_parse.op("ArrowEvalPython", "time to run Python workers")
    m["parse.py_tasks"] = d_parse.tasks if d_parse.ops("ArrowEvalPython") else 0
    m["parse.py_bytes"] = (d_parse.op("ArrowEvalPython", "data sent to Python workers")
                           + d_parse.op("ArrowEvalPython", "data returned from Python workers"))
    tail_rows = None
    if has_gate:
        obs = parse_mod.take_parse_tier_obs()
        if obs:
            tail_rows = sum(o.get["arrow_rows"] or 0 for _, o in obs)
    if tail_rows is None:
        notes["parse.tail_"] = ("ngxspark.parse exposes no tail-row counter "
                                "(SPARK_GRAFT_PARSE_METRICS / take_parse_tier_obs)")
        tail_rows = 0

    d_enrich = step("enrich", lambda: enrich_all(
        parse_lines(read_transcripts(spark, wl.data), wl.plan)))
    m["enrich.s"] = cum["enrich"] - cum["parse"]
    m["enrich.broadcast_build_s"] = sum(
        d_enrich.op("BroadcastExchange", k) for k in ("time to collect", "time to build",
                                                      "time to broadcast"))
    m["enrich.broadcast_bytes"] = d_enrich.op("BroadcastExchange", "data size")

    step("route", lambda: route(enrich_all(
        parse_lines(read_transcripts(spark, wl.data), wl.plan))))
    m["route.s"] = cum["route"] - cum["enrich"]

    # +output: the workload's own pass, with planning forced up front
    df = routed(spark, wl.data, wl.plan)
    sub: dict[str, float] = {}
    with tracer.span("trace.output") as sp:
        t = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        m["engine.plan_s"] = time.perf_counter() - t
        out = wl.traced_output(df, sub)
    d_out = cur.delta()
    m["sink.write_s"] = sub.get("sink.write_s", 0.0)
    m["aggregate.s"] = sub.get("aggregate.s", sp["seconds"] - cum["route"])
    m["sink.bytes"] = d_out.op("", "written output")
    m["sink.files"] = d_out.op("", "number of written files")
    m["aggregate.shuffle_write_bytes"] = d_out.shuffle_write_bytes
    m["aggregate.shuffle_read_bytes"] = d_out.shuffle_read_bytes
    m["aggregate.spill_bytes"] = d_out.spill_bytes
    m["engine.jobs"] = d_out.jobs
    m["engine.tasks"] = d_out.tasks
    m["engine.task_run_s"] = d_out.task_run_s
    m["engine.gc_s"] = d_out.gc_s
    m["engine.corpus_scans"] = _corpus_scans(d_out, wl.data)
    if untraced_s is None:
        notes["trace.overhead_s"] = "the untraced pass failed"
    else:
        m["trace.overhead_s"] = sp["seconds"] - untraced_s

    m["parse.tail_rows"] = tail_rows
    rejects = wl.rejects(out)
    m["parse.tail_yield"] = (tail_rows - rejects) / tail_rows if tail_rows else 0.0
    return m, out, notes


def curation_layers(spark, tracer: Tracer, data_dir: str, expect: dict) -> tuple[dict, list[str]]:
    """Build and execute each curation query once, with its job count; the
    results are checked against DuckDB."""
    from ngxspark.queries import queries

    qs = queries()
    m: dict[str, float] = {}
    bad: list[str] = []
    cur = StoreCursor(spark)
    for q in CURATION_QUERIES:
        with tracer.span(f"curation.{q}.build") as b:
            df = qs[q](spark, data_dir)
        with tracer.span(f"curation.{q}.exec") as e:
            rows = [tuple(r) for r in df.collect()]
        m[f"curation.{q}.build_s"] = b["seconds"]
        m[f"curation.{q}.exec_s"] = e["seconds"]
        m[f"curation.{q}.jobs"] = cur.delta().jobs
        bad += [f"{q}: {x}" for x in checks.check_query(expect["queries"][q], df.columns, rows)]
    return m, bad
