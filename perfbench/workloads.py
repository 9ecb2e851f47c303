"""The benchmark's workloads, driven only through ngxspark's public functions.

A workload's ``run_pass`` times one pass and returns what it produced;
``check`` then verifies that output, after the clock stopped. ``traced``
runs the same pipeline as cumulative truncations for the per-layer numbers.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from ngxspark.enrich import enrich_all
from ngxspark.parse import parse_lines
from ngxspark.pipeline import pipeline_aggregates
from ngxspark.route import route, write_fanout
from ngxspark.sources import read_transcripts
from perfbench import checks


def routed(spark, data_dir: str, plan):
    return route(enrich_all(parse_lines(read_transcripts(spark, data_dir), plan)))


def write_noop(df) -> None:
    """Materialise every column of ``df`` (the noop sink writes nothing, but
    Catalyst cannot prune a column away from it)."""
    df.write.format("noop").mode("overwrite").save()


class AccessWorkload:
    """Shared by both access-log workloads: a corpus, its expectations and a
    field-by-field sample check."""

    def __init__(self, spark, corpus_dir: str, expect: dict, plan, work_dir: str):
        self.spark = spark
        self.data = os.path.join(corpus_dir, "data")
        self.expect = expect
        self.plan = plan
        self.work_dir = work_dir
        self.fields = [f.name for f in plan.fields]
        keys = [tuple(k.split("|")) for k in expect["sample"]]
        self.sample_keys = spark.createDataFrame(
            [(c, int(t)) for c, t in keys], "conv_id string, turn_idx int")

    def _sample_cols(self):
        return ["conv_id", "turn_idx", *self.fields, "_matched", "_error", "sink"]

    def _sample_of(self, df) -> list[dict]:
        got = df.join(F.broadcast(self.sample_keys), ["conv_id", "turn_idx"], "left_semi")
        return [r.asDict() for r in got.select(*self._sample_cols()).collect()]


class Flagship(AccessWorkload):
    """parse → enrich → route → per-sink and reject-reason counts."""

    name = "flagship"
    pass_s = 9.0  # a warm pass at local[2] on a 4-CPU x86 VM; sets the pass count
    unexercised = {"sink.": "flagship writes no sink files"}
    _sample_checked = False

    def output(self, df) -> dict:
        rows = df.groupBy("sink", "_error").agg(F.count(F.lit(1)).alias("cnt")).collect()
        return {"counts": [(r["sink"], r["_error"], r["cnt"]) for r in rows]}

    def run_pass(self, pass_ix: int) -> dict:
        return self.output(routed(self.spark, self.data, self.plan))

    def traced_output(self, df, timings: dict) -> dict:
        return self.output(df)

    def check(self, out: dict) -> list[str]:
        per_sink: dict[str, int] = {}
        reasons: dict[str, int] = {}
        for sink, err, cnt in out["counts"]:
            per_sink[sink] = per_sink.get(sink, 0) + cnt
            if err is not None:
                reasons[err] = reasons.get(err, 0) + cnt
        bad = checks.check_counts(self.expect, per_sink, reasons)
        if self._sample_checked:
            return bad
        # The pass's own output holds only counts, so the sampled rows are
        # re-run through the same functions: filtered by a parallel scan,
        # parsed in one task. The job does not depend on the pass, so it
        # runs once, with the first pass's check.
        self._sample_checked = True
        src = read_transcripts(self.spark, self.data).join(
            F.broadcast(self.sample_keys), ["conv_id", "turn_idx"], "left_semi").repartition(1)
        df = route(enrich_all(parse_lines(src, self.plan)))
        rows = [r.asDict() for r in df.select(*self._sample_cols()).collect()]
        return bad + checks.check_sample(self.expect, rows)

    def rejects(self, out: dict) -> int:
        return sum(c for s, _, c in out["counts"] if s == "reject")


class ReportFanout(AccessWorkload):
    """parse → enrich → route → ``write_fanout`` to partitioned parquet sinks
    plus all four ``pipeline_aggregates``."""

    name = "report_fanout"
    pass_s = 8.5  # a warm pass at local[2] on a 4-CPU x86 VM; sets the pass count
    unexercised: dict[str, str] = {}

    def sink_dir(self, pass_ix: int) -> str:
        return os.path.join(self.work_dir, "sinks", f"pass-{pass_ix}")

    def output(self, df, pass_ix: int, timings: dict | None = None) -> dict:
        path = self.sink_dir(pass_ix)
        t0 = time.perf_counter()
        counts = write_fanout(df, path)
        t1 = time.perf_counter()
        aggs = {n: [r.asDict() for r in a.collect()] for n, a in pipeline_aggregates(df).items()}
        if timings is not None:
            timings["sink.write_s"] = t1 - t0
            timings["aggregate.s"] = time.perf_counter() - t1
        return {"fanout_counts": counts, "aggs": aggs, "sink_dir": path}

    def run_pass(self, pass_ix: int) -> dict:
        shutil.rmtree(self.sink_dir(pass_ix), ignore_errors=True)
        return self.output(routed(self.spark, self.data, self.plan), pass_ix)

    def traced_output(self, df, timings: dict) -> dict:
        shutil.rmtree(self.sink_dir(-1), ignore_errors=True)
        return self.output(df, -1, timings)

    def check(self, out: dict) -> list[str]:
        counts = dict(out["fanout_counts"])
        total = counts.pop("total")
        bad = [] if total == self.expect["rows"] else [f"total {total}, want {self.expect['rows']}"]
        bad += checks.check_aggregates(self.expect, out["aggs"])
        # the sink files, read back
        back = self.spark.read.parquet(out["sink_dir"])
        per_sink: dict[str, int] = {}
        reasons: dict[str, int] = {}
        for r in back.groupBy("sink", "_error").count().collect():
            per_sink[r["sink"]] = per_sink.get(r["sink"], 0) + r["count"]
            if r["_error"] is not None:
                reasons[r["_error"]] = reasons.get(r["_error"], 0) + r["count"]
        bad += checks.check_counts(self.expect, counts)
        bad += checks.check_counts(self.expect, per_sink, reasons)
        bad += checks.check_sample(self.expect, self._sample_of(back))
        shutil.rmtree(out["sink_dir"], ignore_errors=True)
        return bad

    def rejects(self, out: dict) -> int:
        return out["fanout_counts"]["reject"]


WORKLOADS = {"flagship": Flagship, "report_fanout": ReportFanout}
