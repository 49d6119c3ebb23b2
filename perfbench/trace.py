"""Tracing from outside the program: spans around the public calls,
noop drains that charge execution time to layers, and Spark job counts.

Spark is lazy, so a span around ``Source.read`` or ``key_merge`` times
only planning. The traced run therefore also drains each layer's output
frame into Spark's ``noop`` sink; the execution time charged to a layer
is its drain minus the drains that fed it (the consecutive-drain
difference). Drains run under their own job group so the per-op
StatusTracker counts cover only the program's own jobs.

Spans live in memory (name, start, end, parent, op id) and are written
out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

from pyspark.sql import DataFrame

# a drain whose charge is relative to the frames that fed it
_STAGES = ("migrate.format_data", "join.key_merge", "writes.merge")


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op: str | None = None
        self._upstream = 0.0  # drain seconds of the frames feeding the next stage
        self.rowfn_calls = spark.sparkContext.accumulator(0)

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self._op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, op_id: str, name: str):
        """Root span of one migration op; its Spark jobs share the
        job group ``op_id``."""
        self._op, self._upstream = op_id, 0.0
        self.spark.sparkContext.setJobGroup(op_id, name)
        try:
            with self.span("op", kind=name) as rec:
                yield rec
        finally:
            self._op = None

    def parent_name(self) -> str | None:
        return self._stack[-1]["name"] if self._stack else None

    def drain(self, df: DataFrame, layer: str) -> None:
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{self._op}#drain", f"drain {layer}")
        try:
            with self.span("drain", layer=layer) as rec:
                df.write.format("noop").mode("overwrite").save()
        finally:
            sc.setJobGroup(self._op, "op")
        took = rec["end"] - rec["start"]
        if layer in _STAGES:
            rec["charged"] = max(0.0, took - self._upstream)
            self._upstream = took
        else:
            rec["charged"] = took
            self._upstream += took

    def job_counts(self, op_id: str) -> dict[str, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(op_id)
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = failed = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
                failed += info.numFailedTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks, "failed_tasks": failed}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")

    # -- per-op attribution ---------------------------------------------
    def op_layers(self, op_span: dict) -> dict[str, float]:
        """Layer seconds of one op. A layer's time excludes the drains
        nested inside it; drain time is reported as charged."""
        spans = [s for s in self.spans if s["op"] == op_span["op"] and s is not op_span]
        by_id = {s["id"]: s for s in spans}

        def drained_inside(s):
            total = 0.0
            for d in spans:
                if d["name"] != "drain":
                    continue
                p = d["parent"]
                while p is not None and p != s["id"]:
                    p = by_id[p]["parent"] if p in by_id else None
                if p == s["id"]:
                    total += d["end"] - d["start"]
            return total

        out: dict[str, float] = {}
        for s in spans:
            if s["name"] == "drain":
                key = {
                    "sources.read": "sources.scan_s",
                    "migrate.format_data": "migrate.format_data.drain_s",
                    "join.key_merge": "join.drain_s",
                    "writes.merge": "writes.merge_drain_s",
                }[s["layer"]]
                out[key] = out.get(key, 0.0) + s["charged"]
            else:
                self_s = s["end"] - s["start"] - drained_inside(s)
                out[s["name"]] = out.get(s["name"], 0.0) + self_s
            if "broadcast" in s:
                out["join.broadcast"] = float(s["broadcast"])
        return out


@contextlib.contextmanager
def installed(tracer: Tracer):
    """Wrap the program's public entry points for the duration of the
    block; the originals are restored on exit."""
    from d2d_spark import migrate
    from d2d_spark.operators import writes
    from d2d_spark.sources import files

    patches = []

    def patch(owner, attr, name, drain=None, layer=None, top_only=False, plan=None):
        """Span ``owner.attr`` as ``name``; ``drain`` picks the output
        frame to drain for ``layer`` (default ``name``), only when called
        straight from the op if ``top_only``; ``plan`` adds attributes
        read from the output."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            top = tracer.parent_name() == "op"
            with tracer.span(name) as rec:
                out = orig(*a, **kw)
            if plan is not None:
                rec.update(plan(out))
            if drain is not None and (top or not top_only):
                tracer.drain(drain(out), layer or name)
            return out

        patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    frame = lambda out: out  # noqa: E731
    patch(files.FileConnector, "read", "sources.read", drain=frame, top_only=True)
    patch(files.FileConnector, "write", "sinks.write")
    patch(migrate, "apply_format_data", "migrate.format_data", drain=frame)
    patch(migrate, "format_data_with_quarantine", "migrate.format_data", drain=lambda out: out[0])
    patch(migrate, "dedup_build_side", "join.key_merge")
    patch(migrate, "key_merge", "join.key_merge", drain=frame, plan=_broadcast)
    patch(migrate.IncrementalMigration, "high_watermark", "writes.high_watermark")
    patch(writes, "write_mode", "writes.write_mode")
    patch(writes, "upsert_rows", "writes.upsert_rows", drain=frame, layer="writes.merge")
    patch(writes, "filter_new_rows", "writes.filter_new_rows", drain=frame, layer="writes.merge")
    try:
        yield tracer
    finally:
        for owner, attr, orig in reversed(patches):
            setattr(owner, attr, orig)


def _broadcast(df: DataFrame) -> dict:
    """Whether the static physical plan broadcasts the build side."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {"broadcast": int("BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan)}
