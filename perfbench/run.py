"""Migration benchmark for d2d_spark.

One client runs a closed loop of migrations through the public API
(``d2d_spark.migrate``, ``d2d_spark.sources``,
``d2d_spark.operators.writes``, ``d2d_spark.operators.join``) on inputs
generated from ``--seed``; every op's output is checked against DuckDB.

    python3 perfbench/run.py --workload bulk_copy --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke     # every workload, tiny, plus negative controls

Prints a table of every metric (name, value, unit, samples), then, as
the last line, ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones. Scratch files live under ``.perfbench/`` at the
repository root and are cleared at the start and end of each run.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STATE = ROOT / ".perfbench"
WORK = STATE / "work"
TRACES = STATE / "traces"

# A fixed 1 GB heap (-Xms = -Xmx) fits a 15 GB machine shared with other
# JVMs, and keeps heap growth from differing between runs.
DRIVER_MEM = "1g"
SETUP_REPS = 3
WARM_SCALE = 0.1  # inputs of the cold set-up cycle, relative to the measured ones
SMOKE_SCALE = 0.02
MIN_OPS = 11  # so the tail percentile has ten samples beyond it

END_TO_END = {
    "rows_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "write_amp": "ratio",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.read_s": "s",
    "sources.scan_s": "s",
    "sources.rows_read": "rows",
    "sources.bytes_read": "bytes",
    "sinks.write_s": "s",
    "sinks.rows_written": "rows",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "migrate.format_data.plan_s": "s",
    "migrate.format_data.drain_s": "s",
    "migrate.rowfn_calls": "count",
    "migrate.rows_dropped": "rows",
    "migrate.rows_quarantined": "rows",
    "migrate.yield": "ratio",
    "writes.write_mode_s": "s",
    "writes.merge_drain_s": "s",
    "writes.high_watermark_s": "s",
    "writes.target_rows": "rows",
    "writes.rewrite_ratio": "ratio",
    "join.key_merge_s": "s",
    "join.drain_s": "s",
    "join.rows_out": "rows",
    "join.broadcast": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "trace.untraced_op_p50_s": "s",
    "trace.traced_op_p50_s": "s",
    "trace.overhead_s": "s",
}


# -- environment --------------------------------------------------------
def configure_env() -> dict[str, str]:
    """Pin the session to this machine through the environment variables
    ``d2d_spark.session`` already reads, and keep every scratch file of
    Spark, its Python workers and DuckDB under ``WORK``."""
    for d in ("spark-local", "tmp", "warehouse", "tables", "duckdb"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_WAREHOUSE=str(WORK / "warehouse"),
        SPARK_LOCAL_DIRS=str(WORK / "spark-local"),
        TMPDIR=str(WORK / "tmp"),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",  # the spark-submit launcher JVM
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
        ),
    }


class Session:
    """The Spark session plus the JVM process behind it, so shutdown
    can wait for the JVM and its Python workers to end."""

    def __init__(self):
        from pyspark import SparkContext

        from d2d_spark.session import get_spark

        conf = configure_env()
        t = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.start_s = time.perf_counter() - t
        self.jvm = SparkContext._gateway.proc

    def tree(self) -> list[int]:
        return [self.jvm.pid, *_descendants(self.jvm.pid)]

    def workers(self) -> list[int]:
        """The JVM and its Python daemon and workers. The JVM's other
        children are short-lived shell commands; between fork and exec
        such a child reports the JVM's whole RSS as its own."""
        return [self.jvm.pid] + [p for p in _descendants(self.jvm.pid) if _is_python_worker(p)]

    def close(self) -> None:
        from pyspark import SparkContext

        pids = self.tree()
        try:
            self.spark.stop()
        finally:
            SparkContext._gateway.shutdown()
            self.jvm.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                self.jvm.wait(timeout=30)
            except Exception:
                self.jvm.kill()
                self.jvm.wait()
            _reap(pids)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap(pids: list[int], timeout: float = 20.0) -> None:
    """Wait until every process of the session's tree has ended."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            with contextlib.suppress(OSError):
                os.kill(p, 9)
    while any(_alive(p) for p in pids):
        time.sleep(0.1)


class RssSampler:
    """Peak summed RSS of the JVM and its Python workers."""

    def __init__(self, session: Session, interval: float = 0.05):
        self.session, self.interval = session, interval
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _loop(self):
        while not self._stop.is_set():
            total = 0
            for pid in self.session.workers():
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self._page
                except (OSError, IndexError, ValueError):
                    continue
            self.peak = max(self.peak, total)
            self.samples += 1
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# -- measurement --------------------------------------------------------
def _files(paths: list[str]) -> dict[str, int]:
    """Data files (Spark part files and staged inputs) under ``paths``."""
    out = {}
    for p in paths:
        for dirpath, _, names in os.walk(p):
            for n in names:
                if n.startswith("part-"):
                    f = os.path.join(dirpath, n)
                    out[f] = os.path.getsize(f)
    return out


class Run:
    """Executes ops and keeps one record per op."""

    def __init__(self, workload):
        self.workload = workload
        self.records: list[dict] = []
        self.n_ops = 0

    def op(self, op, tracer=None, phase: str = "measure") -> dict:
        self.n_ops += 1
        op_id = f"op{self.n_ops}"
        before = _files(op.outputs)
        calls0 = tracer.rowfn_calls.value if tracer else 0
        err = None
        scope = tracer.op(op_id, op.kind) if tracer else contextlib.nullcontext()
        t = time.perf_counter()
        try:
            with scope as root:
                op.run()
        except Exception:
            err = traceback.format_exc()
        took = time.perf_counter() - t
        try:
            res = op.check() if err is None else {"ok": False}
        except Exception:
            res = {"ok": False}
            err = traceback.format_exc()
        after = _files(op.outputs)
        written = {f: s for f, s in after.items() if before.get(f) != s}
        rec = {
            "op": op_id, "kind": op.kind, "phase": phase, "seconds": took,
            "ok": bool(res["ok"]), "rows_in": op.rows_in,
            "bytes_in": sum(_files(op.inputs).values()),
            "rows_written": res.get("rows_written", 0),
            "bytes_written": sum(written.values()), "files_written": len(written),
            "quarantined": res.get("quarantined", 0), "dropped": res.get("dropped", 0),
            "target_rows": op.target_rows,
        }
        if not rec["ok"]:
            print(f"# FAILED {self.workload.name} {op.kind} ({phase}): "
                  f"{ {k: v for k, v in res.items() if k != 'ok'} }", file=sys.stderr)
            if err:
                print(err, file=sys.stderr)
        if tracer is not None:
            rec["layers"] = tracer.op_layers(root)
            rec["spark"] = tracer.job_counts(op_id)
            rec["rowfn_calls"] = tracer.rowfn_calls.value - calls0
        self.records.append(rec)
        return rec

    def cycles(self, seconds: float, min_ops: int = 1, tracer=None, phase: str = "measure",
               cap: float = 120.0):
        """Run whole cycles until ``seconds`` have passed and at least
        ``min_ops`` ops ran (or ``cap`` seconds, whichever is first)."""
        start, c, done = time.perf_counter(), 0, []
        while True:
            for op in self.workload.cycle(c):
                done.append(self.op(op, tracer, phase))
            c += 1
            elapsed = time.perf_counter() - start
            if (elapsed >= seconds and len(done) >= min_ops) or elapsed >= cap:
                return done


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile). Fewer than eleven samples give the minimum."""
    s = sorted(values)
    k = max(0, len(s) - 11)
    return s[k], 100.0 * (k + 1) / len(s)


def end_to_end(ops: list[dict], setup_s: float, peak_rss: int) -> dict:
    secs = [r["seconds"] for r in ops]
    return {
        "rows_per_s": sum(r["rows_in"] for r in ops) / sum(secs),
        "op_p50_s": statistics.median(secs),
        "op_tail_s": tail(secs)[0],
        "write_amp": sum(r["bytes_written"] for r in ops) / sum(r["bytes_in"] for r in ops),
        "peak_rss_mb": peak_rss / 2**20,
        "setup_s": setup_s,
    }


def per_layer(traced: list[dict], untraced: list[dict], session_s: float) -> dict:
    n = len(traced)

    def mean(f):
        return sum(f(r) for r in traced) / n

    def ratio(num, den, where):
        sel = [r for r in traced if where(r)]
        d = sum(den(r) for r in sel)
        return sum(num(r) for r in sel) / d if d else 0.0

    def layer(key):
        return lambda r: r["layers"].get(key, 0.0)

    def has(key):
        return lambda r: key in r["layers"]

    untraced_p50 = statistics.median(r["seconds"] for r in untraced)
    traced_p50 = statistics.median(r["seconds"] for r in traced)
    joins = [r for r in traced if "join.key_merge" in r["layers"]]
    out = {
        "session.get_spark_s": session_s,
        "sources.read_s": mean(layer("sources.read")),
        "sources.scan_s": mean(layer("sources.scan_s")),
        "sources.rows_read": mean(lambda r: r["rows_in"]),
        "sources.bytes_read": mean(lambda r: r["bytes_in"]),
        "sinks.write_s": mean(layer("sinks.write")),
        "sinks.rows_written": mean(lambda r: r["rows_written"]),
        "sinks.bytes_written": mean(lambda r: r["bytes_written"]),
        "sinks.files_written": mean(lambda r: r["files_written"]),
        "migrate.format_data.plan_s": mean(layer("migrate.format_data")),
        "migrate.format_data.drain_s": mean(layer("migrate.format_data.drain_s")),
        "migrate.rowfn_calls": mean(lambda r: r["rowfn_calls"]),
        "migrate.rows_dropped": mean(lambda r: r["dropped"]),
        "migrate.rows_quarantined": mean(lambda r: r["quarantined"]),
        "migrate.yield": ratio(
            lambda r: r["rows_written"], lambda r: r["rows_in"], has("migrate.format_data")
        ),
        "writes.write_mode_s": mean(layer("writes.write_mode")),
        "writes.merge_drain_s": mean(layer("writes.merge_drain_s")),
        "writes.high_watermark_s": mean(layer("writes.high_watermark")),
        "writes.target_rows": mean(lambda r: r["target_rows"]),
        "writes.rewrite_ratio": ratio(
            lambda r: r["rows_written"], lambda r: r["rows_in"], has("writes.write_mode")
        ),
        "join.key_merge_s": mean(layer("join.key_merge")),
        "join.drain_s": mean(layer("join.drain_s")),
        "join.rows_out": mean(lambda r: r["rows_written"] if "join.key_merge" in r["layers"] else 0),
        "join.broadcast": (
            sum(r["layers"].get("join.broadcast", 0.0) for r in joins) / len(joins) if joins else 0.0
        ),
        "spark.jobs": mean(lambda r: r["spark"]["jobs"]),
        "spark.stages": mean(lambda r: r["spark"]["stages"]),
        "spark.tasks": mean(lambda r: r["spark"]["tasks"]),
        "spark.failed_tasks": mean(lambda r: r["spark"]["failed_tasks"]),
        "trace.untraced_op_p50_s": untraced_p50,
        "trace.traced_op_p50_s": traced_p50,
        "trace.overhead_s": traced_p50 - untraced_p50,
    }
    return out


def report(metrics: dict, units: dict, samples: dict, notes: dict) -> None:
    print(f"# {'metric':<30} {'value':>16} {'unit':<6} {'samples':>7}  note")
    for k in units:
        print(f"# {k:<30} {metrics[k]:>16.6g} {units[k]:<6} {samples.get(k, 1):>7}  {notes.get(k, '')}")


# -- entry points -------------------------------------------------------
def clear_work() -> None:
    shutil.rmtree(WORK, ignore_errors=True)


def bench(workload: str, seed: int, seconds: int, trace: bool) -> int:
    import numpy as np

    from perfbench.oracle import Oracle
    from perfbench.trace import Tracer, installed
    from perfbench.workloads import WORKLOADS, Ctx

    clear_work()
    session = Session()
    oracle = None
    try:
        oracle = Oracle(str(WORK / "duckdb"))
        wl = WORKLOADS[workload](Ctx(session.spark, oracle, str(WORK / "tables")))
        run = Run(wl)

        # set-up: a cold cycle of every op kind on small inputs (the
        # program's first-use cost), then the measured inputs staged
        # SETUP_REPS times, then one untimed warm cycle at full size
        t = time.perf_counter()
        wl.stage(np.random.default_rng([seed, 1]), WARM_SCALE)
        for op in wl.cycle(0):
            run.op(op, phase="setup")
        cold_s = time.perf_counter() - t
        reps = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.stage(np.random.default_rng([seed, 0]), 1.0)
            reps.append(time.perf_counter() - t)
        setup_s = session.start_s + cold_s + statistics.median(reps)
        for op in wl.cycle(0):
            run.op(op, phase="warm")
        if not trace:
            with RssSampler(session) as rss:
                ops = run.cycles(seconds, MIN_OPS)
            metrics = end_to_end(ops, setup_s, rss.peak)
            units = END_TO_END
            _, pct = tail([r["seconds"] for r in ops])
            samples = {"rows_per_s": len(ops), "op_p50_s": len(ops), "op_tail_s": len(ops),
                       "write_amp": len(ops), "peak_rss_mb": rss.samples, "setup_s": SETUP_REPS}
            notes = {"op_tail_s": f"p{pct:.1f}, {len(ops) - round(pct * len(ops) / 100)} beyond",
                     "setup_s": f"session {session.start_s:.3f}s + cold cycle {cold_s:.3f}s + "
                                f"median staging of {[round(x, 3) for x in reps]}"}
        else:
            # the untraced half is the baseline of the tracing overhead
            untraced = run.cycles(seconds / 2, phase="untraced", cap=60.0)
            tracer = Tracer(session.spark)
            wl.ctx.tracer = tracer
            with installed(tracer):
                ops = run.cycles(seconds / 2, tracer=tracer, phase="traced", cap=60.0)
            TRACES.mkdir(parents=True, exist_ok=True)
            trace_file = TRACES / f"{workload}-seed{seed}.jsonl"
            tracer.write(str(trace_file))
            metrics = per_layer(ops, untraced, session.start_s)
            units = PER_LAYER
            samples = {k: len(ops) for k in PER_LAYER}
            samples.update({"session.get_spark_s": 1, "trace.untraced_op_p50_s": len(untraced)})
            notes = {"trace.overhead_s": f"spans in {trace_file.relative_to(ROOT)}"}
    finally:
        if oracle is not None:
            oracle.close()
        session.close()
        clear_work()

    failed = sum(not r["ok"] for r in run.records)
    attempted = len(run.records)
    kinds = sorted({r["kind"] for r in ops})
    print(f"# workload={workload} seed={seed} seconds={seconds} trace={int(trace)} "
          f"ops={len(ops)} kinds={kinds} attempted={attempted} failed={failed} "
          f"fail_ratio={failed / attempted:.4f}")
    report(metrics, units, samples, notes)
    print(f"# {'fail_ratio':<30} {failed / attempted:>16.6g} {'ratio':<6} {attempted:>7}  "
          f"ops that raised or failed the oracle, set-up included")
    for kind in kinds:
        secs = [r["seconds"] for r in ops if r["kind"] == kind]
        print(f"#   op {kind:<36} n={len(secs):<3} p50={statistics.median(secs):.4f}s")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


# per-layer metrics that must be non-zero when an op group is traced
SMOKE_LAYERS = {
    "bulk_copy": ["sources.read_s", "sources.scan_s", "sources.bytes_read", "sinks.write_s",
                  "sinks.files_written", "migrate.format_data.drain_s", "spark.tasks"],
    "row_transform": ["migrate.format_data.plan_s", "migrate.rowfn_calls",
                      "migrate.rows_dropped", "migrate.rows_quarantined", "migrate.yield"],
    "keyed_sync": ["writes.write_mode_s", "writes.merge_drain_s", "writes.high_watermark_s",
                   "writes.target_rows", "writes.rewrite_ratio"],
    "join_merge": ["join.key_merge_s", "join.drain_s", "join.rows_out", "join.broadcast"],
}


def legacy_probe(spark, oracle, root: str) -> int:
    """Rows a legacy left key-merge writes for one fact whose key appears
    twice on the build side, once padded."""
    import pyarrow as pa

    from d2d_spark.migrate import Migration2DB
    from d2d_spark.sources.files import ParquetConnector
    from perfbench.oracle import read_parquet
    from perfbench.workloads import put

    put(pa.table({"k": [42], "x": ["fact"]}), os.path.join(root, "l.parquet"))
    put(pa.table({"k": ["42", " 42"], "y": ["old", "new"], "v": [1, 2]}),
        os.path.join(root, "r.parquet"))
    conn = ParquetConnector(root, spark)
    Migration2DB(conn, conn, conn, "l", "r", "m", "k", "k", how="left", mode="overwrite",
                 legacy_semantics=True, order_col="v").run()
    return oracle.query(f"SELECT count(*) FROM ({read_parquet(conn.path('m'))})")[0][0]


def smoke() -> int:
    """Every op group at tiny size, one untraced and one traced cycle;
    two negative controls the oracle must catch; two probes of program
    behaviour the timed workloads do not cover."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from perfbench.oracle import Oracle
    from perfbench.trace import Tracer, installed
    from perfbench.workloads import GROUPS, Ctx

    clear_work()
    session = Session()
    oracle = None
    problems = []
    try:
        oracle = Oracle(str(WORK / "duckdb"))
        for name, cls in GROUPS.items():
            wl = cls(Ctx(session.spark, oracle, str(WORK / "tables" / name)))
            run = Run(wl)
            wl.stage(np.random.default_rng([0, 0]), SMOKE_SCALE)
            untraced = [run.op(op) for op in wl.cycle(0)]
            tracer = Tracer(session.spark)
            wl.ctx.tracer = tracer
            with installed(tracer):
                traced = [run.op(op, tracer) for op in wl.cycle(1)]
            wl.ctx.tracer = None
            layers = per_layer(traced, untraced, session.start_s)
            bad = [r["kind"] for r in run.records if not r["ok"]]
            silent = [k for k in SMOKE_LAYERS[name] if not layers[k] > 0]
            if bad:
                problems.append(f"{name}: failed ops {bad}")
            if silent:
                problems.append(f"{name}: traced layers reported nothing: {silent}")
            print(f"# smoke {name}: {len(run.records)} ops, failed {bad}, silent layers {silent}")

            if name == "bulk_copy":
                # negative control 1: change one value in the last hop's output
                op = list(wl.cycle(2))[-1]
                op.run()
                part = sorted(Path(op.outputs[0]).glob("part-*.parquet"))[0]
                t = pq.read_table(part)
                price = t.column("price").to_pylist()
                price[0] = (price[0] or 0.0) + 1.0
                i = t.schema.get_field_index("price")
                pq.write_table(t.set_column(i, "price", pa.array(price)), part)
                caught = not op.check()["ok"]
                print(f"# smoke negative control (corrupted value): caught={caught}")
                if not caught:
                    problems.append("corrupted bulk_copy output passed the oracle")
            if name == "row_transform":
                # program probe: re-run a quarantine migration after
                # another writer replaced its source in place
                fresh = []
                for r in (1, 2):
                    wl.stage(np.random.default_rng([0, r]), SMOKE_SCALE)
                    fresh.append(run.op(wl.op("orders", "quarantine"), phase="probe")["ok"])
                print(f"# smoke probe (quarantine re-run after the source changed): ok={fresh}")
                if not all(fresh):
                    problems.append("quarantine re-run after an outside change to its source "
                                    "wrote stale rows (the persisted frame is never released)")
            if name == "keyed_sync":
                # negative control 2: staging debris left next to the target
                ops = wl.cycle(3)
                op = next(ops)
                op.run()
                os.makedirs(op.outputs[0] + ".__stage_deadbeef")
                caught = not op.check()["ok"]
                print(f"# smoke negative control (stage debris): caught={caught}")
                if not caught:
                    problems.append("keyed_sync stage debris passed the oracle")
            if name == "join_merge":
                # program probe: legacy_semantics keeps the last build row
                # per normalized key, as the reference's dict does
                kept = legacy_probe(session.spark, oracle, str(WORK / "tables" / "probe"))
                print(f"# smoke probe (legacy build keys '42' and ' 42'): rows out={kept}")
                if kept != 1:
                    problems.append("legacy_semantics kept build rows whose keys differ only "
                                    "by padding (dedup runs on the raw key, the join on the "
                                    "normalized key)")
    finally:
        if oracle is not None:
            oracle.close()
        session.close()
        clear_work()
    for p in problems:
        print(f"# SMOKE FAILURE: {p}", file=sys.stderr)
    print("# smoke " + ("failed" if problems else "passed"))
    return 1 if problems else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["copy_transform", "keyed_merge"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny run of every workload")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required")

    sys.path.insert(0, str(ROOT))
    import d2d_spark  # noqa: F401  (fails fast outside a repository checkout)

    if args.smoke:
        return smoke()
    return bench(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
