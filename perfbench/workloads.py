"""The migration workloads.

Four op groups (``bulk_copy``, ``row_transform``, ``keyed_sync``,
``join_merge``) are combined into two workloads, ``copy_transform`` and
``keyed_merge``, each of which exercises some layers and bypasses
others.

Each workload stages seeded inputs, then yields ops one cycle at a
time. An op is one public-API migration (timed) plus its oracle check
(untimed). Code between ``yield``s in ``cycle`` prepares the next op
and is not timed either. A cycle holds every op kind of the workload
once, and the harness only stops at cycle boundaries, so every run
measures the same op mix.
"""

from __future__ import annotations

import math
import os
import shutil
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from d2d_spark.migrate import IncrementalMigration, Migration, Migration2DB
from d2d_spark.operators import writes
from d2d_spark.sources.files import CsvConnector, JsonlConnector, ParquetConnector

from . import data
from .oracle import Oracle, read_csv, read_jsonl, read_parquet
from .rowfn import Reshape


@dataclass
class Op:
    kind: str
    run: Callable[[], None]
    check: Callable[[], dict]  # {"ok": bool, "rows_written": int, ...}
    rows_in: int
    inputs: list[str]
    outputs: list[str]
    target_rows: int = 0  # rows a keyed write read from its target


@dataclass
class Ctx:
    spark: object
    oracle: Oracle
    root: str  # scratch directory the workload owns
    tracer: object | None = None  # set for the traced phase


def put(table: pa.Table, path: str, parts: int = 4) -> None:
    """Write ``table`` as a Spark-style table directory; several row
    groups let Spark split the scan across cores."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(
        table,
        os.path.join(path, "part-00000.parquet"),
        row_group_size=max(1, math.ceil(table.num_rows / parts)),
    )


def reset(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def debris(path: str) -> list[str]:
    """Staging or swap leftovers of a keyed write next to ``path``."""
    parent, base = os.path.split(path)
    return [n for n in os.listdir(parent) if base in n and ("__stage_" in n or "__bak_" in n)]


class Workload:
    name = ""
    sizes: dict[str, int] = {}

    def __init__(self, ctx: Ctx, root: str | None = None):
        self.ctx = ctx
        root = root or ctx.root
        self.src = os.path.join(root, "src")
        self.out = os.path.join(root, "out")

    def scaled(self, scale: float) -> dict[str, int]:
        return {k: max(200, int(v * scale)) for k, v in self.sizes.items()}

    def stage(self, rng: np.random.Generator, scale: float) -> None:
        raise NotImplementedError

    def cycle(self, c: int) -> Iterator[Op]:
        raise NotImplementedError

    def _digest_ok(self, shape: str, expected: tuple[int, int], relation: str) -> dict:
        got = self.ctx.oracle.digest(shape, relation)
        return {"ok": got == expected, "rows_written": got[0], "expected": expected, "got": got}


class BulkCopy(Workload):
    """parquet -> jsonl -> csv -> parquet, overwrite, dict-of-Columns
    ``format_data``: connector scan/decode/encode/commit and CSV/JSON
    schema inference do the work."""

    name = "bulk_copy"
    sizes = {"rows": 100_000}

    TEXT_COLS = {"id": "BIGINT", "qty": "BIGINT", "price": "DOUBLE", "name": "VARCHAR",
                 "ts": "VARCHAR", "attrs": "VARCHAR"}

    def stage(self, rng, scale):
        n = self.scaled(scale)["rows"]
        spark = self.ctx.spark
        put(data.bulk_table(rng, n), os.path.join(self.src, "bulk.parquet"))
        self.ctx.oracle.register("bulk_src", pq.read_table(os.path.join(self.src, "bulk.parquet")))
        self.expected = self.ctx.oracle.digest(
            "bulk", "SELECT id, qty, price, name, ts, to_json(attrs) AS attrs FROM bulk_src"
        )
        self.n = n
        self.pq_src = ParquetConnector(self.src, spark)
        self.js = JsonlConnector(self.out, spark)
        self.csv = CsvConnector(self.out, spark)
        self.pq_out = ParquetConnector(self.out, spark)

    def cycle(self, c):
        # each hop re-types what the text formats lost: JSON infers the
        # timestamp as a string, CSV infers ints as int and may infer
        # the timestamp; the first hop serializes the dict column
        hops = [
            ("parquet>jsonl", self.pq_src, "bulk", self.js, "hop_jsonl",
             {"attrs": F.to_json(F.col("attrs"))},
             lambda p: read_jsonl(p, self.TEXT_COLS)),
            ("jsonl>csv", self.js, "hop_jsonl", self.csv, "hop_csv",
             {"ts": F.col("ts").cast("timestamp")},
             read_csv),
            ("csv>parquet", self.csv, "hop_csv", self.pq_out, "hop_parquet",
             {"id": F.col("id").cast("long"), "qty": F.col("qty").cast("long"),
              "price": F.col("price").cast("double"), "ts": F.col("ts").cast("timestamp")},
             read_parquet),
        ]
        for kind, src, t_from, dst, t_to, fmt, reader in hops:
            out_path = dst.path(t_to)
            yield Op(
                kind,
                run=lambda src=src, dst=dst, t_from=t_from, t_to=t_to, fmt=fmt: Migration(
                    src, dst, table_from=t_from, table_to=t_to, mode="overwrite", format_data=fmt
                ).run(),
                check=lambda reader=reader, p=out_path: self._digest_ok(
                    "bulk", self.expected, reader(p)
                ),
                rows_in=self.n,
                inputs=[src.path(t_from)],
                outputs=[out_path],
            )


class RowTransform(Workload):
    """parquet -> parquet through a per-row Python callable, alternating
    ``on_error='skip'`` and ``'quarantine'``: the mapInPandas row loop
    and the driver-side schema sample do the work."""

    name = "row_transform"
    sizes = {"rows": 30_000}

    VALID = "regexp_full_match(qty_raw, '[0-9]+')"

    def __init__(self, ctx, root=None):
        super().__init__(ctx, root)
        self.snapshots = 0  # landing directories are never reused in a process

    def stage(self, rng, scale):
        n = self.scaled(scale)["rows"]
        spark, oracle = self.ctx.spark, self.ctx.oracle
        self.staged = os.path.join(self.src, "orders.parquet")
        put(data.order_lines(rng, n), self.staged)
        oracle.register("orders_src", pq.read_table(self.staged))
        self.good = oracle.digest(
            "orders",
            f"SELECT id AS order_id, upper(trim(cust)) AS customer, status, "
            f"TRY_CAST(qty_raw AS BIGINT) AS qty, price, "
            f"price * TRY_CAST(qty_raw AS BIGINT) AS total, "
            f"TRY_CAST(qty_raw AS BIGINT) >= 50 AS big "
            f"FROM orders_src WHERE status <> 'void' AND {self.VALID}",
        )
        self.bad = oracle.digest(
            "quarantine",
            f"SELECT id, 'ValueError' AS err FROM orders_src "
            f"WHERE status <> 'void' AND NOT {self.VALID}",
        )
        self.n = n
        self.pq_src = ParquetConnector(self.src, spark)
        self.pq_out = ParquetConnector(self.out, spark)

    def cycle(self, c):
        # every op migrates its own landing directory (a copy of the
        # staged rows), as a job moving one batch per run does. Re-reading
        # one path whose files another writer replaced would return rows
        # cached by an earlier quarantine run (the smoke probe shows it),
        # and timing cache hits would not measure the transform.
        for on_error in ("skip", "quarantine"):
            self.snapshots += 1
            table = f"orders_{self.snapshots}"
            shutil.copytree(self.staged, self.pq_src.path(table))
            yield self.op(table, on_error)
            reset(self.pq_src.path(table))

    def op(self, table: str, on_error: str) -> Op:
        """One migration of source ``table`` under ``on_error``."""
        out = self.pq_out.path("orders_out")
        quarantine = self.pq_out.path("orders_out_quarantine")
        reset(quarantine)
        tracer = self.ctx.tracer
        fn = Reshape(tracer.rowfn_calls if tracer is not None else None)
        return Op(
            on_error,
            run=lambda: Migration(
                self.pq_src, self.pq_out, table_from=table, table_to="orders_out",
                mode="overwrite", format_data=fn, on_error=on_error,
            ).run(),
            check=lambda: self._check(out, quarantine, on_error),
            rows_in=self.n,
            inputs=[self.pq_src.path(table)],
            outputs=[out, quarantine],
        )

    def _check(self, out: str, quarantine: str, on_error: str) -> dict:
        res = self._digest_ok("orders", self.good, read_parquet(out))
        if on_error == "quarantine":
            got = self.ctx.oracle.digest(
                "quarantine",
                "SELECT json_extract_string(row_json, '$.id') AS id, "
                f"split_part(error, ':', 1) AS err FROM ({read_parquet(quarantine)})",
            )
            res["ok"] = res["ok"] and got == self.bad
            res["quarantined"] = got[0]
        else:
            res["ok"] = res["ok"] and not os.path.exists(quarantine)
            res["quarantined"] = 0
        res["dropped"] = self.n - res["rows_written"] - res["quarantined"]
        return res


class KeyedSync(Workload):
    """Change batches into a keyed parquet target: ``upsert`` (Zipf
    keys, in-batch duplicates, ordered by ``seq``), ``ignore`` and a
    watermark ``IncrementalMigration`` append. Each keyed op reads and
    rewrites the whole target, so cost follows the target size."""

    name = "keyed_sync"
    sizes = {"target": 100_000, "batch": 5_000}

    def stage(self, rng, scale):
        s = self.scaled(scale)
        self.rng, self.t_rows, self.b_rows = rng, s["target"], s["batch"]
        oracle = self.ctx.oracle
        self.initial = data.keyed_rows(rng, np.arange(self.t_rows), np.arange(self.t_rows))
        self.pristine = os.path.join(self.src, "target_initial.parquet")
        put(self.initial, self.pristine)
        oracle.register("keyed_initial", self.initial)
        self.tables = ParquetConnector(self.out, self.ctx.spark)
        self.target = self.tables.path("target")

    def _batch(self, name: str, table: pa.Table) -> str:
        path = self.tables.path(name)
        put(table, path, parts=2)
        self.ctx.oracle.register(name, table)
        return path

    def _check(self, rows_before: int, rewrite: bool) -> dict:
        res = self._digest_ok(
            "keyed", self.ctx.oracle.digest("keyed", "SELECT * FROM keyed_exp"),
            read_parquet(self.target),
        )
        left = debris(self.target)
        res["ok"] = res["ok"] and not left
        if left:
            res["debris"] = left
        if not rewrite:
            res["rows_written"] -= rows_before
        return res

    def cycle(self, c):
        oracle, rng, b = self.ctx.oracle, self.rng, self.b_rows
        reset(self.target)
        shutil.copytree(self.pristine, self.target)
        oracle.materialize("keyed_exp", "SELECT * FROM keyed_initial")
        next_id = next_seq = self.t_rows

        # upsert: incoming wins, the highest seq wins among in-batch duplicates
        path = self._batch("upsert_batch", data.upsert_batch(rng, b, next_id, next_seq))
        rows_before = oracle.digest("keyed", "SELECT * FROM keyed_exp")[0]
        oracle.materialize(
            "keyed_exp",
            "WITH inc AS (SELECT * FROM upsert_batch "
            "QUALIFY row_number() OVER (PARTITION BY id ORDER BY seq DESC) = 1) "
            "SELECT * FROM keyed_exp WHERE id NOT IN (SELECT id FROM inc) "
            "UNION ALL SELECT * FROM inc",
        )
        yield Op(
            "upsert",
            run=lambda: writes.write_mode(
                self.tables.read("upsert_batch"), self.target, mode="upsert", pks=["id"],
                fmt="parquet", spark=self.ctx.spark, order_col="seq",
            ),
            check=lambda rb=rows_before: self._check(rb, rewrite=True),
            rows_in=b, inputs=[path], outputs=[self.target],
            target_rows=rows_before,
        )
        next_id, next_seq = next_id + (b - b // 2), next_seq + b

        # ignore: keys already in the target are skipped
        path = self._batch("ignore_batch", data.ignore_batch(rng, b, next_id, next_seq))
        rows_before = oracle.digest("keyed", "SELECT * FROM keyed_exp")[0]
        oracle.materialize(
            "keyed_exp",
            "SELECT * FROM keyed_exp UNION ALL SELECT * FROM ignore_batch "
            "WHERE id NOT IN (SELECT id FROM keyed_exp)",
        )
        yield Op(
            "ignore",
            run=lambda: Migration(
                self.tables, self.tables, table_from="ignore_batch", table_to="target",
                pks="id", mode="ignore",
            ).run(),
            check=lambda rb=rows_before: self._check(rb, rewrite=True),
            rows_in=b, inputs=[path], outputs=[self.target],
            target_rows=rows_before,
        )
        next_id, next_seq = next_id + (b - b // 2), next_seq + b

        # watermark append: half the log is already below the target's
        # high watermark and must not move
        old = self.initial.take(rng.choice(self.t_rows, b // 2, replace=False))
        new = data.keyed_rows(
            rng, np.arange(next_id, next_id + b - b // 2), np.arange(next_seq, next_seq + b - b // 2)
        )
        path = self._batch("change_log", pa.concat_tables([old, new]))
        rows_before = oracle.digest("keyed", "SELECT * FROM keyed_exp")[0]
        oracle.materialize(
            "keyed_exp",
            "SELECT * FROM keyed_exp UNION ALL SELECT * FROM change_log "
            "WHERE seq > (SELECT max(seq) FROM keyed_exp)",
        )
        yield Op(
            "incremental",
            run=lambda: IncrementalMigration(
                self.tables, self.tables, table_from="change_log", table_to="target",
                watermark_col="seq",
            ).run(),
            check=lambda rb=rows_before: self._check(rb, rewrite=False),
            rows_in=b, inputs=[path], outputs=[self.target],
        )


class JoinMerge(Workload):
    """``Migration2DB`` key-merge of a fact table (bigint keys, Zipf
    skew) with a dimension (string keys), alternating left/full and
    ``legacy_semantics``."""

    name = "join_merge"
    sizes = {"fact": 100_000, "dim": 10_000}

    # both join types and both legacy settings, in two ops per cycle
    COMBOS = (("left", False), ("full", True))

    def stage(self, rng, scale):
        s = self.scaled(scale)
        spark, oracle = self.ctx.spark, self.ctx.oracle
        fact, dim = data.join_tables(rng, s["fact"], s["dim"])
        put(fact, os.path.join(self.src, "fact.parquet"))
        put(dim, os.path.join(self.src, "dim.parquet"), parts=2)
        oracle.register("fact_src", fact)
        oracle.register("dim_src", dim)
        self.rows_in = fact.num_rows + dim.num_rows
        self.expected = {}
        for how, legacy in self.COMBOS:
            dedup = (
                "QUALIFY row_number() OVER (PARTITION BY cust_key ORDER BY seq DESC) = 1"
                if legacy else ""
            )
            join = "LEFT" if how == "left" else "FULL OUTER"
            self.expected[how, legacy] = oracle.digest(
                "joined",
                f"WITH r AS (SELECT *, true AS m, "
                f"CAST(TRY_CAST(trim(cust_key) AS BIGINT) AS VARCHAR) AS k FROM dim_src {dedup}) "
                f"SELECT f.order_id, f.cust_id, f.amount, "
                f"CASE WHEN r.m THEN r.region ELSE f.region END AS region, "
                f"r.cust_key, r.name, r.tier, r.seq "
                f"FROM fact_src f {join} JOIN r ON CAST(f.cust_id AS VARCHAR) = r.k",
            )
        self.pq_src = ParquetConnector(self.src, spark)
        self.pq_out = ParquetConnector(self.out, spark)

    def cycle(self, c):
        out = self.pq_out.path("joined")
        for how, legacy in self.COMBOS:
            yield Op(
                f"{how}{'+legacy' if legacy else ''}",
                run=lambda how=how, legacy=legacy: Migration2DB(
                    self.pq_src, self.pq_src, self.pq_out, "fact", "dim", "joined",
                    "cust_id", "cust_key", how=how, mode="overwrite",
                    legacy_semantics=legacy, order_col="seq" if legacy else None,
                ).run(),
                check=lambda key=(how, legacy): self._digest_ok(
                    "joined", self.expected[key], read_parquet(out)
                ),
                rows_in=self.rows_in,
                inputs=[self.pq_src.path("fact"), self.pq_src.path("dim")],
                outputs=[out],
            )


class Mix(Workload):
    """Interleaves the cycles of several op groups; an op's kind is
    ``<group>:<kind>``."""

    parts: tuple[type[Workload], ...] = ()

    def __init__(self, ctx):
        self.ctx = ctx
        self.subs = [p(ctx, os.path.join(ctx.root, p.name)) for p in self.parts]

    def stage(self, rng, scale):
        for sub in self.subs:
            sub.stage(rng, scale)

    def cycle(self, c):
        for sub in self.subs:
            for op in sub.cycle(c):
                op.kind = f"{sub.name}:{op.kind}"
                yield op


class CopyTransform(Mix):
    """Source -> transform -> sink migrations: the connectors, the
    expression path and the per-row Python bridge do the work; the
    keyed writes and the key-merge join are bypassed."""

    name = "copy_transform"
    parts = (BulkCopy, RowTransform)


class KeyedMerge(Mix):
    """Migrations that read beside their writes: keyed upsert/ignore,
    watermark appends and key-merge joins; the Python bridge is
    bypassed."""

    name = "keyed_merge"
    parts = (KeyedSync, JoinMerge)


WORKLOADS = {w.name: w for w in (CopyTransform, KeyedMerge)}
GROUPS = {w.name: w for w in (BulkCopy, RowTransform, KeyedSync, JoinMerge)}
