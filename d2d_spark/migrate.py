"""Migration façades — the reference's two-lines-of-code API
(d22d/task.py Migration :31-180, Migration2DB :183-328) over the
Spark engine.

What changes under the hood (SURVEY §3.1 "Spark shape"): the
windows/batch/retry loop, progress math, and first-row DDL disappear —
partitioned execution, task retries, and plan schemas replace them.
What stays: the user-facing semantics — per-row ``format_data``
rename/add/drop/skip, ``quchong`` whole-row dedup, ``size`` row cap,
per-table PKs, insert modes, migrate-all-tables-when-unset.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from datetime import timezone
from typing import TYPE_CHECKING

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from d2d_spark.operators.join import dedup_build_side, key_merge

if TYPE_CHECKING:
    # type-only: the format_data kernel's Python workers import this
    # module, and the sources package loads every connector (and pandas)
    from d2d_spark.sources.base import Sink, Source

RowFn = Callable[[dict], dict | None]

_ON_ERROR = ("raise", "skip", "quarantine")


def _plain(value, t: pa.DataType):
    """``value`` of Arrow type ``t`` with maps as dicts and zoned
    timestamps as naive UTC datetimes, at any depth."""
    if value is None:
        return None
    if pa.types.is_map(t):
        return {k: _plain(v, t.item_type) for k, v in value}
    if pa.types.is_struct(t):
        return {f.name: _plain(value[f.name], f.type) for f in t}
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return [_plain(v, t.value_type) for v in value]
    if pa.types.is_timestamp(t) and t.tz:
        return value.astimezone(timezone.utc).replace(tzinfo=None)
    return value


def _needs_plain(t: pa.DataType) -> bool:
    """Whether ``to_pylist`` values of type ``t`` need ``_plain``."""
    if pa.types.is_map(t) or (pa.types.is_timestamp(t) and t.tz):
        return True
    if pa.types.is_struct(t):
        return any(_needs_plain(f.type) for f in t)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return _needs_plain(t.value_type)
    return False


def _values(col: pa.Array | pa.ChunkedArray) -> list:
    """One column as the Python values ``_row_dicts`` promises."""
    t = col.type
    if pa.types.is_string(t) or pa.types.is_large_string(t) or (
        col.null_count == 0
        and (pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_boolean(t))
    ):
        # the values to_pylist gives, several times faster
        return col.to_numpy(zero_copy_only=False).tolist()
    values = col.to_pylist()
    return [_plain(v, t) for v in values] if _needs_plain(t) else values


def _row_dicts(batch: pa.RecordBatch | pa.Table) -> list[dict]:
    """The rows ``format_data`` sees, the same on the driver sample and
    on the executors: nulls are ``None``, arrays lists, maps and structs
    dicts, timestamps naive UTC datetimes."""
    names = batch.schema.names
    return [dict(zip(names, row)) for row in zip(*(_values(c) for c in batch.columns))]


def _infer_schema(df: DataFrame, fn: RowFn, sample: int, on_error: str) -> T.StructType:
    """Run ``fn`` over a driver-side sample to infer the output schema
    (the plan-level analog of the reference's infer-from-first-row):
    columns are the union of emitted keys in first-seen order, typed by
    Arrow from their values. Sample-row failures respect ``on_error``
    — under skip/quarantine a row that crashes the transform must not
    crash inference either.

    The sample is the first rows of the first partitions, read by one
    task: a bare ``limit`` collected as Arrow shuffles every
    partition's head to one reducer first, an extra stage per call."""
    transformed = []
    for r in _row_dicts(df.coalesce(1).limit(sample).toArrow()):
        try:
            t = fn(r)
        except Exception:
            if on_error == "raise":
                raise
            continue
        if t:
            transformed.append(t)
    if not transformed:
        raise ValueError(
            "format_data dropped or failed every sample row; cannot infer output schema"
        )
    names = list(dict.fromkeys(k for t in transformed for k in t))
    return from_arrow_schema(
        pa.schema([(k, pa.array([t.get(k) for t in transformed]).type) for k in names])
    )


def apply_format_data(
    df: DataFrame,
    fn: RowFn | dict[str, Column] | None,
    sample: int = 100,
    on_error: str = "raise",
) -> DataFrame:
    """The per-row transform bridge (format_data, d22d/task.py:113-125).

    Expression fast path: a {col: Column} dict becomes withColumns —
    pure Catalyst, codegen, no Python in the hot path. Callable path:
    the reference's dict->dict contract runs in one Arrow-batched
    ``mapInArrow`` kernel; the output schema is inferred by running the
    transform over a driver-side sample, then applied distributed.
    Returning a falsy value drops the row (:115-117); a key the sample
    never emitted raises.

    Row dicts (``_row_dicts``) are the same on the driver sample and on
    the executors: nulls are ``None`` (never ``nan``), arrays are
    lists, maps and structs are dicts, timestamps are naive UTC
    datetimes. Emitted naive datetimes are read back as UTC.

    ``on_error`` (``'quarantine'`` needs a callable):

    - ``'raise'`` is reference parity — a failure re-raises carrying
      the offending row (d22d/task.py:172-180);
    - ``'skip'`` drops failing rows (a 100 TB run survives the one
      malformed record);
    - ``'quarantine'`` returns the kernel's wide frame: the data
      columns plus ``__row`` (the input row as JSON) and ``__error``,
      both null on good rows and set on failed ones, whose data columns
      are null. ``format_data_with_quarantine`` splits it.
    """
    if on_error not in _ON_ERROR:
        raise ValueError(f"on_error must be one of {_ON_ERROR}, got {on_error!r}")
    if on_error == "quarantine" and not callable(fn):
        raise ValueError("on_error='quarantine' needs a callable format_data")
    if fn is None:
        return df
    if isinstance(fn, dict):
        out = df
        for name, expr in fn.items():
            out = out.withColumn(name, expr)
        return out

    schema = _infer_schema(df, fn, sample, on_error)
    cols = set(schema.names)
    wide = T.StructType(
        schema.fields
        + [T.StructField("__row", T.StringType()), T.StructField("__error", T.StringType())]
    )
    arrow_wide = to_arrow_schema(wide)

    def kernel(batches):
        for batch in batches:
            out = []
            for rec in _row_dicts(batch):
                try:
                    t = fn(rec)
                except Exception as e:
                    if on_error == "raise":
                        raise RuntimeError(f"format_data failed on row {rec!r}") from e
                    out.append(
                        {
                            "__row": json.dumps(rec, default=str, sort_keys=True),
                            "__error": f"{type(e).__name__}: {e}",
                        }
                    )
                    continue
                if not t:
                    continue
                if not cols.issuperset(t):
                    # a key the sample never saw would be silently
                    # dropped by the fixed output schema — fail loudly
                    raise ValueError(
                        f"format_data emitted keys absent from the sampled schema: "
                        f"{sorted(set(t) - cols)}; emit them in the first {sample} rows "
                        f"or raise the sample size"
                    )
                out.append(t)
            yield pa.RecordBatch.from_pylist(out, schema=arrow_wide)

    out = df.mapInArrow(kernel, wide)
    return out if on_error == "quarantine" else _split(out)[0]


def _split(wide: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(good, bad)`` halves of the kernel's wide frame."""
    good = wide.filter(F.col("__error").isNull()).drop("__row", "__error")
    bad = wide.filter(F.col("__error").isNotNull()).select(
        F.col("__row").alias("row_json"), F.col("__error").alias("error")
    )
    return good, bad


def format_data_with_quarantine(
    df: DataFrame, fn: RowFn, sample: int = 100
) -> tuple[DataFrame, DataFrame]:
    """Per-row transform with an auditable bad-row channel.

    Returns ``(good, bad)``: ``good`` is the transformed frame exactly
    as ``apply_format_data`` would produce it; ``bad`` has one row per
    failing input — ``(row_json, error)`` — ready to write to a
    quarantine table for replay after the transform is fixed. Both are
    filters over one wide kernel stage, so a caller consuming both
    should persist that stage, as ``Migration``'s quarantine mode does.
    """
    return _split(apply_format_data(df, fn, sample, on_error="quarantine"))


def _split_pks(pks: str | list[str] | None) -> list[str]:
    if not pks:
        return []
    return [p.strip() for p in pks.split(",")] if isinstance(pks, str) else list(pks)


def _effective_mode(mode: str, pks: list[str]) -> str:
    """Keyed modes need keys: with no PKs declared, the reference's
    INSERT IGNORE / REPLACE degrade to plain INSERTs (no unique key to
    conflict on) — rows accumulate. Degrading to overwrite instead
    would wipe the target on every keyless default run."""
    if not pks and mode in ("ignore", "replace", "upsert"):
        return "append"
    return mode


class Migration:
    """table(s) from one connector to another.

    >>> Migration(CsvConnector("/in"), JsonlConnector("/out"),
    ...           table_from="user", format_data=lambda d: {**d, "k": 1}).run()
    """

    def __init__(
        self,
        database_from: Source,
        database_to: Sink,
        table_from: str | None = None,
        table_to: str | None = None,
        pks: str | list[str] = "",
        pkd: dict[str, str] | None = None,
        quchong: bool = False,
        size: int | None = None,
        mode: str = "ignore",
        format_data: RowFn | dict[str, Column] | None = None,
        write_kwargs: dict | None = None,
        on_error: str = "raise",
        quarantine_to: str | None = None,
    ):
        if on_error not in _ON_ERROR:
            raise ValueError(f"on_error must be one of {_ON_ERROR}, got {on_error!r}")
        self.source = database_from
        self.sink = database_to
        self.table_from = table_from
        self.table_to = table_to
        self.pks = _split_pks(pks)
        self.pkd = {k: _split_pks(v) for k, v in (pkd or {}).items()}
        self.quchong = quchong
        self.size = size
        self.mode = mode
        self.format_data = format_data
        self.write_kwargs = write_kwargs or {}
        self.on_error = on_error
        self.quarantine_to = quarantine_to

    def run_one(self, table_from: str, table_to: str | None = None, pks: list[str] | None = None) -> DataFrame:
        table_to = table_to or table_from
        pks = pks if pks is not None else self.pks
        # expression (dict) transforms never fail per-row, so the bad-row
        # channels only apply to the callable path
        on_error = self.on_error if callable(self.format_data) else "raise"
        df = apply_format_data(self.source.read(table_from), self.format_data, on_error=on_error)
        if on_error != "quarantine":
            return self._load(df, table_to, pks)
        # one materialization of the wide frame feeds both writes; it is
        # released before returning, so a later run over the same path
        # reads the source afresh; the release blocks until the blocks
        # are gone, so no clean-up overlaps the caller's next job
        df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            good, bad = _split(df)
            out = self._load(good, table_to, pks)
            # bad rows land in `<table>_quarantine` (row_json, error) for replay
            self.sink.write(bad, self.quarantine_to or f"{table_to}_quarantine", mode="append")
            return out
        finally:
            df.unpersist(blocking=True)

    def _load(self, df: DataFrame, table_to: str, pks: list[str]) -> DataFrame:
        """Dedup, cap and write the transformed rows to ``table_to``."""
        if self.quchong:
            # the reference's in-memory set (OOM-unsafe, README.md:154)
            # becomes a shuffled, spill-safe distinct
            df = df.dropDuplicates()
        if self.size is not None:
            df = df.limit(self.size)
        self.sink.write(
            df,
            table_to,
            mode=_effective_mode(self.mode, pks),
            pks=pks or None,
            **self.write_kwargs,
        )
        return df

    def run(self) -> list[str]:
        """Migrate the named table, or every table the source holds
        (d22d/task.py:78-101), with per-table PKs from ``pkd``."""
        if self.table_from is not None:
            self.run_one(self.table_from, self.table_to, None)
            return [self.table_from]
        done = []
        for table in self.source.get_indexes():
            self.run_one(table, None, self.pkd.get(table, self.pks))
            done.append(table)
        return done


class IncrementalMigration(Migration):
    """High-watermark incremental migration — the reference's
    "scheduled incremental migration" (claimed as a TODO,
    README.md:13,559-560) made real: each run moves only source rows
    with ``watermark_col`` strictly greater than the target's current
    maximum, so a cron-style re-run is cheap and idempotent.

    The watermark predicate is a plain Column filter, so it reaches
    the source scan as a pushed filter (parquet min/max skipping, a
    JDBC WHERE clause) — an incremental run reads the new slice, not
    the table. The high watermark itself is one ``max()`` over the
    target: on a partitioned warehouse that is a metadata-cheap agg;
    callers who track the watermark externally can pass ``since=`` and
    skip the target read entirely.

    First run (target missing/empty) is a full load. The sink must
    also be readable (every file/JDBC/memory connector here is) unless
    ``since`` is given. Combine with ``pks``/``mode='ignore'`` for
    belt-and-braces idempotence under watermark ties; the strict
    ``>`` comparison alone re-moves nothing when the source is
    append-only with a monotone watermark.
    """

    def __init__(self, *args, watermark_col: str, since=None, **kw):
        kw.setdefault("mode", "append")
        super().__init__(*args, **kw)
        self.watermark_col = watermark_col
        self.since = since

    def high_watermark(self, table_to: str):
        """Current max watermark in the target, or None when the
        target is missing/empty (-> full load)."""
        if self.since is not None:
            return self.since
        try:
            tgt = self.sink.read(table_to)
        except (AnalysisException, KeyError, FileNotFoundError):
            # target doesn't exist yet -> full load. ONLY the
            # missing-target read degrades to a full load: an
            # unreadable/corrupt target — or a bad watermark column in
            # the aggregation below, which deliberately sits OUTSIDE
            # this try — must raise, because silently re-loading
            # everything into append mode duplicates rows.
            return None
        row = tgt.agg(F.max(self.watermark_col).alias("hwm")).first()
        return row["hwm"] if row else None

    def run_one(self, table_from: str, table_to: str | None = None, pks: list[str] | None = None) -> DataFrame:
        hwm = self.high_watermark(table_to or table_from)
        source, self.source = self.source, _FilteredSource(
            self.source, self.watermark_col, hwm
        )
        try:
            return super().run_one(table_from, table_to, pks)
        finally:
            self.source = source


class _FilteredSource:
    """Source wrapper applying the watermark predicate below the
    transform, so it pushes into the scan."""

    def __init__(self, inner: Source, col: str, hwm):
        self.inner, self.col, self.hwm = inner, col, hwm

    def read(self, index: str, **kw) -> DataFrame:
        df = self.inner.read(index, **kw)
        return df if self.hwm is None else df.filter(F.col(self.col) > F.lit(self.hwm))

    def get_indexes(self) -> list[str]:
        return self.inner.get_indexes()


class Migration2DB:
    """Join two tables by key into a new table (d22d/task.py:183-328).

    ``how='left'`` is code-faithful (unmatched right rows dropped);
    ``how='full'`` is doc-faithful (README.md:283-320 shows right-only
    rows surviving). ``legacy_semantics`` collapses duplicate build
    keys last-wins like the reference's dict overwrite — requiring an
    ``order_col`` to define "last" deterministically.
    """

    def __init__(
        self,
        database_from1: Source,
        database_from2: Source,
        database_to: Sink,
        table_from1: str,
        table_from2: str,
        table_to: str,
        migration_key1: str,
        migration_key2: str,
        how: str = "full",
        pks: str | list[str] = "",
        quchong: bool = False,
        size: int | None = None,
        mode: str = "ignore",
        format_data: Callable[[DataFrame], DataFrame] | None = None,
        legacy_semantics: bool = False,
        order_col: str | None = None,
        broadcast_right: bool | str = "auto",
    ):
        self.src1, self.src2, self.sink = database_from1, database_from2, database_to
        self.t1, self.t2, self.t_out = table_from1, table_from2, table_to
        self.k1, self.k2 = migration_key1, migration_key2
        self.how = how
        self.pks = _split_pks(pks)
        self.quchong = quchong
        self.size = size
        self.mode = mode
        self.format_data = format_data
        self.legacy_semantics = legacy_semantics
        self.order_col = order_col
        self.broadcast_right = broadcast_right

    def run(self) -> DataFrame:
        left = self.src1.read(self.t1)
        right = self.src2.read(self.t2)
        if self.legacy_semantics:
            right = dedup_build_side(right, self.k2, self.order_col)
        df = key_merge(
            left, right, self.k1, self.k2, how=self.how, broadcast_right=self.broadcast_right
        )
        if self.format_data is not None:
            df = self.format_data(df)
        if self.quchong:
            df = df.dropDuplicates()
        if self.size is not None:
            df = df.limit(self.size)
        self.sink.write(
            df, self.t_out, mode=_effective_mode(self.mode, self.pks), pks=self.pks or None
        )
        return df
