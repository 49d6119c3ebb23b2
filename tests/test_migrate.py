"""Migration façade semantics against the reference's documented
behavior: format_data rename/add/skip, quchong, size, insert modes,
migrate-all-tables, and the Migration2DB join example from
README.md:283-320 (userinfo ⋈ user) in both doc-faithful (full) and
code-faithful (left) modes."""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from d2d_spark.migrate import Migration, Migration2DB, apply_format_data
from d2d_spark.sources import CsvConnector, JsonlConnector, MemoryConnector, ParquetConnector


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="d2d_mig_")
    yield Path(d)
    shutil.rmtree(d, ignore_errors=True)


USERS = [
    {"user_id": 1, "name": "a", "score": 10},
    {"user_id": 2, "name": "b", "score": 20},
    {"user_id": 2, "name": "b", "score": 20},  # dup row for quchong
    {"user_id": 3, "name": "c", "score": 30},
]


def test_format_data_expr_path(spark):
    mem = MemoryConnector({"u": USERS}, spark)
    df = apply_format_data(mem.read("u"), {"score2": F.col("score") * 2})
    assert {r.user_id: r.score2 for r in df.collect()} == {1: 20, 2: 40, 3: 60}


def test_format_data_callable_rename_add_skip(spark):
    mem = MemoryConnector({"u": USERS}, spark)

    def fmt(d):
        if d["user_id"] == 3:
            return None  # falsy -> row dropped (d22d/task.py:115-117)
        return {"uid": d["user_id"], "label": d["name"].upper(), "bonus": d["score"] + 1}

    out = apply_format_data(mem.read("u"), fmt)
    assert sorted(out.columns) == ["bonus", "label", "uid"]
    rows = {(r.uid, r.label, r.bonus) for r in out.collect()}
    assert rows == {(1, "A", 11), (2, "B", 21)}


def test_migration_end_to_end(spark, tmpdir):
    src = MemoryConnector({"users": USERS}, spark)
    dst = JsonlConnector(str(tmpdir), spark)
    m = Migration(
        src,
        dst,
        table_from="users",
        table_to="users_out",
        quchong=True,
        size=2,
        mode="overwrite",
        format_data={"flag": F.lit(1)},
    )
    m.run()
    back = dst.read("users_out")
    assert back.count() == 2  # quchong removed the dup, size capped at 2
    assert "flag" in back.columns


def test_migration_all_tables_with_pkd(spark, tmpdir):
    src = MemoryConnector({"t1": USERS[:2], "t2": USERS[3:]}, spark)
    dst = ParquetConnector(str(tmpdir), spark)
    done = Migration(src, dst, pkd={"t1": "user_id"}, mode="overwrite").run()
    assert done == ["t1", "t2"]
    assert sorted(dst.get_indexes()) == ["t1", "t2"]
    assert dst.read("t1").count() == 2


def test_migration_mode_ignore_accumulates(spark, tmpdir):
    dst = ParquetConnector(str(tmpdir), spark)
    src1 = MemoryConnector({"u": USERS[:2]}, spark)
    Migration(src1, dst, table_from="u", pks="user_id", mode="ignore").run()
    src2 = MemoryConnector(
        {"u": [{"user_id": 2, "name": "CHANGED", "score": 99}, {"user_id": 9, "name": "new", "score": 1}]},
        spark,
    )
    Migration(src2, dst, table_from="u", pks="user_id", mode="ignore").run()
    back = dst.read("u")
    assert back.count() == 3
    assert back.filter("name = 'CHANGED'").count() == 0  # ignore keeps existing


# --- Migration2DB: the README.md:283-320 worked example --------------

USERINFO = [
    {"id": 1, "name": "aaa", "age": 11},
    {"id": 2, "name": "bbb", "age": 22},
    {"id": 4, "name": "ccc", "age": 44},
]
USER = [
    {"name": "aaa", "score": 123},
    {"name": "bbb", "score": 321},
    {"name": "c222", "score": 333},
]


def test_migration2db_full_outer_doc_semantics(spark, tmpdir):
    s1 = MemoryConnector({"userinfo": USERINFO}, spark)
    s2 = MemoryConnector({"user": USER}, spark)
    dst = ParquetConnector(str(tmpdir), spark)
    Migration2DB(
        s1, s2, dst,
        table_from1="userinfo", table_from2="user", table_to="merged",
        migration_key1="name", migration_key2="name",
        how="full", mode="overwrite",
    ).run()
    back = dst.read("merged")
    rows = {r.name: (r.id, r.age, r.score) for r in back.collect()}
    # matched rows merged; left-only keeps left values; right-only
    # appears with null left columns (c222 — README's documented row)
    assert rows["aaa"] == (1, 11, 123)
    assert rows["bbb"] == (2, 22, 321)
    assert rows["ccc"] == (4, 44, None)
    assert rows["c222"] == (None, None, 333)


def test_migration2db_left_code_semantics(spark, tmpdir):
    s1 = MemoryConnector({"userinfo": USERINFO}, spark)
    s2 = MemoryConnector({"user": USER}, spark)
    dst = ParquetConnector(str(tmpdir), spark)
    Migration2DB(
        s1, s2, dst,
        table_from1="userinfo", table_from2="user", table_to="merged",
        migration_key1="name", migration_key2="name",
        how="left", mode="overwrite",
    ).run()
    back = dst.read("merged")
    names = {r.name for r in back.collect()}
    assert names == {"aaa", "bbb", "ccc"}  # no right-only rows


def test_migration2db_legacy_dup_collapse(spark, tmpdir):
    s1 = MemoryConnector({"l": [{"k": 1, "x": "l1"}]}, spark)
    s2 = MemoryConnector(
        {"r": [{"k": 1, "y": "old", "ver": 1}, {"k": 1, "y": "new", "ver": 2}]}, spark
    )
    dst = ParquetConnector(str(tmpdir), spark)
    Migration2DB(
        s1, s2, dst,
        table_from1="l", table_from2="r", table_to="m",
        migration_key1="k", migration_key2="k",
        how="left", mode="overwrite",
        legacy_semantics=True, order_col="ver",
    ).run()
    rows = dst.read("m").collect()
    assert len(rows) == 1 and rows[0].y == "new"  # last wins


def test_migration_csv_fixture_like_example(spark, tmpdir):
    """The example.py flow: CSV in -> rename/add columns -> CSV out."""
    (tmpdir / "in").mkdir()
    (tmpdir / "in" / "user.csv").write_text(
        'id,name,note\n1,"alice","hi, there"\n2,"bob","line"\n'
    )
    src = CsvConnector(str(tmpdir / "in"), spark)
    dst = CsvConnector(str(tmpdir / "out"), spark)
    Migration(
        src, dst, table_from="user", mode="overwrite",
        format_data=lambda d: {"user_id": d["id"], "username": d["name"].title(), "extra": 1},
    ).run()
    back = dst.read("user")
    assert {(r.user_id, r.username, r.extra) for r in back.collect()} == {
        (1, "Alice", 1), (2, "Bob", 1),
    }


def test_engine_facade(spark, tmpdir):
    """Engine: register connector tables, run raw SQL over them,
    migrate through the facade."""
    from d2d_spark.api import Engine
    from d2d_spark.sources import JsonlConnector, MemoryConnector

    eng = Engine(spark)
    mem = MemoryConnector({"users": USERS}, spark)
    eng.register(mem, "users")
    out = eng.sql("SELECT name, SUM(score) AS s FROM users GROUP BY name ORDER BY name")
    assert [(r.name, r.s) for r in out.collect()] == [("a", 10), ("b", 40), ("c", 30)]
    done = eng.migrate(mem, JsonlConnector(str(tmpdir), spark), "users", mode="overwrite")
    assert done == ["users"]
    assert JsonlConnector(str(tmpdir), spark).read("users").count() == 4


def test_format_data_on_error_skip(spark):
    mem = MemoryConnector({"u": USERS}, spark)

    def fmt(d):
        if d["user_id"] == 2:
            raise ValueError("boom")
        return {"uid": d["user_id"], "v": d["score"]}

    out = apply_format_data(mem.read("u"), fmt, on_error="skip")
    assert {(r.uid, r.v) for r in out.collect()} == {(1, 10), (3, 30)}
    # default stays reference-faithful: re-raise with the row payload
    with pytest.raises(Exception, match="boom|format_data failed"):
        apply_format_data(mem.read("u"), fmt).collect()
    with pytest.raises(ValueError, match="on_error"):
        apply_format_data(mem.read("u"), fmt, on_error="nope")


def test_format_data_quarantine_channel(spark):
    from d2d_spark.migrate import format_data_with_quarantine

    mem = MemoryConnector({"u": USERS}, spark)

    def fmt(d):
        if d["user_id"] == 2:
            raise ValueError("bad id 2")
        return {"uid": d["user_id"], "v": d["score"]}

    good, bad = format_data_with_quarantine(mem.read("u"), fmt)
    assert {(r.uid, r.v) for r in good.collect()} == {(1, 10), (3, 30)}
    bad_rows = bad.collect()
    assert len(bad_rows) == 2  # the duplicated user_id=2 row fails twice
    assert all(r.error == "ValueError: bad id 2" for r in bad_rows)
    assert all('"user_id": 2' in r.row_json for r in bad_rows)


def test_migration_quarantine_writes_bad_rows(spark, tmpdir):
    src = MemoryConnector({"users": USERS}, spark)
    dst = JsonlConnector(str(tmpdir), spark)

    def fmt(d):
        if d["name"] == "c":
            raise RuntimeError("no c allowed")
        return {"uid": d["user_id"], "label": d["name"]}

    Migration(src, dst, table_from="users", format_data=fmt, mode="overwrite",
              on_error="quarantine").run()
    good = {(r.uid, r.label) for r in dst.read("users").collect()}
    assert good == {(1, "a"), (2, "b")}
    q = dst.read("users_quarantine").collect()
    assert len(q) == 1
    assert q[0].error == "RuntimeError: no c allowed"
    assert '"name": "c"' in q[0].row_json


def test_incremental_migration_moves_only_new_rows(spark, tmpdir):
    from d2d_spark.migrate import IncrementalMigration

    src_rows = [
        {"id": 1, "ts": 100, "v": "a"},
        {"id": 2, "ts": 200, "v": "b"},
    ]
    src = MemoryConnector({"t": src_rows}, spark)
    dst = ParquetConnector(str(tmpdir), spark)

    m = IncrementalMigration(src, dst, table_from="t", watermark_col="ts")
    m.run()  # first run = full load
    assert {r.id for r in dst.read("t").collect()} == {1, 2}

    # grow the source; re-run moves only ts > 200
    src.write(
        spark.createDataFrame([(3, 300, "c"), (2, 200, "b")], "id long, ts long, v string"),
        "t",
        mode="overwrite",
    )
    src.write(
        spark.createDataFrame([(1, 100, "a")], "id long, ts long, v string"), "t", mode="append"
    )
    IncrementalMigration(src, dst, table_from="t", watermark_col="ts").run()
    got = sorted((r.id, r.ts) for r in dst.read("t").collect())
    assert got == [(1, 100), (2, 200), (3, 300)]  # no duplicates, new row present


def test_incremental_migration_pushes_watermark_filter(spark, tmpdir):
    from d2d_spark.migrate import IncrementalMigration, _FilteredSource

    src = ParquetConnector(str(tmpdir / "src"), spark)
    src.write(
        spark.createDataFrame([(1, 100, "a"), (2, 200, "b")], "id long, ts long, v string"),
        "t",
        mode="overwrite",
    )
    wrapped = _FilteredSource(src, "ts", 100)
    plan = wrapped.read("t")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan(ts,100)" in plan


def test_incremental_migration_explicit_since_skips_target_read(spark, tmpdir):
    from d2d_spark.migrate import IncrementalMigration

    src = MemoryConnector(
        {"t": [{"id": 1, "ts": 100}, {"id": 2, "ts": 200}]}, spark
    )

    class WriteOnly:
        def __init__(self):
            self.frames = []

        def write(self, df, index, mode="append", pks=None, **kw):
            self.frames.append((index, mode, df.collect()))

    dst = WriteOnly()
    IncrementalMigration(src, dst, table_from="t", watermark_col="ts", since=100).run()
    (index, mode, rows), = dst.frames
    assert index == "t" and mode == "append"
    assert [r.id for r in rows] == [2]


def test_incremental_migration_unreadable_target_raises(spark, tmpdir):
    """Only a MISSING target degrades to a full load; a target that
    exists but cannot be read must raise (a silent full re-load would
    duplicate every row under append mode)."""
    from d2d_spark.migrate import IncrementalMigration

    src = MemoryConnector({"t": [{"id": 1, "ts": 100}]}, spark)

    class BrokenSink:
        def read(self, index, **kw):
            raise RuntimeError("target exists but is corrupt")

        def write(self, df, index, mode="append", pks=None, **kw):
            raise AssertionError("must not write")

    with pytest.raises(RuntimeError, match="corrupt"):
        IncrementalMigration(src, BrokenSink(), table_from="t", watermark_col="ts").run()


def test_incremental_migration_bad_watermark_column_raises(spark, tmpdir):
    """A typo'd watermark column on an EXISTING target must raise, not
    silently full-load (review finding: the agg sat inside the
    missing-target try)."""
    from d2d_spark.migrate import IncrementalMigration

    src = MemoryConnector({"t": [{"id": 1, "ts": 100}]}, spark)
    dst = ParquetConnector(str(tmpdir), spark)
    IncrementalMigration(src, dst, table_from="t", watermark_col="ts").run()
    with pytest.raises(Exception, match="tz|UNRESOLVED|resolve"):
        IncrementalMigration(src, dst, table_from="t", watermark_col="tz").run()


def test_quarantine_preserves_large_ints_in_mixed_batches(spark):
    """Good rows must keep int64 precision even when the same batch
    holds a failing row (review finding: one NaN-filled frame coerced
    int64 -> float64, rounding values above 2^53)."""
    from d2d_spark.migrate import format_data_with_quarantine

    big = (1 << 53) + 1
    rows = [{"id": 1, "v": big}, {"id": 2, "v": 5}]
    mem = MemoryConnector({"u": rows}, spark)

    def fmt(d):
        if d["id"] == 2:
            raise ValueError("bad")
        return {"id": d["id"], "v": d["v"]}

    good, bad = format_data_with_quarantine(mem.read("u").coalesce(1), fmt)
    assert {(r.id, r.v) for r in good.collect()} == {(1, big)}
    assert bad.count() == 1


def test_format_data_on_error_validated_for_dict_transforms(spark):
    mem = MemoryConnector({"u": USERS}, spark)
    with pytest.raises(ValueError, match="on_error"):
        apply_format_data(mem.read("u"), {"x": F.col("score")}, on_error="quarantine")


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_quarantine_rerun_reads_replaced_source(spark, tmpdir):
    """A quarantine run releases its cached wide frame: a second run
    over the same parquet path, after another writer replaced its
    files, writes the new rows rather than the cached old ones."""
    spark.catalog.clearCache()
    src = ParquetConnector(str(tmpdir / "src"), spark)
    dst = ParquetConnector(str(tmpdir / "dst"), spark)

    def fmt(d):
        if d["score"] < 0:
            raise ValueError("negative score")
        return {"uid": d["user_id"], "score": d["score"]}

    for rows in ([(1, 10), (2, -1)], [(3, 30), (4, 40), (5, -5)]):
        shutil.rmtree(tmpdir / "src", ignore_errors=True)
        src.write(spark.createDataFrame(rows, "user_id long, score long"), "u", mode="overwrite")
        Migration(src, dst, table_from="u", format_data=fmt, mode="overwrite",
                  on_error="quarantine").run()
        assert _cache_empty(spark)
    assert {(r.uid, r.score) for r in dst.read("u").collect()} == {(3, 30), (4, 40)}
    assert sorted(r.row_json for r in dst.read("u_quarantine").collect()) == [
        '{"score": -1, "user_id": 2}', '{"score": -5, "user_id": 5}',
    ]


def test_quarantine_run_releases_cache_when_it_raises(spark, tmpdir):
    spark.catalog.clearCache()
    src = MemoryConnector({"u": [{"id": i} for i in range(150)]}, spark)

    def fmt(d):
        # a key the default 100-row sample never sees fails the write
        return {"id": d["id"], **({"late": 1} if d["id"] >= 100 else {})}

    with pytest.raises(Exception, match="absent from the sampled schema"):
        Migration(src, ParquetConnector(str(tmpdir), spark), table_from="u",
                  format_data=fmt, mode="overwrite", on_error="quarantine").run()
    assert _cache_empty(spark)


def test_format_data_row_dicts_match_on_driver_and_executors(spark):
    """``format_data`` sees one row-dict shape on the driver-side sample
    and on the executors: ``None`` for a null bigint (not ``nan``),
    lists for arrays, dicts for maps and structs, naive datetimes."""
    import datetime as dt
    import json

    from d2d_spark.migrate import format_data_with_quarantine

    ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    utc = ts.replace(tzinfo=dt.timezone.utc)
    df = spark.createDataFrame(
        [(1, None, [1, 2], {"x": 1}, (1, "z"), utc), (2, 7, [], {}, (2, "y"), None),
         (3, None, None, None, None, utc)],
        "id long, n long, a array<int>, m map<string,int>, s struct<p:int,q:string>, "
        "ts timestamp",
    )
    on_driver = {}

    def fmt(d):
        on_driver[d["id"]] = repr(d)  # only the driver's own copy is kept
        if d["id"] == 3:
            raise ValueError("row 3")
        return {"id": d["id"], "seen": repr(d)}

    good, bad = format_data_with_quarantine(df, fmt)
    on_executors = {r.id: r.seen for r in good.collect()}
    assert on_executors == {i: on_driver[i] for i in (1, 2)}
    assert on_executors[1] == (
        "{'id': 1, 'n': None, 'a': [1, 2], 'm': {'x': 1}, 's': {'p': 1, 'q': 'z'}, "
        f"'ts': {ts!r}}}"
    )
    (row,) = bad.collect()
    assert json.loads(row.row_json) == {
        "id": 3, "n": None, "a": None, "m": None, "s": None, "ts": str(ts),
    }


def test_row_dicts_equal_to_pylist_on_flat_columns():
    """The kernel's fast column conversion gives exactly the values of
    ``RecordBatch.to_pylist`` wherever no map or zoned timestamp is
    involved (those two are made dicts and naive datetimes)."""
    import datetime as dt

    import pyarrow as pa

    from d2d_spark.migrate import _row_dicts

    batch = pa.RecordBatch.from_pydict({
        "i64": pa.array([1, -(1 << 62), 3], pa.int64()),
        "i64_null": pa.array([1, None, 3], pa.int64()),
        "i8": pa.array([1, 2, -3], pa.int8()),
        "f64": pa.array([1.5, float("inf"), -0.0]),
        "f64_null": pa.array([1.5, None, 2.0]),
        "b": pa.array([True, False, True]),
        "b_null": pa.array([True, None, False]),
        "s": pa.array(["a", None, ""]),
        "ls": pa.array(["x", "y", None], pa.large_string()),
        "arr": pa.array([[1, None], [], None]),
        "st": pa.array([{"p": 1}, None, {"p": None}]),
        "ts_naive": pa.array([dt.datetime(2024, 1, 2), None, dt.datetime(1970, 1, 1)]),
        "d": pa.array([dt.date(2024, 1, 2), None, dt.date(1, 1, 1)]),
    })
    got = _row_dicts(batch)
    assert got == batch.to_pylist()
    assert [{k: type(v) for k, v in r.items()} for r in got] == [
        {k: type(v) for k, v in r.items()} for r in batch.to_pylist()
    ]


def test_schema_sample_reads_first_rows_in_one_stage(spark):
    """The driver-side sample is one task over the first partitions: no
    shuffle stage, and the same leading rows on every call."""
    from d2d_spark.migrate import _infer_schema

    sc = spark.sparkContext
    df = spark.range(0, 400, numPartitions=4)
    seen = []

    def fmt(d):
        seen.append(d["id"])
        return {"id": d["id"]}

    sc.setJobGroup("format_data_sample", "schema sample")
    try:
        for _ in range(2):
            assert _infer_schema(df, fmt, 10, "raise").names == ["id"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup("format_data_sample"))
    assert len(jobs) == 2
    assert [len(tracker.getJobInfo(j).stageIds) for j in jobs] == [1, 1]
    assert seen == list(range(10)) * 2
