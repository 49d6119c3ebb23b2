"""SparkSession factory — the single place engine configuration lives.

Tuned for the sandbox (single JVM, ``local[N]``) but every knob is the
one that matters on a real cluster too: AQE for runtime re-planning,
shuffle partitions sized to cores (not the 200 default), Arrow for any
Pandas-UDF boundary, UTC session time zone so results are
timezone-stable across engines (the DuckDB oracle runs in UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """``spark.driver.memory``: ``$SPARK_GRAFT_DRIVER_MEM`` if set, else
    half of physical RAM. A fixed heap larger than the machine lets the
    JVM die on a native out-of-memory once it grows past what it can
    commit; the other half is left to the Python workers and the OS."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{ram // 2 // 2**20}m"


def get_spark(
    app_name: str = "d2d_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    At 100 TB the same settings hold: AQE coalesces post-shuffle
    partitions and rewrites skewed joins at runtime, so the static
    ``shuffle.partitions`` only needs to be an upper bound ~2-3x the
    executor-core count. Parquet pushdown/pruning are on by default.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r12 (guide §2.2 "fewer, larger partitions"): by default Spark
        # pins a CACHED plan's output partitioning to the static
        # shuffle.partitions (no AQE coalescing), so every persisted
        # frame whose plan ends in a shuffle materializes at the full
        # static width and every cache consumer inherits it — measured
        # on the dedup suite: 1765 tasks/run vs 89 with the flag, 30x
        # executor time on identical results. With the flag AQE sizes
        # cached partitions by advisoryPartitionSizeInBytes, which is
        # the same scale-adaptive posture the rest of the engine runs
        # (tiny corpus -> few partitions, 100 TB -> 64 MB partitions).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # r11: plan STRINGS are rendered per SQL-listener event (and
        # re-rendered per AQE stage update); the default cap is ~2 GB,
        # so a deep composite plan burns driver CPU + heap building
        # strings nothing reads (measured: minutes in
        # generateTreeString on chained-operator plans). 8 MB keeps
        # every explain()/audit dump intact (largest real plan ~0.6 MB)
        # while bounding the pathological case.
        .config("spark.sql.maxPlanStringLength", "8388608")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/d2d_spark_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one fixture table, normalizing physical quirks.

    `events.ts` arrives in two physical shapes depending on fixture
    generation: TIMESTAMP(NANOS) (Spark refuses natively; read nanos
    as long via runtime SQL conf and rebuild a microsecond timestamp
    JVM-side — same floor(ns/1000) truncation DuckDB applies) or
    tz-less timestamp[us], which Spark 4 infers as TIMESTAMP_NTZ.
    Both normalize to instant TIMESTAMP: watermarks/event-time ops
    require it, and under the engine's pinned UTC session timezone the
    NTZ→instant cast is wall-clock-identical, so oracle comparisons
    are unaffected. Still a pure columnar scan either way."""
    from pyspark.sql import functions as F

    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.floor(F.col("ts") / 1000).cast("long"))
            )
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES):
    """Read the fixture star schema; returns {name: DataFrame} and
    registers each as a temp view so ``spark.sql`` works over them."""
    out = {}
    for name in names:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
