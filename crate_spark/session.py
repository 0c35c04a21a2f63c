"""Session & catalog layer.

CrateDB's query lifecycle (parse -> analyze -> plan -> execute;
reference ``server/src/main/java/io/crate/session/Session.java:370-618``,
``planner/Planner.java:273``) maps onto Spark Catalyst: we configure a
SparkSession for analytic workloads, register the test-data tables as
views and let Catalyst do analysis/optimization/physical planning.

Scale notes (100 TB design intent, tested at local[32]):

- AQE is enabled so shuffle partition counts, skew-join splitting and
  join-strategy demotion re-plan at runtime from real statistics —
  this replaces the reference's static ``planner/distribution``
  MODULO/BROADCAST choice (``DistributionType.java:24``).
- CBO + join reorder replaces ``planner/optimizer/rule/EliminateCrossJoin``
  and ``ReorderHashJoin`` (reference rules; see SURVEY.md §4.1).
- All timestamps are handled as TIMESTAMP_NTZ in UTC: CrateDB stores
  epoch millis (``types/TimestampType.java``); the driver's parquet has
  ms (lineitem/orders) and ns (events). Spark 4 rejects parquet NANOS
  outright, so we read them as raw longs
  (``spark.sql.legacy.parquet.nanosAsLong``) and convert to µs — the
  same truncation DuckDB applies, keeping oracle comparisons exact.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from functools import lru_cache

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

#: Tables provided by the driver (TESTDATA.md). One parquet file each.
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

#: Confs that are safe to set at runtime on an existing session (the
#: driver owns the SparkSession passed to ``queries()`` entries).
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # events.parquet has TIMESTAMP(NANOS) which Spark 4 refuses; read as long.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    # Arrow for any pandas-UDF path (vector ops fall back to JVM exprs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Spark substitutes ${var} even INSIDE string literals; the
    # reference has no variable substitution, so a data value like
    # '${0}' must reach the row byte-exact (hypothesis literal
    # roundtrip found the mangling).
    "spark.sql.variable.substitute": "false",
}


def apply_runtime_confs(spark: SparkSession) -> None:
    """Best-effort apply engine confs to a session we did not create."""
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # static conf on this build — keep going


def get_spark(
    app_name: str = "crate-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a local SparkSession sized from SPARK_GRAFT_CPUS.

    On a real cluster this would be a plain ``SparkSession.builder``
    with the same SQL confs; parallelism then comes from executors.

    The session's generated-class cache
    (``spark.sql.codegen.cache.maxEntries``) holds 1000 classes, not
    Spark's 100, so a repeated analytics pass recompiles nothing. It
    is a static conf, fixed when the JVM's first session starts, so it
    is set here and not in ``RUNTIME_CONFS``; a SparkSession built by
    the caller keeps Spark's 100-entry default.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # One analytics pass (perfbench's nine queries) needs ~106
        # generated classes, 121 on a cold first pass; at the default
        # 100 the LRU evicts each before its next use and every pass
        # recompiles all of them. A front-door statement with a fresh
        # literal compiles 2 classes that are never reused; they are
        # the least recently used entries, and 1000 entries keep a pass
        # across ~450 such statements between two of its runs.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    apply_runtime_confs(spark)
    return spark


@contextmanager
def conf_scope(spark: SparkSession, overrides: dict[str, str]):
    """Set ``overrides`` for the enclosed block, then restore each key
    to its previous value, unsetting a key that was unset before. The
    conf is session-global: a statement planned on the same
    SparkSession by another thread sees the overrides meanwhile."""
    prev = {key: spark.conf.get(key, None) for key in overrides}
    for key, value in overrides.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


@lru_cache(maxsize=1024)
def ddl_schema(ddl: str) -> StructType:
    """``ddl`` parsed once per distinct string (one JVM parse, not a
    DataFrame built and analyzed). Callers must not mutate the result."""
    return StructType.fromDDL(ddl)


def backticked(name: str) -> str:
    """A column name as one Spark identifier in SQL text: an item of
    ``selectExpr`` costs one py4j round trip where a ``Column`` built
    from functions costs several."""
    return "`" + name.replace("`", "``") + "`"


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """``rows`` (tuples in ``schema`` order) as a ``LocalRelation``
    built from a pyarrow Table: collecting it, or a projection or
    filter of it, runs no Spark job, where ``createDataFrame(rows)``
    plans a ``LogicalRDD`` read by a Python-worker job. Values convert
    as there, through ``StructType.toInternal``."""
    if isinstance(schema, str):
        schema = ddl_schema(schema)
    arrow = to_arrow_schema(schema)
    internal = [schema.toInternal(r) for r in rows]
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in internal], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def rowcount_frame(spark: SparkSession, n: int = 1) -> DataFrame:
    """The one-row answer of a DML or DDL statement: rows affected."""
    df = local_frame(spark, [(n,)], "rowcount bigint")
    # kept on the frame too: reading a DataFrame's columns is a py4j call
    df._crate_rowcount = n
    return df


def rowcount(df: DataFrame) -> int:
    """The rows affected that ``df``, a ``rowcount_frame``, answers."""
    return df._crate_rowcount


def parquet_files(path: str) -> list[tuple[str, int]]:
    """(path, bytes) of every parquet file at ``path``, a file or a
    table directory walked once (names sorted within a directory);
    empty when nothing is there."""
    if os.path.isfile(path):
        return [(path, os.path.getsize(path))]
    return [
        (os.path.join(root, f), os.path.getsize(os.path.join(root, f)))
        for root, _dirs, files in os.walk(path)
        for f in sorted(files)
        if f.endswith(".parquet")
    ]


def split_floor(spark: SparkSession) -> int:
    """The split-size floor: ``openCostInBytes``, or ``maxPartitionBytes``
    if smaller. Spark reads a file at or under it as one split (and packs
    such files together); a table's files at or under it are its small
    tail, which an append rewrites together with its batch."""
    conf = spark._jsparkSession.sessionState().conf()
    return min(conf.filesOpenCostInBytes(), conf.filesMaxPartitionBytes())


def one_split(df: DataFrame, files: list[tuple[str, int]]) -> DataFrame:
    """``df``, a scan of ``files``, declared single-partition when Spark
    reads it as one split: one file no larger than ``split_floor``. Then
    ``coalesce(1)`` moves no row, and aggregates, windows and sorts above
    it plan no exchange, so AQE runs no stage job for them; a join
    partner of another width is still shuffled to that width. Anything
    larger is left as it is: at scale this is a no-op by construction."""
    if len(files) != 1 or files[0][1] > split_floor(df.sparkSession):
        return df
    return df.coalesce(1)


def input_is_small(df: DataFrame) -> bool:
    """True when the optimizer's size estimate for ``df`` is at or
    below ``crate_spark.exec.spread_small_input_bytes`` (session conf,
    default 64 MiB; ``SET ... = 0`` opts out → always False). The
    shared gate behind every small-input-only optimization
    (``spread_small_input``, LTTB series batching, the per-query PQ
    encode materialization): each is a local-latency win whose cost
    model inverts at scale, so all of them must be no-ops on large
    inputs by construction."""
    spark = df.sparkSession
    try:
        limit = int(
            spark.conf.get(
                "crate_spark.exec.spread_small_input_bytes",
                str(64 * 1024 * 1024),
            )
        )
    except Exception:
        limit = 64 * 1024 * 1024
    if limit <= 0:  # operator opt-out: SET ... = 0
        return False
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        size = int(raw.toString()) if hasattr(raw, "toString") else int(raw)
    except Exception:
        return False
    return size <= limit


def spread_small_input(df: DataFrame, max_partitions: int | None = None) -> DataFrame:
    """Parallelize a scan whose file layout under-splits (optimization
    guide §2.5, "input skew — one huge unsplittable file": each driver
    testdata table is a single-row-group parquet file, so every map
    stage over it runs as ONE task regardless of available cores).

    When the input is tiny — optimizer size estimate at or below
    ``crate_spark.exec.spread_small_input_bytes`` (session conf,
    default 64 MiB) — a round-robin repartition to the session's
    default parallelism costs a negligible shuffle and un-serializes
    the map stage. Above the threshold the file layout already yields
    parallel splits and the repartition would be a full-data shuffle,
    so it is never taken: at 100 TB this helper is a no-op by
    construction. Deterministic: round-robin repartition sorts its
    input before assigning rows (SPARK-23207), and callers only use it
    where downstream computation is row-order-independent (row-local
    projections, exact/decimal aggregates, explicitly-ordered
    windows)."""
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    if max_partitions is not None:
        # callers whose downstream stage count multiplies with the map
        # fan-out (e.g. the routed-PQ batch: broadcast join + two
        # windows) cap the spread — measured there: full width LOST
        # (+0.5 s) while width 8 won (-0.9 s) at local[32]
        n = min(n, max_partitions)
    if n > 1 and input_is_small(df):
        return df.repartition(n)
    return df


def _normalize_events(df: DataFrame) -> DataFrame:
    """events.ts arrives as raw nanos (long). Produce:

    - ``ts``     TIMESTAMP_NTZ at µs precision (floor-truncated from ns,
      matching DuckDB's parquet ns -> TIMESTAMP read), and
    - ``ts_ns``  the raw epoch-nanos long, kept for exact arithmetic
      (sessionization, gap detection) without timezone concerns.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type != "bigint":
        if ts_type == "timestamp_ntz":
            # timestampdiff over NTZ operands is pure wall-clock
            # arithmetic — no session-timezone cast involved (an
            # NTZ->TZ cast would bind spark.sql.session.timeZone)
            us = F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            )
        else:
            # TZ input: absolute instant; coerce string/date columns
            # to timestamp first (unix_micros requires timestamp)
            us = F.unix_micros(F.col("ts").cast("timestamp"))
        return df.withColumn("ts_ns", us * 1000)
    return (
        df.withColumnRenamed("ts", "ts_ns")
        .withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts_ns div 1000")).cast("timestamp_ntz"),
        )
        .select("event_id", "ts", "ts_ns", "user_id", "event_type", "value", "props")
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table; events gets timestamp normalization."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = _normalize_events(df)
    return df


#: (id(spark), sf_dir) -> loaded DataFrames. Each load_tables call used
#: to re-read 10 parquet footers and re-register 10 temp views; across
#: a 100-query run that is pure driver-side overhead (it truncated the
#: round-1 driver run). DataFrames are immutable plans, so caching per
#: (session, dir) is safe; registration is tracked separately so a
#: register=False first call doesn't suppress later view creation.
_TABLE_CACHE: dict[tuple[int, str], dict[str, DataFrame]] = {}
#: session id -> sf_dir whose views are CURRENTLY registered. View
#: names are shared across scale factors, so registration must track
#: which sf_dir won last — a per-(session, sf_dir) "already registered"
#: set let a later load at another sf leave stale views behind (the
#: r8 full-suite order dependence: sf0.01 golden runs overwrote the
#: sf0.001 views and the next sf0.001 load skipped re-registering).
_REGISTERED: dict[int, str] = {}


def load_tables(
    spark: SparkSession, sf_dir: str, register: bool = True
) -> dict[str, DataFrame]:
    """Load all driver tables, optionally registering temp views.

    Equivalent of CrateDB's DocTableInfo catalog resolution
    (``metadata/doc/DocTableInfo.java``) — here the "table" is a
    Parquet-backed DataFrame and Spark's session catalog is the schema
    registry. Cached per (session, sf_dir). Each view is ``one_split``
    over its file; the returned DataFrames are the plain scans.
    """
    key = (id(spark), os.path.abspath(sf_dir))
    out = _TABLE_CACHE.get(key)
    if out is None:
        apply_runtime_confs(spark)
        out = {name: load_table(spark, sf_dir, name) for name in TABLES}
        _TABLE_CACHE[key] = out
    if register and _REGISTERED.get(id(spark)) != key[1]:
        for name, df in out.items():
            files = parquet_files(os.path.join(sf_dir, f"{name}.parquet"))
            one_split(df, files).createOrReplaceTempView(name)
        _REGISTERED[id(spark)] = key[1]
    return out
