"""Table registry over the driver-provided Parquet fixtures.

The reference spreads its data model across JSON files, MongoDB
collections, and HBase tables (SURVEY.md §1); here every table is a
Parquet scan so Catalyst gets column pruning + predicate pushdown +
partition pruning for free (the reference hand-rolled the first two via
HBase column projections, /root/reference/clv_integration.py:24).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from big_data_analytics_spark.caching import register_cache

#: Tables generated by the driver at /root/testdata/sf*/ (TESTDATA.md).
TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Memoized LAZY reader DataFrames per (applicationId, id(spark), sf_dir,
#: table)
#: — r15: building the scan costs ~150-250 ms per call on the bench
#: box (driver-side footer read + schema inference + the NTZ
#: normalization projection + py4j), paid by EVERY query invocation
#: for EVERY table it reads. The DataFrame is an immutable lazy plan:
#: memoizing it caches table METADATA (what a metastore/catalog holds
#: at scale — Spark's own filesourcePartitionFileCacheSize is the same
#: idea), never data or results; every action still scans the parquet.
#: Registered in the session-cache registry so bench
#: --isolate-families evicts it with every other fixture cache.
_TABLE_CACHE: dict[tuple[str, int, str, str], DataFrame] = register_cache({})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan for one fixture table.

    ``events.ts`` is written as TIMESTAMP(NANOS), which Spark's Parquet
    reader rejects natively; read it as raw nanos (legacy conf) and
    truncate to microsecond TimestampType — the same ns→us truncation
    DuckDB applies, so both engines see identical values.
    """
    # id(spark) in the key: one SparkContext can host several
    # SparkSessions (the driver harness builds its own), and a
    # DataFrame executes under the conf of the session that CREATED
    # it — an applicationId-only key could hand session B a plan bound
    # to session A's conf (r15 ADVICE). The cached DataFrame holds a
    # reference to its session, so id(spark) cannot be recycled while
    # its entry is alive.
    key = (spark.sparkContext.applicationId, id(spark), sf_dir, name)
    hit = _TABLE_CACHE.get(key)
    if hit is not None:
        # re-apply the session pins on a hit: a caller may have
        # changed the session zone between calls, and the pinned conf
        # is part of this function's contract
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        if name == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return hit
    # Timestamps in the fixtures are timezone-naive wall-clock values;
    # pin the session zone so results are identical under any caller's
    # SparkSession (the driver harness builds its own) and match the
    # tz-naive DuckDB oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F
        # integer division — ns→us via double would lose precision at 1e18
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Fixture parquet written as TIMESTAMP(MICROS, isAdjustedToUTC=false)
    # arrives as TIMESTAMP_NTZ under Spark 4's NTZ inference. Normalize
    # to TimestampType: with the session zone pinned to UTC above, the
    # cast is a pure reinterpretation (identical epoch micros), it keeps
    # epoch functions (unix_micros & co.) applicable, and it matches
    # DuckDB's naive-timestamp reading of the same files bit-for-bit.
    ntz_cols = [f for f, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, df[c].cast("timestamp"))
    _TABLE_CACHE[key] = df
    return df


def register_tables(spark: SparkSession, sf_dir: str,
                    tables: tuple[str, ...] = TPCH_TABLES) -> None:
    """Register each fixture table as a temp view for ``spark.sql``."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
