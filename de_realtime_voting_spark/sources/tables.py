"""Batch sources: the parquet star schema.

The scan is the single biggest lever at 100 TB: operators must select
only the columns they need (column pruning reaches the parquet
footer) and filter as early as possible (predicate pushdown).  Loads
here are ``spark.read.parquet`` so Catalyst owns both.

Schema inference is a Spark job (it reads a footer on an executor),
and that job was 38% of a dashboard panel's latency at sf0.1 on a
4-core host.  So the first load of a parquet FILE infers its schema and
memoizes the resulting ``StructType``, process-wide; every later load
of the same file passes it to ``spark.read.schema(...)``, which runs
no job.  Only the schema is memoized -- no data, no DataFrame -- so
each load still plans a fresh scan and ``spark.catalog.clearCache()``
is unaffected.  The entry is valid for one version of the file: its
key is (absolute path, inode, size, mtime in ns), so a rewrite at the
same path is re-inferred when any of the three changes -- a replace
by rename gives a new inode, a new schema almost always a new size,
and a rewrite after the next clock tick a new mtime.  A rewrite of
equal size within one mtime tick would keep the old entry: a stat
cannot tell the two versions apart.  A directory-form table is never
memoized: its stat says nothing about the part files inside it,
which can be added, removed or rewritten without changing it.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TABLE_NAMES = [
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
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Parquet timestamps written without isAdjustedToUTC read as
    # TIMESTAMP_NTZ under Spark 4's default inference, but chrono
    # builtins (unix_micros, window, ...) expect TIMESTAMP.  Turn NTZ
    # inference off AT THE SCAN so the column is LTZ from the footer
    # up -- a cast on top of the scan would block predicate pushdown
    # on timestamp filters.  Session tz is UTC (session.py:22) so the
    # instant is identical and the DuckDB oracle's naive-as-UTC
    # timestamps stay value-matched.  Scoped set/restore because the
    # driver may hand us ITS session.
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        if name == "events":
            df, schema = _load_events(spark, os.path.join(sf_dir, "events.parquet"))
        else:
            df, schema = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    return _normalize_ntz(df, schema)


# absolute path -> ((inode, size, mtime_ns), inferred StructType); one
# entry per file, replaced when the file changes.
_SCHEMAS: dict[str, tuple[tuple[int, int, int], StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, StructType]:
    """``spark.read.parquet(path)`` and the scan's schema, inferring
    the schema only on the first read of this version of a file."""
    try:
        st = os.stat(path)
    except OSError:  # a URI or a missing path: Spark resolves (or rejects) it
        st = None
    if st is None or stat.S_ISDIR(st.st_mode):
        df = spark.read.parquet(path)
        return df, df.schema
    key, version = os.path.abspath(path), (st.st_ino, st.st_size, st.st_mtime_ns)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == version:
        return spark.read.schema(hit[1]).parquet(path), hit[1]
    df = spark.read.parquet(path)
    schema = df.schema
    _SCHEMAS[key] = (version, schema)
    return df, schema


def _normalize_ntz(df: DataFrame, schema: StructType) -> DataFrame:
    """Fallback: cast any TIMESTAMP_NTZ column that slipped past the
    scan-level conf to TIMESTAMP (ltz).  No-op (returns df unchanged,
    plan untouched) when the conf did its job.  ``schema`` is the
    scan's schema, so no analysis round trip is needed to read it."""
    ntz = [f.name for f in schema.fields if isinstance(f.dataType, TimestampNTZType)]
    if not ntz:
        return df
    return df.withColumns({c: F.col(c).cast("timestamp_ltz") for c in ntz})


def _load_events(spark: SparkSession, path: str) -> tuple[DataFrame, StructType]:
    """events.ts is parquet TIMESTAMP(NANOS), which Spark's parquet
    reader rejects outright.  Read nanos as long (legacy conf, set
    before the scan) and floor-divide to microseconds JVM-side --
    integer `div`, not `/`, because the ns epoch (~1.7e18) exceeds
    double's 2^53 exact-integer range.  The DuckDB oracle mirrors
    this with CAST(ts AS TIMESTAMP) (ns -> us truncation).  Returns
    the scan's schema beside the frame; the rewrite turns a long ts
    into an LTZ timestamp, so the scan's NTZ columns are the frame's."""
    # Scope the legacy conf to this scan: the FileScan captures the
    # conf value when the plan is BUILT, so setting it around the
    # read is sufficient -- and restoring it afterwards keeps one
    # table load from changing how every later parquet read in the
    # session treats TIMESTAMP(NANOS) columns.
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        df, schema = _read_parquet(spark, path)
        if isinstance(schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    return df, schema


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql use."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
