"""Readers for the driver's testdata star schema and reference-style inputs.

The reference reads bare CSV text and parses positionally
(``G019HW1.java:58-66``); here scans are schema-'d DataFrame reads so
Catalyst gets column pruning and predicate pushdown into parquet.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# (path, nanosAsLong) -> (file signature, the schema inferred from
# that version of the file). Only schemas are kept, never a DataFrame:
# every read must be a fresh relation with fresh attribute ids, or a
# self-join of two reads fails to resolve.
_SCHEMAS: dict[tuple[str, str], tuple[tuple, T.StructType]] = {}


def _signature(path: str) -> tuple | None:
    """``(size, mtime_ns)`` of a file; for a directory, the sorted
    ``(name, size, mtime_ns)`` of its entries. ``None`` for a path the
    local file system cannot see (an ``hdfs://`` or ``s3a://`` URI)."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_size, st.st_mtime_ns)
        with os.scandir(path) as it:
            entries = [(e.name, e.stat()) for e in it]
        return tuple(sorted((n, s.st_size, s.st_mtime_ns)
                            for n, s in entries))
    except OSError:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (parquet, columnar, pushdown-capable).

    ``events.ts`` is TIMESTAMP(NANOS) parquet; Spark reads it as a
    nanos long (``spark.sql.legacy.parquet.nanosAsLong``, set by
    session.py) and we convert to TimestampType here. The conversion
    must be *integer* division: ``(ts/1000).cast('long')`` goes through
    a double whose ulp at 2024-epoch-ns magnitude (~1.7e18) is 256 ns,
    truncating ~2% of µs-aligned values 1 µs low vs DuckDB's view of
    the same file.

    A bare ``spark.read.parquet`` runs one Spark job to infer the
    schema from the footers (75-100 ms warm on 4 vCPU). The first read
    of a file does that; later reads of the unchanged file pass the
    schema it found and run no job. A file rewritten in place is
    inferred again.
    """
    if name == "events":
        # runtime-settable SQLConf — the driver may hand us a session
        # built without session.py's defaults
        spark.conf.set(_NANOS_AS_LONG, "true")
    path = f"{sf_dir}/{name}.parquet"
    sig = _signature(path)
    key = (path, spark.conf.get(_NANOS_AS_LONG, "false"))
    cached = _SCHEMAS.get(key)
    if cached is not None and cached[0] == sig:
        df = spark.read.schema(cached[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if sig is not None:
            _SCHEMAS[key] = (sig, df.schema)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


# Deterministic projection of `events` into the 2-D point shape the
# outlier/clustering operators consume (FIXTURES.md §4 mapping). The
# expression is kept trivially portable so the DuckDB oracle can state
# the identical projection:  x = value, y = (user_id % 97) / 7.0
POINTS_FROM_EVENTS_SQL = (
    "SELECT event_id AS pid, value AS x, (user_id % 97) / 7.0 AS y FROM events"
)


def points_from_events(events: DataFrame) -> DataFrame:
    """2-D points derived from the events table (pid, x, y)."""
    return events.select(
        F.col("event_id").alias("pid"),
        F.col("value").alias("x"),
        ((F.col("user_id") % 97) / 7.0).alias("y"),
    )


POINTS_SCHEMA = T.StructType([
    T.StructField("x", T.DoubleType(), False),
    T.StructField("y", T.DoubleType(), False),
])


def read_points_csv(spark: SparkSession, path: str,
                    float32_parity: bool = False) -> DataFrame:
    """Read a reference-style points CSV (``x,y`` per line, no header).

    ``float32_parity=True`` reproduces the reference's float parse
    (``G019HW1.java:63-64`` uses ``Float.parseFloat``) for golden-output
    equality; default is double precision.
    """
    df = spark.read.schema(POINTS_SCHEMA).csv(path)
    if float32_parity:
        df = df.select(
            F.col("x").cast("float").cast("double").alias("x"),
            F.col("y").cast("float").cast("double").alias("y"),
        )
    return df
