"""Parquet sources for the harness star schema + CW-shaped tables.

Mirrors the reference's lazy Dask parquet scans
(/root/reference/Utils/dataset.py:211-237) — ``spark.read.parquet`` is the
direct analog: lazy, columnar, schema-carrying.  Column pruning and predicate
pushdown reach the parquet reader automatically, which the reference did by
hand (dataset.py:539-541).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TESTDATA_TABLES = (
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


#: session settings that change the type Parquet inference gives a column
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

#: inferred schema per (file identity, inference settings); one entry per
#: distinct file version read by this process
_SCHEMAS: dict[tuple, StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a file's schema once.

    Inference reads the footer in a Spark job; a read with the schema
    given runs none.  The key is the file's identity
    (realpath, inode, mtime, size) plus the settings in ``_INFER_CONFS``,
    so a file rewritten in place, or a session that infers other types,
    infers again.  A directory, or a path ``os.stat`` cannot see (a
    non-local URI), is inferred on every read.
    """
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (
        os.path.realpath(path),
        st.st_ino,
        st.st_mtime_ns,
        st.st_size,
        *(spark.conf.get(c, None) for c in _INFER_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one harness table.

    The `events` table carries TIMESTAMP(NANOS) which Spark's vectorized
    reader rejects; we read nanos as int64 (legacy conf) and rebuild a
    microsecond TimestampType column with integer `div` (no double
    round-trip — ns epoch values exceed the 53-bit mantissa).  The conf
    is set on every call: a read with a cached schema still needs it.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return _read_parquet(spark, path)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables at once; defaults to all of them."""
    use = names or TESTDATA_TABLES
    return {n: load_table(spark, sf_dir, n) for n in use}


def write_table(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Parquet sink (reference: Utils/dataset.py:240-268).

    ``partition_by`` gives hive-style partition pruning on re-read — the
    scale-out replacement for the reference's per-split .npz files
    (dataset.py:286-306).
    """
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def table_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count of a base table from its parquet FOOTER — a pure
    metadata read (no Spark job), for data-derived width rules (guide
    §2.2: exchange/window widths sized by the data, not by the session's
    core count).  None when the footer isn't readable (caller falls back
    to the planner's default width)."""
    try:
        import pyarrow.parquet as pq

        path = os.path.join(sf_dir, f"{name}.parquet")
        return int(pq.ParquetFile(path).metadata.num_rows)
    except Exception:
        return None

