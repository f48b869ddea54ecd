"""Parquet-backed table registry.

Reference parity: the reference scans SQLite over JDBC with explicit
``customSchema`` strings to bypass type inference (reference
``backend/app/processor/spark_processor.py:103-110`` and
``backend/app/processor/data_sources.py:21-58``). Parquet files carry their
schema, so the explicit-schema contract is native here; scans get columnar
reads, predicate pushdown, and column pruning from Catalyst for free.

At 100 TB these tables would be directories of many parquet files
(optionally partitioned by date); ``spark.read.parquet`` handles both a
single file and a partitioned directory tree identically, so nothing in the
engine assumes single-file inputs.

Schema memo: ``spark.read.parquet`` without a schema runs one Spark job
per call to infer the schema from the footers. :func:`read_parquet` keeps
each path's inferred schema in a process-wide memo, one entry per
absolute path, and scans with ``spark.read.schema(...)`` on a hit, so a
repeated scan of an unchanged table runs no job. An entry is valid while
both halves of its fingerprint hold:

- the file snapshot: relative name, size and ``mtime_ns`` of every data
  file under the path (names starting with ``_`` or ``.`` are skipped, as
  Spark skips them);
- the session confs that change parquet inference (``_INFERENCE_CONFS``).

Any difference re-infers and replaces the entry, so a rewritten table
(new columns, new files) is never scanned with a stale schema. A path
that is not a local file or directory (an object-store URI) bypasses the
memo.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Tables the driver fixtures provide (TESTDATA.md).
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Session confs that change the schema parquet inference produces.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# absolute path -> (fingerprint, inferred schema)
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _snapshot(path: str) -> tuple:
    """(relative name, size, mtime_ns) of every data file under ``path``."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    files = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for f in filenames:
            if not f.startswith(("_", ".")):
                full = os.path.join(dirpath, f)
                st = os.stat(full)
                files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(files))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema only when the
    schema memo (module docstring) has no valid entry for ``path``."""
    try:
        snapshot = _snapshot(path)
    except OSError:  # missing, or a store URI: Spark resolves (and reports) it
        return spark.read.parquet(path)
    fingerprint = (snapshot, tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
    key = os.path.abspath(path)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == fingerprint:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (fingerprint, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Catalyst prunes columns / pushes filters into the
    parquet reader from the enclosing plan (SURVEY.md S3)."""
    # every registry query funnels through here: pin the session timezone
    # so date/timestamp-derived strings are stable no matter what session
    # the caller (e.g. the verify driver) built
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        return _load_events(spark, sf_dir)
    return read_parquet(spark, table_path(sf_dir, name))


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture's ``ts`` unit varies by generator round:
    TIMESTAMP(NANOS) — which Spark's vectorized reader rejects — or
    TIMESTAMP(MICROS), which reads natively (as TIMESTAMP_NTZ). Enable
    the nanos-as-long legacy conf and adapt on the observed dtype:
    a bigint ``ts`` is nanos needing the JVM-side conversion (integer
    DIV, lossless — values are generated at microsecond precision),
    anything else is already a timestamp. Still a plain columnar scan.
    The streaming twin (``streaming.jobs.stream_events``) sniffs the
    parquet footer for the same decision."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, table_path(sf_dir, "events"))
    if dict(df.dtypes).get("ts") == "bigint":
        # integer DIV, not /1000.0: epoch-nanos (~1.7e18) overflow double's
        # 53-bit mantissa and float division lands ±1µs off
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> None:
    """Register each table as a temp view so operators can be written in
    either DataFrame or SQL form (same Catalyst plan either way)."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
