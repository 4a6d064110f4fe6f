"""Loader for the driver-provided parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings - one parquet file per table under an sf dir.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from pyspark_data_engineering_assignment_spark.session import ensure_session_confs

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


_BYTE_SUFFIX = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30}


def _parse_bytes(s: str) -> int:
    """Spark byte-size conf string ('134217728', '128m', '1g') -> bytes."""
    s = s.strip().lower()
    mult = 1
    if s and s[-1] in _BYTE_SUFFIX:
        mult = _BYTE_SUFFIX[s[-1]]
        s = s[:-1]
    return int(s) * mult


def spread_cpu_scan(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Redistribute an UNSPLITTABLE tiny scan across cores before
    CPU-dense per-row work (shingling, winnowing, vector math).

    A parquet file smaller than ``spark.sql.files.maxPartitionBytes``
    with one row group scans as ONE task - so a CPU-bound expression
    pipeline rooted at it runs serially no matter how many cores exist
    (measured at sf0.1/local[32]: doc_winnowing 1.7s -> 0.37s,
    minhash_lsh_neardup 3.6s -> 2.3s warm after this redistribution).

    Scale semantics: gated on file size < maxPartitionBytes, so on a
    production multi-gigabyte table the scan already yields >= cores
    input splits and this is a NO-OP - the round-robin exchange only
    exists where the data is small enough that shuffling all of it is
    trivially cheap. Opt-in per query: it pays off only when downstream
    CPU cost per row dwarfs the one extra small exchange (measured
    per-query; groupBy/join-rooted plans redistribute anyway and would
    inherit pure overhead).
    """
    try:
        size = os.path.getsize(path)
    except OSError:
        return df
    max_split = _parse_bytes(
        str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    )
    cores = spark.sparkContext.defaultParallelism
    if size >= max_split or cores <= 1:
        return df
    return df.repartition(cores)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread_cpu: bool = False
) -> DataFrame:
    # The driver hands us ITS vanilla session; apply the dynamic confs the
    # engine's semantics assume (UTC timestamps, nanosAsLong) exactly once.
    ensure_session_confs(spark)
    if spread_cpu:
        return spread_cpu_scan(
            spark,
            load_table(spark, sf_dir, name),
            f"{sf_dir}/{name}.parquet",
        )
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


# SQL confs whose values change the schema parquet inference produces.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
)
# Inferred schemas, keyed by _schema_key. Process-level and shared by
# every thread that builds plans, so all access holds the lock.
_SCHEMA_MEMO: dict[tuple, StructType] = {}
_SCHEMA_MEMO_LOCK = threading.Lock()
_SCHEMA_MEMO_MAX = 512


def _file_identity(path: str) -> tuple | None:
    """(relative name, inode, size, mtime_ns) of every file under
    ``path`` (a file, or a directory of part files), or None when it is
    not a local path. A file rewritten in place changes its identity,
    even when it keeps its name. Files Spark does not read (``_SUCCESS``,
    checksums) are included too: they can only cause a re-inference."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not os.path.isdir(path):
        return (("", st.st_ino, st.st_size, st.st_mtime_ns),)
    files = []
    for root, dirs, names in os.walk(path):
        dirs.sort()
        for n in sorted(names):
            full = os.path.join(root, n)
            try:
                fst = os.stat(full)
            except OSError:
                return None
            files.append(
                (os.path.relpath(full, path), fst.st_ino, fst.st_size, fst.st_mtime_ns)
            )
    return tuple(files)


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    files = _file_identity(path)
    if files is None:
        return None
    return (
        spark._jsparkSession.sessionUUID(),
        os.path.abspath(path),
        files,
        tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS),
    )


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, timestamp-normalized, inferring the
    schema only on the first read of each file version in a session.

    Inference launches a Spark job that reads the footers; a later read
    of the same files under the same inference confs passes the
    recorded schema instead. Every call still builds a fresh DataFrame
    over a fresh file listing: only the schema is reused, never data.
    """
    key = _schema_key(spark, path)
    with _SCHEMA_MEMO_LOCK:
        schema = _SCHEMA_MEMO.get(key) if key is not None else None
    if schema is not None:
        return _normalize_timestamps(spark.read.schema(schema).parquet(path), schema)
    df = spark.read.parquet(path)
    schema = df.schema
    if key is not None:
        with _SCHEMA_MEMO_LOCK:
            if len(_SCHEMA_MEMO) >= _SCHEMA_MEMO_MAX:
                _SCHEMA_MEMO.pop(next(iter(_SCHEMA_MEMO)))
            _SCHEMA_MEMO[key] = schema
    return _normalize_timestamps(df, schema)


# Columns the generator stores as parquet timestamps. The driver has
# regenerated testdata between rounds with DIFFERENT physical encodings
# (TIMESTAMP(NANOS) in rounds 1-4, TIMESTAMP(MICROS, isAdjustedToUTC=
# false) in round 5), so the loader normalizes rather than assumes.
_TS_COLUMNS = frozenset({"ts", "o_orderdate", "l_shipdate"})


def _normalize_timestamps(df: DataFrame, schema: StructType) -> DataFrame:
    """Normalize known timestamp columns to TIMESTAMP (LTZ; session tz is
    pinned UTC by ensure_session_confs) across every physical encoding
    the generator has used:

      * TIMESTAMP(NANOS) -> read as long under nanosAsLong; truncate to
        micros. `div` is integer division: epoch-nanos ~1.7e18 exceed
        double's 2^53 exact range, so float division could skew the
        result by +/-1 microsecond.
      * TIMESTAMP(MICROS, isAdjustedToUTC=false) -> Spark 4 infers
        TIMESTAMP_NTZ; the cast reinterprets the naive value in the UTC
        session tz, preserving wall-clock values (what the naive DuckDB
        oracle sees).
      * TIMESTAMP(MICROS, adjusted) -> already LTZ; untouched.
    """
    for field in schema.fields:
        if field.name not in _TS_COLUMNS:
            continue
        if isinstance(field.dataType, LongType):
            df = df.withColumn(
                field.name,
                F.timestamp_micros(F.expr(f"{field.name} div 1000")),
            )
        elif isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(
                field.name, F.col(field.name).cast(TimestampType())
            )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
