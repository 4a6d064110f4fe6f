"""The table loader's schema memo (sources/tables.py).

The first ``load_table`` of a file version in a session infers the
parquet schema (one Spark job reading footers); later loads pass the
recorded schema. These tests pin that a repeat load launches no job,
that a file rewritten in place with another timestamp encoding is
re-inferred and still normalizes to the same values, that the
inference confs are part of the key, and that concurrent loads on
eight threads all get correct frames.
"""

from __future__ import annotations

import shutil
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from pyspark_data_engineering_assignment_spark.sources.tables import (
    TABLES,
    load_table,
)
from tests.conftest import SF_SMOKE


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _jobs_during(spark, fn):
    before = _next_job_id(spark)
    out = fn()
    return out, _next_job_id(spark) - before


@pytest.fixture
def table_dir(tmp_path):
    """A private copy of the smoke tables: fresh file identities, so
    the first load in each test is a memo miss."""
    d = tmp_path / "tables"
    d.mkdir()
    for t in TABLES:
        shutil.copyfile(f"{SF_SMOKE}/{t}.parquet", d / f"{t}.parquet")
    return str(d)


def _ts_values(df) -> list:
    return [r.ts for r in df.select("ts").orderBy("event_id").collect()]


def test_repeat_load_launches_no_job(spark, table_dir):
    first, first_jobs = _jobs_during(spark, lambda: load_table(spark, table_dir, "orders"))
    second, second_jobs = _jobs_during(spark, lambda: load_table(spark, table_dir, "orders"))
    # the counter sees the footer-reading job of the first inference
    assert first_jobs >= 1
    assert second_jobs == 0
    assert second.schema == first.schema
    assert second.count() == first.count() == 1500


def test_rewrite_in_place_is_reinferred(spark, table_dir):
    """events.parquet goes from TIMESTAMP(NANOS) to TIMESTAMP(MICROS,
    not UTC-adjusted) under the same name. The loader must see the new
    encoding (a stale schema would read micros as nanos) and normalize
    ``ts`` to the same values."""
    path = f"{table_dir}/events.parquet"
    micros = pq.read_table(path)
    i = micros.schema.get_field_index("ts")
    nanos = micros.set_column(i, "ts", micros.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(nanos, path)
    assert pq.ParquetFile(path).schema_arrow.field("ts").type == pa.timestamp("ns")

    before = load_table(spark, table_dir, "events")
    assert before.schema["ts"].dataType == TimestampType()
    expected = _ts_values(before)

    pq.write_table(micros, path)
    assert pq.ParquetFile(path).schema_arrow.field("ts").type == pa.timestamp("us")
    after, jobs = _jobs_during(spark, lambda: load_table(spark, table_dir, "events"))
    assert jobs >= 1, "the rewritten file was served a recorded schema"
    assert after.schema["ts"].dataType == TimestampType()
    assert _ts_values(after) == expected
    assert len(expected) == 1000 and all(v is not None for v in expected)


def test_directory_table_rewrite_is_reinferred(spark, tmp_path):
    """A table stored as a directory of part files (how Spark writes
    one, e.g. tools/scaleup.py) is keyed by every file in it: an
    overwrite that adds a column is seen on the next load."""
    d = str(tmp_path)
    spark.range(5).write.parquet(f"{d}/region.parquet")
    assert load_table(spark, d, "region").columns == ["id"]
    spark.range(5).withColumn("r_name", F.lit("x")).write.mode("overwrite").parquet(
        f"{d}/region.parquet"
    )
    assert load_table(spark, d, "region").columns == ["id", "r_name"]


def test_inference_confs_are_part_of_the_key(spark, table_dir):
    """With inferTimestampNTZ off, a non-UTC-adjusted parquet timestamp
    infers as TIMESTAMP rather than TIMESTAMP_NTZ; flipping the conf
    must re-infer, and both paths normalize to the same values."""
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(conf, None)
    try:
        spark.conf.set(conf, "true")
        ntz = load_table(spark, table_dir, "events")
        spark.conf.set(conf, "false")
        ltz, jobs = _jobs_during(spark, lambda: load_table(spark, table_dir, "events"))
        assert jobs >= 1
        assert _ts_values(ltz) == _ts_values(ntz)
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)


def test_concurrent_loads_get_correct_frames(spark, table_dir):
    """Eight threads load every table at once (memo misses racing,
    then hits) with a short switch interval to interleave them; each
    frame matches a load of the original files."""
    reference = {t: load_table(spark, SF_SMOKE, t) for t in TABLES}
    expected = {t: (df.schema, df.count()) for t, df in reference.items()}
    expected_ts = _ts_values(load_table(spark, SF_SMOKE, "events"))

    def one(_):
        out = {}
        for t in TABLES:
            df = load_table(spark, table_dir, t)
            out[t] = (df.schema, df.count())
        return out, _ts_values(load_table(spark, table_dir, "events"))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(one, i) for i in range(8)]
            results = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    for got, ts in results:
        assert got == expected
        assert ts == expected_ts
