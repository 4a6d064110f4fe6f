"""Round-13 hazard axis: DECIMAL(18,2) money overflow at the
Float -> DECIMAL seam (survey §1.3; reference ``Mechanism Y.py:40``
money lands in ``sql/postgres_tables.sql:14`` NUMERIC(18,2), where
overflow raises 'numeric field overflow').

The contract pinned here, at every level money crosses a narrower type:

* per-row: NaN/NULL amounts stay NULL (non-values, round-8 axis);
  a FINITE amount the column cannot hold fails LOUDLY - pre-fix,
  ``try_cast`` silently NULLed it and the batch sum dropped real money;
* per-batch: a batch total over DECIMAL(18,2) refuses loudly;
* cumulative: an additive merge whose running total overflows refuses
  loudly on both backends (``JdbcStateStore`` under both of its
  wirings), and the parquet store's refused merge
  leaves prior state intact (atomic pointer swap never happened);
* ANSI-independence: the guards are explicit ``raise_error`` arms, so
  a deployment running ``spark.sql.ansi.enabled=false`` (where a plain
  cast silently returns NULL) gets the same loud refusal.
"""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql.types import (
    DecimalType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.utils import CapturedException

from pyspark_data_engineering_assignment_spark.operators.aggregates import (
    customer_merchant_batch_aggregate,
)
from pyspark_data_engineering_assignment_spark.schemas import TRANSACTION_SCHEMA
from pyspark_data_engineering_assignment_spark.state.store import (

    CUSTOMER_MERCHANT_SUMMARY,
    ParquetStateStore,
)
from tests.state_backends import make_store

pytestmark = pytest.mark.axis

NOW = "2024-01-01 00:00:00"

CM_AGG_SCHEMA = StructType(
    [
        StructField("customer_id", StringType(), False),
        StructField("merchant_id", StringType(), False),
        StructField("transaction_count", LongType(), True),
        StructField("total_amount_sum", DecimalType(18, 2), True),
    ]
)


def _tx(spark, amounts):
    rows = [
        (0, "C1", "3", "M", "28007", "M1", "28007", "es_a", a, 0)
        for a in amounts
    ]
    return spark.createDataFrame(rows, TRANSACTION_SCHEMA)


@pytest.fixture
def ansi_off(spark):
    """Run the wrapped test with ANSI off - the mode where a plain cast
    silently NULLs on overflow, so only an explicit guard can be loud."""
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_oversized_finite_amount_refuses_loudly(spark, ansi_off):
    agg = customer_merchant_batch_aggregate(_tx(spark, [1e17, 5.0]))
    with pytest.raises(CapturedException, match="money overflow: amount"):
        agg.collect()


def test_nan_and_null_amounts_stay_null_non_values(spark):
    # the round-8 adjudication survives the overflow guard: NaN/NULL
    # contribute nothing, in-range values still sum penny-exact
    agg = customer_merchant_batch_aggregate(
        _tx(spark, [float("nan"), None, 1.25, 2.50])
    ).collect()
    assert len(agg) == 1
    assert agg[0]["transaction_count"] == 4
    assert agg[0]["total_amount_sum"] == Decimal("3.75")


def test_batch_total_overflow_refuses_loudly_ansi_off(spark, ansi_off):
    # each amount fits DECIMAL(18,2); their one-batch SUM does not.
    # float32 granularity at 9e15 is ~1e9, far under the cap - the two
    # rows land at ~9.0e15 each and the total at ~1.8e16 > 1e16.
    agg = customer_merchant_batch_aggregate(
        _tx(spark, [9.0e15, 9.0e15])
    )
    with pytest.raises(CapturedException, match="money overflow: total_amount_sum"):
        agg.collect()


def test_cumulative_merge_overflow_refuses_and_keeps_state(
    spark, tmp_path, ansi_off
):
    store = ParquetStateStore(spark, str(tmp_path / "state"), n_buckets=4)
    b0 = spark.createDataFrame(
        [("C1", "M1", 1, Decimal("6000000000000000.00"))], CM_AGG_SCHEMA
    )
    store.merge_batch(CUSTOMER_MERCHANT_SUMMARY, b0, batch_id=0, now=NOW)
    b1 = spark.createDataFrame(
        [("C1", "M1", 1, Decimal("6000000000000000.00"))], CM_AGG_SCHEMA
    )
    with pytest.raises(CapturedException, match="money overflow: state.total_amount_sum"):
        store.merge_batch(CUSTOMER_MERCHANT_SUMMARY, b1, batch_id=1, now=NOW)
    # refused merge is atomic: pointer never swapped, prior state intact
    rows = store.read_state(CUSTOMER_MERCHANT_SUMMARY).collect()
    assert len(rows) == 1
    assert rows[0]["total_amount_sum"] == Decimal("6000000000000000.00")
    assert store.last_batch_id(CUSTOMER_MERCHANT_SUMMARY) == 0


@pytest.mark.parametrize("backend", ["duckdb", "jdbc"])
def test_cumulative_merge_overflow_refuses_rdbms_backends(
    spark, tmp_path, backend
):
    """The RDBMS backend inherits the reference's own refusal: DuckDB's
    DECIMAL(18,2) column (same dialect as the Postgres NUMERIC the
    reference writes to) raises on an additive UPSERT that overflows -
    never stores a wrapped or NULL total."""
    store = make_store(backend, spark, str(tmp_path / "s"))
    b0 = spark.createDataFrame(
        [("C1", "M1", 1, Decimal("6000000000000000.00"))], CM_AGG_SCHEMA
    )
    store.merge_batch(CUSTOMER_MERCHANT_SUMMARY, b0, batch_id=0, now=NOW)
    b1 = spark.createDataFrame(
        [("C1", "M1", 1, Decimal("6000000000000000.00"))], CM_AGG_SCHEMA
    )
    with pytest.raises(Exception, match="(?i)overflow|out of range|conversion"):
        store.merge_batch(CUSTOMER_MERCHANT_SUMMARY, b1, batch_id=1, now=NOW)
    rows = store.read_state(CUSTOMER_MERCHANT_SUMMARY).collect()
    assert len(rows) == 1
    assert rows[0]["total_amount_sum"] == Decimal("6000000000000000.00")
