"""State-table schema evolution (round-11) across both state backends.

A long-lived pipeline WILL add a counter to its cumulative state; at
100 TB the table cannot be dropped and re-accumulated, and the
reference's Postgres tables (sql/postgres_tables.sql:3-25) would take
ALTER TABLE DDL. ``migrate_schema`` is that operation on every
backend with ONE contract:

* key columns are the table's identity - immutable, ValueError
* added sum_cols fill/backfill with typed 0 (immediately mergeable)
* other added columns fill NULL
* dropped columns discard their data, the rest is untouched
* a type change casts in place (caller owns cast safety)
* ``last_batch_id`` carries over - replaying a pre-migration batch id
  is still a no-op afterwards
* parquet backend: one atomic pointer swap (readers never torn), old
  snapshots unreferenced at the swap and reclaimed by vacuum
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pyspark_data_engineering_assignment_spark.state.store import (
    ParquetStateStore,
    StateTableSpec,
)
from tests.state_backends import make_store

NOW = "2024-01-01 00:00:00"


def _spec(sum_fields: list[tuple[str, object]], key_type=StringType()):
    return StateTableSpec(
        "mig_table",
        ("k",),
        tuple(n for n, _ in sum_fields),
        StructType(
            [
                StructField("k", key_type, False),
                *[StructField(n, t, True) for n, t in sum_fields],
                StructField("last_updated", TimestampType(), True),
            ]
        ),
    )


OLD = _spec([("a", LongType())])
ADDED = _spec([("a", LongType()), ("b", LongType())])
DROPPED_TO = _spec([("b", LongType())])
WIDENED_FROM = _spec([("a", IntegerType())])
WIDENED_TO = _spec([("a", LongType())])


def _agg(spark, spec, rows):
    fields = [StructField("k", StringType(), False)] + [
        StructField(c, spec.schema[c].dataType, True) for c in spec.sum_cols
    ]
    return spark.createDataFrame(rows, StructType(fields))


def _state(store, spec):
    return {
        r["k"]: tuple(r[c] for c in spec.sum_cols)
        for r in store.read_state(spec).collect()
    }


@pytest.fixture(params=["parquet", "duckdb", "jdbc"])
def store(request, spark, tmp_path):
    """``JdbcStateStore`` runs under both of its wirings
    (``tests/state_backends.py``)."""
    return make_store(request.param, spark, str(tmp_path), n_buckets=4)


def test_add_sum_column_backfills_zero_and_merges(spark, store):
    store.merge_batch(OLD, _agg(spark, OLD, [("x", 3), ("y", 5)]), 0, now=NOW)
    store.merge_batch(OLD, _agg(spark, OLD, [("x", 2)]), 1, now=NOW)
    store.migrate_schema(OLD, ADDED)

    assert _state(store, ADDED) == {"x": (5, 0), "y": (5, 0)}
    # the evolved table merges batches carrying the new counter
    store.merge_batch(
        ADDED, _agg(spark, ADDED, [("x", 1, 10), ("z", 7, 70)]), 2, now=NOW
    )
    assert _state(store, ADDED) == {"x": (6, 10), "y": (5, 0), "z": (7, 70)}


def test_replay_of_premigration_batch_stays_noop(spark, store):
    store.merge_batch(OLD, _agg(spark, OLD, [("x", 3)]), 0, now=NOW)
    store.merge_batch(OLD, _agg(spark, OLD, [("x", 4)]), 1, now=NOW)
    store.migrate_schema(OLD, ADDED)
    # a stream restart replays batch 1 under the NEW schema: no-op
    store.merge_batch(
        ADDED, _agg(spark, ADDED, [("x", 999, 999)]), 1, now=NOW
    )
    assert _state(store, ADDED) == {"x": (7, 0)}


def test_drop_column_discards_only_that_data(spark, store):
    store.merge_batch(
        ADDED, _agg(spark, ADDED, [("x", 3, 30), ("y", 5, 50)]), 0, now=NOW
    )
    store.migrate_schema(ADDED, DROPPED_TO)
    assert _state(store, DROPPED_TO) == {"x": (30,), "y": (50,)}


def test_widen_type_preserves_values(spark, store):
    store.merge_batch(
        WIDENED_FROM, _agg(spark, WIDENED_FROM, [("x", 2**30)]), 0, now=NOW
    )
    store.migrate_schema(WIDENED_FROM, WIDENED_TO)
    assert _state(store, WIDENED_TO) == {"x": (2**30,)}
    store.merge_batch(
        WIDENED_TO, _agg(spark, WIDENED_TO, [("x", 2**40)]), 1, now=NOW
    )
    assert _state(store, WIDENED_TO) == {"x": (2**30 + 2**40,)}


def test_key_change_is_refused(spark, store):
    other = StateTableSpec(
        "mig_table",
        ("k2",),
        ("a",),
        StructType(
            [
                StructField("k2", StringType(), False),
                StructField("a", LongType(), True),
                StructField("last_updated", TimestampType(), True),
            ]
        ),
    )
    store.merge_batch(OLD, _agg(spark, OLD, [("x", 1)]), 0, now=NOW)
    with pytest.raises(ValueError, match="identity"):
        store.migrate_schema(OLD, other)


def test_parquet_migration_swaps_atomically_and_vacuums(spark, tmp_path):
    store = ParquetStateStore(spark, str(tmp_path), n_buckets=4)
    store.merge_batch(OLD, _agg(spark, OLD, [("x", 3), ("y", 5)]), 0, now=NOW)
    before = store.bucket_versions(OLD)
    store.migrate_schema(OLD, ADDED)
    after = store.bucket_versions(ADDED)
    assert set(after.values()) == {max(int(v) for v in after.values())}
    assert before != after
    # superseded snapshots: spared inside the retention window,
    # reclaimed outside it, state intact throughout
    assert store.vacuum(ADDED, retention_seconds=3600.0) == 0
    assert store.vacuum(ADDED) == len(before)
    assert _state(store, ADDED) == {"x": (3, 0), "y": (5, 0)}


def test_parquet_migration_crash_before_swap_leaves_table_intact(
    spark, tmp_path, monkeypatch
):
    """Crash-atomicity: migrate_schema writes the full new version
    BEFORE the single pointer swap. A crash between the two (simulated
    by failing _write_pointer) must leave the table reading the OLD
    schema and content completely, and a retry must succeed - the
    orphaned half-written version is unreferenced garbage for vacuum,
    never visible state."""
    store = ParquetStateStore(spark, str(tmp_path), n_buckets=4)
    store.merge_batch(OLD, _agg(spark, OLD, [("x", 3), ("y", 5)]), 0, now=NOW)
    before_versions = store.bucket_versions(OLD)

    real = ParquetStateStore._write_pointer

    def crash(self, table, pointer):
        raise RuntimeError("injected crash before pointer swap")

    monkeypatch.setattr(ParquetStateStore, "_write_pointer", crash)
    with pytest.raises(RuntimeError, match="injected"):
        store.migrate_schema(OLD, ADDED)
    monkeypatch.setattr(ParquetStateStore, "_write_pointer", real)

    # old pointer untouched: table reads fully under the OLD spec
    assert store.bucket_versions(OLD) == before_versions
    assert _state(store, OLD) == {"x": (3,), "y": (5,)}
    # retry completes; the orphaned version is vacuum fodder
    store.migrate_schema(OLD, ADDED)
    assert _state(store, ADDED) == {"x": (3, 0), "y": (5, 0)}
    assert store.vacuum(ADDED) >= len(before_versions)
    assert _state(store, ADDED) == {"x": (3, 0), "y": (5, 0)}
