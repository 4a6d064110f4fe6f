"""State-merge unit tests (SURVEY §5.2): the additive MERGE contract vs
the reference's ``INSERT ... ON CONFLICT DO UPDATE`` semantics
(``Mechanism Y.py:152-160``, ``:173-179``, ``:196-202``):

  * new keys insert, existing keys add counters
  * Decimal(18,2) money stays penny-exact across merges
  * null counters coalesce to 0 (``Mechanism Y.py:178``)
  * replaying a batch_id is a no-op (idempotence - fixes survey §7.4.2)
  * batch-invariance: different chunkings of the same rows yield
    identical final state
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

from pyspark_data_engineering_assignment_spark.state.jdbc_store import (
    JdbcStateStore,
)
from pyspark_data_engineering_assignment_spark.state.store import (
    CUSTOMER_MERCHANT_SUMMARY,
    MERCHANT_SUMMARY,
    ParquetStateStore,
)
from tests.state_backends import make_store

NOW = "2024-01-01 00:00:00"

MERCHANT_AGG_SCHEMA = StructType(
    [
        StructField("merchant_id", StringType(), False),
        StructField("total_transactions", LongType(), True),
    ]
)

CM_AGG_SCHEMA = StructType(
    [
        StructField("customer_id", StringType(), False),
        StructField("merchant_id", StringType(), False),
        StructField("transaction_count", LongType(), True),
        StructField("total_amount_sum", DecimalType(18, 2), True),
    ]
)


@pytest.fixture(params=["parquet", "duckdb", "jdbc"])
def store(request, spark, tmp_path):
    """Every merge-semantics test runs against both backends: the
    distributed parquet/Delta-shaped store and the reference-protocol
    temp-table+UPSERT store, the latter under both of its wirings
    (``tests/state_backends.py``)."""
    return make_store(request.param, spark, str(tmp_path / "state"))


def merchant_state(store):
    rows = store.read_state(MERCHANT_SUMMARY).collect()
    return {r["merchant_id"]: r["total_transactions"] for r in rows}


def cm_state(store):
    rows = store.read_state(CUSTOMER_MERCHANT_SUMMARY).collect()
    return {
        (r["customer_id"], r["merchant_id"]): (
            r["transaction_count"],
            r["total_amount_sum"],
        )
        for r in rows
    }


def test_empty_state_has_schema(spark, store):
    df = store.read_state(MERCHANT_SUMMARY)
    assert df.count() == 0
    assert df.schema == MERCHANT_SUMMARY.schema


def test_insert_then_additive_merge(spark, store):
    b0 = spark.createDataFrame([("M1", 3)], MERCHANT_AGG_SCHEMA)
    store.merge_batch(MERCHANT_SUMMARY, b0, batch_id=0, now=NOW)
    assert merchant_state(store) == {"M1": 3}

    b1 = spark.createDataFrame([("M1", 2), ("M2", 5)], MERCHANT_AGG_SCHEMA)
    store.merge_batch(MERCHANT_SUMMARY, b1, batch_id=1, now=NOW)
    assert merchant_state(store) == {"M1": 5, "M2": 5}


def test_replayed_batch_is_noop(spark, store):
    b0 = spark.createDataFrame([("M1", 3)], MERCHANT_AGG_SCHEMA)
    store.merge_batch(MERCHANT_SUMMARY, b0, batch_id=0, now=NOW)
    # replay the same epoch (crash-before-checkpoint scenario) and an
    # older epoch: neither may double-count
    store.merge_batch(MERCHANT_SUMMARY, b0, batch_id=0, now=NOW)
    store.merge_batch(MERCHANT_SUMMARY, b0, batch_id=-1, now=NOW)
    assert merchant_state(store) == {"M1": 3}


def test_decimal_penny_exactness(spark, store):
    # 0.10 + 0.20 is not float-representable; the Decimal(18,2) path must
    # carry it exactly across three separate merges.
    for bid, amt in enumerate(["0.10", "0.20", "0.30"]):
        b = spark.createDataFrame(
            [("C1", "M1", 1, Decimal(amt))], CM_AGG_SCHEMA
        )
        store.merge_batch(CUSTOMER_MERCHANT_SUMMARY, b, batch_id=bid, now=NOW)
    count, total = cm_state(store)[("C1", "M1")]
    assert count == 3
    assert total == Decimal("0.60")


def test_null_amount_coalesces_to_zero(spark, store):
    b0 = spark.createDataFrame([("C1", "M1", 2, Decimal("5.00"))], CM_AGG_SCHEMA)
    b1 = spark.createDataFrame([("C1", "M1", 1, None)], CM_AGG_SCHEMA)
    store.merge_batch(CUSTOMER_MERCHANT_SUMMARY, b0, batch_id=0, now=NOW)
    store.merge_batch(CUSTOMER_MERCHANT_SUMMARY, b1, batch_id=1, now=NOW)
    count, total = cm_state(store)[("C1", "M1")]
    assert count == 3
    assert total == Decimal("5.00")


def test_null_keyed_rows_excluded_both_backends(spark, store):
    """A NULL key is an unattributable upstream row (a malformed CSV line
    PERMISSIVE-nulls every field), not a key. Before this contract the
    backends DIVERGED on the same input: DuckDB's PRIMARY KEY threw
    ``NOT NULL constraint failed`` - and since the poisoned source file is
    still there on restart, the stream crash-LOOPED forever - while the
    parquet store silently accumulated a NULL-keyed state row. Now both
    exclude NULL-keyed rows and agree; non-null keys in the same batch
    merge unaffected."""
    nullable = StructType(
        [
            StructField("merchant_id", StringType(), True),
            StructField("total_transactions", LongType(), True),
        ]
    )
    b0 = spark.createDataFrame([(None, 5), ("M1", 3)], nullable)
    store.merge_batch(MERCHANT_SUMMARY, b0, batch_id=0, now=NOW)
    assert merchant_state(store) == {"M1": 3}
    # batch_id still advances past the poisoned batch: no crash loop
    assert store.last_batch_id(MERCHANT_SUMMARY) == 0

    # multi-key table: ONE null key component already unattributes the row
    cm_nullable = StructType(
        [
            StructField("customer_id", StringType(), True),
            StructField("merchant_id", StringType(), True),
            StructField("transaction_count", LongType(), True),
            StructField("total_amount_sum", DecimalType(18, 2), True),
        ]
    )
    b1 = spark.createDataFrame(
        [
            ("C1", None, 1, Decimal("1.00")),
            (None, "M1", 1, Decimal("2.00")),
            ("C1", "M1", 2, Decimal("5.00")),
        ],
        cm_nullable,
    )
    store.merge_batch(CUSTOMER_MERCHANT_SUMMARY, b1, batch_id=0, now=NOW)
    assert cm_state(store) == {("C1", "M1"): (2, Decimal("5.00"))}


def test_all_null_keyed_batch_is_empty_merge(spark, store):
    """A batch whose every row is NULL-keyed degenerates to the empty
    merge: no state change, batch_id advances (the stream moves on)."""
    nullable = StructType(
        [
            StructField("merchant_id", StringType(), True),
            StructField("total_transactions", LongType(), True),
        ]
    )
    good = spark.createDataFrame([("M1", 3)], nullable)
    store.merge_batch(MERCHANT_SUMMARY, good, batch_id=0, now=NOW)
    poisoned = spark.createDataFrame([(None, 9)], nullable)
    store.merge_batch(MERCHANT_SUMMARY, poisoned, batch_id=1, now=NOW)
    assert merchant_state(store) == {"M1": 3}
    assert store.last_batch_id(MERCHANT_SUMMARY) == 1


@pytest.mark.parametrize("backend", ["parquet", "duckdb", "jdbc"])
def test_batch_invariance(spark, tmp_path, backend):
    """Chunking must not matter: one big batch vs three small ones yield
    the same final state (survey §5.4 property)."""
    rows = [
        ("C1", "M1", 1, Decimal("10.00")),
        ("C1", "M1", 2, Decimal("2.50")),
        ("C2", "M1", 1, Decimal("7.25")),
        ("C2", "M2", 4, Decimal("0.75")),
    ]
    one = make_store(backend, spark, str(tmp_path / "one"))
    one.merge_batch(
        CUSTOMER_MERCHANT_SUMMARY,
        spark.createDataFrame(rows, CM_AGG_SCHEMA),
        batch_id=0,
        now=NOW,
    )
    many = make_store(backend, spark, str(tmp_path / "many"))
    for bid, row in enumerate(rows):
        many.merge_batch(
            CUSTOMER_MERCHANT_SUMMARY,
            spark.createDataFrame([row], CM_AGG_SCHEMA),
            batch_id=bid,
            now=NOW,
        )
    assert cm_state(one) == cm_state(many)


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """Scale property of the parquet store: a merge leaves every bucket
    without touched keys at its existing snapshot version (per-batch I/O
    is O(touched state), not O(state))."""
    store = ParquetStateStore(spark, str(tmp_path / "state"), n_buckets=8)
    seed = [(f"M{i}", 1) for i in range(32)]  # spread keys across buckets
    store.merge_batch(
        MERCHANT_SUMMARY,
        spark.createDataFrame(seed, MERCHANT_AGG_SCHEMA),
        batch_id=0,
        now=NOW,
    )
    v0 = store.bucket_versions(MERCHANT_SUMMARY)
    assert len(v0) == 8  # 32 keys cover all 8 buckets

    store.merge_batch(
        MERCHANT_SUMMARY,
        spark.createDataFrame([("M0", 5)], MERCHANT_AGG_SCHEMA),
        batch_id=1,
        now=NOW,
    )
    v1 = store.bucket_versions(MERCHANT_SUMMARY)
    changed = {b for b in v1 if v1[b] != v0[b]}
    assert len(changed) == 1  # only M0's bucket was rewritten
    assert merchant_state(store)["M0"] == 6  # and the merge still added


def test_vacuum_removes_only_unreferenced_snapshots(spark, tmp_path):
    store = ParquetStateStore(spark, str(tmp_path / "state"), n_buckets=4)
    for bid in range(3):  # every merge touches M0's bucket -> 2 stale snapshots
        store.merge_batch(
            MERCHANT_SUMMARY,
            spark.createDataFrame([("M0", 1)], MERCHANT_AGG_SCHEMA),
            batch_id=bid,
            now=NOW,
        )
    before = merchant_state(store)
    removed = store.vacuum(MERCHANT_SUMMARY)
    assert removed == 2
    assert merchant_state(store) == before == {"M0": 3}
    assert store.vacuum(MERCHANT_SUMMARY) == 0  # idempotent


@pytest.mark.parametrize("backend", ["parquet", "duckdb", "jdbc"])
def test_backends_agree(spark, tmp_path, backend):
    """Cross-backend contract: identical batch sequence -> identical
    state rows (modulo last_updated, pinned via now=...)."""
    batches = [
        [("C1", "M1", 1, Decimal("0.10")), ("C2", "M1", 1, None)],
        [("C1", "M1", 2, Decimal("0.20"))],
    ]
    ref = make_store("parquet", spark, str(tmp_path / "ref"))
    other = make_store(backend, spark, str(tmp_path / "other"))
    for bid, rows in enumerate(batches):
        for s in (ref, other):
            s.merge_batch(
                CUSTOMER_MERCHANT_SUMMARY,
                spark.createDataFrame(rows, CM_AGG_SCHEMA),
                batch_id=bid,
                now=NOW,
            )
    assert cm_state(ref) == cm_state(other)


def test_batch_meta_roundtrip_both_backends(spark, store):
    """merge_batch(meta=...) is recorded atomically with the merge and
    readable back for the SAME batch id only - the crash-safe channel a
    replayed micro-batch uses to report its original sink count."""
    b0 = spark.createDataFrame([("M1", 3)], MERCHANT_AGG_SCHEMA)
    store.merge_batch(MERCHANT_SUMMARY, b0, batch_id=0, now=NOW, meta={"n": 7})
    assert store.batch_meta(MERCHANT_SUMMARY, 0) == {"n": 7}
    assert store.batch_meta(MERCHANT_SUMMARY, 1) is None
    # the next merge's meta supersedes (one latest entry by design)
    b1 = spark.createDataFrame([("M2", 1)], MERCHANT_AGG_SCHEMA)
    store.merge_batch(MERCHANT_SUMMARY, b1, batch_id=1, now=NOW, meta={"n": 2})
    assert store.batch_meta(MERCHANT_SUMMARY, 1) == {"n": 2}
    assert store.batch_meta(MERCHANT_SUMMARY, 0) is None


def test_merge_without_meta_clears_stale_meta(spark, store):
    b0 = spark.createDataFrame([("M1", 3)], MERCHANT_AGG_SCHEMA)
    store.merge_batch(MERCHANT_SUMMARY, b0, batch_id=0, now=NOW, meta={"n": 7})
    b1 = spark.createDataFrame([("M2", 1)], MERCHANT_AGG_SCHEMA)
    store.merge_batch(MERCHANT_SUMMARY, b1, batch_id=1, now=NOW)
    assert store.batch_meta(MERCHANT_SUMMARY, 0) is None
    assert store.batch_meta(MERCHANT_SUMMARY, 1) is None


def test_duckdb_driver_boundary_guard(spark, tmp_path):
    """JdbcStateStore tops out at max_batch_rows: a fact-sized frame
    routed at it raises instead of OOMing the driver, and the over-limit
    batch is NOT applied (no ledger entry, no state, no temp table)."""
    from pyspark.sql import functions as F

    store = JdbcStateStore.duckdb(
        spark, str(tmp_path / "guard.duckdb"), max_batch_rows=10
    )
    big = spark.range(11).select(
        F.concat(F.lit("M"), F.col("id")).alias("merchant_id"),
        F.lit(1).cast("long").alias("total_transactions"),
    )
    with pytest.raises(ValueError, match="max_batch_rows"):
        store.merge_batch(MERCHANT_SUMMARY, big, batch_id=0, now=NOW)
    assert store.last_batch_id(MERCHANT_SUMMARY) == -1
    assert store.read_state(MERCHANT_SUMMARY).count() == 0
    store.cur.execute("SELECT table_name FROM information_schema.tables")
    assert not [t for (t,) in store.cur.fetchall() if t.startswith("temp_")]
    # at or under the ceiling passes
    ok = big.limit(10)
    store.merge_batch(MERCHANT_SUMMARY, ok, batch_id=0, now=NOW)
    assert store.read_state(MERCHANT_SUMMARY).count() == 10


def test_state_store_protocol_is_satisfied():
    """The Protocol declares everything DetectionPipeline calls
    (read_state/merge_batch/last_batch_id/batch_meta/vacuum); both
    backends must structurally provide the full surface."""
    for backend in (ParquetStateStore, JdbcStateStore):
        for method in ("read_state", "merge_batch", "last_batch_id",
                       "batch_meta", "vacuum"):
            assert callable(getattr(backend, method)), (backend, method)


def _full_rows(store, spec):
    """Every column of every state row, last_updated included - the
    bit-identity witness for the rebucket tests."""
    return sorted(
        tuple(r) for r in store.read_state(spec).collect()
    )


def test_rebucket_preserves_content_and_merge_parity(spark, tmp_path):
    """The SCALING.md known-limit migration: growing 4 -> 32 buckets
    must preserve state bit-identically, carry the replay guard, and
    leave a store whose SUBSEQUENT merges equal those of a store born
    at 32 buckets (the bucket count is physical layout, never
    semantics)."""
    grown = ParquetStateStore(spark, str(tmp_path / "grown"), n_buckets=4)
    born32 = ParquetStateStore(spark, str(tmp_path / "born32"), n_buckets=32)
    b0 = spark.createDataFrame(
        [(f"C{i}", f"M{i % 5}", 1, Decimal(f"{i}.25")) for i in range(40)],
        CM_AGG_SCHEMA,
    )
    for s in (grown, born32):
        s.merge_batch(CUSTOMER_MERCHANT_SUMMARY, b0, batch_id=0, now=NOW)

    before = _full_rows(grown, CUSTOMER_MERCHANT_SUMMARY)
    n_written = grown.rebucket(CUSTOMER_MERCHANT_SUMMARY, 32)
    assert 1 <= n_written <= 32
    # bit-identical content, carried replay guard, new layout
    assert _full_rows(grown, CUSTOMER_MERCHANT_SUMMARY) == before
    assert grown.last_batch_id(CUSTOMER_MERCHANT_SUMMARY) == 0
    assert grown._read_pointer(CUSTOMER_MERCHANT_SUMMARY.name)["n_buckets"] == 32

    # replay of batch 0 is still a no-op after the migration
    grown.merge_batch(CUSTOMER_MERCHANT_SUMMARY, b0, batch_id=0, now=NOW)
    assert _full_rows(grown, CUSTOMER_MERCHANT_SUMMARY) == before

    # subsequent merges: the migrated store and the born-at-32 store
    # must agree exactly (penny-exact decimals included)
    b1 = spark.createDataFrame(
        [("C3", "M3", 2, Decimal("0.75")), ("CX", "M9", 1, Decimal("9.99"))],
        CM_AGG_SCHEMA,
    )
    for s in (grown, born32):
        s.merge_batch(CUSTOMER_MERCHANT_SUMMARY, b1, batch_id=1, now=NOW)
    assert _full_rows(grown, CUSTOMER_MERCHANT_SUMMARY) == _full_rows(
        born32, CUSTOMER_MERCHANT_SUMMARY
    )
    # and the migrated layout actually prunes: a one-key merge rewrites
    # exactly one of the 32 buckets
    v_pre = grown.bucket_versions(CUSTOMER_MERCHANT_SUMMARY)
    grown.merge_batch(
        CUSTOMER_MERCHANT_SUMMARY,
        spark.createDataFrame([("C3", "M3", 1, Decimal("1.00"))], CM_AGG_SCHEMA),
        batch_id=2,
        now=NOW,
    )
    v_post = grown.bucket_versions(CUSTOMER_MERCHANT_SUMMARY)
    assert sum(1 for b in v_post if v_post.get(b) != v_pre.get(b)) == 1


def test_rebucket_shrink_and_vacuum(spark, tmp_path):
    """Shrinking compacts an over-bucketed table; the old snapshots are
    unreferenced afterwards and vacuum reclaims them."""
    store = ParquetStateStore(spark, str(tmp_path / "state"), n_buckets=16)
    b0 = spark.createDataFrame([(f"M{i}", i) for i in range(24)], MERCHANT_AGG_SCHEMA)
    store.merge_batch(MERCHANT_SUMMARY, b0, batch_id=0, now=NOW)
    before = _full_rows(store, MERCHANT_SUMMARY)
    store.rebucket(MERCHANT_SUMMARY, 2)
    assert _full_rows(store, MERCHANT_SUMMARY) == before
    assert len(store.bucket_versions(MERCHANT_SUMMARY)) <= 2
    assert store.vacuum(MERCHANT_SUMMARY) > 0  # the 16-bucket snapshot
    assert _full_rows(store, MERCHANT_SUMMARY) == before  # still readable


def test_rebucket_empty_store_and_bad_n(spark, tmp_path):
    store = ParquetStateStore(spark, str(tmp_path / "state"), n_buckets=4)
    assert store.rebucket(MERCHANT_SUMMARY, 8) == 0
    assert store.read_state(MERCHANT_SUMMARY).count() == 0
    # a merge after the empty-store migration lands in the new layout
    store.merge_batch(
        MERCHANT_SUMMARY,
        spark.createDataFrame([("M1", 1)], MERCHANT_AGG_SCHEMA),
        batch_id=0,
        now=NOW,
    )
    assert merchant_state(store) == {"M1": 1}
    with pytest.raises(ValueError, match="new_n_buckets"):
        store.rebucket(MERCHANT_SUMMARY, 0)


def test_vacuum_retention_spares_recent_snapshots(spark, tmp_path):
    """Delta-retention analog: a lazy DataFrame read BEFORE a merge
    superseded its snapshot still scans the old paths, so vacuum with a
    retention window must spare snapshots unreferenced more recently
    than the window - out-of-band readers stay safe for queries shorter
    than the retention."""
    import os as _os

    store = ParquetStateStore(spark, str(tmp_path / "state"), n_buckets=2)
    b = spark.createDataFrame([("M1", 1)], MERCHANT_AGG_SCHEMA)
    store.merge_batch(MERCHANT_SUMMARY, b, batch_id=0, now=NOW)
    # a pre-supersede lazy reader over the v=0 snapshot
    stale_reader = store.read_state(MERCHANT_SUMMARY)
    store.merge_batch(MERCHANT_SUMMARY, b, batch_id=1, now=NOW)  # supersedes v=0

    # inside the window: nothing reclaimed, the stale reader still scans
    assert store.vacuum(MERCHANT_SUMMARY, retention_seconds=3600) == 0
    assert stale_reader.count() == 1

    # age the old snapshot past the window: reclaimed
    root = str(tmp_path / "state" / MERCHANT_SUMMARY.name)
    for d in _os.listdir(root):
        if d.startswith("v="):
            for bdir in _os.listdir(_os.path.join(root, d)):
                p = _os.path.join(root, d, bdir)
                _os.utime(p, (0, 0))
    assert store.vacuum(MERCHANT_SUMMARY, retention_seconds=3600) > 0
    assert merchant_state(store) == {"M1": 2}  # live state untouched


def test_vacuum_retention_clock_starts_at_unreference_time(spark, tmp_path):
    """The retention window measures from when a snapshot was SUPERSEDED
    (Delta's remove-action deletionTimestamp), not from when it was
    WRITTEN. An old snapshot that stayed live for hours and was
    superseded a moment ago must survive a vacuum whose window is far
    shorter than the snapshot's age - otherwise any long-lived snapshot
    is reclaimed the instant a merge supersedes it and the out-of-band
    reader guarantee is false (round-10 advisor medium)."""
    import os as _os

    store = ParquetStateStore(spark, str(tmp_path / "state"), n_buckets=2)
    b = spark.createDataFrame([("M1", 1)], MERCHANT_AGG_SCHEMA)
    store.merge_batch(MERCHANT_SUMMARY, b, batch_id=0, now=NOW)

    # make the v=0 snapshot LOOK hours old (old WRITE time) while still live
    root = str(tmp_path / "state" / MERCHANT_SUMMARY.name)
    for d in _os.listdir(root):
        if not d.startswith("v="):
            continue
        for bdir in _os.listdir(_os.path.join(root, d)):
            if bdir.startswith("_bucket="):
                _os.utime(_os.path.join(root, d, bdir), (0, 0))

    stale_reader = store.read_state(MERCHANT_SUMMARY)
    # supersede it NOW: the pointer swap restamps the old dirs' mtime
    store.merge_batch(MERCHANT_SUMMARY, b, batch_id=1, now=NOW)

    # write-time is epoch 0 (way past any window) but unreference-time is
    # "just now": a 1h window must spare it, and the stale reader scans on
    assert store.vacuum(MERCHANT_SUMMARY, retention_seconds=3600) == 0
    assert stale_reader.count() == 1
    # with no window it is reclaimable as before
    assert store.vacuum(MERCHANT_SUMMARY, retention_seconds=0) > 0


def test_rebucket_restamps_superseded_snapshots(spark, tmp_path):
    """rebucket supersedes EVERY old bucket at once; each gets the
    unreference-time stamp so a retention vacuum right after a
    migration spares the pre-migration snapshot."""
    import os as _os

    store = ParquetStateStore(spark, str(tmp_path / "state"), n_buckets=4)
    rows = [(f"M{i}", i) for i in range(8)]
    store.merge_batch(
        MERCHANT_SUMMARY,
        spark.createDataFrame(rows, MERCHANT_AGG_SCHEMA),
        batch_id=0,
        now=NOW,
    )
    root = str(tmp_path / "state" / MERCHANT_SUMMARY.name)
    for d in _os.listdir(root):
        if not d.startswith("v="):
            continue
        for bdir in _os.listdir(_os.path.join(root, d)):
            if bdir.startswith("_bucket="):
                _os.utime(_os.path.join(root, d, bdir), (0, 0))
    stale_reader = store.read_state(MERCHANT_SUMMARY)
    store.rebucket(MERCHANT_SUMMARY, 8)
    assert store.vacuum(MERCHANT_SUMMARY, retention_seconds=3600) == 0
    assert stale_reader.count() == 8
    assert store.vacuum(MERCHANT_SUMMARY, retention_seconds=0) > 0
    assert merchant_state(store) == {f"M{i}": i for i in range(8)}


def test_vacuum_retention0_spares_fresh_temporary_dir(spark, tmp_path):
    """Round-12 advice pin: at retention_seconds=0 the retention cutoff
    equals now(), so the old "mtime check" spared nothing and a live
    writer's _temporary-bearing version dir (mkdirs done, no bucket
    committed yet) could be swept mid-write by a mis-assumed
    single-writer vacuum. Now such dirs get a fixed grace
    (_IN_FLIGHT_GRACE_S): a FRESH _temporary tree survives retention-0
    vacuum; a STALE one (crash orphan) is reclaimed; bare-empty fresh
    dirs still sweep immediately (the single-writer fast path)."""
    import os

    store = ParquetStateStore(spark, str(tmp_path / "state"), n_buckets=4)
    store.merge_batch(
        MERCHANT_SUMMARY,
        spark.createDataFrame([("M0", 1)], MERCHANT_AGG_SCHEMA),
        batch_id=0,
        now=NOW,
    )
    tdir = os.path.join(str(tmp_path / "state"), MERCHANT_SUMMARY.name)

    # a concurrent writer mid-commit: version dir holding only _temporary
    live_commit = os.path.join(tdir, "v=777", "_temporary")
    os.makedirs(live_commit)
    store.vacuum(MERCHANT_SUMMARY, retention_seconds=0)
    assert os.path.exists(live_commit)  # spared by the fixed grace

    # the same shape gone stale (crashed writer) reclaims
    os.utime(os.path.join(tdir, "v=777"), (0, 0))
    store.vacuum(MERCHANT_SUMMARY, retention_seconds=0)
    assert not os.path.exists(os.path.join(tdir, "v=777"))

    # bare-empty fresh dir: still swept immediately at retention 0
    bare = os.path.join(tdir, "v=778")
    os.makedirs(bare)
    store.vacuum(MERCHANT_SUMMARY, retention_seconds=0)
    assert not os.path.exists(bare)


def _last_merge_buckets(store, spec):
    """The ``_bucket=`` dirs the latest write created (its ``v=`` dir)."""
    import os

    version = store._read_pointer(spec.name)["next_version"] - 1
    vdir = os.path.join(store.root, spec.name, f"v={version}")
    return sorted(d for d in os.listdir(vdir) if d.startswith("_bucket="))


def test_default_store_writes_one_bucket_per_table_per_merge(spark, tmp_path):
    """A new table starts with one bucket: state far below the split
    target (``ParquetStateStore._SPLIT_BYTES``, 4 MB) is one
    file set per table, so each merge writes one ``_bucket=`` dir per
    touched table instead of one per hash bucket."""
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    for bid in range(2):
        store.merge_batch(
            MERCHANT_SUMMARY,
            spark.createDataFrame(
                [(f"M{i}", 1) for i in range(50)], MERCHANT_AGG_SCHEMA
            ),
            batch_id=bid,
            now=NOW,
        )
        store.merge_batch(
            CUSTOMER_MERCHANT_SUMMARY,
            spark.createDataFrame(
                [(f"C{i}", f"M{i % 7}", 1, Decimal("1.50")) for i in range(50)],
                CM_AGG_SCHEMA,
            ),
            batch_id=bid,
            now=NOW,
        )
        for spec in (MERCHANT_SUMMARY, CUSTOMER_MERCHANT_SUMMARY):
            assert _last_merge_buckets(store, spec) == ["_bucket=0"], spec.name
            assert store._read_pointer(spec.name)["n_buckets"] == 1
    assert merchant_state(store) == {f"M{i}": 2 for i in range(50)}
    assert cm_state(store)[("C7", "M0")] == (2, Decimal("3.00"))


def test_merge_splits_a_bucket_grown_past_the_open_cost(spark, tmp_path):
    """A merge that leaves a bucket over the split target rebuckets the
    table under its lock to a power-of-two multiple of the old count.
    The content stays bit-identical to a store born at the final count,
    the replay guard and batch_meta carry over, and replaying the batch
    that triggered the growth is a no-op."""
    grown = ParquetStateStore(spark, str(tmp_path / "grown"))
    grown._SPLIT_BYTES = 2048  # a few hundred rows pass it
    b0 = spark.createDataFrame(
        [(f"C{i}", f"M{i % 5}", 1, Decimal(f"{i}.25")) for i in range(10)],
        CM_AGG_SCHEMA,
    )
    b1 = spark.createDataFrame(
        [(f"C{i}", f"M{i % 9}", 2, Decimal(f"{i}.10")) for i in range(400)],
        CM_AGG_SCHEMA,
    )
    spec = CUSTOMER_MERCHANT_SUMMARY
    grown.merge_batch(spec, b0, batch_id=0, now=NOW)
    assert grown._read_pointer(spec.name)["n_buckets"] == 1  # under target
    grown.merge_batch(spec, b1, batch_id=1, now=NOW, meta={"n": 11})
    n = grown._read_pointer(spec.name)["n_buckets"]
    assert n >= 2 and n & (n - 1) == 0, n
    assert grown.last_batch_id(spec) == 1
    assert grown.batch_meta(spec, 1) == {"n": 11}

    born = ParquetStateStore(spark, str(tmp_path / "born"), n_buckets=n)
    born.merge_batch(spec, b0, batch_id=0, now=NOW)
    born.merge_batch(spec, b1, batch_id=1, now=NOW, meta={"n": 11})
    assert born._read_pointer(spec.name)["n_buckets"] == n
    after = _full_rows(grown, spec)
    assert after == _full_rows(born, spec)
    assert grown.bucket_versions(spec).keys() == born.bucket_versions(spec).keys()

    # replaying the growth-triggering batch changes nothing
    grown.merge_batch(spec, b1, batch_id=1, now=NOW, meta={"n": 99})
    assert _full_rows(grown, spec) == after
    assert grown._read_pointer(spec.name)["n_buckets"] == n
    assert grown.batch_meta(spec, 1) == {"n": 11}


def test_explicit_bucket_count_below_target_never_changes(spark, tmp_path):
    store = ParquetStateStore(spark, str(tmp_path / "state"), n_buckets=4)
    for bid in range(3):
        store.merge_batch(
            MERCHANT_SUMMARY,
            spark.createDataFrame(
                [(f"M{bid}_{i}", i) for i in range(100)], MERCHANT_AGG_SCHEMA
            ),
            batch_id=bid,
            now=NOW,
        )
        assert store._read_pointer(MERCHANT_SUMMARY.name)["n_buckets"] == 4
    assert len(store.bucket_versions(MERCHANT_SUMMARY)) == 4


def test_table_written_with_16_buckets_keeps_its_layout(spark, tmp_path):
    """A state directory from a store that created its tables with 16
    buckets (the former default) is read and merged unchanged by a
    default store: the count lives in the table's pointer, and a merge
    still rewrites only the touched bucket."""
    root = str(tmp_path / "state")
    old = ParquetStateStore(spark, root, n_buckets=16)
    old.merge_batch(
        MERCHANT_SUMMARY,
        spark.createDataFrame([(f"M{i}", 1) for i in range(64)], MERCHANT_AGG_SCHEMA),
        batch_id=0,
        now=NOW,
    )
    before = old.bucket_versions(MERCHANT_SUMMARY)
    assert len(before) == 16

    store = ParquetStateStore(spark, root)
    assert merchant_state(store) == {f"M{i}": 1 for i in range(64)}
    store.merge_batch(
        MERCHANT_SUMMARY,
        spark.createDataFrame([("M0", 5)], MERCHANT_AGG_SCHEMA),
        batch_id=1,
        now=NOW,
    )
    after = store.bucket_versions(MERCHANT_SUMMARY)
    assert store._read_pointer(MERCHANT_SUMMARY.name)["n_buckets"] == 16
    assert sum(1 for b in after if after[b] != before[b]) == 1
    assert merchant_state(store)["M0"] == 6
