"""JdbcStateStore: the reference's temp-table + UPSERT protocol (round-11
VERDICT task #4).

Two halves:

  1. **Protocol-shape parity.** The UPSERT statements this store emits
     are asserted SHAPE-EQUAL to the reference's raw-SQL statements
     (``Mechanism Y.py:152-160`` mts, ``:176-181`` cms, ``:196-203``
     mgs) - "equal modulo identifiers": both sides are tokenized,
     identifiers canonicalized by first appearance (so naming differs
     freely but the REUSE pattern - which identifier returns where -
     must match exactly), and the one documented divergence (COALESCE
     hardening on every counter; the reference coalesces only the
     DECIMAL money column) is normalized away by unwrapping
     ``COALESCE(x, 0)`` on both sides.

  2. **Behavioral agreement.** The store satisfies the same contract
     as ``ParquetStateStore`` (see also the parametrized suite in
     ``test_state_store.py``, which runs it as "duckdb" and "jdbc"; the
     full streaming flagship runs against it in
     ``test_streaming_e2e.py``).
"""

from __future__ import annotations

import re
from decimal import Decimal

import pytest

from pyspark_data_engineering_assignment_spark.state.jdbc_store import (
    JdbcStateStore,
    create_table_sql,
    temp_table_name,
    upsert_sql,
)
from pyspark_data_engineering_assignment_spark.state.store import (
    CUSTOMER_MERCHANT_SUMMARY,
    MERCHANT_GENDER_SUMMARY,
    MERCHANT_SUMMARY,
)
from tests.state_backends import proxied_store

# --- the reference protocol statements -----------------------------------
# Shape transcribed from /root/reference/mechanism_y/Mechanism Y.py (cited
# per statement); identifiers are the reference's own. These are the
# PROTOCOL under test, not implementation code.

REF_MTS = """
INSERT INTO merchant_transaction_summary (merchant_id, total_transactions, last_updated)
SELECT source.merchant_id_src, source.current_batch_tx_count, source.current_batch_ts FROM temp_mts_updates_batch_7 AS source
ON CONFLICT (merchant_id) DO UPDATE SET
    total_transactions = merchant_transaction_summary.total_transactions + EXCLUDED.total_transactions,
    last_updated = EXCLUDED.last_updated;
"""  # Mechanism Y.py:152-160

REF_CMS = """
INSERT INTO customer_merchant_summary (customer_id, merchant_id, transaction_count, total_amount_sum, last_updated)
SELECT source.c_id_src, source.m_id_src, source.c_b_tx_c, source.c_b_s_a, source.c_b_ts FROM temp_cms_updates_batch_7 AS source
ON CONFLICT (customer_id, merchant_id) DO UPDATE SET
    transaction_count = customer_merchant_summary.transaction_count + EXCLUDED.transaction_count,
    total_amount_sum = COALESCE(customer_merchant_summary.total_amount_sum, 0.0) + COALESCE(EXCLUDED.total_amount_sum, 0.0),
    last_updated = EXCLUDED.last_updated;
"""  # Mechanism Y.py:176-181

REF_MGS = """
INSERT INTO merchant_gender_summary (merchant_id, male_transaction_count, female_transaction_count, last_updated)
SELECT source.m_id_src, source.c_b_m_c, source.c_b_f_c, source.c_b_ts FROM temp_mgs_updates_batch_7 AS source
ON CONFLICT (merchant_id) DO UPDATE SET
    male_transaction_count = merchant_gender_summary.male_transaction_count + EXCLUDED.male_transaction_count,
    female_transaction_count = merchant_gender_summary.female_transaction_count + EXCLUDED.female_transaction_count,
    last_updated = EXCLUDED.last_updated;
"""  # Mechanism Y.py:196-203

_KEYWORDS = {
    "insert", "into", "select", "from", "as", "on", "conflict", "do",
    "update", "set", "excluded", "values", "cast", "timestamp", "now",
}


def canonical_shape(sql: str) -> list[str]:
    """Tokenize, lowercase, unwrap the documented COALESCE(x, 0[.0])
    hardening, and replace identifiers with id{N} by first appearance.
    Two statements canonicalize identically iff they are the same
    statement modulo identifier NAMES (identifier reuse must match)."""
    s = sql.strip().rstrip(";").lower()
    # unwrap coalesce(x, 0) / coalesce(x, 0.0): the divergence under test
    s = re.sub(r"coalesce\(\s*([a-z0-9_.]+)\s*,\s*0(\.0+)?\s*\)", r"\1", s)
    tokens = re.findall(r"[a-z_][a-z0-9_]*|[0-9.]+|[(),.=+;*]", s)
    ids: dict[str, str] = {}
    out = []
    for t in tokens:
        if re.fullmatch(r"[a-z_][a-z0-9_]*", t) and t not in _KEYWORDS:
            out.append(ids.setdefault(t, f"id{len(ids)}"))
        else:
            out.append(t)
    return out


@pytest.mark.parametrize(
    "spec,ref",
    [
        (MERCHANT_SUMMARY, REF_MTS),
        (CUSTOMER_MERCHANT_SUMMARY, REF_CMS),
        (MERCHANT_GENDER_SUMMARY, REF_MGS),
    ],
    ids=["mts", "cms", "mgs"],
)
def test_upsert_sql_matches_reference_protocol(spec, ref):
    ours = upsert_sql(spec, temp_table_name(spec, 7))
    assert canonical_shape(ours) == canonical_shape(ref)


def test_temp_table_naming_matches_reference_scheme():
    # temp_{...}_updates_batch_{epoch_id}  (Mechanism Y.py:140)
    assert temp_table_name(MERCHANT_SUMMARY, 12) == (
        "temp_merchant_transaction_summary_updates_batch_12"
    )


def test_create_table_sql_mirrors_reference_ddl():
    """Column names, types and PRIMARY KEYs as in
    sql/postgres_tables.sql:3-25 (VARCHAR keys, BIGINT counts,
    DECIMAL(18,2) money, TIMESTAMP last_updated)."""
    ddl = create_table_sql(CUSTOMER_MERCHANT_SUMMARY)
    assert "customer_id VARCHAR" in ddl
    assert "transaction_count BIGINT" in ddl
    assert "total_amount_sum DECIMAL(18,2)" in ddl
    assert "last_updated TIMESTAMP" in ddl
    assert "PRIMARY KEY (customer_id, merchant_id)" in ddl


# --- behavior --------------------------------------------------------------

NOW = "2024-01-01 00:00:00"


@pytest.fixture
def jstore(spark, tmp_path):
    return JdbcStateStore.duckdb(spark, str(tmp_path / "state.duckdb"))


def test_merge_leaves_no_temp_tables(spark, jstore):
    """The protocol drops its per-batch temp table inside the merge
    transaction: after N merges the database holds only the target and
    ledger tables (the reference leaked one temp table per batch per
    state table into the shared RDBMS)."""
    from pyspark_data_engineering_assignment_spark.state.jdbc_store import (
        _ddl_type,  # noqa: F401  (the DDL type map lives with the store)
    )

    schema = MERCHANT_SUMMARY
    for bid in range(3):
        batch = spark.createDataFrame(
            [("M1", 2), ("M2", 1)], "merchant_id string, total_transactions long"
        )
        jstore.merge_batch(schema, batch, batch_id=bid, now=NOW)
    tables = {
        r[0]
        for r in jstore.cur.execute(
            "SELECT table_name FROM information_schema.tables"
        ).fetchall()
    }
    assert tables == {"merchant_transaction_summary", "_applied_batches"}
    state = {
        r["merchant_id"]: r["total_transactions"]
        for r in jstore.read_state(schema).collect()
    }
    assert state == {"M1": 6, "M2": 3}


def test_agreement_with_parquet_backend(spark, tmp_path, jstore):
    """Same batch sequence -> identical state rows vs the distributed
    backend (the cross-backend contract), including NULL-counter
    coalescing and NULL-key exclusion."""
    from pyspark_data_engineering_assignment_spark.state.store import (
        ParquetStateStore,
    )

    ref = ParquetStateStore(spark, str(tmp_path / "pq"))
    batches = [
        [("C1", "M1", 1, Decimal("0.10")), ("C2", "M1", 1, None)],
        [("C1", "M1", 2, Decimal("0.20")), (None, "M1", 9, Decimal("99.00"))],
    ]
    schema = (
        "customer_id string, merchant_id string, "
        "transaction_count long, total_amount_sum decimal(18,2)"
    )
    for bid, rows in enumerate(batches):
        b = spark.createDataFrame(rows, schema)
        ref.merge_batch(CUSTOMER_MERCHANT_SUMMARY, b, batch_id=bid, now=NOW)
        jstore.merge_batch(CUSTOMER_MERCHANT_SUMMARY, b, batch_id=bid, now=NOW)
        # replay: must be a no-op
        jstore.merge_batch(CUSTOMER_MERCHANT_SUMMARY, b, batch_id=bid, now=NOW)

    def snap(store):
        return {
            (r["customer_id"], r["merchant_id"]): (
                r["transaction_count"],
                r["total_amount_sum"],
            )
            for r in store.read_state(CUSTOMER_MERCHANT_SUMMARY).collect()
        }

    got = snap(jstore)
    assert got == snap(ref)
    assert got == {
        ("C1", "M1"): (3, Decimal("0.30")),
        ("C2", "M1"): (1, Decimal("0.00")),
    }


def test_batch_meta_roundtrip(spark, jstore):
    b = spark.createDataFrame(
        [("M1", 1)], "merchant_id string, total_transactions long"
    )
    jstore.merge_batch(MERCHANT_SUMMARY, b, batch_id=0, now=NOW, meta={"n": 50})
    assert jstore.batch_meta(MERCHANT_SUMMARY, 0) == {"n": 50}
    assert jstore.batch_meta(MERCHANT_SUMMARY, 1) is None
    assert jstore.last_batch_id(MERCHANT_SUMMARY) == 0


# --- paramstyle portability (round-12 verdict task #8) ---------------------
#
# The psycopg ("format") wiring runs through tests/state_backends.py, which
# checks every statement's placeholder discipline for its paramstyle.


def _proxied_store(spark, tmp_path, paramstyle: str):
    return proxied_store(spark, str(tmp_path / f"state_{paramstyle}.duckdb"), paramstyle)


@pytest.mark.parametrize("paramstyle", ["qmark", "format"])
def test_merge_protocol_under_both_paramstyles(spark, tmp_path, paramstyle):
    """The full merge/replay/meta/read flow under each declared
    paramstyle, with the proxy asserting placeholder discipline on
    EVERY statement - the psycopg wiring differs from the DuckDB wiring
    only by this seam, so this is the strongest check available without
    a server."""
    store, _ = _proxied_store(spark, tmp_path, paramstyle)
    for bid in range(2):
        b = spark.createDataFrame(
            [("M1", 2), ("M2", 1)], "merchant_id string, total_transactions long"
        )
        store.merge_batch(
            MERCHANT_SUMMARY, b, batch_id=bid, now=NOW, meta={"n": bid}
        )
        store.merge_batch(MERCHANT_SUMMARY, b, batch_id=bid, now=NOW)  # replay
    assert store.last_batch_id(MERCHANT_SUMMARY) == 1
    assert store.batch_meta(MERCHANT_SUMMARY, 1) == {"n": 1}
    got = {
        r["merchant_id"]: r["total_transactions"]
        for r in store.read_state(MERCHANT_SUMMARY).collect()
    }
    assert got == {"M1": 4, "M2": 2}


# The exact statement stream one merchant merge emits, per paramstyle -
# committed snapshots, so ANY change to the wire protocol (statement
# order, placeholder shape, identifier casing) is a reviewed diff.
# {ph} is the paramstyle's placeholder.
MERGE_SNAPSHOT = [
    "SELECT batch_id FROM _applied_batches WHERE table_name = {ph}",
    "BEGIN",
    "CREATE TABLE temp_merchant_transaction_summary_updates_batch_7 "
    "(merchant_id_src VARCHAR, total_transactions_src BIGINT, "
    "batch_ts TIMESTAMP)",
    "INSERT INTO temp_merchant_transaction_summary_updates_batch_7 "
    "VALUES ({ph}, {ph}, CAST({ph} AS TIMESTAMP))",
    "INSERT INTO merchant_transaction_summary (merchant_id, "
    "total_transactions, last_updated) SELECT source.merchant_id_src, "
    "source.total_transactions_src, source.batch_ts "
    "FROM temp_merchant_transaction_summary_updates_batch_7 AS source "
    "ON CONFLICT (merchant_id) DO UPDATE SET "
    "total_transactions = COALESCE(merchant_transaction_summary."
    "total_transactions, 0) + COALESCE(EXCLUDED.total_transactions, 0), "
    "last_updated = EXCLUDED.last_updated",
    "DROP TABLE temp_merchant_transaction_summary_updates_batch_7",
    "INSERT INTO _applied_batches VALUES ({ph}, {ph}, {ph}) "
    "ON CONFLICT (table_name) DO UPDATE SET "
    "batch_id = EXCLUDED.batch_id, meta = EXCLUDED.meta",
    "COMMIT",
]


@pytest.mark.parametrize("paramstyle", ["qmark", "format"])
def test_merge_statement_stream_snapshot(spark, tmp_path, paramstyle):
    store, log = _proxied_store(spark, tmp_path, paramstyle)
    log.clear()  # drop connection-setup DDL
    b = spark.createDataFrame(
        [("M1", 2)], "merchant_id string, total_transactions long"
    )
    store.merge_batch(MERCHANT_SUMMARY, b, batch_id=7, now=NOW)
    ph = "?" if paramstyle == "qmark" else "%s"
    got = [
        " ".join(sql.split())
        for (_, sql, _) in log
        if not sql.startswith("CREATE TABLE IF NOT EXISTS")  # _ensure_table
    ]
    assert got == [s.format(ph=ph) for s in MERGE_SNAPSHOT]


@pytest.mark.parametrize("paramstyle", ["qmark", "format"])
def test_emitted_identifiers_never_need_quoting(spark, tmp_path, paramstyle):
    """Identifier-quoting portability: every identifier the protocol
    emits is lowercase snake_case (regex-checked over the whole
    recorded stream), so the SQL is valid verbatim under PostgreSQL's
    case-folding AND DuckDB's, and no statement contains a double
    quote at all."""
    store, log = _proxied_store(spark, tmp_path, paramstyle)
    b = spark.createDataFrame(
        [("C1", "M1", 1, Decimal("1.00"))],
        "customer_id string, merchant_id string, transaction_count long, "
        "total_amount_sum decimal(18,2)",
    )
    store.merge_batch(CUSTOMER_MERCHANT_SUMMARY, b, batch_id=0, now=NOW)
    store.read_state(CUSTOMER_MERCHANT_SUMMARY)
    assert log
    for _, sql, _ in log:
        assert '"' not in sql and "`" not in sql, sql
        for ident in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", sql):
            if ident.upper() in (
                "SELECT", "INSERT", "INTO", "FROM", "WHERE", "AS", "ON",
                "CONFLICT", "DO", "UPDATE", "SET", "EXCLUDED", "VALUES",
                "CAST", "TIMESTAMP", "CREATE", "TABLE", "IF", "NOT",
                "EXISTS", "DROP", "PRIMARY", "KEY", "BEGIN", "COMMIT",
                "ROLLBACK", "VARCHAR", "BIGINT", "DECIMAL", "NOW", "S",
                "COALESCE",
            ):
                continue
            assert re.fullmatch(r"[a-z_][a-z0-9_]*", ident), (ident, sql)
