"""Corrupt-TPC-H oracle parity (round-9; completes the per-table
degenerate matrix: embeddings -> documents -> events -> the relational
star).

Every oracle-bearing registry query whose tables are all in the TPC-H
star runs on a copy of sf0.001 where lineitem, orders and customer
contain corrupt rows - NaN / out-of-range / negative money, NULL
dates, NULL grouping keys, NULL and orphan foreign keys - through the
strict rows+schema+value-hash compare. After the round-9 try_cast
sweep, a corrupt money value must be SKIPPED identically by both
engines instead of crashing either; NULL keys must join/group the
same way on both sides.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest

from tests.oracle_harness import oracle_queries_reading_only, run_parity_gate

pytestmark = pytest.mark.axis

SF = "/root/testdata/sf0.001"
TPCH = {"region", "nation", "customer", "supplier", "part", "orders",
        "lineitem"}


@pytest.fixture(scope="module")
def corrupt_tpch_sf(tmp_path_factory):
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = tmp_path_factory.mktemp("corrupt_tpch_sf")
    for t in ("region", "nation"):
        shutil.copy(f"{SF}/{t}.parquet", str(sf / f"{t}.parquet"))

    # --- supplier: corrupt balance / name / FK ---
    sp = pq.read_table(f"{SF}/supplier.parquet")
    srows = sp.to_pylist()
    sbase = dict(srows[0])
    snxt = max(r["s_suppkey"] for r in srows) + 1
    for i, kw in enumerate(
        [
            dict(s_acctbal=float("nan")),
            dict(s_acctbal=None),
            dict(s_nationkey=None),
            dict(s_name=None),
        ]
    ):
        r = dict(sbase)
        r.update(s_suppkey=snxt + i)
        r.update(kw)
        srows.append(r)
    pq.write_table(pa.Table.from_pylist(srows, schema=sp.schema),
                   str(sf / "supplier.parquet"))

    # --- part: corrupt price / size / brand keys ---
    pt = pq.read_table(f"{SF}/part.parquet")
    prows = pt.to_pylist()
    pbase = dict(prows[0])
    pnxt = max(r["p_partkey"] for r in prows) + 1
    for i, kw in enumerate(
        [
            dict(p_retailprice=float("nan")),
            dict(p_retailprice=1e308),
            dict(p_retailprice=None),
            dict(p_size=None),
            dict(p_brand=None, p_type=None),
        ]
    ):
        r = dict(pbase)
        r.update(p_partkey=pnxt + i)
        r.update(kw)
        prows.append(r)
    pq.write_table(pa.Table.from_pylist(prows, schema=pt.schema),
                   str(sf / "part.parquet"))

    # --- lineitem: corrupt money/date/group-key fields ---
    li = pq.read_table(f"{SF}/lineitem.parquet")
    rows = li.to_pylist()
    base = dict(rows[0])
    nxt_ok = max(r["l_orderkey"] for r in rows) + 1

    def l(**kw):
        r = dict(base)
        r.update(l_orderkey=nxt_ok, l_linenumber=kw.pop("_ln"))
        r.update(kw)
        return r

    rows += [
        l(_ln=1, l_extendedprice=float("nan")),
        l(_ln=2, l_quantity=1e308),
        l(_ln=3, l_discount=None),
        l(_ln=4, l_discount=float("nan")),
        l(_ln=5, l_shipdate=None),
        l(_ln=6, l_returnflag=None, l_linestatus=None),
        l(_ln=7, l_quantity=-4.0),
        l(_ln=8, l_suppkey=None, l_partkey=None),
        # round-10 all-corrupt-group probe: a (returnflag, linestatus)
        # group whose EVERY row has corrupt quantity/price - its sums
        # are NULL, the shape where "fillna(0) then drop zeros" pivot
        # paths silently delete the group while a SQL oracle emits the
        # NULL row (and where a genuine all-corrupt group at 100 TB
        # disappears from a report without a trace)
        l(_ln=9, l_returnflag="X", l_linestatus="F",
          l_quantity=float("nan"), l_extendedprice=float("nan")),
        l(_ln=10, l_returnflag="X", l_linestatus="F",
          l_quantity=1e308, l_extendedprice=1e308),
    ]
    pq.write_table(pa.Table.from_pylist(rows, schema=li.schema),
                   str(sf / "lineitem.parquet"))

    # --- orders: corrupt totals, dates, keys ---
    o = pq.read_table(f"{SF}/orders.parquet")
    orows = o.to_pylist()
    obase = dict(orows[0])
    nxt = max(r["o_orderkey"] for r in orows) + 1

    def od(i, **kw):
        r = dict(obase)
        r.update(o_orderkey=nxt + i)
        r.update(kw)
        return r

    orows += [
        od(0, o_totalprice=float("nan")),
        od(1, o_totalprice=None),
        od(2, o_totalprice=1e308),
        od(3, o_orderdate=None),
        od(4, o_orderpriority=None),
        od(5, o_custkey=None),
        od(6, o_custkey=99_999_999),  # orphan FK
        od(7, o_orderstatus=None),
        # round-10 tie probe: a NULL PRIMARY key at a window-order tie.
        # o_orderkey is the tie-break of every ordered orders window
        # (customer_order_gaps, top_orders_per_customer) - Spark sorts
        # the NULL tie-break FIRST, DuckDB LAST, so a row tying the
        # base order's (custkey, orderdate) and (custkey, totalprice)
        # diverges unless unplaceable rows are excluded on both sides.
        # The extra earlier/cheaper order for the same customer forces
        # the tie pair into ranked (top-3) and lagged (gap) positions
        # where the swap is OBSERVABLE - without it the tie sat outside
        # every window's emitting range and the gate was green by luck
        od(8, o_orderkey=None, o_totalprice=999999.99),
        od(9, o_orderdate=obase["o_orderdate"] - dt.timedelta(days=30),
           o_totalprice=999999.99),
    ]
    pq.write_table(pa.Table.from_pylist(orows, schema=o.schema),
                   str(sf / "orders.parquet"))

    # --- customer: corrupt balances, names, keys ---
    c = pq.read_table(f"{SF}/customer.parquet")
    crows = c.to_pylist()
    cbase = dict(crows[0])
    cnxt = max(r["c_custkey"] for r in crows) + 1

    def cd(i, **kw):
        r = dict(cbase)
        r.update(c_custkey=cnxt + i)
        r.update(kw)
        return r

    crows += [
        cd(0, c_acctbal=float("nan")),
        cd(1, c_acctbal=None),
        cd(2, c_nationkey=None),
        cd(3, c_mktsegment=None),
        cd(4, c_name=None),
        cd(5, c_name=""),
    ]
    pq.write_table(pa.Table.from_pylist(crows, schema=c.schema),
                   str(sf / "customer.parquet"))
    return str(sf)




def test_every_tpch_oracle_agrees_on_corrupt_star(spark, corrupt_tpch_sf):
    names = oracle_queries_reading_only(TPCH)
    assert len(names) >= 25, f"query discovery collapsed: {names}"
    con = duckdb.connect()
    for t in TPCH:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{corrupt_tpch_sf}/{t}.parquet'"
        )
    try:
        fails = run_parity_gate(spark, con, names, corrupt_tpch_sf)
        assert not fails, "corrupt-TPC-H oracle drift:\n" + "\n".join(
            f"  {n}: {m}" for n, m in fails
        )
    finally:
        con.close()


def test_flat_sales_export_keeps_a_null_brand_group(spark, tmp_path):
    """A sold part with no brand makes a (region, NULL) group: the
    oracle's GROUP BY keeps it, so the Spark plan must assemble its
    three aggregation branches without an equality join on the key."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark_data_engineering_assignment_spark.plans import QUERIES
    from tests.oracle_harness import compare_query

    for t in TPCH - {"part"}:
        shutil.copy(f"{SF}/{t}.parquet", str(tmp_path / f"{t}.parquet"))
    sold = pq.read_table(f"{SF}/lineitem.parquet").column("l_partkey")[0].as_py()
    pt = pq.read_table(f"{SF}/part.parquet")
    prows = [
        {**r, "p_brand": None} if r["p_partkey"] == sold else r
        for r in pt.to_pylist()
    ]
    pq.write_table(pa.Table.from_pylist(prows, schema=pt.schema),
                   str(tmp_path / "part.parquet"))

    spec = QUERIES["flat_sales_export"]
    con = duckdb.connect()
    for t in TPCH:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet'"
        )
    try:
        null_groups = con.execute(
            f"SELECT count(*) FROM ({spec.local_oracle}) WHERE brand IS NULL"
        ).fetchone()[0]
        assert null_groups >= 1
        ok, msg = compare_query(spark, con, spec.fn, spec.local_oracle, str(tmp_path))
        assert ok, msg
    finally:
        con.close()
