"""State backends for the backend-parametrized tests.

``make_store`` builds one store per test id:

* "parquet": ``ParquetStateStore``, the distributed store;
* "duckdb": ``JdbcStateStore.duckdb``, the embedded wiring (qmark);
* "jdbc": ``JdbcStateStore`` with psycopg-style "format" placeholders.

No PostgreSQL server exists in the test environment, so the psycopg
wiring is exercised at the DB-API seam instead: a recording proxy
validates every statement's placeholder discipline for the declared
paramstyle, translates %s -> ? for the embedded DuckDB engine, and
keeps the full (sql, params) stream for snapshot pinning.
"""

from __future__ import annotations

from pyspark_data_engineering_assignment_spark.state.jdbc_store import (
    JdbcStateStore,
)
from pyspark_data_engineering_assignment_spark.state.store import (
    ParquetStateStore,
)


class ParamstyleProxyCursor:
    """DB-API cursor proxy enforcing one paramstyle end-to-end.

    format mode: every parameterized statement must use %s only (a
    stray ? would bind nothing under psycopg), placeholder count must
    equal each param tuple's length, and no %% literal-escape shapes
    are emitted (the store never needs them); statements are then
    rewritten to qmark for the underlying DuckDB cursor.
    qmark mode: the mirror checks, no rewriting."""

    def __init__(self, inner, paramstyle: str, log: list):
        self._inner = inner
        self._ps = paramstyle
        self._log = log

    def _check_and_translate(self, sql: str, params) -> str:
        bad_ph, good_ph = ("?", "%s") if self._ps == "format" else ("%s", "?")
        assert bad_ph not in sql, f"{self._ps} statement leaked {bad_ph!r}: {sql}"
        assert "%%" not in sql, f"unexpected %% escape: {sql}"
        n = sql.count(good_ph)
        if params is not None:
            rows = params if isinstance(params, list) and params and isinstance(params[0], (list, tuple)) else [params]
            for p in rows:
                assert len(p) == n, (sql, p)
        else:
            assert n == 0, f"placeholders with no params: {sql}"
        return sql.replace("%s", "?") if self._ps == "format" else sql

    def execute(self, sql, params=None):
        self._log.append(("execute", sql, params))
        sql = self._check_and_translate(sql, params)
        return (
            self._inner.execute(sql, params)
            if params is not None
            else self._inner.execute(sql)
        )

    def executemany(self, sql, seq):
        self._log.append(("executemany", sql, list(seq)))
        sql = self._check_and_translate(sql, list(seq))
        return self._inner.executemany(sql, seq)

    def __getattr__(self, name):  # fetchone/fetchall/...
        return getattr(self._inner, name)


class ParamstyleProxyConnection:
    def __init__(self, db_path: str, paramstyle: str, log: list):
        import duckdb

        self._con = duckdb.connect(db_path)
        self._ps = paramstyle
        self._log = log

    def cursor(self):
        return ParamstyleProxyCursor(self._con.cursor(), self._ps, self._log)


def proxied_store(spark, db_path: str, paramstyle: str):
    """A ``JdbcStateStore`` over ``db_path`` whose every statement goes
    through the proxy; returns ``(store, log)``."""
    log: list = []
    store = JdbcStateStore(
        spark,
        connect=lambda: ParamstyleProxyConnection(db_path, paramstyle, log),
        paramstyle=paramstyle,
    )
    return store, log


def make_store(backend: str, spark, path: str, **parquet_kw):
    if backend == "parquet":
        return ParquetStateStore(spark, path, **parquet_kw)
    if backend == "duckdb":
        return JdbcStateStore.duckdb(spark, path + ".duckdb")
    if backend == "jdbc":
        return proxied_store(spark, path + ".jdbc.duckdb", "format")[0]
    raise ValueError(f"unknown state backend: {backend}")
