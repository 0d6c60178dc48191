"""Run each sf1 DuckDB oracle in its own short-lived process.

At sf1 a DuckDB process at its default thread count leaves tens of
thousands of memory mappings behind heavy oracles: the
``doc_minhash_lsh_pairs`` oracle pushes one process past the kernel's
default ``vm.max_map_count`` (65,530), after which every allocation in
it fails with "bad allocation", and closing the connection releases
only part of them. On one thread the mappings stay low, but
``doc_near_dup_components`` then runs for more than 10 min on a 4-core
host. A spawned process per oracle keeps the default threads and hands
its mappings back to the kernel when it exits.

``ProcessOracle`` stands in for the DuckDB connection that
``tests/test_oracle.py:run_oracle_parity`` reads: the same
``fetchall()`` rows, ``description`` and ``fetch_arrow_table().schema``.
"""

from __future__ import annotations

import multiprocessing
from concurrent.futures import ProcessPoolExecutor


def _run(views: dict[str, str], config: dict[str, str], sql: str):
    import duckdb

    con = duckdb.connect(config=config)
    try:
        for name, path in views.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        # the result schema is fixed when the query binds, so LIMIT 0
        # reads it without running the oracle a second time
        schema = con.sql(sql).limit(0).fetch_arrow_table().schema
        cur = con.execute(sql)
        return schema, cur.description, cur.fetchall()
    finally:
        con.close()


class _Result:
    """The part of a DuckDB result that ``run_oracle_parity`` reads."""

    def __init__(self, schema, description, rows):
        self._schema = schema
        self.description = description
        self._rows = rows

    def fetch_arrow_table(self):
        return self._schema.empty_table()

    def fetchall(self):
        return self._rows


class ProcessOracle:
    """``execute(sql)`` runs ``sql`` in a fresh spawned process over
    ``views`` (table name → parquet path or glob) on a DuckDB connection
    opened with ``config``. ``run_oracle_parity`` executes each oracle
    twice (schema, then rows); the second call reuses the first result."""

    def __init__(self, views: dict[str, str], config: dict[str, str]):
        self._views = views
        self._config = config
        self._last: tuple[str, tuple] | None = None

    def execute(self, sql: str) -> _Result:
        if self._last is None or self._last[0] != sql:
            self._last = None  # drop the previous rows before the next oracle runs
            ctx = multiprocessing.get_context("spawn")
            with ProcessPoolExecutor(max_workers=1, mp_context=ctx) as pool:
                self._last = (sql, pool.submit(_run, self._views, self._config, sql).result())
        return _Result(*self._last[1])
