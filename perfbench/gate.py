"""Correctness gate: the program's outputs against the DuckDB twins in
``__spark_entry__._all_oracles()``, over a view of the generated log.

Runs outside the timed region. Result frames compare by the
order-insensitive ``normalize``/``value_hash`` checksum of
``tools/check_oracles.py``. Parquet outputs compare inside DuckDB, which is
fast enough for every backfill pass of a 4M-event log: by row count and
row-hash sum, and when ``full`` as exact multisets (``EXCEPT ALL`` both
ways); pandas hashing of 150k rows takes ~4 s a side.
"""

from __future__ import annotations

import duckdb

import __spark_entry__
from tools.check_oracles import normalize, value_hash


def checksum(pdf) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a pandas frame."""
    return len(pdf), value_hash(normalize(pdf))


def _row_hash_sum(sql: str) -> str:
    return f"SELECT count(*), sum(hash(x)) FROM ({sql}) x"


class Gate:
    def __init__(self, events_path: str):
        self.con = duckdb.connect()
        self.con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
        self._oracles = __spark_entry__._all_oracles()
        self._expected = None
        self._expected_sum = None
        self._fh = False

    def expected_examples(self) -> tuple[int, str]:
        """Checksum of the DuckDB ``training_examples`` twin."""
        if self._expected is None:
            self._expected = checksum(self.con.execute(f"SELECT * FROM {self._expected_table()}").df())
        return self._expected

    def _expected_table(self) -> str:
        """The ``training_examples`` twin, materialized once as table ``expected``."""
        if self._expected_sum is None:
            self.con.execute(f"CREATE TABLE expected AS {self._oracles['training_examples']}")
            self._expected_sum = self.con.execute(_row_hash_sum("SELECT * FROM expected")).fetchone()
        return "expected"

    def parquet_ok(self, path: str, full: bool = True) -> bool:
        """A ``sinks.write_parquet`` output directory matches the training-examples
        twin: by row count and row-hash sum, and as an exact multiset when ``full``."""
        expected = self._expected_table()
        scan = f"SELECT * FROM read_parquet('{path}/*.parquet')"
        if self.con.execute(_row_hash_sum(scan)).fetchone() != self._expected_sum:
            return False
        if not full:
            return True
        (diff,) = self.con.execute(
            f"SELECT count(*) FROM (({scan}) EXCEPT ALL (SELECT * FROM {expected})"
            f" UNION ALL ((SELECT * FROM {expected}) EXCEPT ALL ({scan})))"
        ).fetchone()
        return diff == 0

    def frame_ok(self, pdf) -> bool:
        return checksum(pdf) == self.expected_examples()

    def feature_history(self) -> None:
        """Materialize the DuckDB ``feature_history`` twin as table ``fh``."""
        if not self._fh:
            self.con.execute(f"CREATE TABLE fh AS {self._oracles['feature_history']}")
            self._fh = True

    def asof_ok(self, probes: list[tuple], rows: list[tuple]) -> bool:
        """One row per probe, each holding the DuckDB ``ASOF LEFT JOIN`` value."""
        self.feature_history()
        self.con.execute("CREATE OR REPLACE TEMP TABLE probes (_entity BIGINT, _probe_time TIMESTAMP)")
        self.con.executemany("INSERT INTO probes VALUES (?, ?)", probes)
        want = self.con.execute(
            "SELECT p._entity, p._probe_time, fh.loss_value FROM probes p "
            "ASOF LEFT JOIN fh ON p._entity = fh._entity AND p._probe_time >= fh._change_time"
        ).fetchall()
        return len(rows) == len(probes) and sorted(rows, key=repr) == sorted(want, key=repr)

    def snapshot_ok(self, entities: list[int], day: str, rows: list[tuple]) -> bool:
        """At most one row per entity, equal to the latest version at or before ``day``."""
        self.feature_history()
        want = self.con.execute(
            "SELECT _entity, _change_time, loss_value FROM fh "
            "WHERE list_contains(?, _entity) AND _change_time <= CAST(? AS TIMESTAMP) "
            "QUALIFY ROW_NUMBER() OVER (PARTITION BY _entity ORDER BY _change_time DESC) = 1",
            [entities, day],
        ).fetchall()
        return len({r[0] for r in rows}) == len(rows) and sorted(rows, key=repr) == sorted(want, key=repr)
