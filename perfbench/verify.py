"""Independent erasure verifier: reads the lake with DuckDB, never through
the engine under test.

At setup, one pass over the pristine lake records the total row count
and an order-insensitive content checksum (the sum of per-row hashes),
plus the same two numbers for the rows each match batch selects. Match
batches are disjoint, so after any set of batches has been erased the
expected survivors are the totals minus those batches' shares. After a
run, ``check`` confirms that

- no surviving row matches any applied match id;
- the surviving row count and checksum equal that expectation, which
  also proves that no row outside the applied batches was lost or
  altered.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

from lakes import LINEITEM_COLUMNS, data_files

_ROW_HASH = "hash(" + ", ".join(f"t.{c}" for c in LINEITEM_COLUMNS) + ")"


def _connect(lake: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with view ``t`` over the lake's live objects."""
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    files = ", ".join(
        "'" + p.replace("'", "''") + "'" for p in data_files(lake)
    )
    con.execute(
        "CREATE VIEW t AS SELECT * FROM "
        f"read_parquet([{files}], hive_partitioning = false)"
    )
    return con


def _load_matches(con, batches: list, which: list[int]) -> None:
    """Table ``m(b, l_orderkey)`` of the match ids of batches ``which``."""
    ids = [(b, k) for b in which for k in batches[b]]
    con.register("m_arrow", pa.table({
        "b": pa.array([b for b, _ in ids], pa.int64()),
        "l_orderkey": pa.array([k for _, k in ids], pa.int64()),
    }))
    con.execute("CREATE TABLE m AS SELECT * FROM m_arrow")
    con.unregister("m_arrow")


class Expectation:
    """Row count and checksum of the pristine lake and of each batch's
    matched rows."""

    def __init__(self, lake: str, batches: list):
        self.batches = batches
        con = _connect(lake)
        try:
            self.rows, self.checksum = con.execute(
                f"SELECT count(*), coalesce(sum({_ROW_HASH}::HUGEINT), 0) "
                "FROM t"
            ).fetchone()
            _load_matches(con, batches, list(range(len(batches))))
            self.per_batch = dict.fromkeys(range(len(batches)), (0, 0))
            for b, n, h in con.execute(
                f"SELECT m.b, count(*), sum({_ROW_HASH}::HUGEINT) "
                "FROM t JOIN m USING (l_orderkey) GROUP BY m.b"
            ).fetchall():
                self.per_batch[b] = (n, int(h))
        finally:
            con.close()

    def expected(self, applied: list[int]) -> tuple[int, int]:
        rows = self.rows - sum(self.per_batch[b][0] for b in applied)
        checksum = self.checksum - sum(self.per_batch[b][1] for b in applied)
        return rows, checksum


def check(lake: str, expectation: Expectation, applied: list[int]) -> list[str]:
    """Problems found in ``lake`` after erasing batches ``applied``;
    an empty list means the erasure verified."""
    con = _connect(lake)
    try:
        _load_matches(con, expectation.batches, applied)
        (survivors,) = con.execute(
            "SELECT count(*) FROM t SEMI JOIN m USING (l_orderkey)"
        ).fetchone()
        rows, checksum = con.execute(
            f"SELECT count(*), coalesce(sum({_ROW_HASH}::HUGEINT), 0) FROM t"
        ).fetchone()
    finally:
        con.close()
    want_rows, want_checksum = expectation.expected(applied)
    problems = []
    if survivors:
        problems.append(f"{survivors} rows still match erased ids")
    if rows != want_rows:
        problems.append(f"{rows} rows survive, expected {want_rows}")
    if int(checksum) != want_checksum:
        problems.append("content checksum differs from expectation")
    return problems
