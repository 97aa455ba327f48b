"""DuckDB oracles over the same generated inputs Spark read.

- ``clicked``: inner band join with the byte-exact ``{"display":…,"click":…}``
  payload (``TimeoutJoinTest.scala:75-79``).
- ``missed``: anti band join (``:82-92``); Spark's side is drained with a
  future-dated flush first, so every absence has been emitted.
- batch twins: the registered ``ORACLES`` SQL against the Spark output.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterable

import duckdb

from .gen import FLUSH_KEY

CLICKED_SQL = """
SELECT c.key AS key, '{{"display":' || d.value || ',"click":' || c.value || '}}' AS value
FROM clicks c JOIN displays d
  ON c.key = d.key
 AND d.ts BETWEEN c.ts - INTERVAL {w} MILLISECOND AND c.ts
"""

MISSED_SQL = """
SELECT d.key AS key, d.value AS value
FROM displays d
WHERE NOT EXISTS (
  SELECT 1 FROM clicks c
  WHERE c.key = d.key AND c.ts BETWEEN d.ts AND d.ts + INTERVAL {w} MILLISECOND
)
"""


def stream_inputs(displays_dir: str, clicks_dir: str) -> duckdb.DuckDBPyConnection:
    """Connection with ``displays`` and ``clicks`` read from the JSON files
    the file source consumed (hidden ``.tmp`` files are not matched). The
    flush rows are left out: their own windows never close."""
    con = duckdb.connect()
    for name, d in (("displays", displays_dir), ("clicks", clicks_dir)):
        con.execute(
            f"CREATE TABLE {name} AS SELECT * FROM read_json('{d}/*.json', "
            "format='newline_delimited', "
            "columns={'key': 'VARCHAR', 'value': 'VARCHAR', 'ts': 'TIMESTAMP'}) "
            f"WHERE key <> '{FLUSH_KEY}'"
        )
    return con


def expected(con: duckdb.DuckDBPyConnection, which: str, window_ms: int) -> list[tuple[str, str]]:
    sql = {"clicked": CLICKED_SQL, "missed": MISSED_SQL}[which]
    return con.execute(sql.format(w=window_ms)).fetchall()


def mismatched(got: Iterable[tuple], want: Iterable[tuple]) -> int:
    """Rows in one multiset and not the other (0 = equal)."""
    g, w = Counter(got), Counter(want)
    return sum(((g - w) + (w - g)).values())


def batch_connection(events_path: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
    return con


def _columns(con: duckdb.DuckDBPyConnection, relation: str) -> str:
    """Select list with timestamps as epoch microseconds: Spark writes
    instants, the corpus holds naive UTC times."""
    cols = con.execute(f"DESCRIBE {relation}").fetchall()
    return ", ".join(
        f'epoch_us("{c}") AS "{c}"' if "TIMESTAMP" in t else f'"{c}"' for c, t, *_ in cols
    )


def _fingerprint(con: duckdb.DuckDBPyConnection, schema_of: str, relation: str) -> str:
    """Query for (row count, sum of row hashes) of ``relation``."""
    names = ", ".join(f'"{c}"' for c, *_ in con.execute(f"DESCRIBE {schema_of}").fetchall())
    return (f"SELECT count(*) AS n, sum(hash({names})::HUGEINT) AS h "
            f"FROM (SELECT {_columns(con, schema_of)} FROM {relation})")


def batch_mismatched(con: duckdb.DuckDBPyConnection, name: str, spark_out: str,
                     oracle_sql: str) -> tuple[int, int]:
    """(Spark output rows, rows in one result and not the other) for a
    registered twin. The oracle result is computed once per connection; a
    pass whose row count and sum of row hashes match it has no mismatch,
    anything else is counted exactly with ``EXCEPT ALL`` both ways."""
    want = f"oracle_{name}"
    if not con.execute("SELECT count(*) FROM duckdb_tables() WHERE table_name = ?",
                       [want]).fetchone()[0]:
        con.execute(f"CREATE TABLE {want} AS SELECT * FROM ({oracle_sql})")
        con.execute(f"CREATE TABLE {want}_sum AS {_fingerprint(con, want, want)}")
    con.execute(f"CREATE OR REPLACE TEMP VIEW spark_out AS "
                f"SELECT * FROM read_parquet('{spark_out}/*.parquet')")
    sel = _columns(con, want)
    n, h = con.execute(_fingerprint(con, want, "spark_out")).fetchone()
    if (n, h) == con.execute(f"SELECT n, h FROM {want}_sum").fetchone():
        return n, 0
    diff = con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT {sel} FROM spark_out EXCEPT ALL "
        f"SELECT {sel} FROM {want})) + (SELECT count(*) FROM (SELECT {sel} "
        f"FROM {want} EXCEPT ALL SELECT {sel} FROM spark_out))"
    ).fetchone()[0]
    return n, diff
