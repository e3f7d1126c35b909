"""Independent correctness oracle: DuckDB, never Spark, never the package.

The expected table is a last-writer-wins replay of the generated
structured change events: events outside the scope regexes are dropped,
each key keeps its highest version ``(ts, file_seq, log_pos)``, and keys
whose winner is a delete are dropped. The actual table is read straight
off the lake table's current manifest. Both sides reduce to a row count
and an order-independent content hash, so the comparison never sorts or
joins.
"""

from __future__ import annotations

import duckdb

# one row per live record; the same typed projection on both sides, so
# equal rows hash equal
_ROW_HASH = (
    "hash(conv_id::VARCHAR, turn_idx::INTEGER, role::VARCHAR, text::VARCHAR,"
    " tool::VARCHAR, ts::TIMESTAMP)"
)


def _digest(con, sql: str, params=None) -> tuple[int, int]:
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum({_ROW_HASH}), 0)::HUGEINT FROM ({sql})",
        params or [],
    ).fetchone()
    return int(n), int(h)


def expected_digest(
    source_files: list[str], db_regex: str, table_regex: str
) -> tuple[int, int]:
    """(live rows, content hash) of the LWW replay of structured events."""
    sql = """
        SELECT img.conv_id AS conv_id, img.turn_idx AS turn_idx,
               img.role AS role, img.text AS text,
               CASE WHEN schema_version >= 2 THEN img.tool END AS tool,
               img.ts AS ts, op
        FROM (
            SELECT CASE WHEN op = 'D' THEN "before" ELSE "after" END AS img,
                   op, file_seq, log_pos, schema_version
            FROM read_parquet(?)
            WHERE regexp_matches(db_name, ?) AND regexp_matches(table_name, ?)
        )
        QUALIFY row_number() OVER (
            PARTITION BY img.conv_id, img.turn_idx
            ORDER BY img.ts DESC, file_seq DESC, log_pos DESC) = 1
    """
    with duckdb.connect() as con:
        return _digest(
            con,
            f"SELECT * FROM ({sql}) WHERE op <> 'D'",
            [source_files, db_regex, table_regex],
        )


def table_digest(live_files: list[str]) -> tuple[int, int]:
    """(live rows, content hash) of the parquet files a manifest
    references; tombstones (``_op = 'D'``) are not live."""
    if not live_files:
        return 0, 0
    with duckdb.connect() as con:
        return _digest(
            con,
            "SELECT * FROM read_parquet(?, union_by_name = true) WHERE _op <> 'D'",
            [live_files],
        )
