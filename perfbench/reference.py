"""Correctness references, computed outside Spark.

* ``lww_reference_sql``: the final state of one CDC table, computed by
  DuckDB from the generated envelope files (and the pre-stream
  snapshot) with the reference engine's own rule —
  ``ROW_NUMBER() OVER (PARTITION BY pk ORDER BY sequence DESC) = 1``,
  deletes dropped.
* ``compare_state``: rows of the engine's final state (written to
  parquet by Spark) that differ from the reference, in either
  direction, compared typed in DuckDB.
* ``catalog_mismatch``: a catalog entry's Spark result against its
  DuckDB oracle, by the order-insensitive hash of the project's
  correctness gate (``scripts/check_correctness.py``).
"""

from __future__ import annotations

import os
import sys

import duckdb

from gen import KEY_COL, CdcSpec, TableSpec


def _json_columns(spec: CdcSpec) -> str:
    payload = ", ".join(f'"{c}" {t}' for c, t in spec.payload_columns())
    return (
        "{'op': 'VARCHAR', 'before': 'STRUCT(id BIGINT)', "
        f"'after': 'STRUCT({payload})', "
        "'source': 'STRUCT(lsn BIGINT, \"table\" VARCHAR, schema VARCHAR)'}"
    )


def lww_reference_sql(
    spec: CdcSpec,
    table: TableSpec,
    event_files: list[str],
    snapshot_file: str | None,
) -> str:
    """SQL for the final state of ``table`` (key + its own columns)."""
    cols = [c for c, _ in table.columns]
    files = ", ".join(f"'{f}'" for f in event_files)
    events = f"""
        SELECT source.lsn AS seq, op,
               COALESCE(after.{KEY_COL}, before.{KEY_COL}) AS {KEY_COL},
               {", ".join(f'after."{c}" AS "{c}"' for c in cols)}
        FROM read_json([{files}], format = 'newline_delimited',
                       columns = {_json_columns(spec)})
        WHERE source."table" = '{table.name}'
    """
    if snapshot_file is not None:
        quoted = ", ".join(f'"{c}"' for c in cols)
        events += f"""
        UNION ALL
        SELECT -1 AS seq, 'r' AS op, {KEY_COL}, {quoted}
        FROM read_parquet('{snapshot_file}')
        """
    return f"""
        SELECT {KEY_COL}, {", ".join(f'"{c}"' for c in cols)}
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY {KEY_COL} ORDER BY seq DESC) AS rn
            FROM ({events})
        )
        WHERE rn = 1 AND op <> 'd'
    """


def compare_state(
    con: duckdb.DuckDBPyConnection, table: TableSpec, reference_sql: str, got_dir: str
) -> tuple[int, int]:
    """(rows in the engine's state, rows differing in either direction)."""
    typed = ", ".join(
        [f"CAST({KEY_COL} AS BIGINT) AS {KEY_COL}"]
        + [f'CAST("{c}" AS {t}) AS "{c}"' for c, t in table.columns]
    )
    got = f"SELECT {typed} FROM read_parquet('{got_dir}/*.parquet')"
    ref = f"SELECT {typed} FROM ({reference_sql})"
    n_got = con.sql(f"SELECT count(*) FROM ({got})").fetchone()[0]
    diff = con.sql(
        f"""SELECT (SELECT count(*) FROM (({ref}) EXCEPT ALL ({got})))
                 + (SELECT count(*) FROM (({got}) EXCEPT ALL ({ref})))"""
    ).fetchone()[0]
    return n_got, diff


def _check_correctness_module():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    scripts = os.path.join(root, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import check_correctness

    return check_correctness


def catalog_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with the catalog's tables as views."""
    cc = _check_correctness_module()
    con = duckdb.connect()
    for t in cc.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def catalog_mismatch(con, oracle_sql: str, columns: list[str], rows: list[tuple]) -> str | None:
    """None when the Spark rows match the oracle, else the reason."""
    cc = _check_correctness_module()
    rel = con.sql(oracle_sql)
    orows = rel.fetchall()
    if len(rows) != len(orows):
        return f"rowcount {len(rows)} vs {len(orows)}"
    if sorted(c.lower() for c in columns) != sorted(c.lower() for c in rel.columns):
        return f"columns {sorted(columns)} vs {sorted(rel.columns)}"
    got = cc.table_hash([c.lower() for c in columns], rows)
    want = cc.table_hash([c.lower() for c in rel.columns], orows)
    return None if got == want else f"hash {got} vs {want}"
