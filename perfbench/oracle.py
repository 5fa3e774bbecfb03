"""Vectorized last-write-wins oracle over the raw change log (DuckDB).

Independent of the engine: it reads the generated parquet chunks, keeps
the latest event per ``(conv_id, turn_idx)`` by ``(lsn, txn_seq)``, drops
keys whose latest event is a delete, and extracts the payload fields
from the JSON (``tool`` only exists in the second half of the log).
``self_check`` compares it with the serial fold in ``tests/oracle.py``.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")

_FOLD = """
SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_idx,
       json_extract_string(after_json, '$.role') AS role,
       json_extract_string(after_json, '$.text') AS text,
       json_extract_string(after_json, '$.tool') AS tool,
       CAST(json_extract(after_json, '$.ts') AS BIGINT) AS ts,
       lsn, op
FROM read_parquet(?)
QUALIFY row_number() OVER (
    PARTITION BY conv_id, turn_idx ORDER BY lsn DESC, txn_seq DESC) = 1
"""


def fold(files: list[str]) -> pa.Table:
    """Latest event per key over ``files``, deletes included (``op``) so
    callers can tell live keys from deleted ones. ``ts`` is epoch seconds,
    ``lsn`` the winning event's position."""
    con = duckdb.connect()
    try:
        return con.execute(_FOLD + " ORDER BY conv_id, turn_idx", [files]).arrow()
    finally:
        con.close()


def live(state: pa.Table) -> pa.Table:
    """Rows of the final table: keys whose latest event is not a delete."""
    mask = pa.compute.not_equal(state["op"], "delete")
    return state.filter(mask).select(list(COLUMNS))


def engine_rows(df) -> pa.Table:
    """The engine's table as an Arrow table in oracle form (``ts`` as epoch
    seconds; ``tool`` NULL before the column exists)."""
    from pyspark.sql import functions as F

    tool = F.col("tool") if "tool" in df.columns else F.lit(None).cast("string")
    return df.select(
        "conv_id", "turn_idx", "role", "text", tool.alias("tool"),
        F.col("ts").cast("long").alias("ts"),
    ).toArrow()


def mismatches(engine: pa.Table, expected: pa.Table) -> int:
    """Rows present on one side but not the other (multiset difference
    both ways) on (conv_id, turn_idx, role, text, tool, ts)."""
    cols = ", ".join(
        f"CAST({c} AS {'INTEGER' if c == 'turn_idx' else 'BIGINT' if c == 'ts' else 'VARCHAR'}) AS {c}"
        for c in COLUMNS
    )
    con = duckdb.connect()
    try:
        con.register("eng", engine)
        con.register("exp", expected)
        q = f"""
        SELECT (SELECT count(*) FROM (SELECT {cols} FROM eng EXCEPT ALL SELECT {cols} FROM exp))
             + (SELECT count(*) FROM (SELECT {cols} FROM exp EXCEPT ALL SELECT {cols} FROM eng))
        """
        return int(con.execute(q).fetchone()[0])
    finally:
        con.close()


def self_check(log_dir: str, files: list[str]) -> int:
    """Mismatching rows between this oracle and the serial reference fold
    (``tests/oracle.py``) on the same log."""
    import calendar

    from tests.oracle import oracle_rows

    ref = oracle_rows(log_dir)
    ref_tbl = pa.table(
        {
            "conv_id": [r["conv_id"] for r in ref],
            "turn_idx": pa.array([r["turn_idx"] for r in ref], pa.int32()),
            "role": [r["role"] for r in ref],
            "text": [r["text"] for r in ref],
            "tool": pa.array([r["tool"] for r in ref], pa.string()),
            "ts": pa.array(
                [calendar.timegm(r["ts"].timetuple()) if r["ts"] else None for r in ref],
                pa.int64(),
            ),
        }
    )
    return mismatches(live(fold(files)), ref_tbl)
