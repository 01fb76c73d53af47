"""Input tables for set-up, written without the engine.

Set-up builds every workload's input with DuckDB, NumPy and pyarrow and
writes it to parquet, so set-up time measures input generation only and
no engine operator produces the tables it is later checked against.
The transcripts come from the engine's own portable generator text
(``sources.synth.transcripts_sql``), which is what the oracle runs too.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq

FILES = 4  # parquet files per table, so scans start with a few tasks

# project_series' default metrics, as the oracle's series CTE writes them
SERIES_SQL = """
SELECT conv_id, 'latency' AS metric, CAST(turn_idx AS BIGINT) AS idx, ts_epoch,
       CAST(ts_epoch - lag(ts_epoch) OVER (PARTITION BY conv_id ORDER BY turn_idx)
            AS DOUBLE) AS value
FROM transcripts
UNION ALL
SELECT conv_id, 'token_count' AS metric, CAST(turn_idx AS BIGINT) AS idx, ts_epoch,
       CAST(length(text) AS DOUBLE) AS value
FROM transcripts
"""


@contextmanager
def duck(run):
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads={int(run.cores)}")
        con.execute(f"SET temp_directory='{os.environ.get('TMPDIR', run.work)}'")
        yield con
    finally:
        con.close()


def load_transcripts(con, n_conv: int) -> None:
    """Table ``transcripts`` with the engine's input schema."""
    from matrixprofile_spark.sources.synth import transcripts_sql

    con.execute(f"""
        CREATE TABLE transcripts AS
        SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_idx, role, text, tool,
               ts_epoch, to_timestamp(ts_epoch) AS ts
        FROM ({transcripts_sql(n_conv, "duckdb")})
        ORDER BY conv_id, turn_idx""")


def write_parquet(table: pa.Table, path: str, files: int = FILES) -> None:
    """``table`` as ``files`` parquet files of consecutive rows in ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files) or 1
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
