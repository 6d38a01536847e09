"""Correctness checks: Spark results against DuckDB over the same files.

Results are compared the way ``tools/driver_sweep.py`` compares a plan
with its oracle: pandas frames, columns sorted by name, rows sorted,
every cell stringified through its pandas dtype.
"""

from __future__ import annotations

import glob
import os

import duckdb


def canon(pdf) -> tuple[list[str], list[tuple[str, ...]]]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    if len(pdf):
        pdf = pdf.sort_values(by=cols).reset_index(drop=True)
    return cols, [tuple(str(v) for v in row) for row in pdf.itertuples(index=False)]


def same(spark_pdf, oracle_pdf) -> bool:
    return canon(spark_pdf) == canon(oracle_pdf)


def connect(views: dict[str, str | list[str]]) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per ``name -> parquet file(s)``."""
    con = duckdb.connect()
    for name, files in views.items():
        files = [files] if isinstance(files, str) else list(files)
        listed = ", ".join(f"'{f}'" for f in files)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet([{listed}])")
    return con


def sink_frame(spark, path: str):
    """A stats-store sink directory as pandas, without the batch-id
    partition column the sink adds for idempotent replays."""
    if not glob.glob(os.path.join(path, "__batch_id=*", "*.parquet")):
        return None
    return spark.read.parquet(path).drop("__batch_id").toPandas()


#: DWS hourly visitor stats of the stream chain's ``visitor_stats_app``
#: (all ODS events, append-mode hourly windows).
VISITOR_STATS_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS stt,
       strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS edt,
       event_type,
       count(*) AS pv_ct,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS dur_sum
FROM ev GROUP BY 1, 2, 3
"""

#: Daily unique visitors over the DWD page log (page events only).
UNIQUE_VISITORS_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS dt, count(DISTINCT user_id) AS uv_ct
FROM ev WHERE event_type IN ('view', 'click', 'purchase') GROUP BY 1
"""

#: Bounces over the DWD page log: a session entry (first event, or
#: more than 30 minutes after the previous one) with no successor
#: within 30 minutes.
USER_JUMP_SQL = """
WITH o AS (
  SELECT user_id, ts,
         lag(ts) OVER w AS prev_ts,
         lead(ts) OVER w AS next_ts
  FROM ev WHERE event_type IN ('view', 'click', 'purchase')
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, ts AS bounce_ts FROM o
WHERE (prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTE)
  AND (next_ts IS NULL OR next_ts - ts > INTERVAL 30 MINUTE)
"""
