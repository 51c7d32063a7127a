"""Ops dashboard (SURVEY §3.3): the 10-scalar-subquery monitoring SELECT
(dp_demo.sql:127-142) as a one-row DataFrame.

Each reference subquery maps to an engine source:

| dp_demo.sql | what | engine source |
|---|---|---|
| :128 | ``timestampdiff(second, min(scheduled_time), current_ts)`` | task_history table |
| :129-130 | scheduled task count | task_history |
| :131 | ``count(distinct metadata$filename)`` staged | Stage.list |
| :132 | ``parse_json(system$pipe_status()):pendingFileCount`` | staged minus copy_history |
| :134-136 | files loaded (copy_history, 15-min window) | copy_history table |
| :137-141 | raw / stream backlog / modelled counts | table counts |
| :142 | ``max(starttime)`` | modelled.trips |

Each subquery is an independent tiny agg; Spark evaluates them lazily and
the final assembly is a driver-side single row — no cross join of big
relations (the reference also plans each scalar subquery separately).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def pipeline_status(
    spark: SparkSession,
    *,
    staged_files: int,
    pending_files: int,
    files_loaded_recent: int,
    raw_count: int,
    stream_backlogs: dict[str, int],
    trips_count: int,
    programs_count: int,
    stations_count: int,
    latest_starttime,
    seconds_since_first_schedule: int | None = None,
    scheduled_tasks: int = 0,
) -> DataFrame:
    """Assemble the one-row status frame from already-computed scalars.

    streaming/monitor.py computes the inputs from live pipeline state;
    this function is the presentation layer so it is unit-testable
    without a running pipeline.
    """
    row = {
        "seconds_since_first_schedule": seconds_since_first_schedule,
        "scheduled_tasks": scheduled_tasks,
        "staged_files": staged_files,
        "pending_files": pending_files,
        "files_loaded_recent": files_loaded_recent,
        "trips_raw_rows": raw_count,
        **{f"backlog_{k}": v for k, v in stream_backlogs.items()},
        "trips_rows": trips_count,
        "programs_rows": programs_count,
        "stations_rows": stations_count,
        "latest_starttime": str(latest_starttime) if latest_starttime is not None else None,
    }
    schema = ", ".join(
        f"`{k}` {'string' if k == 'latest_starttime' else 'bigint'}" for k in row
    )
    return spark.createDataFrame([tuple(row.values())], schema)
