"""Correctness gate: independent DuckDB answers for what the benchmark
measures.

* :func:`expected_report` recomputes a reader account's consumer report
  straight from the staged JSON day-files, with the secure view's join
  and row-security rules written out in SQL.
* :func:`frame_problems` compares a lane's Spark output with its oracle
  SQL result: same columns, same row count, same values after sorting,
  floats equal to within 1e-12 relative.

Both return plain data, so the negative self-tests can feed them
perturbed inputs without Spark.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

_DOC_COLUMNS = ("{start_station_id: 'INTEGER', end_station_id: 'INTEGER', "
                "program_id: 'INTEGER', program_name: 'VARCHAR'}")


def expected_report(files: list[str], account: str, like: str) -> list[tuple]:
    """(program_name, acct, num_trips) rows the secure view must give
    ``account`` (whose security row holds the LIKE pattern ``like``)
    over every trip document in ``files``."""
    con = duckdb.connect()
    try:
        rows = con.execute(f"""
            WITH d AS (
              SELECT * FROM read_json(?, format='newline_delimited',
                                      columns={_DOC_COLUMNS})
            ), st AS (
              SELECT start_station_id AS id FROM d
              UNION SELECT end_station_id FROM d
            ), pr AS (
              SELECT program_id, min(program_name) AS program_name
              FROM d GROUP BY 1
            )
            SELECT pr.program_name, ? AS acct, count(*) AS num_trips
            FROM d
            JOIN st s1 ON d.start_station_id = s1.id
            JOIN st s2 ON d.end_station_id = s2.id
            JOIN pr ON d.program_id = pr.program_id
            WHERE pr.program_name LIKE ?
            GROUP BY 1
        """, [files, account, like]).fetchall()
    finally:
        con.close()
    return sorted(rows)


def distinct_keys(files: list[str]) -> tuple[int, int, int]:
    """(documents, distinct program ids, distinct station ids) in
    ``files`` -- what trips, programs and stations must hold."""
    con = duckdb.connect()
    try:
        return con.execute(f"""
            WITH d AS (
              SELECT * FROM read_json(?, format='newline_delimited',
                                      columns={_DOC_COLUMNS})
            )
            SELECT (SELECT count(*) FROM d),
                   (SELECT count(DISTINCT program_id) FROM d),
                   (SELECT count(*) FROM (SELECT start_station_id FROM d
                                          UNION SELECT end_station_id FROM d))
        """, [files]).fetchone()
    finally:
        con.close()


def report_problems(got: list[tuple], want: list[tuple]) -> list[str]:
    got = sorted(tuple(r) for r in got)
    if got == want:
        return []
    extra = [r for r in got if r not in want][:3]
    missing = [r for r in want if r not in got][:3]
    return [f"report mismatch: {len(got)} rows vs {len(want)} expected; "
            f"unexpected {extra}, missing {missing}"]


def oracle_frame(data_dir: str, tables: tuple[str, ...], sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif s.dtype == object:
            df[c] = s.map(lambda v: None if v is None else str(v))
    return df.sort_values(by=list(df.columns), ignore_index=True)


def frame_problems(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} vs {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"row count {len(got)} vs {len(want)}"]
    a, b = _normalize(got), _normalize(want)
    problems = []
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) and pd.api.types.is_float_dtype(bv):
            x, y = av.to_numpy("float64"), bv.to_numpy("float64")
            same_nan = np.isnan(x) == np.isnan(y)
            close = np.isclose(x, y, rtol=1e-12, atol=1e-12, equal_nan=True)
            bad = int((~(same_nan & close)).sum())
        else:
            bad = int((~((av == bv) | (av.isna() & bv.isna()))).sum())
        if bad:
            problems.append(f"column {c}: {bad} of {len(a)} values differ")
    return problems
