"""Local replica of the driver's DuckDB-oracle comparison.

Runs a registry query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compares row count + column names +
order-insensitive values (columns sorted by name, rows sorted by all
columns). Floats compare with a tiny relative tolerance purely to give
better failure messages — equality is the goal.
"""

from __future__ import annotations

import re
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import numpy as np
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir.rstrip('/')}/{t}.parquet'"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif s.dtype == object:
            # The DRIVER's canonicalizer sorts raw object columns and
            # crashes on unhashable values (lists/dicts/ndarrays) —
            # CORRECTNESS_r04 x_token_ids/x_pack_boundaries. Mirror that
            # strictness here instead of silently str-mapping, so a
            # registry query that would fail the driver fails locally.
            bad = s.map(lambda v: isinstance(v, (list, dict, set))
                        or type(v).__name__ == "ndarray")
            if bad.any():
                raise TypeError(
                    f"column {c!r} contains unhashable container values "
                    "(driver canonicalizer would crash) — serialize to a "
                    "string in both the Spark query and the oracle"
                )
            df[c] = s.map(lambda v: str(v) if v is not None else None)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(spark_df, oracle_sql: str, sf_dir: str) -> list[str]:
    """Returns a list of mismatch descriptions (empty = match)."""
    problems: list[str] = []
    sp = spark_df.toPandas()
    con = duckdb_conn(sf_dir)
    du = con.execute(oracle_sql).fetchdf()

    if len(sp) != len(du):
        problems.append(f"row count: spark={len(sp)} duckdb={len(du)}")
    if sorted(sp.columns) != sorted(du.columns):
        problems.append(f"columns: spark={sorted(sp.columns)} duckdb={sorted(du.columns)}")
        return problems

    a, b = _normalize(sp), _normalize(du)
    if len(a) != len(b):
        return problems or [f"row count after normalize: {len(a)} vs {len(b)}"]
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) and pd.api.types.is_float_dtype(bv):
            problems.extend(float_column_problems(c, av, bv))
        else:
            neq = ~((av == bv) | (av.isna() & bv.isna()))
            if neq.any():
                i = int(neq.idxmax())
                problems.append(
                    f"col {c}: {int(neq.sum())} mismatches; first at row {i}: "
                    f"spark={av[i]!r} duckdb={bv[i]!r}"
                )
    problems.extend(negative_zero_sweep({"spark": a, "duckdb": b}))
    return problems


def float_column_problems(c: str, av: pd.Series, bv: pd.Series) -> list[str]:
    """Value check for one aligned float column pair.

    "Bit-exact" must mean BIT patterns, not IEEE `==`: -0.0 == 0.0 is
    True, yet the driver's canonicalizer serializes the two
    differently and the hash diverges (the r07 x_token_pmi /
    x_embed_covariance* fails shipped through exactly this blind spot
    — the old check was `(av.fillna(0) == bv.fillna(0)).all()`).
    Compares int64 views of the float64 payloads, NaN==NaN allowed."""
    problems: list[str] = []
    xa = av.to_numpy(dtype="float64")
    xb = bv.to_numpy(dtype="float64")
    na_a, na_b = np.isnan(xa), np.isnan(xb)
    both = ~na_a & ~na_b
    pa, pb = xa[both], xb[both]  # hoisted once — fancy indexing copies
    # one vectorized pass (math.isclose semantics: rel OR abs within
    # 1e-12) — the old per-element Python loop dominated the sf0.1
    # registry-wide sweep for zero extra information (r08 review).
    # Non-finite values get math.isclose's exact semantics: inf is
    # close only to the same-signed inf, never to a finite value
    # (inf - inf = nan and 1e-12 * inf = inf would otherwise misgrade
    # both directions — r08 review pass 2).
    finite = np.isfinite(pa) & np.isfinite(pb)
    close = np.zeros(len(pa), dtype=bool)
    fa, fb = pa[finite], pb[finite]
    close[finite] = np.abs(fa - fb) <= np.maximum(
        1e-12 * np.maximum(np.abs(fa), np.abs(fb)), 1e-12
    )
    close[~finite] = pa[~finite] == pb[~finite]
    bad = int((na_a != na_b).sum()) + int((~close).sum())
    bits_neq = pa.view("int64") != pb.view("int64")
    exact = not (na_a != na_b).any() and not bits_neq.any()
    if bad:
        problems.append(f"col {c}: {bad} value mismatches (float)")
    elif not exact:
        signed_zero = int(
            ((pa == 0) & (pb == 0)
             & (pa.view("int64") != pb.view("int64"))).sum()
        )
        detail = (f" ({signed_zero} signed-zero divergences: one "
                  "engine -0.0, the other +0.0 — normalize with "
                  "`round(...) + 0` in the oracle)"
                  if signed_zero else "")
        problems.append(
            f"col {c}: floats equal at 1e-12 but NOT bit-exact "
            f"(driver hash WILL fail){detail}"
        )
    return problems


def negative_zero_sweep(frames: dict[str, pd.DataFrame]) -> list[str]:
    """House rule (r08, from the r07 signed-zero post-mortem): NO
    oracle-gated lane may emit -0.0 in ANY float column on EITHER
    engine — even when both engines agree bit-for-bit today, an
    agreeing -0.0 is one summation-order or rounding-path change away
    from the r07 divergence class. The fix is `+ 0` after the round on
    the side that produces it (IEEE: -0.0 + 0 = +0.0)."""
    problems: list[str] = []
    for side, df in frames.items():
        for c in df.columns:
            s = df[c]
            if not pd.api.types.is_float_dtype(s):
                continue
            x = s.to_numpy(dtype="float64")
            negz = int(((x == 0) & (np.signbit(x))).sum())
            if negz:
                problems.append(
                    f"col {c}: {negz} negative-zero value(s) on the "
                    f"{side} side — fragile float contract; normalize "
                    "with `round(...) + 0`"
                )
    return problems


# ---------------------------------------------------------------------------
# pure-Python replays of engine operators (test references)
# ---------------------------------------------------------------------------

def spark_round(x: float, s: int = 4) -> float:
    """Reference for Spark F.round on DOUBLE: BigDecimal.valueOf goes
    through Double.toString (shortest round-trip repr — identical to
    Python repr), HALF_UP, no signed zero. Verified against REAL
    PySpark F.round in test_spark_round_matches_reference."""
    q = Decimal(1).scaleb(-s)
    return float(Decimal(repr(float(x))).quantize(
        q, rounding=ROUND_HALF_UP)) + 0.0


def winnow_ref(text: str, k: int = 4, w: int = 3) -> list[int]:
    """Replay of winnowing (Schleimer et al. SIGMOD'03 §3): normalize,
    polynomial k-gram hashes, rightmost minimum of each w-window, sorted
    distinct ``pos_1based * MOD + hash`` codes. Normalizes with Python's
    unicode ``\\s``, so it matches the engine on ASCII whitespace only."""
    mod, base = 1_000_000_007, 131
    s = re.sub(r"\s+", " ", text.lower()).strip()
    hs = []
    for i in range(len(s) - k + 1):
        h = 0
        for ch in s[i:i + k]:
            h = (h * base + ord(ch)) % mod
        hs.append(h)
    picks = set()
    for j in range(max(len(hs) - w + 1, 1) if hs else 0):
        win = hs[j:j + w]
        mn = min(win)
        right = len(win) - 1 - win[::-1].index(mn)
        picks.add((j + right + 1) * mod + mn)
    return sorted(picks)


def repetition_ref(text: str | None) -> tuple[float, float, float]:
    """Replay of repetition_metrics: split the lowercased text on
    ``[^a-z0-9]+``, ``1 - distinct/total`` per n-gram order n = 1, 2, 3
    (0.0 without n-grams), Spark-rounded to 4 places."""
    toks = [t for t in re.split("[^a-z0-9]+", (text or "").lower()) if t]
    out = []
    for n in (1, 2, 3):
        grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        out.append(spark_round(1.0 - len(set(grams)) / len(grams))
                   if grams else 0.0)
    return tuple(out)
