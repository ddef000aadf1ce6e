"""Local mirror of the driver's DuckDB-oracle comparison.

Runs a Spark plan and its oracle SQL, normalizes both to
column-name-sorted, row-sorted pandas frames, and compares:
row count, column names, dtype KIND, and typed values.

Strictness matches the driver's typed value-hash:
- An integer column on one side vs a float column on the other FAILS,
  even when the values are numerically equal.  This is exactly what
  DuckDB's HUGEINT (int128, from integer SUM / list_sum) does — pandas
  converts it to float64 — so an un-CAST oracle aggregate fails here
  the same way it fails the driver.  Always CAST(SUM(...) AS BIGINT).
- Floats compare with tight relative tolerance (1e-9).  Empirically the
  driver accepts sub-ulp summation-order noise (events_sessionize passed
  with a 3e-16 relative diff), so exact-bit float compare would
  be STRICTER than the driver; the kind check above is what it actually
  enforces.  Leave float sums AND float-sum ratios RAW on both engines
  (the rel-tol compare absorbs summation noise); do NOT ROUND(...,6)
  them — rounding is what flips half-boundary values when the engines'
  sub-ulp sums land on opposite sides (as q8 and q14 did).
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con.execute(sql).fetchdf()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify unhashable cells (lists/arrays) for stable sorting
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if isinstance(v, (list, tuple)) or hasattr(v, "tolist") else v)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _kind(s: pd.Series) -> str:
    """Coarse dtype kind used for the cross-engine type check."""
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    return "object"


def compare(spark_df, oracle_pdf: pd.DataFrame, rel_tol: float = 1e-9) -> list[str]:
    """Return list of mismatch descriptions (empty = pass)."""
    spdf = normalize(spark_df.toPandas())
    orc = normalize(oracle_pdf)
    problems: list[str] = []
    if list(spdf.columns) != list(orc.columns):
        return [f"columns differ: spark={list(spdf.columns)} oracle={list(orc.columns)}"]
    if len(spdf) != len(orc):
        return [f"row count differs: spark={len(spdf)} oracle={len(orc)}"]
    for c in spdf.columns:
        a, b = spdf[c], orc[c]
        ka, kb = _kind(a), _kind(b)
        if ka != kb:
            hint = " (DuckDB HUGEINT? CAST the aggregate to BIGINT)" if "float" in (ka, kb) and "int" in (ka, kb) else ""
            problems.append(f"col {c}: dtype kind mismatch: spark={a.dtype} ({ka}) oracle={b.dtype} ({kb}){hint}")
            continue
        if ka == "float":
            af = a.to_numpy(dtype="float64")
            bf = b.to_numpy(dtype="float64")
            both_nan = np.isnan(af) & np.isnan(bf)
            if rel_tol:
                close = both_nan | np.isclose(af, bf, rtol=rel_tol, atol=1e-9, equal_nan=True)
            else:
                close = both_nan | (af == bf)
            bad = (~close).nonzero()[0]
            if len(bad):
                i = int(bad[0])
                problems.append(
                    f"col {c}: {len(bad)} float mismatches; first at row {i}: "
                    f"spark={af[i]!r} oracle={bf[i]!r}"
                )
        elif ka == "int":
            # nullable Int64 frames with pd.NA cannot densify to int64;
            # report the NULL disagreement instead of crashing the gate
            a_na, b_na = a.isna().to_numpy(), b.isna().to_numpy()
            if a_na.any() or b_na.any():
                if (a_na != b_na).any():
                    i = int((a_na != b_na).nonzero()[0][0])
                    problems.append(
                        f"col {c}: NULL placement differs; first at row {i}: "
                        f"spark={a.iloc[i]!r} oracle={b.iloc[i]!r}"
                    )
                    continue
                a, b = a[~a_na], b[~b_na]
            av = a.to_numpy(dtype="int64")
            bv = b.to_numpy(dtype="int64")
            bad = (av != bv).nonzero()[0]
            if len(bad):
                i = int(bad[0])
                problems.append(
                    f"col {c}: {len(bad)} int mismatches; first at row {i}: "
                    f"spark={av[i]!r} oracle={bv[i]!r}"
                )
        else:
            eq = (a.astype(str).where(~a.isna(), "<NA>") == b.astype(str).where(~b.isna(), "<NA>"))
            bad = (~eq).to_numpy().nonzero()[0]
            if len(bad):
                i = int(bad[0])
                problems.append(
                    f"col {c}: {len(bad)} mismatches; first at row {i}: "
                    f"spark={a.iloc[i]!r} oracle={b.iloc[i]!r}"
                )
    return problems
