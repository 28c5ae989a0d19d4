"""Local mirror of the driver's correctness gate.

Runs a registered query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compares row count + column names + an
order-insensitive value comparison (the driver hashes values after
sorting columns by name — see __spark_entry__.py docstring). Being at
least as strict here as the driver means green-local ⇒ green-driver.
"""

from __future__ import annotations

import math
from typing import Any

import duckdb
import numpy as np
import pandas as pd

from linux_logs_spark.catalog import TABLES, table_path

FLOAT_ABS_TOL = 0.0  # strict: queries must bake in rounding conventions


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
            )
        return con.execute(sql).df()
    finally:
        con.close()


def _canon_cell(v: Any) -> Any:
    """Normalize one value so Spark/DuckDB representations compare equal."""
    if v is None:
        return None
    # pd.NaT FIRST: it is not an instance of pd.Timestamp and NaT != NaT,
    # so without this branch two frames that AGREE on a null timestamp
    # are reported as mismatched (round-5 review, reproduced).
    if v is pd.NaT:
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_canon_cell(x) for x in v)
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return v + 0.0  # collapse -0.0 vs 0.0
    if isinstance(v, pd.Timestamp):
        return v.to_datetime64().astype("datetime64[us]").item()
    return v


def canonical_rows(pdf: pd.DataFrame) -> list[tuple]:
    """Columns sorted by name, every cell normalized, rows sorted."""
    cols = sorted(pdf.columns)
    rows = [
        tuple(_canon_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def _dtype_tag(dtype) -> str:
    """Normalize a pandas dtype to a comparable tag (kind + width for
    numerics — the driver may compare schemas more strictly than
    values, so int32-vs-int64 drift is flagged here)."""
    s = str(dtype)
    if s.startswith("datetime64"):
        return "timestamp"
    return s


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions (empty == match)."""
    issues: list[str] = []
    if len(spark_pdf) != len(oracle_pdf):
        issues.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        issues.append(f"columns: spark={s_cols} oracle={o_cols}")
        return issues
    for c in s_cols:
        st, ot = _dtype_tag(spark_pdf[c].dtype), _dtype_tag(oracle_pdf[c].dtype)
        if st != ot:
            issues.append(f"dtype[{c}]: spark={st} oracle={ot}")
    if issues:
        return issues
    s_rows = canonical_rows(spark_pdf)
    o_rows = canonical_rows(oracle_pdf)
    n_bad = 0
    first_bad = None
    for i, (a, b) in enumerate(zip(s_rows, o_rows)):
        if not _row_eq(a, b):
            n_bad += 1
            if first_bad is None:
                first_bad = (i, a, b)
    if n_bad:
        i, a, b = first_bad
        issues.append(
            f"{n_bad}/{len(s_rows)} rows differ; first at sorted idx {i}:\n"
            f"  spark : {a}\n  oracle: {b}"
        )
    return issues


def _val_eq(a: Any, b: Any) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, tuple) or isinstance(b, tuple):
        return (
            isinstance(a, tuple)
            and isinstance(b, tuple)
            and len(a) == len(b)
            and all(_val_eq(x, y) for x, y in zip(a, b))
        )
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isinf(af) or math.isinf(bf):
            return af == bf
        return abs(af - bf) <= FLOAT_ABS_TOL or af == bf
    return a == b


def _row_eq(a: tuple, b: tuple) -> bool:
    return len(a) == len(b) and all(_val_eq(x, y) for x, y in zip(a, b))
