"""Set-up correctness gate: the engine's operators against the DuckDB
twins in ``__spark_entry__.oracle_sql()`` (read-only), at the scale the
oracle text is pinned to (500 synthetic conversations)."""

from __future__ import annotations

import numpy as np
import pandas as pd

ORACLE_CONVS = 500


def oracle_frames(names, threads: int, temp_dir: str,
                  documents: pd.DataFrame | None = None) -> dict:
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"SET threads={int(threads)}")
        con.execute(f"SET temp_directory='{temp_dir}'")
        if documents is not None:
            con.register("documents", documents)
        return {n: con.execute(sql[n]).df() for n in names}
    finally:
        con.close()


def _family(s: pd.Series) -> str:
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "other"


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Exact comparison, order-insensitive: same columns, same dtype
    family per column (int, float, bool, other), same row multiset with
    floats compared bit for bit (NaN equal to NaN)."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    errs = [f"column {c}: dtype {got[c].dtype} vs {want[c].dtype}"
            for c in got.columns if _family(got[c]) != _family(want[c])]
    if errs:
        return errs
    cols = sorted(got.columns)
    a, b = _canon(got[cols]), _canon(want[cols])
    for c in cols:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f":
            eq = (av == bv) | (np.isnan(av) & np.isnan(bv))
        else:
            eq = av == bv
        bad = int((~eq).sum())
        if bad:
            i = int(np.argmax(~eq))
            errs.append(f"column {c}: {bad} values differ, first {a[c].iloc[i]!r} "
                        f"vs {b[c].iloc[i]!r}")
    return errs


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for c in df.columns:
        if _family(df[c]) == "int":
            df[c] = df[c].astype("int64")
        elif _family(df[c]) == "float":
            df[c] = df[c].astype("float64")
        elif _family(df[c]) == "other":
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
