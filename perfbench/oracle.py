"""Checks committed gate_flow labels against their DuckDB oracle SQL.

The comparison follows the repository's oracle gate: columns sorted by name,
rows sorted, nested columns and timezone-annotated timestamps rejected,
timestamps compared at microsecond precision and every other column exactly.
"""
import glob

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from datagen import TABLES


def _canon(df):
    df = df[sorted(df.columns)].reset_index(drop=True)
    for c in df.columns:
        nested = df[c].map(lambda v: isinstance(v, (list, dict, tuple))
                           or (hasattr(v, "tolist") and getattr(v, "ndim", 0) != 0))
        if nested.any():
            raise ValueError(f"column {c} holds nested values")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def expected(data_dir, sql_by_label, temp_dir):
    """Runs every label's oracle SQL over the input tables, spilling (if at
    all) under `temp_dir`. Returns {label: canonical frame, or the exception
    the oracle raised}. Two threads: it runs beside the JVM's warm-up flow."""
    con = duckdb.connect(config={"threads": 2, "temp_directory": temp_dir})
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{data_dir}/{t}.parquet'")
    out = {}
    for label, sql in sql_by_label.items():
        try:
            out[label] = _canon(con.execute(sql).fetchdf())
        except Exception as e:  # reported as that label's failed check
            out[label] = e
    con.close()
    return out


def check_label(ref, files):
    """Returns None when the committed files match the oracle frame, else
    the reason."""
    if isinstance(ref, Exception):
        return f"oracle failed: {type(ref).__name__}: {ref}"
    if not files:
        return "no committed parquet files"
    for f in files:
        for field in pq.read_schema(f):
            if pa.types.is_nested(field.type):
                return f"nested column {field.name}:{field.type}"
            if pa.types.is_timestamp(field.type) and field.type.tz is not None:
                return f"column {field.name} is timestamp[{field.type.unit}, tz={field.type.tz}]"
    mine = _canon(pd.concat([pd.read_parquet(f) for f in files]))
    if list(mine.columns) != list(ref.columns):
        return f"columns {list(mine.columns)} != oracle {list(ref.columns)}"
    if len(mine) != len(ref):
        return f"{len(mine)} rows != oracle {len(ref)}"
    for c in mine.columns:
        a, b = mine[c], ref[c]
        if str(a.dtype).startswith("datetime") or str(b.dtype).startswith("datetime"):
            ok = (pd.to_datetime(a).values.astype("datetime64[us]")
                  == pd.to_datetime(b).values.astype("datetime64[us]")).all()
        else:
            try:
                ok = (a.values == b.values).all()
            except (TypeError, ValueError):
                ok = (a.astype(str).values == b.astype(str).values).all()
        if not ok:
            bad = a.astype(str).values != b.astype(str).values
            return f"column {c}: {int(bad.sum())} values differ, e.g. {a[bad][:2].tolist()} vs {b[bad][:2].tolist()}"
    return None


def check_gate(gate, refs):
    """Checks every label of the last committed snapshot against `refs`
    (from `expected`). Returns (label, reason) for each mismatch."""
    failures = []
    for label in gate["labels"]:
        files = sorted(glob.glob(f"{gate['commit_base']}/{label}/{gate['snapshot']}/*.parquet"))
        try:
            reason = check_label(refs.get(label, KeyError(label)), files)
        except Exception as e:  # an unreadable output is a failed check, with its cause
            reason = f"{type(e).__name__}: {e}"
        if reason:
            failures.append((label, reason))
    return failures
