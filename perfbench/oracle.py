"""Compare a gate's Spark result with its ``oracle_sql()`` run in
DuckDB, using the same normalization and Arrow-type rules as
``tools/check_oracle.py``."""

from __future__ import annotations

import os


def compare_with_oracle(name: str, df, sf_dir: str) -> tuple[bool, str]:
    import duckdb

    import __spark_entry__ as entry
    from tools.check_oracle import normalize, schema_mismatches

    got_tbl = df.toArrow()
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{os.path.join(sf_dir, 'duckdb_tmp')}'")
        for t in os.listdir(sf_dir):
            if t.endswith(".parquet"):
                con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}')")
        exp_tbl = con.execute(entry.oracle_sql()[name]).arrow()
    finally:
        con.close()
    if hasattr(exp_tbl, "read_all"):
        exp_tbl = exp_tbl.read_all()
    got, exp = normalize(got_tbl.to_pandas()), normalize(exp_tbl.to_pandas())
    if list(got.columns) != list(exp.columns):
        return False, f"columns spark={list(got.columns)} oracle={list(exp.columns)}"
    bad_types = schema_mismatches(got_tbl.schema, exp_tbl.schema)
    if bad_types:
        return False, "arrow type mismatch: " + "; ".join(bad_types)
    if len(got) != len(exp):
        return False, f"rows spark={len(got)} oracle={len(exp)}"
    for c in got.columns:
        a, b = got[c], exp[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            eq = (a == b) | (a.isna() & b.isna())
        else:
            eq = a.astype(str).fillna("¤") == b.astype(str).fillna("¤")
        if not eq.all():
            bad = (~eq).to_numpy().nonzero()[0][:5]
            return False, f"column {c} differs at rows {bad.tolist()}: {a.iloc[bad].tolist()} vs {b.iloc[bad].tolist()}"
    return True, ""
