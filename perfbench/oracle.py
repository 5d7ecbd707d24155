"""Checks query outputs against the engine's DuckDB oracle SQL.

The comparison is the engine's correctness gate: columns sorted by name,
rows compared in order, cells compared by their normalised text. Outputs
are the parquet directories the benchmark JVM writes in its checked pass;
the SQL comes from `SparkEntry.oracleSql`, dumped by the same JVM.
"""
import decimal
import glob
import os

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _norm(v):
    import numpy as np
    import pandas as pd
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, np.integer):
        return str(int(v))
    return str(v)


def check(data_dir, out_dir, oracle_sql, entries):
    """Returns {entry: None if it matches, else a one-line reason}."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, t + ".parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    verdicts = {}
    for name in entries:
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not files:
            verdicts[name] = "no output"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        sql = oracle_sql.get(name)
        if sql is None:
            verdicts[name] = None if len(got) > 0 else "no rows"
            continue
        try:
            want = con.execute(sql).fetchdf()
        except Exception as e:  # an oracle that cannot run is a failed check
            verdicts[name] = f"oracle error: {e}"[:300]
            continue
        reasons = []
        if len(got) != len(want):
            reasons.append(f"rows {len(got)} vs {len(want)}")
        if sorted(got.columns) != sorted(want.columns):
            reasons.append(f"columns {sorted(got.columns)} vs {sorted(want.columns)}")
        if not reasons:
            for c in sorted(got.columns):
                a = got[c].reset_index(drop=True).map(_norm)
                b = want[c].reset_index(drop=True).map(_norm)
                diff = (a != b).values
                if diff.any():
                    i = int(diff.argmax())
                    reasons.append(f"column {c} row {i}: {a.iloc[i]!r} vs {b.iloc[i]!r} "
                                   f"({int(diff.sum())} cells differ)")
                    break
        verdicts[name] = "; ".join(reasons)[:300] if reasons else None
    return verdicts
