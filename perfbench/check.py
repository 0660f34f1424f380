"""Output checks, run after the timed region.

Each check returns {name: error or None}; a name with an error failed.
"""
import glob
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def read(path):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def _norm(df):
    # the normalisation of tools/local_check.py: sorted columns,
    # timestamps at microsecond precision, positional rows
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    return df.reset_index(drop=True)


def _compare(got, exp):
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    for c in got.columns:
        g, e = got[c], exp[c]
        if str(g.dtype) == "object" or str(e.dtype) == "object":
            eq = (g.astype(str) == e.astype(str)) | (g.isna() & e.isna())
        else:
            eq = (g == e) | (g.isna() & e.isna())
        if not eq.all():
            i = (~eq).idxmax()
            return f"column {c} row {i}: {g[i]!r} != {e[i]!r}"
    return None


def oracle(tables_dir, check_dir, oracle_sql, names):
    """Each op's result against its DuckDB oracle; an op without an
    oracle must return rows."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet/*.parquet')")
    out = {}
    for name in names:
        got = read(os.path.join(check_dir, name))
        if got is None:
            out[name] = "no output"
            continue
        if name not in oracle_sql:
            out[name] = None if len(got) > 0 else "no oracle and no rows"
            continue
        try:
            exp = con.execute(oracle_sql[name]).df()
        except Exception as e:  # noqa: BLE001 - an oracle error fails the op
            out[name] = f"oracle error: {e}"
            continue
        out[name] = _compare(_norm(got), _norm(exp))
    con.close()
    return out


def image_pipeline(check_dir, expected):
    got = read(os.path.join(check_dir, "image_pipeline"))
    if got is None:
        return "no output"
    exp = pd.DataFrame(expected)[list(got.columns)]
    return _compare(_norm(got), _norm(exp))


STATEMENT_FIELDS = ["batch_date", "platform", "biz_type", "fund_code", "trade_date", "valid"]


def statements(rows, truth):
    """Extracted statement rows against the generator's manifest."""
    if rows is None:
        return "no output"
    if len(rows) != len(truth):
        return f"rows {len(rows)} != manifest {len(truth)}"
    got = rows.set_index("file_name")
    for t in truth:
        if t["file_name"] not in got.index:
            return f"missing {t['file_name']}"
        g = got.loc[t["file_name"]]
        for f in STATEMENT_FIELDS:
            gv = None if pd.isna(g[f]) else g[f]
            if gv != t[f]:
                return f"{t['file_name']} {f}: {gv!r} != {t[f]!r}"
        if pd.isna(g["amount"]) or abs(float(g["amount"]) - t["amount"]) > 0.005:
            return f"{t['file_name']} amount: {g['amount']!r} != {t['amount']!r}"
    return None


def etl_counts(rows):
    """The reference's "validate" counts, recounted from a result."""
    if rows is None:
        return 0, 0, 0
    unknown = int((rows["platform"] == "UNKNOWN").sum())
    return len(rows) - unknown, unknown, int((~rows["valid"].astype(bool)).sum())
