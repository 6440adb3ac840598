"""DuckDB oracle for the verify pass.

The oracle SQL runs while the harness warms up; the harness waits for it
to finish before it measures. Each op with an oracle has its verify-pass
result written as parquet by the harness. Both sides are read through
DuckDB, normalized the same way and compared by fingerprint: row count plus an order-insensitive hash of
the rows, columns in name order, doubles at 9 significant digits. When
the hashes differ, the sorted rows are compared value by value with the
1e-9 relative tolerance of the repo's oracle checker, so a double that
sits on a rounding boundary does not count as a mismatch.
"""
import datetime
import decimal
import glob
import hashlib
import json
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _rows(con, rel):
    cols = sorted(rel.columns)
    quoted = ", ".join('"' + c + '"' for c in cols)
    return cols, [tuple(_norm(v) for v in r) for r in con.sql(f"SELECT {quoted} FROM rel").fetchall()]


def _key(v):
    return f"{v:.9g}" if isinstance(v, float) else repr(v)


def fingerprint(rows):
    h = 0
    for r in rows:
        digest = hashlib.blake2b("\x01".join(_key(v) for v in r).encode(), digest_size=8).digest()
        h = (h + int.from_bytes(digest, "little")) % (1 << 64)
    return f"{len(rows)}:{h:016x}"


def _close(a, b):
    if a == b:
        return True
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    try:
        fa, fb = float(a), float(b)
    except (TypeError, ValueError):
        return False
    return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))


def _sort_key(r):
    return tuple(str(v) for v in r)


def expected(inputs, oracle_sql, threads=2):
    """Run each op's oracle SQL in DuckDB over the inputs. Returns
    {op: (columns, rows)} or {op: error message}."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            out[name] = _rows(con, con.sql(sql))
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = f"error: {e}"
    return out


def compare(verify_dir, oracle_rows, corrupt=None):
    """Compare each op's verify-pass output with its oracle rows. Returns
    a list of (op, ok, detail). `corrupt` names an op whose oracle result
    is deliberately altered, to show that a mismatch fails the run."""
    con = duckdb.connect()
    out = []
    for name, expect in sorted(oracle_rows.items()):
        if isinstance(expect, str):
            out.append((name, False, expect))
            continue
        o_cols, o_rows = expect[0], list(expect[1])
        if not glob.glob(f"{verify_dir}/{name}/*.parquet"):
            out.append((name, False, "no verify-pass output"))
            continue
        s_cols, s_rows = _rows(con, con.sql(f"SELECT * FROM read_parquet('{verify_dir}/{name}/*.parquet')"))
        if name == corrupt and o_rows:
            o_rows[0] = tuple(("corrupted",) + o_rows[0][1:])
        if s_cols != o_cols:
            out.append((name, False, f"columns spark={s_cols} oracle={o_cols}"))
            continue
        fs, fo = fingerprint(s_rows), fingerprint(o_rows)
        if fs == fo:
            out.append((name, True, fs))
            continue
        ok = len(s_rows) == len(o_rows) and all(
            _close(a, b) for a, b in zip(sorted(s_rows, key=_sort_key), sorted(o_rows, key=_sort_key)))
        out.append((name, ok, f"spark={fs} oracle={fo}" + ("" if ok else " (rows differ)")))
    return out
