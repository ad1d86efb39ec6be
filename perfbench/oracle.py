"""Checks each headline query's Spark output against its DuckDB oracle.

Both sides are reduced inside DuckDB to one digest row, (count,
sum(hash(row)), bit_xor(hash(row))), over name-sorted columns
normalized the way `tools/scalegate.py` normalizes them: floats and
decimals to DOUBLE, timestamps to naive TIMESTAMP, float lists to
DOUBLE[]. Equal digests pass. Floats hash bit-exactly, so a digest can
differ by summation order alone; a mismatch therefore falls back to a
row-by-row compare with a 1e-9 relative tolerance on floats, as the
repository's diffcheck does.
"""
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _category(t):
    t = t.upper()
    if t.endswith("[]"):
        return "list:" + _category(t[:-2])
    if t.startswith("DECIMAL") or t in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    return t


def _norm(name, t):
    c, q = _category(t), f'"{name}"'
    if c == "float":
        return f"CAST({q} AS DOUBLE)"
    if c == "timestamp":
        return f"CAST({q} AS TIMESTAMP)"
    if c == "list:float":
        return f"CAST({q} AS DOUBLE[])"
    return q


def _digest(con, from_sql):
    cols = con.execute(f"DESCRIBE SELECT * FROM {from_sql}").fetchall()
    packed = ", ".join(f"c{i} := {_norm(n, t)}"
                       for i, (n, t, *_) in enumerate(sorted(cols)))
    h = f"hash(struct_pack({packed}))"
    n, s, x = con.execute(f"SELECT count(*), sum({h}::HUGEINT), "
                          f"bit_xor({h}) FROM {from_sql}").fetchone()
    return sorted(c[0] for c in cols), (n, s, x)


def _frames_close(a, b):
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False

    def key(s):
        return s if s.dtype.kind in "iufb" else s.astype(str)
    a = a.sort_values(list(a.columns), key=key, ignore_index=True)
    b = b.sort_values(list(b.columns), key=key, ignore_index=True)
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            for u, v in zip(x.astype(float), y.astype(float)):
                if not ((math.isnan(u) and math.isnan(v)) or
                        math.isclose(u, v, rel_tol=1e-9, abs_tol=1e-9)):
                    return False
        elif not (x.astype(str) == y.astype(str)).all():
            return False
    return True


def check(tables, outputs, oracle_sql, names, corrupt=(), threads=4,
          fallback_rows=2_000_000):
    """{query: None if its output matches the oracle, else a reason}.
    `corrupt` names queries whose expected digest is deliberately
    altered (the benchmark's self-test)."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute("SET enable_progress_bar = false")
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET temp_directory = '{outputs}.duckdb-tmp'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables}/{t}.parquet')")
    verdict = {}
    for q in names:
        if q not in oracle_sql:
            verdict[q] = "no oracle SQL"
            continue
        out = os.path.join(outputs, q)
        src = f"read_parquet('{out}/*.parquet')"
        try:
            scols, sd = _digest(con, src)
            ocols, od = _digest(con, f"({oracle_sql[q]})")
        except Exception as e:  # a broken oracle or output is a failure
            verdict[q] = f"error: {str(e).splitlines()[0][:200]}"
            continue
        if q in corrupt:
            od = (od[0], (od[1] or 0) + 1, od[2])
        if scols != ocols:
            verdict[q] = f"columns {scols} != oracle {ocols}"
        elif sd == od:
            verdict[q] = None
        elif sd[0] != od[0]:
            verdict[q] = f"{sd[0]} rows != oracle {od[0]}"
        elif q in corrupt or sd[0] > fallback_rows:
            verdict[q] = "digest differs from the oracle's"
        else:
            a = con.execute(f"SELECT * FROM {src}").df()
            b = con.execute(oracle_sql[q]).df()
            b = b[sorted(b.columns)]
            a = a[sorted(a.columns)]
            verdict[q] = None if _frames_close(a, b) else \
                "values differ from the oracle's"
    con.close()
    return verdict
