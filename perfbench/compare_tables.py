#!/usr/bin/env python3
"""Compare the generated query tables with a reference set of tables.

    python3 perfbench/compare_tables.py <reference dir> <sf> [seed]

Run from the repository root. Generates the tables at scale factor `sf`
under .bench_build/compare and prints, for every column of every table,
the row count, distinct count, null share and range of both sets side
by side, plus the share of lineitem rows whose (l_orderkey, l_linenumber)
pair repeats. Columns whose type differs are marked.
"""
import os
import shutil
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def stats(con, path):
    cols = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{path}')").fetchall()
    out = {}
    for name, typ, *_ in cols:
        lo_hi = "NULL, NULL" if typ.endswith("[]") else f"min({name}), max({name})"
        n, distinct, nulls, lo, hi = con.execute(
            f"SELECT count(*), count(DISTINCT {name}), avg(({name} IS NULL)::INT), {lo_hi} "
            f"FROM read_parquet('{path}')").fetchone()
        out[name] = (typ, n, distinct, nulls or 0.0, lo, hi)
    return out


def repeated_keys(con, path):
    return con.execute(
        f"SELECT sum(c) FILTER (WHERE c > 1) / sum(c) FROM (SELECT count(*) c "
        f"FROM read_parquet('{path}') GROUP BY l_orderkey, l_linenumber)").fetchone()[0] or 0.0


def short(v):
    s = str(v)
    return s if len(s) <= 22 else s[:19] + "..."


def main():
    ref, sf = sys.argv[1], float(sys.argv[2])
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    out = os.path.join(".bench_build", "compare")
    shutil.rmtree(out, ignore_errors=True)
    gen.tables(out, seed, sf)
    con = duckdb.connect()
    for f in sorted(os.listdir(ref)):
        if not f.endswith(".parquet"):
            continue
        a, b = stats(con, os.path.join(ref, f)), stats(con, os.path.join(out, f))
        print(f"\n{f[:-8]}: rows {next(iter(a.values()))[1]} reference, {next(iter(b.values()))[1]} generated")
        print(f"  {'column':16} {'distinct ref/gen':>20} {'null share ref/gen':>20}  range ref | gen")
        for c in a:
            r, g = a[c], b.get(c)
            if g is None:
                print(f"  {c:16} missing from the generated table")
                continue
            mark = "" if r[0] == g[0] else f"  TYPE {r[0]} vs {g[0]}"
            print(f"  {c:16} {r[2]:>9}/{g[2]:<10} {r[3]:>9.3f}/{g[3]:<10.3f}  "
                  f"{short(r[4])}..{short(r[5])} | {short(g[4])}..{short(g[5])}{mark}")
        if f == "lineitem.parquet":
            print(f"  rows with a repeated (l_orderkey, l_linenumber): "
                  f"{repeated_keys(con, os.path.join(ref, f)):.3f} reference, "
                  f"{repeated_keys(con, os.path.join(out, f)):.3f} generated")
    shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
