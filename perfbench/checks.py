"""Correctness checks, run after the timed region.

`ingest` checks each create and append output (the `.db` and the
parquet store) against the generator's truth, and each typed-date probe
against what pandas would have stored. `queries` compares every
warm-up result with its DuckDB oracle under the comparison rules of
`scripts/verify_local.py`, and the query probe with the reference's
first-seen order. A failure is reported by op name.
"""
import glob
import math
import os
import sqlite3

import duckdb
import pyarrow.parquet as pq
import pyarrow.types as pat

import gen

EXTRACTED = ("region", "city", "vendor")
# Column types and FK clauses the pipeline's DDL must give `facts`.
FACT_COLUMNS = {"id": "INTEGER", "region": "INTEGER", "city": "INTEGER", "vendor": "INTEGER",
                "day": "TEXT", "price": "REAL", "qty": "INTEGER", "text": "TEXT"}


def op_id(o):
    return o["kind"] if o["pass"] < 0 and o["kind"].startswith("probe_") else f'{o["kind"]}#{o["pass"]}'


def _parquet_rows(path):
    files = glob.glob(os.path.join(path, "*.parquet")) if os.path.isdir(path) else [path]
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _check_db(dbfile, store, truth, appended):
    """Problems with one pipeline output; an empty list when it is right."""
    problems = []
    con = sqlite3.connect(f"file:{dbfile}?mode=ro", uri=True)
    try:
        n = truth["rows_create"] + (truth["rows_append"] if appended else 0)
        got = con.execute("SELECT count(*) FROM facts").fetchone()[0]
        if got != n:
            problems.append(f"facts has {got} rows, expected {n}")
        if _parquet_rows(os.path.join(store, "facts.parquet")) != n:
            problems.append("parquet store row count differs")
        # Dictionaries: exactly the distinct values, ids 1..n in first-seen
        # order; an append keeps every old id and adds only new values.
        for c in EXTRACTED:
            want = truth["dict_create"][c] + (truth["dict_append_new"][c] if appended else [])
            rows = con.execute(f"SELECT id, value FROM [{c}] ORDER BY id").fetchall()
            if [r[0] for r in rows] != list(range(1, len(want) + 1)):
                problems.append(f"{c}: ids are not 1..{len(want)}")
            elif [r[1] for r in rows] != want:
                problems.append(f"{c}: values differ from the first-seen distinct values")
            if _parquet_rows(os.path.join(store, f"{c}.parquet")) != len(want):
                problems.append(f"{c}: parquet lookup table has the wrong size")
        # LEFT JOIN reconstruction gives back the original strings, the
        # parsed ISO date and the int-or-null column.
        rows = con.execute(
            "SELECT f.id, r.value, c.value, v.value, f.day, f.qty FROM facts f "
            "LEFT JOIN region r ON f.region = r.id LEFT JOIN city c ON f.city = c.id "
            "LEFT JOIN vendor v ON f.vendor = v.id").fetchall()
        bad = [r for r in rows if truth["rows"].get(str(r[0])) != list(r[1:])]
        if bad:
            r = bad[0]
            problems.append(f"{len(bad)} rows differ after reconstruction, e.g. id {r[0]}: "
                            f"{list(r[1:])} != {truth['rows'].get(str(r[0]))}")
        # FTS MATCH on sampled tokens returns the generator's row set. An
        # append does not re-index (the reference's behaviour), so the set
        # is the create rows in both cases.
        for token, ids in truth["fts"].items():
            got = sorted(r[0] for r in con.execute(
                "SELECT f.id FROM facts_fts JOIN facts f ON f.rowid = facts_fts.rowid "
                "WHERE facts_fts MATCH ?", (token,)))
            if got != sorted(ids):
                problems.append(f"FTS MATCH {token!r}: {len(got)} rows, expected {len(ids)}")
        cols = {r[1]: r[2] for r in con.execute("PRAGMA table_info(facts)")}
        if cols != FACT_COLUMNS:
            problems.append(f"facts columns {cols} != {FACT_COLUMNS}")
        fks = {(r[3], r[2], r[4]) for r in con.execute("PRAGMA foreign_key_list(facts)")}
        if fks != {(c, c, "id") for c in EXTRACTED}:
            problems.append(f"facts foreign keys {sorted(fks)}")
    except sqlite3.Error as e:
        problems.append(f"sqlite: {e}")
    finally:
        con.close()
    return problems


def _check_probe(o, truth):
    if o["error"]:
        return o["error"]
    want = truth["probes"][o["kind"]]["expect"]
    con = sqlite3.connect(os.path.join(o["dir"], "probe.db"))
    try:
        got = con.execute("SELECT d, typeof(d) FROM t").fetchall()
    finally:
        con.close()
    return None if got == [(want, "text")] else f"stored {got}, expected [({want!r}, 'text')]"


def ingest(ops, truth):
    """(failures, failing probes, size metrics) of one ingest run."""
    failures, probes, sizes = {}, {}, {}
    for o in ops:
        if o["kind"].startswith("probe_"):
            why = _check_probe(o, truth)
            if why:
                probes[o["kind"]] = why
            continue
        if o["error"]:
            failures[op_id(o)] = o["error"]
            continue
        problems = _check_db(os.path.join(o["dir"], "graft.db"), os.path.join(o["dir"], "store"),
                             truth, appended=o["kind"] == "append")
        if problems:
            failures[op_id(o)] = "; ".join(problems)
        if o["kind"] == "create" and o["pass"] == 0:
            db = os.path.getsize(os.path.join(o["dir"], "graft.db"))
            store = _dir_bytes(os.path.join(o["dir"], "store"))
            sizes = {"sinks.sqlite.db_bytes": db, "sinks.parquet.store_bytes": store,
                     "sinks.sqlite.db_bytes_per_csv_byte": db / truth["csv_bytes"],
                     "sinks.parquet.store_bytes_per_csv_byte": store / truth["csv_bytes"]}
    return failures, probes, sizes


# ------------------------------------------------------------ queries

def _fragile(t):
    return (pat.is_decimal(t) or pat.is_struct(t) or pat.is_map(t) or pat.is_union(t)
            or pat.is_dictionary(t) or pat.is_large_list(t) or pat.is_list(t)
            or pat.is_binary(t) or pat.is_large_binary(t))


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _coerced(v):
    if v is None:
        return "None"
    tn = type(v).__name__
    if tn == "ndarray":
        v, tn = v.tolist(), "list"
    if isinstance(v, float) and math.isnan(v):
        return "float:NaN"
    if hasattr(v, "isoformat"):
        return f"ts:{v.isoformat()}"
    return f"{tn}:{v!r}"


def _row_key(t):
    return tuple((x is None, str(type(x)), str(x)) for x in t)


def _compare(con, sql, path):
    """None when the Spark result at `path` equals the oracle's rows."""
    spark = pq.read_table(path)
    bad = [(f.name, str(f.type)) for f in spark.schema if _fragile(f.type)]
    if bad:
        return f"repr-fragile output types {bad}"
    # Run the oracle once; both comparisons read the stored result.
    con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_result AS {sql}")
    duck = con.execute("SELECT * FROM oracle_result")
    d_cols = [d[0] for d in duck.description]
    d_raw = duck.fetchall()
    cols = sorted(spark.column_names)
    if cols != sorted(d_cols):
        return f"schema spark={cols} duck={sorted(d_cols)}"
    s_rows = sorted((tuple(_norm(r[c]) for c in cols) for r in spark.select(cols).to_pylist()), key=_row_key)
    idx = [d_cols.index(c) for c in cols]
    d_rows = sorted((tuple(_norm(r[i]) for i in idx) for r in d_raw), key=_row_key)
    if len(s_rows) != len(d_rows):
        return f"rowcount spark={len(s_rows)} duck={len(d_rows)}"
    if s_rows != d_rows:
        i = next(i for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b)
        return f"first diff at sorted row {i}: spark={s_rows[i]} duck={d_rows[i]}"
    s_pd = spark.select(cols).to_pandas()
    d_pd = con.execute("SELECT * FROM oracle_result").fetchdf()[cols]
    sc = sorted(tuple(_coerced(v) for v in r) for r in s_pd.itertuples(index=False, name=None))
    dc = sorted(tuple(_coerced(v) for v in r) for r in d_pd.itertuples(index=False, name=None))
    if sc != dc:
        return "coerced-form mismatch"
    return None


def _check_table_probe(o):
    if o["error"]:
        return o["error"]
    problems = []
    for variant, rows in gen.TABLE_PROBES[o["kind"]][1].items():
        got = sorted([r["id"], r["value"]] for r in pq.read_table(os.path.join(o["dir"], variant)).to_pylist())
        want = gen.first_seen_ids(rows)
        if got != want:
            problems.append(f"{variant}: ids {got}, expected {want}")
    return "; ".join(problems) or None


def queries(ops, oracle, tables_dir):
    """(failures, failing probes) of one query run: harness errors and
    oracle mismatches, and the query probe's deviations.
    """
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    failures, probes = {}, {}
    for o in ops:
        if o["kind"].startswith("probe_"):
            why = _check_table_probe(o)
            if why:
                probes[o["kind"]] = why
        elif o["error"]:
            failures[op_id(o)] = o["error"]
        elif o["pass"] < 0:
            try:
                why = _compare(con, oracle[o["kind"]], o["dir"])
            except Exception as e:  # an oracle that cannot run is a failed check
                why = f"oracle error: {e}"
            if why:
                failures[op_id(o)] = why
    con.close()
    return failures, probes
