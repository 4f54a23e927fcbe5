"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed writes
byte-identical files. Two generators:

* ``ingest(dir, seed)`` writes a directory of CSV files, one append file,
  the typed-date probe files and ``truth.json``, the generator's own
  record of what the pipeline must produce from them.
* ``tables(dir, seed, sf)`` writes the ten parquet tables the query
  registry reads (the TESTDATA.md star schema plus events, documents and
  embeddings), one file per table, with the reference testdata's column
  names and types and similar value ranges (README.md says where they
  differ), plus the query probe's inputs.
"""
import datetime
import json
import os

import numpy as np

# ---------------------------------------------------------------- ingest

INGEST_FILES = 4
INGEST_ROWS_PER_FILE = 2_500
APPEND_ROWS = INGEST_ROWS_PER_FILE * INGEST_FILES // 10
REGIONS = 12
CITIES = 400
VENDORS = 8_000
# Share of append rows whose vendor is a value the create files never had.
APPEND_NEW_VENDOR_SHARE = 0.15
TEXT_VOCAB = 2_000
FTS_SAMPLE_TOKENS = 12
HEADER = "id,region,city,vendor,day,price,qty,text"

_CONS = "bdfgklmnprstvz"
_VOWS = "aeiou"
_SYLS = [c + v for c in _CONS for v in _VOWS]  # 70 syllables
MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]


def _word(i, syllables):
    """Distinct lowercase pseudo-word for index i (base-70 syllables)."""
    out = []
    for _ in range(syllables):
        out.append(_SYLS[i % len(_SYLS)])
        i //= len(_SYLS)
    return "".join(out)


def _ordinal(d):
    return {1: "st", 2: "nd", 3: "rd"}.get(d % 10 if d // 10 != 1 else 0, "th")


def _fuzzy_date(day, fmt):
    """One date in one of the non-ISO formats of the reference's fixtures."""
    if fmt == 0:
        return f"{day.day}{_ordinal(day.day)} {MONTHS[day.month - 1]} {day.year}"
    if fmt == 1:
        return f"{day.month:02d}/{day.day:02d}/{day.year}"
    # The only format with a comma; CSV-quote it.
    return f'"{MONTHS[day.month - 1]} {day.day}, {day.year}"'


def _tokens(s):
    """SQLite unicode61 tokens of an ASCII string."""
    out, cur = [], []
    for ch in s.lower():
        if ch.isalnum():
            cur.append(ch)
        elif cur:
            out.append("".join(cur)); cur = []
    if cur:
        out.append("".join(cur))
    return out


# The typed-date probes: tiny inputs that exercise known defects. Their
# contents are fixed; each must keep failing until the program is fixed.
PROBES = {
    # An ISO date column is inferred as DATE; pandas keeps it as TEXT.
    "probe_iso_date_column": ("d,n\n2021-03-04,1\n", [], "2021-03-04"),
    # An ISO timestamp column is inferred as TIMESTAMP; pandas keeps TEXT.
    "probe_iso_timestamp_column": ("d,n\n2021-03-04 10:00:00,1\n", [], "2021-03-04 10:00:00"),
    # -d on a column Spark already typed as a date.
    "probe_date_flag_on_typed_column": ("d,n\n2021-03-04,1\n", ["d"], "2021-03-04"),
}


def ingest(out, seed):
    rng = np.random.default_rng([seed, 1])
    os.makedirs(os.path.join(out, "csv"), exist_ok=True)
    os.makedirs(os.path.join(out, "append"), exist_ok=True)
    regions = [f"Region {_word(i, 2).capitalize()}" for i in range(REGIONS)]
    cities = [f"{_word(i, 2).capitalize()} {_word(i * 7 + 3, 1).capitalize()}ville"
              for i in range(CITIES)]
    vendor_pool = [f"Vendor {_word(i, 3).capitalize()}" for i in range(VENDORS + VENDORS // 2)]
    vocab = [_word(i + 500, 2) for i in range(TEXT_VOCAB)]
    zipf = 1.0 / np.arange(1, TEXT_VOCAB + 1) ** 1.1
    zipf /= zipf.sum()
    # Vendor popularity is skewed too, and a random permutation decides
    # which vendors are popular, so first-seen order differs by seed.
    vendor_perm = rng.permutation(VENDORS)
    vzipf = 1.0 / np.arange(1, VENDORS + 1) ** 0.6
    vzipf /= vzipf.sum()
    epoch = datetime.date(1990, 1, 1)

    def rows(first_id, n, new_vendor_share):
        ids = np.arange(first_id, first_id + n)
        reg = rng.integers(0, REGIONS, n)
        cit = rng.integers(0, CITIES, n)
        ven = vendor_perm[rng.choice(VENDORS, n, p=vzipf)]
        if new_vendor_share:
            fresh = rng.random(n) < new_vendor_share
            ven = np.where(fresh, VENDORS + rng.integers(0, VENDORS // 2, n), ven)
        days = rng.integers(0, 365 * 30, n)
        fmts = rng.integers(0, 3, n)
        price = rng.integers(100, 100_000, n)
        qty = rng.integers(1, 500, n)
        blank = rng.random(n) < 0.2
        lens = rng.integers(8, 31, n)
        words = rng.choice(TEXT_VOCAB, int(lens.sum()), p=zipf)
        out_rows, truth = [], []
        pos = 0
        for k in range(n):
            day = epoch + datetime.timedelta(days=int(days[k]))
            text = " ".join(vocab[w] for w in words[pos:pos + lens[k]])
            pos += lens[k]
            city = cities[cit[k]]
            q = "" if blank[k] else str(qty[k])
            out_rows.append(
                f"{ids[k]},{regions[reg[k]]},{city},{vendor_pool[ven[k]]},"
                f"{_fuzzy_date(day, fmts[k])},{price[k] // 100}.{price[k] % 100:02d},{q},{text}")
            truth.append((int(ids[k]), regions[reg[k]], city, vendor_pool[ven[k]],
                          day.isoformat(), None if blank[k] else int(qty[k]), text))
        return out_rows, truth

    create_truth = []
    csv_bytes = 0
    for f in range(INGEST_FILES):
        lines, t = rows(1 + f * INGEST_ROWS_PER_FILE, INGEST_ROWS_PER_FILE, 0.0)
        data = (HEADER + "\n" + "\n".join(lines) + "\n").encode()
        with open(os.path.join(out, "csv", f"part{f}.csv"), "wb") as fh:
            fh.write(data)
        csv_bytes += len(data)
        create_truth += t
    lines, append_truth = rows(1 + len(create_truth), APPEND_ROWS, APPEND_NEW_VENDOR_SHARE)
    data = (HEADER + "\n" + "\n".join(lines) + "\n").encode()
    with open(os.path.join(out, "append", "part_append.csv"), "wb") as fh:
        fh.write(data)
    append_bytes = len(data)

    for name, (content, date_cols, _) in PROBES.items():
        os.makedirs(os.path.join(out, name), exist_ok=True)
        with open(os.path.join(out, name, "probe.csv"), "w") as fh:
            fh.write(content)
        with open(os.path.join(out, name, "date_cols.txt"), "w") as fh:
            fh.write("".join(c + "\n" for c in date_cols))

    def first_seen(rows_, col):
        seen = {}
        for r in rows_:
            seen.setdefault(r[col], None)
        return list(seen)

    # FTS truth: the create rows whose text or city holds a sampled token.
    token_rows = {}
    for r in create_truth:
        for t in set(_tokens(r[6]) + _tokens(r[2])):
            token_rows.setdefault(t, []).append(r[0])
    text_tokens = sorted({vocab[i] for i in range(TEXT_VOCAB)} & token_rows.keys())
    picks = rng.choice(len(text_tokens), FTS_SAMPLE_TOKENS, replace=False)
    fts = {text_tokens[i]: token_rows[text_tokens[i]] for i in sorted(picks)}

    truth = {
        "seed": seed,
        "csv_bytes": csv_bytes,
        "append_csv_bytes": append_bytes,
        "rows_create": len(create_truth),
        "rows_append": len(append_truth),
        "dict_create": {c: first_seen(create_truth, i)
                        for c, i in (("region", 1), ("city", 2), ("vendor", 3))},
        "dict_append_new": {
            c: [v for v in first_seen(append_truth, i) if v not in old]
            for c, i in (("region", 1), ("city", 2), ("vendor", 3))
            for old in [set(first_seen(create_truth, i))]},
        "rows": {str(r[0]): [r[1], r[2], r[3], r[4], r[5]] for r in create_truth + append_truth},
        "fts": fts,
        "probes": {name: {"date_cols": cols, "expect": expect}
                   for name, (_, cols, expect) in PROBES.items()},
    }
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True)
    return truth


# ---------------------------------------------------------------- tables

DOC_WORDS = ("a agg batch big column customer data fast filter group hash join key "
             "line merge order part query row scan slow small sort spark stream "
             "table the value vector window").split()
PART_WORDS = ("blue old widget gizmo small new large ring hot cold gear bolt plate "
              "red rod anvil").split()


# The query probe: `e2_shared_dict` numbers one dictionary for
# l_returnflag and l_linestatus in first-seen order, with the row key
# l_orderkey * 10 + l_linenumber. When that pair repeats, two values share
# a first-seen key; the reference numbers them in file order. Two mirror
# images of one tiny lineitem, so an order that does not follow the file
# fails on at least one. Fixed contents: the probe keeps failing until the
# program is fixed.
SHARED_DICT_TIE = {
    "a": [(1, 1, "R", "O"), (1, 1, "A", "F"), (2, 1, "N", "O")],
    "b": [(1, 1, "A", "F"), (1, 1, "R", "O"), (2, 1, "N", "O")],
}
TABLE_PROBES = {"probe_shared_dict_tie": ("e2_shared_dict", SHARED_DICT_TIE)}


def first_seen_ids(rows):
    """Reference dictionary of the tie probe: returnflag values in file
    order, then the linestatus values not yet numbered, ids from 1.
    """
    values = {}
    for col in (2, 3):
        for r in rows:
            values.setdefault(r[col], None)
    return [[i + 1, v] for i, v in enumerate(values)]


def tables(out, seed, sf):
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    for name, (query, variants) in TABLE_PROBES.items():
        for variant, rows in variants.items():
            os.makedirs(os.path.join(out, name, variant))
            k, n, flag, status = zip(*rows)
            pq.write_table(pa.table({
                "l_orderkey": pa.array(k, pa.int64()), "l_linenumber": pa.array(n, pa.int32()),
                "l_returnflag": list(flag), "l_linestatus": list(status)}),
                os.path.join(out, name, variant, "lineitem.parquet"))
        with open(os.path.join(out, name, "query.txt"), "w") as fh:
            fh.write(query + "\n")

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)

    def days_from(start, span, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")

    ts = pa.timestamp("us")
    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    w = np.array(PART_WORDS)
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(w[rng.integers(0, 8, n_part)], " "),
                              w[rng.integers(8, 16, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": pa.array(days_from("1995-01-01", 2404, n_ord), ts),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    # TPC-H's lineitem key: each order has lines 1..k (k in 1..7), so
    # (l_orderkey, l_linenumber) is unique; rows are stored shuffled.
    lines = rng.integers(1, 8, n_ord)
    n_line = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    perm = rng.permutation(n_line)
    write("lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord), lines)[perm], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array((np.arange(n_line) - starts + 1)[perm], pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(days_from("1995-01-02", 2498, n_line), ts)})
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    write("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # Documents: uniform words from a small vocabulary, plus 5% near
    # duplicates (an earlier document with " dup" appended) and a few
    # exact duplicates, which is what the dedup queries look for.
    dw = np.array(DOC_WORDS)
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.0516:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(dw[rng.integers(0, len(dw), rng.integers(10, 101))]))
    langs = np.array(["en", "de", "es", "fr", "zh"])
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[rng.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
