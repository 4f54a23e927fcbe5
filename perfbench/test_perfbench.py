"""Tests of the benchmark itself (not of the program it measures).

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the repository root; scratch files go under .bench_build/.
"""
import hashlib
import os
import shutil
import sys
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(".bench_build", "test")


def digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_same_seed_same_bytes(self):
        for name, make in (("ingest", lambda d, s: gen.ingest(d, s)),
                           ("tables", lambda d, s: gen.tables(d, s, 0.002))):
            a, b, c = (os.path.join(SCRATCH, f"{name}-{i}") for i in "abc")
            make(a, 7)
            make(b, 7)
            make(c, 8)
            self.assertEqual(digest(a), digest(b), name)
            self.assertNotEqual(digest(a), digest(c), name)

    def test_ingest_truth_matches_duckdb_read(self):
        d = os.path.join(SCRATCH, "ingest")
        truth = gen.ingest(d, 5)
        con = duckdb.connect()
        read = lambda p: (f"read_csv('{p}', header=true, all_varchar=true, "
                          f"columns={{'id':'INTEGER','region':'VARCHAR','city':'VARCHAR',"
                          f"'vendor':'VARCHAR','day':'VARCHAR','price':'VARCHAR','qty':'INTEGER',"
                          f"'text':'VARCHAR'}})")
        create = read(os.path.join(d, "csv", "*.csv"))
        append = read(os.path.join(d, "append", "*.csv"))
        count = lambda src: con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
        self.assertEqual(count(create), truth["rows_create"])
        self.assertEqual(count(append), truth["rows_append"])
        for c in ("region", "city", "vendor"):
            # First-seen order: file order, then row order within a file.
            first = [r[0] for r in con.execute(
                f"SELECT {c} FROM (SELECT {c}, min(filename || lpad(id::VARCHAR, 12, '0')) k "
                f"FROM read_csv('{os.path.join(d, 'csv', '*.csv')}', header=true, filename=true, "
                f"all_varchar=true) GROUP BY 1) ORDER BY k").fetchall()]
            self.assertEqual(first, truth["dict_create"][c], c)
            new = {r[0] for r in con.execute(
                f"SELECT DISTINCT {c} FROM {append} EXCEPT SELECT DISTINCT {c} FROM {create}").fetchall()}
            self.assertEqual(new, set(truth["dict_append_new"][c]), c)
        rows = con.execute(f"SELECT id, region, city, vendor, qty FROM {create} "
                           f"UNION ALL SELECT id, region, city, vendor, qty FROM {append}").fetchall()
        self.assertEqual({str(r[0]): list(r[1:4]) + [r[4]] for r in rows},
                         {k: v[:3] + [v[4]] for k, v in truth["rows"].items()})
        for token, ids in truth["fts"].items():
            got = [r[0] for r in con.execute(
                f"SELECT id FROM {create} WHERE list_contains(string_split_regex("
                f"lower(text || ' ' || city), '[^a-z0-9]+'), ?) ORDER BY id", [token]).fetchall()]
            self.assertEqual(got, sorted(ids), token)

    def test_tie_probe_variants_disagree(self):
        # The mirror images number the same values in different orders, so
        # an order that ignores the file fails on at least one of them.
        a, b = (gen.first_seen_ids(rows) for rows in gen.SHARED_DICT_TIE.values())
        self.assertEqual(sorted(v for _, v in a), sorted(v for _, v in b))
        self.assertNotEqual(a, b)

    def test_op_counts_fixed_by_run_length(self):
        self.assertEqual([run.passes_for(s) for s in (1, 5, 10, 20, 60)], [1, 1, 1, 2, 6])
        self.assertEqual(run.pass_ops("ingest", 3), ["create", "append"])
        for w, names in run.QUERIES.items():
            order = run.pass_ops(w, 3)
            self.assertEqual(sorted(order), sorted(names))
            self.assertEqual(order, run.pass_ops(w, 3))
            self.assertNotEqual(order, run.pass_ops(w, 4))

    def test_tail_percentile(self):
        self.assertEqual(run.tail_percentile([1.0, 3.0, 2.0]), (100, 3.0))
        p, v = run.tail_percentile([float(i) for i in range(1, 101)])
        self.assertEqual(p, 90)
        self.assertAlmostEqual(v, 90.1)


if __name__ == "__main__":
    unittest.main()
