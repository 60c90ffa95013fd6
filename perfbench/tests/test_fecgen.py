import collections
import hashlib
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import fecgen  # noqa: E402
import tablegen  # noqa: E402


def digest(files):
    h = hashlib.sha256()
    for name, lines in sorted(files.items()):
        h.update(name.encode() + b"\0" + "\n".join(lines).encode())
    return h.hexdigest()


class Determinism(unittest.TestCase):
    def test_same_seed_gives_byte_identical_files(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            fecgen.write_files(fecgen.FecCorpus(5, 3000).bulk, a)
            fecgen.write_files(fecgen.FecCorpus(5, 3000).bulk, b)
            for name in sorted(os.listdir(a)):
                with open(os.path.join(a, name), "rb") as x, \
                        open(os.path.join(b, name), "rb") as y:
                    self.assertEqual(x.read(), y.read(), name)

    def test_amendment_batches_are_deterministic(self):
        c1, c2 = fecgen.FecCorpus(9, 2000), fecgen.FecCorpus(9, 2000)
        for _ in range(3):
            self.assertEqual(c1.amendment_batch(), c2.amendment_batch())

    def test_another_seed_gives_other_files(self):
        self.assertNotEqual(digest(fecgen.FecCorpus(1, 2000).bulk),
                            digest(fecgen.FecCorpus(2, 2000).bulk))

    def test_catalog_tables_are_deterministic(self):
        t1, t2 = tablegen.tables(4, 0.001), tablegen.tables(4, 0.001)
        for name in t1:
            self.assertTrue(t1[name].equals(t2[name]), name)


class EdgeCases(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.corpus = fecgen.FecCorpus(3, 6000)
        cls.indiv = cls.corpus.bulk["indiv22.txt"]
        cls.fields = [l.split("|") for l in cls.indiv]

    def test_exact_duplicate_lines(self):
        counts = collections.Counter(self.indiv)
        self.assertTrue(any(n > 1 for n in counts.values()))

    def test_memo_rows(self):
        self.assertTrue(any(f[18] == "X" for f in self.fields))

    def test_malformed_lines(self):
        widths = collections.Counter(len(f) for f in self.fields)
        self.assertEqual(set(widths), {21, 23})

    def test_zip_shapes(self):
        zips = [f[10] for f in self.fields if len(f) >= 21]
        self.assertTrue(any(len(z) == 9 for z in zips))
        self.assertIn("0", zips)
        self.assertIn("", zips)

    def test_mmddyyyy_dates(self):
        dates = [f[13] for f in self.fields if f[13]]
        self.assertTrue(all(len(d) == 8 and d.endswith("2022") and
                            1 <= int(d[:2]) <= 12 for d in dates))
        self.assertTrue(any(f[13] == "" for f in self.fields))

    def test_ie_amendment_chains(self):
        rows = self.corpus.ie_rows
        amended = [r for r in rows if r["prev_file_num"] is not None]
        self.assertTrue(amended)
        by_key = {(r["file_num"], r["tra_id"]) for r in rows}
        self.assertTrue(all((r["prev_file_num"], r["tra_id"]) in by_key for r in amended))
        heads = set(self.corpus.ie_heads)
        self.assertTrue(all((r["prev_file_num"], r["tra_id"]) not in heads for r in amended))

    def test_skewed_donor_reuse(self):
        names = collections.Counter(f[7] for f in self.fields if f[6] == "IND")
        top = sum(n for _, n in names.most_common(len(names) // 10))
        self.assertGreater(top, 0.4 * sum(names.values()))

    def test_amendments_refile_recent_keys(self):
        c = fecgen.FecCorpus(3, 3000)
        order = list(c.contrib_order)
        lines, expect = c.amendment_batch(1000)
        # 1,000 filings; exact re-submissions add a few duplicate lines
        self.assertTrue(1000 <= len(lines) <= 1030)
        refiled = [s for s, (_, a) in expect.items() if a == "A"]
        self.assertGreater(len(refiled), 300)
        pos = sorted(order.index(s) for s in refiled)
        self.assertGreater(pos[len(pos) // 2], len(order) // 2)  # biased recent
        state = c.contribution_state()
        self.assertTrue(all(state[s] == amt for s, (amt, _) in expect.items()))


class Predictions(unittest.TestCase):
    def test_process_name_matches_the_engine_rules(self):
        self.assertEqual(fecgen.process_name("BROWN, ALICE"), "ALICE BROWN")
        self.assertEqual(fecgen.process_name("GREEN, BOB MR"), "BOB GREEN")
        self.assertEqual(fecgen.process_name("SMITH, JOHN JR"), "JOHN SMITH JR")
        self.assertEqual(fecgen.process_name("MEGA CORP, LLC"), "MEGA CORP LLC")

    def test_clean_zip(self):
        self.assertEqual(fecgen.clean_zip("941101234"), "94110")
        self.assertEqual(fecgen.clean_zip("0"), "")
        self.assertEqual(fecgen.clean_zip(None), "")
        self.assertEqual(fecgen.clean_zip("02134"), "02134")

    def test_summary_is_self_consistent(self):
        s = fecgen.FecCorpus(7, 4000).summary()
        self.assertEqual(s["elasticRows"], s["docIndexes"]["federal_fec_contributions"])
        self.assertEqual(s["graphEdges"]["CONTRIBUTED_TO_IN"], s["elasticRows"])
        self.assertLess(s["elasticRows"], s["masterContributions"])
        self.assertLessEqual(s["graphVertices"]["Expenditure"], s["masterExpenditures"])


if __name__ == "__main__":
    unittest.main()
