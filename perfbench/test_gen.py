"""Tests of the seeded input generators: python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import hashlib
import os
import tempfile
import unittest

import pyarrow.parquet as pq

import gen


def digest(table):
    """Order-independent digest: sha256 over the sorted rows."""
    rows = sorted(repr(r) for r in table.to_pylist())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_digest_other_seed_other_digest(self):
        for name, g in [("sequences", gen.sequences), ("logs", gen.logs),
                        ("documents", gen.documents)]:
            with self.subTest(name):
                a, answers = g(2000, 7)
                b, answers_b = g(2000, 7)
                c, _ = g(2000, 8)
                self.assertEqual(digest(a), digest(b))
                self.assertEqual(answers, answers_b)
                self.assertNotEqual(digest(a), digest(c))

    def test_digest_ignores_row_order(self):
        t, _ = gen.sequences(500, 3)
        self.assertEqual(digest(t), digest(t.take(list(reversed(range(t.num_rows))))))

    def test_sequence_answers_count_every_routed_row(self):
        t, answers = gen.sequences(20_000, 1)
        sources = t.column("source").to_pylist()
        routed = sum(1 for s in sources if gen.FLAGSHIP_ROUTES[s] is not None)
        counted = sum(int(l.split("\t")[2]) for l in answers["expected.tsv"].splitlines())
        self.assertEqual(routed, counted)
        hot = sources.count("td.apache.access") / len(sources)
        self.assertAlmostEqual(hot, 0.40, delta=0.02)
        lengths = t.column("n_tok").to_pylist()
        self.assertEqual(lengths, [len(x) for x in t.column("tokens").to_pylist()])
        self.assertTrue(1 <= min(lengths) and max(lengths) <= 64)

    def test_log_lines_hit_planted_rules_uniformly(self):
        t, answers = gen.logs(13_000, 1)
        counts = [l.split("\t") for l in answers["expected.tsv"].splitlines()]
        self.assertEqual(sum(int(c[2]) for c in counts), t.num_rows)
        per_rule = {}
        for label, tag, n in counts:
            per_rule[tag.split(".")[0]] = per_rule.get(tag.split(".")[0], 0) + int(n)
        rules = [per_rule[f"svc{i}"] for i in range(gen.LOG_RULES)]
        self.assertTrue(all(120 < n < 280 for n in rules), rules)
        self.assertEqual(len(set(t.column("line").to_pylist())), t.num_rows)

    def test_documents_plant_copies_near_copies_and_junk(self):
        t, _ = gen.documents(16, 3)
        text = t.column("text").to_pylist()
        self.assertTrue(text[0] == text[1] == text[2])
        self.assertNotEqual(text[3], text[0])
        self.assertEqual(len(text[3].split()), len(text[0].split()))
        self.assertEqual(len(set(text[4:8])), 4)
        self.assertTrue(text[7].startswith("#$%!"))

    def test_generate_writes_files_once_and_evict_keeps_the_newest(self):
        with tempfile.TemporaryDirectory() as root:
            old = dict(gen.ROWS)
            gen.ROWS["fanout_resume"] = 400
            try:
                d = gen.generate(root, "fanout_resume", 5)
                parts = sorted(os.listdir(os.path.join(d, "data")))
                self.assertEqual(len(parts), gen.FILES["fanout_resume"])
                rows = sum(pq.read_metadata(os.path.join(d, "data", p)).num_rows for p in parts)
                self.assertEqual(rows, 400)
                stamp = os.path.getmtime(os.path.join(d, "generated"))
                self.assertEqual(gen.generate(root, "fanout_resume", 5), d)
                self.assertEqual(stamp, os.path.getmtime(os.path.join(d, "generated")))
                for s in (6, 7):
                    gen.generate(root, "fanout_resume", s)
                gen.evict(root, "fanout_resume", 1, d)
                self.assertEqual(len(os.listdir(root)), 2)
            finally:
                gen.ROWS.clear()
                gen.ROWS.update(old)


if __name__ == "__main__":
    unittest.main()
