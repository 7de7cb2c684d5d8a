"""Tests of the benchmark's Python side: the tail helper, the seeded
input generators and the corpus stage checks. Run through
perfbench/tests/run_tests.py."""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_exactly_ten_samples_lie_beyond(self):
        xs = list(range(1, 101))  # 1..100
        pct, value, n = stats.tail(xs)
        self.assertEqual((pct, value, n), (90.0, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0]
        self.assertEqual(stats.tail(xs), (100.0 * 2 / 12, 2.0, 12))

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail([1.0] * 10))
        self.assertEqual(stats.tail([1.0] * 11)[0], 100.0 / 11)


class GeneratorTest(unittest.TestCase):
    def test_corpus_is_deterministic_per_seed(self):
        self.assertEqual(gen.corpus_docs(3), gen.corpus_docs(3))
        self.assertNotEqual(gen.corpus_docs(3)[0], gen.corpus_docs(4)[0])

    def test_corpus_shares(self):
        docs, bench, planted = gen.corpus_docs(3)
        self.assertEqual(len(docs), gen.CORPUS_DOCS)
        dup = int(gen.CORPUS_DOCS * gen.SHARE_EXACT_DUP)
        self.assertLessEqual(len(planted), len(docs) - dup)
        texts = {d[1] for d in docs}
        self.assertEqual(sum(1 for b in bench if b[1] in texts), gen.BENCHMARK_FROM_CORPUS)

    def test_planted_ids_are_the_smallest_id_of_each_text(self):
        docs, _, planted = gen.corpus_docs(3)
        first = {}
        for doc_id, text, _, _ in docs:
            first.setdefault(text, doc_id)
        self.assertEqual(set(planted), set(first.values()))
        kinds = {kind for _, kind in planted.values()}
        self.assertEqual(kinds, {"plain", "pii", "repetitive", "boilerplate"})


class CorpusStageCheckTest(unittest.TestCase):
    """The stand-alone dedupNearSimhash and filterBoilerplate checks fail
    on a stage that does nothing and on one that drops too much."""

    @classmethod
    def setUpClass(cls):
        _, _, cls.planted = gen.corpus_docs(3)
        by_group = {}
        for i, (g, _) in sorted(cls.planted.items()):
            by_group.setdefault(g, []).append(i)
        cls.by_group = by_group
        cls.template = {i for i, (_, k) in cls.planted.items() if k == "boilerplate"}

    def test_near_dup_perfect_passes_noop_and_overreach_fail(self):
        perfect = {ids[0] for g, ids in self.by_group.items()
                   if not self.planted[ids[0]][1] == "boilerplate"}
        perfect.add(min(self.template))
        self.assertTrue(run.near_dup_check(perfect, self.planted)[0])
        self.assertFalse(run.near_dup_check(set(self.planted), self.planted)[0])
        # dropping a whole group of a single text is a false merge
        lone = next(ids[0] for ids in self.by_group.values()
                    if len(ids) == 1 and self.planted[ids[0]][1] == "plain")
        self.assertFalse(run.near_dup_check(perfect - {lone}, self.planted)[0])

    def test_boilerplate_exact_passes_noop_and_overreach_fail(self):
        everything = set(self.planted)
        self.assertTrue(run.boilerplate_check(everything - self.template, self.planted)[0])
        self.assertFalse(run.boilerplate_check(everything, self.planted)[0])
        lone = next(ids[0] for ids in self.by_group.values()
                    if len(ids) == 1 and self.planted[ids[0]][1] == "plain")
        self.assertFalse(run.boilerplate_check(everything - self.template - {lone},
                                               self.planted)[0])

    def test_files_are_byte_identical_per_seed(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write_tables(a, 5)
            gen.write_tables(b, 5)
            gen.write_corpus(a, 5)
            gen.write_corpus(b, 5)
            names = sorted(os.listdir(a))
            self.assertEqual(names, sorted(os.listdir(b)))
            for n in names:
                self.assertTrue(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False), n)


if __name__ == "__main__":
    unittest.main()
