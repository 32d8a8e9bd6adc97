"""Unit tests of the benchmark's own arithmetic and input generator.

    python3 -m unittest discover -s lifebench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import compare  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_digest_other_seed_other_split(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.generate("cdm_cycle", 7, f"{d}/a")
            b = gen.generate("cdm_cycle", 7, f"{d}/b")
            c = gen.generate("cdm_cycle", 8, f"{d}/c")
        self.assertEqual(a["input_digest"], b["input_digest"])
        self.assertEqual(a["split"], b["split"])
        self.assertNotEqual(a["input_digest"], c["input_digest"])
        self.assertNotEqual(a["split"], c["split"])
        # the split partitions the customers, orders and lineitems
        for t, n in (("customer", gen.N_CUSTOMER), ("orders", gen.N_ORDERS),
                     ("lineitem", gen.N_LINEITEM)):
            self.assertEqual(sum(s[t] for s in a["split"].values()), n)

    def test_curation_corpus_shares(self):
        with tempfile.TemporaryDirectory() as d:
            info = gen.generate("search_warm", 3, d)
        self.assertEqual(info["curation_exact_copies"],
                         round(gen.N_CURATION_DOCS * gen.EXACT_SHARE))
        self.assertEqual(info["curation_docs"],
                         gen.N_CURATION_DOCS + info["curation_exact_copies"]
                         + info["curation_near_dups"])
        self.assertEqual(info["docs"], gen.N_SEARCH_DOCS)


def span(i, parent, start, end, name="s", layer="l"):
    return {"id": i, "parent": parent, "start": start, "end": end,
            "name": name, "layer": layer}


class SpanArithmeticTest(unittest.TestCase):
    def test_union_merges_overlaps_and_drops_empty(self):
        self.assertEqual(layers.union([(5, 7), (0, 2), (1, 3), (7, 8), (9, 9)]),
                         [(0, 3), (5, 8)])

    def test_covered_clips_to_window(self):
        self.assertEqual(layers.covered([(0, 4), (3, 6), (8, 12)], 2, 10), 6)

    def test_self_time_subtracts_union_of_children(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 50),
                 span(4, 2, 12, 20)]
        st = layers.self_times(spans)
        self.assertEqual(st, {1: 60, 2: 22, 3: 20, 4: 8})
        # non-overlapping nesting: self times sum to the root's duration
        tree = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 45, 90),
                span(4, 3, 50, 60), span(5, 3, 60, 61)]
        self.assertAlmostEqual(sum(layers.self_times(tree).values()), 100)

    def test_segments_split_at_write_ends(self):
        segs = layers.segments(0, 100, [("t", 20), ("t", 30), ("merge", 50),
                                        ("checks", 90)])
        self.assertEqual(segs, [("t", 30), ("merge", 20), ("checks", 40),
                                ("tail", 10)])
        self.assertEqual(sum(d for _, d in segs), 100)

    def test_driver_gap_and_stale_tag(self):
        trace = {
            "spans": [span(1, 0, 0, 1000, "iteration"),
                      span(2, 1, 100, 600, "post_load"),
                      span(3, 1, 600, 900, "eras")],
            # job 2 carries the tag of a closed span (a pooled thread
            # created earlier): it belongs to the span open at its start
            "jobs": [{"id": 1, "span": 2, "exec": 0, "start": 150, "end": 350},
                     {"id": 2, "span": 2, "exec": -1, "start": 700, "end": 800},
                     {"id": 3, "span": 2, "exec": 0, "start": 300, "end": 400}],
            "stages": [], "execs": []}
        it = layers.Iteration(trace)
        self.assertEqual([j["span"] for j in it.jobs], [2, 3, 2])
        self.assertAlmostEqual(it.driver_gap_s(it.by_id[2]), 0.25)
        self.assertAlmostEqual(it.driver_gap_s(it.root), 0.65)


class VerdictTest(unittest.TestCase):
    def v(self, a, b, better="lower", bound=0.1):
        return compare.verdict(a, b, better, bound, list(zip(a, b)))

    def test_verdicts(self):
        a = [10.0, 10.1, 9.9, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0, 10.05]
        self.assertEqual(self.v(a, [x * 0.8 for x in a]), "better")
        self.assertEqual(self.v(a, [x * 1.2 for x in a]), "worse")
        self.assertEqual(self.v(a, [x * 1.02 for x in a]), "unchanged")
        self.assertEqual(self.v(a, [x * 1.2 for x in a], better="higher"),
                         "better")
        noisy = [10, 14, 8, 12, 7, 13, 9, 15, 6, 11]
        self.assertEqual(self.v(a, noisy), "unresolved")


if __name__ == "__main__":
    unittest.main()
