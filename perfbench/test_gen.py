"""Tests of the seeded input generator: python3 -m unittest discover -s perfbench"""

import unittest

import numpy as np

import gen

ARGS = dict(n=3_000, dim=16, queries=50, rounds=3, append_per_round=200,
            delete_per_round=40)


def same(a, b):
    for key in ("ids", "vectors", "labels", "query_ids", "query_vectors"):
        if not np.array_equal(a[key], b[key]):
            return False
    for (ai, av, al), (bi, bv, bl) in zip(a["appends"], b["appends"]):
        if not (np.array_equal(ai, bi) and np.array_equal(av, bv) and np.array_equal(al, bl)):
            return False
    return all(np.array_equal(x, y) for x, y in zip(a["deletes"], b["deletes"]))


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_inputs(self):
        self.assertTrue(same(gen.generate(7, **ARGS), gen.generate(7, **ARGS)))

    def test_different_seed_different_inputs(self):
        a, b = gen.generate(7, **ARGS), gen.generate(8, **ARGS)
        self.assertFalse(np.array_equal(a["vectors"], b["vectors"]))
        self.assertFalse(np.array_equal(a["query_vectors"], b["query_vectors"]))
        self.assertFalse(np.array_equal(a["appends"][0][1], b["appends"][0][1]))
        self.assertFalse(np.array_equal(a["deletes"][0], b["deletes"][0]))

    def test_corpus_does_not_depend_on_other_streams(self):
        a = gen.generate(7, **ARGS)
        b = gen.generate(7, **dict(ARGS, queries=5, rounds=1))
        self.assertTrue(np.array_equal(a["vectors"], b["vectors"]))

    def test_unit_norm(self):
        d = gen.generate(7, **ARGS)
        for v in [d["vectors"], d["query_vectors"]] + [a[1] for a in d["appends"]]:
            self.assertEqual(v.dtype, np.float32)
            np.testing.assert_allclose(np.linalg.norm(v, axis=1), 1.0, atol=1e-5)

    def test_id_spaces_do_not_collide(self):
        d = gen.generate(7, **ARGS)
        stored = set(d["ids"].tolist())
        for ids, _, _ in d["appends"]:
            self.assertFalse(stored & set(ids.tolist()))
            stored |= set(ids.tolist())
        self.assertFalse(stored & set(d["query_ids"].tolist()))

    def test_deletes_hit_live_ids_once(self):
        d = gen.generate(7, **ARGS)
        live = set(d["ids"].tolist())
        for (ids, _, _), gone in zip(d["appends"], d["deletes"]):
            live |= set(ids.tolist())
            self.assertEqual(len(set(gone.tolist())), len(gone))
            self.assertTrue(set(gone.tolist()) <= live)
            live -= set(gone.tolist())

    def test_exact_top_k_matches_a_full_sort(self):
        d = gen.generate(7, **ARGS)
        corpus, ids = d["vectors"], d["ids"]
        got = gen.exact_top_k(corpus, ids, corpus[:5], 10, exclude=ids[:5])
        for row, q in enumerate(corpus[:5].astype(np.float64)):
            dist = ((corpus.astype(np.float64) - q) ** 2).sum(axis=1)
            dist[row] = np.inf
            order = np.lexsort((ids, dist))[:10]
            self.assertEqual(got[row].tolist(), ids[order].tolist())


if __name__ == "__main__":
    unittest.main()
