"""Tests of the benchmark itself: input determinism, the independent
reference answers, and the output checks (via linkbench.CheckTests).

    python3 -m unittest linkbench/test_linkbench.py
"""

import filecmp
import os
import subprocess
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402


class InputTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def files(self, workload, seed, name):
        d = os.path.join(self.tmp.name, name)
        gen.generate(workload, seed, d)
        return d, sorted(os.listdir(d))

    def test_same_seed_gives_byte_identical_inputs(self):
        for w in gen.WORKLOADS:
            a, fa = self.files(w, 7, f"{w}-a")
            b, fb = self.files(w, 7, f"{w}-b")
            self.assertEqual(fa, fb)
            _, mismatch, errors = filecmp.cmpfiles(a, b, fa, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)

    def test_different_seed_gives_different_inputs(self):
        for w in gen.WORKLOADS:
            a, fa = self.files(w, 7, f"{w}-a")
            b, _ = self.files(w, 8, f"{w}-b")
            data = [f for f in fa if f.endswith(".parquet")]
            _, mismatch, _ = filecmp.cmpfiles(a, b, data, shallow=False)
            self.assertEqual(mismatch, data, w)


class ReferenceTest(unittest.TestCase):
    def test_triangles_and_components(self):
        # two triangles sharing vertex 3, a K4 on 10..13, the edge 20-21
        edges = [(1, 2), (1, 3), (2, 3), (3, 4), (3, 5), (4, 5),
                 (10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13), (20, 21)]
        src = np.array([e[0] for e in edges])
        dst = np.array([e[1] for e in edges])
        self.assertEqual(gen.triangle_count(src, dst), 2 + 4)
        self.assertEqual(gen.component_count(src, dst), 3)

    def test_closeness_estimate(self):
        # the path 1-2-3 and the edge 7-8
        src, dst = np.array([1, 2, 7]), np.array([2, 3, 8])
        # every vertex a source: exact wf-improved closeness
        ids, vals = gen.closeness(src, dst, np.array([1, 2, 3, 7, 8]))
        self.assertEqual(ids.tolist(), [1, 2, 3, 7, 8])
        np.testing.assert_allclose(vals, [0.5 * 2 / 3, 0.5, 0.5 * 2 / 3, 0.25, 0.25])
        # one source: reached vertices extrapolate by n/k = 5
        _, vals = gen.closeness(src, dst, np.array([1]))
        np.testing.assert_allclose(vals, [0.0, 1.0 * 4 / 5, 1.0 * 4 / 10, 0.0, 0.0])

    def test_canonical_drops_loops_and_duplicates(self):
        s, d = gen.canonical(np.array([1, 2, 3, 2]), np.array([2, 1, 3, 5]))
        self.assertEqual(list(zip(s.tolist(), d.tolist())), [(1, 2), (2, 5)])

    def test_scramble_is_a_bijection(self):
        ids = np.arange(1 << 12)
        out = gen.scramble(np.random.default_rng(0), ids)
        self.assertEqual(len(np.unique(out)), len(ids))
        self.assertTrue((out >= 0).all() and (out < 1 << 40).all())


class ChecksTest(unittest.TestCase):
    def test_each_check_rejects_a_corrupted_output(self):
        classes = build.build()
        cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
        r = subprocess.run(["java", "-cp", cp, "linkbench.CheckTests"],
                           capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stderr)


if __name__ == "__main__":
    unittest.main()
