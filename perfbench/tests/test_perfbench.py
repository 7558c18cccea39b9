"""Unit tests for the pure parts of perfbench: span and job-interval
arithmetic, speed scaling, generator determinism, and argument rejection.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import contextlib
import io
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402


class SpanArithmetic(unittest.TestCase):
    def test_union_counts_overlaps_once(self):
        self.assertAlmostEqual(M.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertAlmostEqual(M.union_length([(0, 10), (2, 3)]), 10.0)
        self.assertEqual(M.union_length([]), 0.0)

    def test_union_clips_to_window(self):
        self.assertAlmostEqual(M.union_length([(0, 4), (6, 12)], lo=2, hi=10), 6.0)
        self.assertEqual(M.union_length([(0, 1)], lo=2, hi=3), 0.0)

    def test_driver_gap_is_wall_minus_job_union(self):
        # run 0..10; jobs 1..3 and 2..5 overlap (4 s busy), 8..12 is clipped to 8..10
        self.assertAlmostEqual(M.driver_gap(0, 10, [(1, 3), (2, 5), (8, 12)]), 4.0)
        self.assertAlmostEqual(M.driver_gap(0, 10, []), 10.0)

    def test_self_time_subtracts_direct_children_only(self):
        spans = [("run", 0.0, 10.0), ("a", 1.0, 4.0), ("a.inner", 2.0, 3.0), ("b", 5.0, 9.0)]
        got = dict(M.self_times(spans))
        self.assertAlmostEqual(got["run"], 3.0)      # 10 - 3 - 4
        self.assertAlmostEqual(got["a"], 2.0)        # 3 - 1
        self.assertAlmostEqual(got["a.inner"], 1.0)
        self.assertAlmostEqual(got["b"], 4.0)
        self.assertAlmostEqual(sum(got.values()), 10.0)

    def test_self_times_of_sibling_spans_sum_to_root(self):
        spans = [("run", 0.0, 6.0), ("x", 0.0, 2.0), ("y", 2.0, 6.0)]
        self.assertAlmostEqual(sum(s for _, s in M.self_times(spans)), 6.0)

    def test_quartiles_match_statistics_quantiles(self):
        self.assertEqual(M.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]), (1.5, 4.5))
        self.assertEqual(M.quartiles([2.0]), (2.0, 2.0))


class SpeedScaling(unittest.TestCase):
    def test_end_to_end_scales_set_up_cold_and_warm_runs_by_the_median_probe(self):
        ref = run.PROBE_REF_S
        res = {"runs": [{"kind": "cold", "wall": 10.0}, {"kind": "warmup", "wall": 3.0},
                        {"kind": "warm", "wall": 2.0}, {"kind": "warm", "wall": 4.0},
                        {"kind": "warm", "wall": 3.0}],
               "probes": [{"s": ref}, {"s": 2 * ref}, {"s": 2 * ref}, {"s": 9 * ref}],
               "setup_s": [6.0, 0.1, 0.2], "peak_rss_mb": 100.0, "sink_mb": 1.0,
               "failed": 0, "attempted": 5, "refused": 0}
        t = run.end_to_end(res)
        self.assertAlmostEqual(t["probe_s"][0], 2 * ref)
        self.assertAlmostEqual(t["cold_s"][0], 5.0)
        self.assertAlmostEqual(t["cold_wall_s"][0], 10.0)
        self.assertAlmostEqual(t["run_s"][0], 1.5)
        self.assertAlmostEqual(t["run_wall_s"][0], 3.0)
        self.assertEqual(t["run_s.samples"][0], 3)
        self.assertAlmostEqual(t["setup_s"][0], 0.1)
        self.assertAlmostEqual(t["setup_wall_s"][0], 0.2)


class Generator(unittest.TestCase):
    def gen(self, workload, seed, scale=0.05):
        d = tempfile.mkdtemp(prefix="perfbench-test-")
        self.addCleanup(lambda: __import__("shutil").rmtree(d, ignore_errors=True))
        return gen.generate(workload, seed, scale, os.path.join(d, "out"))

    def test_same_seed_same_content(self):
        for w in gen.WORKLOADS:
            self.assertEqual(self.gen(w, 3)["content_sha256"], self.gen(w, 3)["content_sha256"], w)

    def test_other_seed_other_content(self):
        self.assertNotEqual(self.gen("curation_chain", 3)["content_sha256"],
                            self.gen("curation_chain", 4)["content_sha256"])

    def test_injected_shares_are_reported(self):
        s = self.gen("curation_chain", 5, scale=0.5)["shares"]
        self.assertGreater(s["exact_dup_share"], 0.01)
        self.assertGreater(s["near_dup_share"], 0.01)
        self.assertGreaterEqual(s["near_dup_min_jaccard"], 0.8)
        s = self.gen("lookup_etl", 5, scale=0.1)["shares"]
        self.assertGreater(s["unmatched_part_share"], 0.01)
        self.assertGreater(s["null_partkey_share"], 0.005)


class ArgumentRejection(unittest.TestCase):
    def rejects(self, parse, argv):
        with contextlib.redirect_stderr(io.StringIO()):
            with self.assertRaises(SystemExit) as cm:
                parse(argv)
        self.assertEqual(cm.exception.code, 2)

    def test_gen_rejects_help_and_unknown_flags(self):
        base = ["--workload", "knn_graph", "--seed", "1", "--out", "x"]
        self.rejects(gen.parse_args, ["--help"])
        self.rejects(gen.parse_args, base + ["--help"])
        self.rejects(gen.parse_args, base + ["--bogus", "1"])
        self.rejects(gen.parse_args, ["--workload", "knn_graph", "--seed", "1", "--out", "--help"])
        self.rejects(gen.parse_args, base + ["--scale", "0"])

    def test_run_rejects_help_unknown_flags_and_workloads(self):
        base = ["--workload", "knn_graph", "--seed", "1", "--seconds", "5", "--trace", "0"]
        self.assertEqual(run.parse_args(base).workload, "knn_graph")
        self.rejects(run.parse_args, ["--help"])
        self.rejects(run.parse_args, base + ["--extra"])
        self.rejects(run.parse_args, base[:1] + ["nope"] + base[2:])
        self.rejects(run.parse_args, base[:-1] + ["2"])
        self.rejects(run.parse_args, base[:5] + ["0"] + base[6:])

    def test_run_refuses_outside_a_checkout(self):
        cwd = os.getcwd()
        with tempfile.TemporaryDirectory() as d:
            os.chdir(d)
            try:
                with contextlib.redirect_stderr(io.StringIO()):
                    rc = run.main(["--workload", "knn_graph", "--seed", "1",
                                   "--seconds", "5", "--trace", "0"])
            finally:
                os.chdir(cwd)
            self.assertEqual(rc, 2)
            self.assertEqual(os.listdir(d), [])


if __name__ == "__main__":
    unittest.main()
