"""Tests for the benchmark's Python side: python3 -m unittest discover perfbench/tests"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


def query(name, wall, ok=True, kind="query", traced=False, pass_no=0):
    return {"kind": kind, "workload": "pipeline_ops", "query": name, "pass": pass_no, "traced": traced,
            "build_s": 0.1, "exec_s": wall - 0.1, "wall_s": wall, "ok": ok,
            "error": None if ok else "deliberate", "rows": 1, "cached_left": 0}


def suite_records(walls, failing=()):
    """A cold warm-up pass three times slower than `walls`, then three
    passes, the middle one twice as slow; the queries named in `failing`
    fail in the last pass. Each pass also runs the two tokenizer queries."""
    recs = [{"kind": "setup", "total_s": 6.0, "session_s": 3.0, "register_s": 0.3,
             "dict_load_s": 1.0, "warmup_s": 1.0}]
    ja = [("ja_docs_topk", 1.0), ("ja_lines_search", 0.5)]
    assert run.WARMUP_PASSES["pipeline_ops"] == 1
    for pass_no, scale in enumerate((3, 1, 2, 1)):
        qs = [query(f"q{i:02d}", scale * w, pass_no=pass_no,
                    ok=pass_no < 3 or f"q{i:02d}" not in failing) for i, w in enumerate(walls)]
        qs += [query(name, scale * w, pass_no=pass_no) for name, w in ja]
        recs += qs
        recs.append({"kind": "pass", "pass": pass_no, "traced": False,
                     "pass_s": sum(q["wall_s"] for q in qs), "calib_s": [(0.3, 0.2, 0.25, 0.2)[pass_no]] * len(qs)})
    recs.append({"kind": "corpus", "docs": {"rows": 10, "chars": 1000},
                 "lines": {"rows": 100, "chars": 900}})
    recs.append(query("q62_version_call", 0.02, kind="floor"))
    recs.append({"kind": "quality", "version_call_floor_s": 0.02})
    recs.append({"kind": "rss", "peak_rss_mb": 900.0})
    return recs


class PercentileTest(unittest.TestCase):
    def test_linear_between_closest_ranks(self):
        xs = list(range(1, 11))
        self.assertAlmostEqual(run.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(run.percentile(xs, 75), 7.75)
        self.assertEqual(run.percentile(xs, 0), 1)
        self.assertEqual(run.percentile(xs, 100), 10)
        self.assertEqual(run.percentile([3.0], 75), 3.0)

    def test_order_does_not_matter(self):
        self.assertEqual(run.percentile([5, 1, 4, 2, 3], 50), 3)
        self.assertAlmostEqual(run.percentile([5, 1, 4, 2, 3], 75), 4)

    def test_43_queries_leave_at_least_ten_samples_above_p75(self):
        walls = [0.1 * i for i in range(1, 44)]
        p75 = run.percentile(walls, 75)
        self.assertEqual(run.above(walls, p75), 11)

    def test_sample_count_is_reported(self):
        metrics, _, samples, attempted, _, _ = run.end_to_end(
            suite_records([0.5] * 12), "pipeline_ops", 6.0)
        self.assertEqual(samples["n_queries"], 14)
        self.assertEqual(samples["n_samples"], 3 * 14)  # the warm-up pass is left out
        self.assertEqual(samples["n_measured_passes"], 3)
        self.assertEqual(samples["n_runs"], 4 * 14)
        self.assertEqual(attempted, 4 * 14 + 1)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            run.percentile([], 50)


class MedianWallTest(unittest.TestCase):
    def test_each_query_keeps_the_median_of_its_successful_runs(self):
        rs = [query("a", 2.0), query("a", 1.0), query("a", 4.0), query("a", 0.5, ok=False),
              query("b", 3.0)]
        self.assertEqual(run.median_wall(rs), {"a": 2.0, "b": 3.0})


class FailRatioTest(unittest.TestCase):
    def test_clean_run_has_zero_fail_ratio(self):
        metrics, _, _, _, failed, _ = run.end_to_end(
            suite_records([0.5, 0.6, 0.7]), "pipeline_ops", 6.0)
        self.assertEqual(metrics["fail_ratio"], 0.0)
        self.assertEqual(failed, [])

    def test_a_failing_query_raises_fail_ratio(self):
        metrics, _, _, attempted, failed, _ = run.end_to_end(
            suite_records([0.5, 0.6, 0.7], failing=("q01",)), "pipeline_ops", 6.0)
        self.assertEqual(len(failed), 1)
        self.assertAlmostEqual(metrics["fail_ratio"], 1 / attempted)

    def test_metrics_from_records(self):
        metrics, quality, _, _, _, scale = run.end_to_end(
            suite_records([0.5, 0.6, 0.7]), "pipeline_ops", 6.5)
        self.assertEqual(metrics["setup_s"], 6.5)
        # medians and percentiles over passes 1 to 3; the warm-up pass 0 is left out
        self.assertAlmostEqual(metrics["pass_s"], 3.3)
        self.assertAlmostEqual(metrics["query_p50_s"], 0.7)
        self.assertAlmostEqual(metrics["query_p75_s"], 1.0)
        self.assertEqual(metrics["ja_doc_chars_per_s"], 1000 / 1.0)
        self.assertEqual(metrics["ja_line_rows_per_s"], 100 / 0.5)
        self.assertEqual(quality["version_call_floor_s"], 0.02)
        # the median host-speed sample of the measured passes; the warm-up one is left out
        self.assertEqual(quality["host_calib_s"], 0.2)
        self.assertAlmostEqual(scale, run.CALIB_REF_S / 0.2)
        self.assertEqual(set(metrics), set(run.load_spec()[0]) | {"fail_ratio"})


class ScaledTest(unittest.TestCase):
    def test_times_scale_with_the_host_and_rates_against_it(self):
        metrics, _, _, _, _, _ = run.end_to_end(suite_records([0.5, 0.6, 0.7]), "pipeline_ops", 6.5)
        out = run.scaled(metrics, 0.5)
        self.assertAlmostEqual(out["pass_s"], metrics["pass_s"] * 0.5)
        self.assertAlmostEqual(out["query_p75_s"], metrics["query_p75_s"] * 0.5)
        self.assertAlmostEqual(out["ja_doc_chars_per_s"], metrics["ja_doc_chars_per_s"] * 2)
        self.assertEqual(out["setup_s"], 6.5)
        self.assertEqual(out["peak_rss_mb"], metrics["peak_rss_mb"])
        self.assertEqual(set(out), set(metrics))


class ParseTest(unittest.TestCase):
    def test_reads_per_query_lines_and_skips_noise(self):
        lines = ["26/10/17 WARN something\n", json.dumps(query("q01", 0.5)) + "\n", "{not json\n",
                 "[1, 2]\n", json.dumps({"kind": "pass", "pass_s": 1.0}) + "\n"]
        recs = run.parse_records(lines)
        self.assertEqual([r["kind"] for r in recs], ["query", "pass"])
        self.assertEqual(recs[0]["query"], "q01")
        self.assertEqual(recs[0]["wall_s"], 0.5)

    def test_round_trip_of_a_jvm_record(self):
        line = ('{"kind":"query","workload":"pipeline_ops","query":"q01_pricing_summary","pass":0,'
                '"traced":false,"build_s":0.01,"exec_s":1.5E-4,"wall_s":0.01015,"ok":true,'
                '"error":null,"rows":6,"cached_left":0}')
        (rec,) = run.parse_records([line])
        self.assertEqual(rec["exec_s"], 1.5e-4)
        self.assertIsNone(rec["error"])


if __name__ == "__main__":
    unittest.main()
