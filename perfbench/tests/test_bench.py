"""Unit tests of the benchmark's own arithmetic and input generation.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from bench import check, gen, metrics  # noqa: E402

WORK = os.path.join(os.path.dirname(HERE), ".work")


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        # 100 samples: p90 leaves exactly 10 above it, p95 only 5
        v, p, beyond = metrics.tail(list(range(1, 101)))
        self.assertEqual((v, p, beyond), (90, 90.0, 10))

    def test_sixty_one_samples_report_p80(self):
        v, p, beyond = metrics.tail(list(range(61)))
        self.assertEqual(p, 80.0)
        self.assertEqual(v, 48)
        self.assertGreaterEqual(beyond, 10)

    def test_ties_do_not_count_as_beyond(self):
        values = [1] * 50 + [2] * 9
        v, p, beyond = metrics.tail(values)
        self.assertEqual((v, p, beyond), (1, 50.0, 9))

    def test_large_sample_reaches_high_percentile(self):
        v, p, beyond = metrics.tail(list(range(20000)))
        self.assertEqual(p, 99.9)
        self.assertEqual(beyond, 20)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_gaps(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 25), (24, 24)]), 20)

    def test_driver_gap_is_wall_minus_stage_union(self):
        # stages cover 10..40 and 50..60 of a 0..100 span; one stage spills
        # past the span's end and is clipped
        stages = [(10, 30), (20, 40), (50, 60), (95, 120)]
        self.assertEqual(metrics.driver_gap((0, 100), stages), 100 - 30 - 10 - 5)

    def test_self_time_subtracts_only_covered_part(self):
        self.assertEqual(metrics.self_time((0, 10), []), 10)
        self.assertEqual(metrics.self_time((0, 10), [(2, 4), (3, 6), (-5, 1)]), 5)
        self.assertEqual(metrics.self_time((0, 10), [(0, 10), (2, 3)]), 0)


class LatencyTest(unittest.TestCase):
    def test_user_names_map_to_files(self):
        self.assertEqual(metrics.file_of("f12_3"), 12)
        self.assertIsNone(metrics.file_of("w0_1"))
        self.assertIsNone(metrics.file_of(None))

    def test_file_latency_is_commit_of_last_post_minus_due(self):
        due = {7: 1000.0, 8: 1100.0}
        batches = [(1500.0, ["f7_0", "f7_1", "w0_0"]),
                   (1800.0, ["f7_2", "f8_0"]),
                   (1900.0, ["f9_0"])]  # file 9 was never published: skipped
        self.assertEqual(metrics.file_latencies(due, batches), {7: 800.0, 8: 700.0})

    def test_sink_log_lists_each_file_once(self):
        with tempfile.TemporaryDirectory(dir=_work()) as d:
            meta = os.path.join(d, "_spark_metadata")
            os.makedirs(meta)
            with open(os.path.join(meta, "0"), "w") as fh:
                fh.write('v1\n{"path":"file:///x/a.json","action":"add"}\n')
            with open(os.path.join(meta, "1.compact"), "w") as fh:
                fh.write('v1\n{"path":"file:///x/a.json","action":"add"}\n'
                         '{"path":"file:///x/b.json","action":"add"}\n')
            batches = metrics.read_sink(d)
            self.assertEqual([(b, f) for b, _, f in batches], [(0, ["/x/a.json"]), (1, ["/x/b.json"])])


class GeneratorTest(unittest.TestCase):
    def _stage(self, root, seed):
        texts, _, _ = gen.documents_texts(42, 200)
        out = os.path.join(root, f"s{seed}")
        gen.write_stream_posts(out, seed, 6, 5, texts)
        return out

    def test_same_seed_gives_byte_identical_files(self):
        with tempfile.TemporaryDirectory(dir=_work()) as d:
            a = self._stage(os.path.join(d, "a"), 3)
            b = self._stage(os.path.join(d, "b"), 3)
            c = self._stage(os.path.join(d, "c"), 4)
            names = sorted(os.listdir(a))
            self.assertEqual(names, sorted(os.listdir(b)))
            self.assertEqual(len(names), 6)
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
            self.assertTrue(mismatch)

    def test_tables_are_deterministic(self):
        t1, t2 = gen.tables(42, 0.001), gen.tables(42, 0.001)
        self.assertEqual(sorted(t1), sorted(gen.TABLES))
        for name in t1:
            self.assertTrue(t1[name].equals(t2[name]), name)

    def test_posts_carry_reposts_and_late_stamps(self):
        texts, _, _ = gen.documents_texts(42, 200)
        posts = [p for _, ps in gen.stream_posts(1, 200, 10, texts) for p in ps]
        self.assertEqual(len({p["user"] for p in posts}), 2000)
        late = [p for i, p in enumerate(posts) if i > 0 and p["timestamp"] < posts[i - 1]["timestamp"]]
        self.assertTrue(20 <= len(late) <= 80, len(late))


class CheckTest(unittest.TestCase):
    def test_rows_compare_as_multiset_by_column_name(self):
        got = check.normalise(["b", "a"], [[2.0000000001, "x"], [1.0, "y"]])
        exp = check.normalise(["a", "b"], [("y", 1), ("x", 2.0)])
        self.assertIsNone(check.compare(got, exp))
        bad = check.normalise(["a", "b"], [("y", 1), ("x", 2.1)])
        self.assertIsNotNone(check.compare(got, bad))

    def test_dates_and_timestamps_share_one_form(self):
        import datetime as dt
        self.assertEqual(check.canon(dt.date(1970, 1, 2)), 86_400_000_000)
        self.assertEqual(check.canon(dt.datetime(1970, 1, 1, 0, 0, 1, 5)), 1_000_005)

    def test_fingerprint_ignores_row_order(self):
        a = check.normalise(["x"], [[1.0], [2.0]])
        b = check.normalise(["x"], [[2.0], [1.0]])
        self.assertEqual(check.fingerprint(*a), check.fingerprint(*b))


class MetricSetTest(unittest.TestCase):
    """Each workload computes exactly the per-layer metrics BENCHMARK.json
    lists, so a renamed or mistyped key cannot pass as a measured 0."""

    def listed(self):
        import json
        path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
        return {m["name"] for m in json.load(open(path))["per_layer"]}

    def test_batch_metric_set(self):
        query = {"name": "q1", "group": "q1", "start_ms": 0.0, "construct_end_ms": 2.0,
                 "end_ms": 5.0}
        raw = {"events": [], "pass": {"start_ms": 0.0, "end_ms": 6.0, "queries": [query],
                                      "cache": {"persisted_bytes": 0, "persisted_rdds": 0}}}
        self.assertEqual(set(metrics.batch_per_layer(raw)[0]), self.listed())

    def test_stream_metric_set(self):
        raw = {"events": [], "drain_rounds": [{"start_ms": 0.0, "end_ms": 1.0}],
               "rate": {"start_ms": 1.0, "end_ms": 2.0}, "posts_per_file": 5,
               "backlog_files": 1, "rate_files": 1, "construct_ms": 1.0, "queries": ["q"],
               "published": []}
        self.assertEqual(set(metrics.stream_per_layer(raw)[0]), self.listed())


def _work():
    os.makedirs(WORK, exist_ok=True)
    return WORK


if __name__ == "__main__":
    unittest.main()
