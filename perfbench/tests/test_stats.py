"""Unit tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertIsNone(stats.tail_percentile(19))

    def test_ten_samples_lie_beyond_the_reported_value(self):
        for n in (20, 57, 100, 231, 1000):
            xs = list(range(n))
            p, v = stats.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, (n, p))

    def test_small_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail([5, 1, 3]), (50.0, 3))
        self.assertEqual(stats.tail(list(range(12))), (50.0, 5.5))

    def test_nearest_rank(self):
        xs = [10, 20, 30, 40, 50]
        self.assertEqual(stats.percentile(xs, 50), 30)
        self.assertEqual(stats.percentile(xs, 95), 50)
        self.assertEqual(stats.percentile(xs, 0), 10)


class SelfTime(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(stats.union_length([(1, 4), (3, 6), (8, 9)]), 6)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_overlapping_children(self):
        spans = [dict(id=0, parent=None, start=0, end=10),
                 dict(id=1, parent=0, start=1, end=4),
                 dict(id=2, parent=0, start=3, end=6),
                 dict(id=3, parent=0, start=8, end=12)]
        st = stats.self_times(spans)
        # children cover [1,6] and [8,10] of the parent: 7 of its 10
        self.assertEqual(st[0], 3)
        self.assertEqual(st[1], 3)
        self.assertEqual(st[3], 4)

    def test_nested_spans_and_layers(self):
        spans = [dict(id=0, parent=None, start=0, end=100, layer="streaming"),
                 dict(id=1, parent=0, start=10, end=90, layer="sink"),
                 dict(id=2, parent=1, start=20, end=60, layer="pipeline"),
                 dict(id=3, parent=1, start=50, end=70, layer="sink")]
        by_layer = stats.layer_self_seconds(spans)
        self.assertAlmostEqual(by_layer["streaming"], 0.020)
        self.assertAlmostEqual(by_layer["sink"], (80 - 50 + 20) / 1000.0)
        self.assertAlmostEqual(by_layer["pipeline"], 0.040)


class SpanTree(unittest.TestCase):
    def record(self):
        progress = [dict(batch=0, rows=4, start=1000.0, start_offset="0", end_offset="4",
                         duration_ms={"triggerExecution": 100, "latestOffset": 2,
                                      "walCommit": 3, "queryPlanning": 5,
                                      "addBatch": 85, "commitOffsets": 4},
                         state=[])]
        site = "start at GraftStream.scala:33"
        jobs = [dict(id=7, start=1012.0, end=1040.0, call_site=site,
                     batch="0", lane="", stages=[dict(id=1, tasks=4)]),
                dict(id=8, start=1041.0, end=1049.0, call_site=site,
                     batch="0", lane="", stages=[dict(id=2, tasks=1)]),
                dict(id=9, start=1050.0, end=1080.0, call_site=site,
                     batch="0", lane="", stages=[dict(id=3, tasks=4)]),
                dict(id=10, start=1081.0, end=1090.0, call_site=site,
                     batch="0", lane="", stages=[dict(id=4, tasks=1)])]
        plans = [dict(start=1011.0, func="isEmpty"), dict(start=1040.5, func="collect"),
                 dict(start=1049.5, func="foreachPartition"),
                 dict(start=1080.5, func="collect")]
        return dict(progress=progress,
                    write_batches=[dict(batch=0, start=1010.0, end=1095.0)],
                    fetches=[[0, None, 1015.0, 1016.0, 1], [3, None, 1020.0, 1022.0, 1]],
                    trace=dict(jobs=jobs, tasks=[], plans=plans, spans=[]))

    def test_parents(self):
        spans = stats.build_tree(self.record())
        by_name = {}
        for s in spans:
            by_name.setdefault(s["name"], []).append(s)
        batch = by_name["chain.batch"][0]
        write = by_name["sink.write_batch"][0]
        self.assertIsNone(batch["parent"])
        self.assertEqual(write["parent"], batch["id"])
        self.assertTrue(all(j["parent"] == write["id"] for j in by_name["spark.job"]))
        # isEmpty runs the fold; the first collect routes; the insert and
        # the cursor collect are the sink's
        self.assertEqual([j["layer"] for j in sorted(by_name["spark.job"], key=lambda j: j["start"])],
                         ["state", "pipeline", "sink", "sink"])
        first_job = min(by_name["spark.job"], key=lambda j: j["start"])
        self.assertTrue(all(f["parent"] == first_job["id"] for f in by_name["sources.fetch"]))

    def test_batch_coverage(self):
        spans = stats.build_tree(self.record())
        # write batch [10,95] + phases [0,10] and [96,100] of a 100 ms batch
        self.assertAlmostEqual(stats.batch_coverage(spans)[0], 0.99)


if __name__ == "__main__":
    unittest.main()
