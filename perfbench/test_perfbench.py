"""The benchmark's own tests: generator determinism, the percentile rule,
span self-time arithmetic, and the chunk -> micro-batch mapping.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import os
import shutil
import unittest

import gen
import metrics as M

SCRATCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "work",
                       "tests")


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def files(self, d):
        return sorted(os.path.relpath(os.path.join(r, f), d)
                      for r, _, fs in os.walk(d) for f in fs)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for workload in gen.SIZES:
            a, b, c = (os.path.join(SCRATCH, workload, x) for x in "abc")
            gen.generate(workload, 7, a, 1.0)
            gen.generate(workload, 7, b, 1.0)
            gen.generate(workload, 8, c, 1.0)
            names = self.files(a)
            self.assertEqual(names, self.files(b))
            self.assertIn("dims.json", names)
            for f in names:
                self.assertTrue(filecmp.cmp(os.path.join(a, f),
                                            os.path.join(b, f), shallow=False),
                                f"{workload}/{f} differs under one seed")
            tables = [f for f in names if f.endswith(".parquet")]
            self.assertTrue(tables)
            for f in tables:
                self.assertFalse(filecmp.cmp(os.path.join(a, f),
                                             os.path.join(c, f), shallow=False),
                                 f"{workload}/{f} equal under two seeds")

    def test_out_of_order_events_stay_inside_the_watermark(self):
        import random
        t = gen.events(random.Random(1), 5000, users=50, zipf=1.1,
                       ooo_share=0.2, start="2024-02-01", gap_s=0.5)
        ts = t.column("ts").cast("int64").to_pylist()
        newest, late = ts[0], 0
        for x in ts:
            self.assertGreater(x, newest - 120_000_000)  # 2-minute watermark
            late += x < newest
            newest = max(newest, x)
        self.assertGreater(late, 0)


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        self.assertEqual(M.percentile(range(1, 11), 90), 9)
        self.assertEqual(M.percentile(range(1, 11), 100), 10)
        self.assertEqual(M.percentile([5, 1, 3], 50), 3)
        self.assertEqual(M.percentile([4], 99), 4)

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(M.tail_percentile(10000), 99.9)
        self.assertEqual(M.tail_percentile(1000), 99)
        self.assertEqual(M.tail_percentile(999), 95)
        self.assertEqual(M.tail_percentile(100), 90)
        self.assertEqual(M.tail_percentile(99), 75)
        self.assertEqual(M.tail_percentile(20), 50)
        self.assertIsNone(M.tail_percentile(19))
        self.assertEqual(M.beyond(100, 90), 10)


class SpanTest(unittest.TestCase):
    SPANS = [
        {"id": 1, "op": 1, "parent": 0, "name": "query", "start": 0.0, "end": 10.0},
        {"id": 2, "op": 1, "parent": 1, "name": "build", "start": 1.0, "end": 4.0},
        {"id": 3, "op": 1, "parent": 1, "name": "collect", "start": 3.0, "end": 6.0},
        {"id": 4, "op": 1, "parent": 2, "name": "inner", "start": 2.0, "end": 3.0},
    ]

    def test_self_time_subtracts_the_union_of_children(self):
        own = M.self_times(self.SPANS)
        self.assertAlmostEqual(own[1], 10.0 - 5.0)  # children cover [1, 6]
        self.assertAlmostEqual(own[2], 3.0 - 1.0)
        self.assertAlmostEqual(own[3], 3.0)
        self.assertAlmostEqual(own[4], 1.0)

    def test_union_clips_and_merges(self):
        self.assertAlmostEqual(M.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertAlmostEqual(M.union_length([(0, 2), (1, 3)], 1.5, 2.5), 1.0)
        self.assertEqual(M.union_length([]), 0.0)

    def test_jobs_attach_to_the_innermost_span_holding_their_start(self):
        spans = M.attach(self.SPANS, [{"start": 2.5, "end": 2.9},
                                      {"start": 11.0, "end": 12.0}], 10)
        job, orphan = spans[-2:]
        self.assertEqual((job["parent"], job["op"]), (4, 1))
        self.assertEqual((orphan["parent"], orphan["op"]), (0, 11))
        self.assertAlmostEqual(M.self_times(spans)[4], 1.0 - 0.4)


class BatchMappingTest(unittest.TestCase):
    CHUNKS = [{"idx": i, "due": float(i), "created": i + 0.1, "rows": 10}
              for i in range(5)]
    # MemoryStream offsets: chunk k is offset k; a batch covers (start, end]
    BATCHES = [{"start_offset": -1, "end_offset": 1, "end": 5.0},
               {"start_offset": 1, "end_offset": 3, "end": 6.0},
               {"start_offset": 3, "end_offset": 4, "end": 8.0}]

    def test_chunks_map_to_the_batch_whose_offsets_hold_them(self):
        self.assertEqual(M.chunk_commits(self.CHUNKS, self.BATCHES),
                         [5.0, 5.0, 6.0, 6.0, 8.0])
        self.assertEqual(M.chunk_commits(self.CHUNKS, self.BATCHES[:1]),
                         [5.0, 5.0, None, None, None])

    def test_row_latency_runs_from_the_stamp_to_the_commit(self):
        lat = M.row_latencies(self.CHUNKS, self.BATCHES, "due")
        self.assertEqual(len(lat), 50)
        self.assertEqual(lat[::10], [5.0, 4.0, 4.0, 3.0, 4.0])
        lat = M.row_latencies(self.CHUNKS, self.BATCHES[:2], "created")
        self.assertEqual(lat[40], None)
        self.assertAlmostEqual(lat[0], 4.9)

    def test_backlog_counts_rows_fed_but_not_committed(self):
        # at chunk 4's feed (t=4.1) nothing is committed yet: all five
        # chunks are pending. With the first commit at t=3.0, the peak is
        # chunk 2's feed (t=2.1, chunks 0-2 pending); chunk 3's feed
        # (t=3.1) sees only chunks 2 and 3
        self.assertEqual(M.backlog_max(self.CHUNKS, self.BATCHES), 50)
        early = [dict(self.BATCHES[0], end=3.0)] + self.BATCHES[1:]
        self.assertEqual(M.backlog_max(self.CHUNKS[:4], early), 30)


if __name__ == "__main__":
    unittest.main()
