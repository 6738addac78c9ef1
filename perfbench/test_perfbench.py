"""Tests of the benchmark's own logic: python3 -m unittest discover perfbench"""
import hashlib
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import stats  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def make(self, seed):
        d = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, d)
        gen.stream_pool(os.path.join(d, "pool"), seed, n_files=3, file_rows=50, keys=100)
        gen.corpus(os.path.join(d, "corpus"), seed, 0.01, dict(n=2000, keys=300))
        return d

    def test_same_seed_same_bytes_other_seed_differs(self):
        a, b, c = self.make(5), self.make(5), self.make(6)
        for part in ("pool", "corpus"):
            self.assertEqual(digest(os.path.join(a, part)), digest(os.path.join(b, part)), part)
            self.assertNotEqual(digest(os.path.join(a, part)), digest(os.path.join(c, part)), part)

    def test_changelog_shape(self):
        c = gen.changelog(3, 20000, 500, 1.1, 0.1)
        self.assertAlmostEqual((c["event_type"] == "error").mean(), 0.1, delta=0.01)
        ts = c["ts"]
        self.assertTrue((ts[1:] < ts[:-1]).any(), "ts must run out of order against offsets")
        _, counts = np.unique(c["user_id"], return_counts=True)
        self.assertGreater(counts.max(), 20 * 20000 / 500, "keys must be skewed")

    def test_pool_redelivers_earlier_changes(self):
        d = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, d)
        gen.stream_pool(d, 1, n_files=4, file_rows=100, keys=50, redelivery_share=0.2)
        ids = [pq.read_table(os.path.join(d, f"part-{i:05d}.parquet"))["event_id"].to_pylist()
               for i in range(4)]
        self.assertTrue(all(len(x) == 100 for x in ids))
        self.assertTrue(set(ids[3]) & set(ids[2] + ids[1] + ids[0]))


class TailTest(unittest.TestCase):
    def test_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        pct, v, n = stats.tail(xs)
        self.assertEqual((pct, v, n), (90.0, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3] * 5), stats.tail(sorted([5, 1, 4, 2, 3] * 5)))

    def test_small_sample_is_max(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100.0, 3.0, 3))
        self.assertEqual(stats.tail(list(range(10)))[1], 9)

    def test_eleven_samples(self):
        pct, v, n = stats.tail(list(range(11)))
        self.assertEqual(v, 0)
        self.assertAlmostEqual(pct, 100 / 11)


class DriverGapTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(stats.union_length([(1, 2), (1, 2)]), 1)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (4, 5)]), 10)

    def test_gap_is_call_minus_covered(self):
        # call 0..100, jobs 10..30 and 20..50 overlap, 90..120 runs past the end
        self.assertEqual(stats.self_time((0, 100), [(10, 30), (20, 50), (90, 120)]), 100 - 40 - 10)
        self.assertEqual(stats.self_time((0, 100), []), 100)
        self.assertEqual(stats.self_time((0, 100), [(-5, 200)]), 0)


class StreamTimelineTest(unittest.TestCase):
    # files of 10 rows stamped at t = 0, 1, 2, 3, 4
    files = [(f, float(f)) for f in range(5)]

    def test_files_map_to_batches_by_cumulative_rows(self):
        batches = [(0, 20, 2.5), (1, 10, 3.2), (2, 20, 6.0)]
        c = stats.file_commits(self.files, batches, 10)
        self.assertEqual(c, {0: 2.5, 1: 2.5, 2: 3.2, 3: 6.0, 4: 6.0})
        self.assertEqual([round(x, 9) for x in stats.freshness(self.files, c)], [2.5, 1.5, 1.2, 3.0, 2.0])

    def test_batch_order_is_by_id(self):
        batches = [(1, 10, 3.2), (0, 20, 2.5)]
        c = stats.file_commits(self.files, batches, 10)
        self.assertEqual(c[2], 3.2)
        self.assertIsNone(c[3])
        self.assertEqual([round(x, 9) for x in stats.freshness(self.files, c)], [2.5, 1.5, 1.2])

    def test_backlog(self):
        c = {0: 2.5, 1: 2.5, 2: 3.2, 3: 6.0, 4: None}
        self.assertEqual(stats.backlog(self.files, c, 0.5), 1)
        self.assertEqual(stats.backlog(self.files, c, 2.0), 3)
        self.assertEqual(stats.backlog(self.files, c, 3.0), 2)
        self.assertEqual(stats.backlog(self.files, c, 4.0), 2)
        self.assertEqual(stats.backlog(self.files, c, 10.0), 1)

    def test_offered_rate(self):
        self.assertAlmostEqual(stats.offered_rate([0.0, 0.5, 1.0, 1.5], 100), 200.0)
        self.assertEqual(stats.offered_rate([1.0], 100), 0.0)


if __name__ == "__main__":
    unittest.main()
