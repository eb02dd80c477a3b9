"""The benchmark's own tests: python3 -m unittest discover -s repobench"""
import hashlib
import json
import math
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def _digests(d, with_mtime=False):
    out = {}
    for f in sorted(os.listdir(d)):
        p = os.path.join(d, f)
        with open(p, "rb") as fh:
            out[f] = (hashlib.sha256(fh.read()).hexdigest(),
                      os.stat(p).st_mtime if with_mtime else None)
    return out


class SeedTest(unittest.TestCase):

    def test_same_seed_gives_byte_identical_tables(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write_tables(7, a)
            gen.write_tables(7, b)
            self.assertEqual(_digests(a), _digests(b))
            self.assertEqual(sorted(os.listdir(a)), sorted(f"{t}.parquet" for t in gen.TABLES))

    def test_other_seed_gives_other_tables(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write_tables(7, a)
            gen.write_tables(8, b)
            self.assertNotEqual(_digests(a)["lineitem.parquet"], _digests(b)["lineitem.parquet"])

    def test_same_seed_gives_byte_identical_topic_files(self):
        def make(seed):
            return gen.news_files(seed, 2, 30, run.MAX_FILES_PER_TRIGGER)
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            files_a, exp_a = make(11)
            files_b, exp_b = make(11)
            gen.write_lake_files(a, files_a)
            gen.write_lake_files(b, files_b)
            # the mtimes fix the drain phase's batch layout, so they count too
            self.assertEqual(_digests(a, with_mtime=True), _digests(b, with_mtime=True))
            self.assertEqual(exp_a, exp_b)
            self.assertNotEqual(make(12)[0], files_a)

    def test_same_seed_gives_same_query_order(self):
        names = run.CORPUS
        self.assertEqual(gen.query_order(3, names), gen.query_order(3, list(reversed(names))))
        self.assertEqual(sorted(gen.query_order(3, names)), sorted(names))
        self.assertNotEqual(gen.query_order(3, names), gen.query_order(4, names))


class TopicFileTest(unittest.TestCase):

    def test_one_malformed_line_per_file(self):
        files, _ = gen.news_files(5, 0, 20, run.MAX_FILES_PER_TRIGGER)
        for lines in files:
            self.assertEqual(len(lines), gen.RECORDS_PER_FILE)
            bad = [x for x in lines if not x.endswith("}")]
            self.assertEqual(len(bad), 1)
            with self.assertRaises(ValueError):
                json.loads(bad[0])

    def test_news_resends_are_below_an_earlier_batch_watermark(self):
        # the dedup output must not depend on where batch boundaries fall:
        # every re-sent id comes from a file at least one drain batch back
        gap = run.MAX_FILES_PER_TRIGGER
        files, expected = gen.news_files(5, 0, 60, gap)
        first_file = {}
        for f, rows in enumerate(expected):
            for sym, nid, _, _ in rows:
                self.assertNotIn((sym, nid), first_file)  # fresh ids are unique
                first_file[(sym, nid)] = f
        resent = 0
        for f, lines in enumerate(files):
            fresh = {(r[0], r[1]) for r in expected[f]}
            for line in lines:
                if not line.endswith("}"):
                    continue  # the malformed line
                rec = json.loads(line)
                key = (rec["symbol"], rec["id"])
                if key not in fresh:
                    resent += 1
                    self.assertLessEqual(first_file[key], f - gap)
        self.assertGreater(resent, 0)


class TailTest(unittest.TestCase):

    def test_tail_leaves_at_least_ten_samples_beyond(self):
        for n in range(2 * stats.MIN_BEYOND, 400):
            samples = [float(i) for i in range(n)]
            q, v, count = stats.tail(samples)
            self.assertEqual(count, n)
            self.assertGreaterEqual(sum(1 for s in samples if s > v), stats.MIN_BEYOND)
            # and it is the highest whole percentile that does
            if q < 99:
                higher = stats.nearest_rank(samples, q + 1)
                self.assertLess(sum(1 for s in samples if s > higher), stats.MIN_BEYOND)

    def test_too_few_samples_for_a_tail_is_refused(self):
        with self.assertRaises(ValueError):
            stats.tail([1.0] * (2 * stats.MIN_BEYOND - 1))

    def test_harness_runs_enough_samples_for_a_tail(self):
        self.assertGreaterEqual(run.BATCH_ROUNDS * len(run.CORPUS), 2 * stats.MIN_BEYOND)
        self.assertGreaterEqual(run.MIN_COMMITS, 2 * stats.MIN_BEYOND)


class LayerAttributionTest(unittest.TestCase):

    def test_store_builds_are_reported_per_run_and_apart_from_timed_calls(self):
        # warm-pass jobs called from graft.sources are the store build; the
        # timed calls' sources jobs are store reads, a mean per call
        span = {"op": 0, "parent": "query", "start_ms": 0.0, "end_ms": 100.0}
        res = {"timed": [{"name": "q_a"}, {"name": "q_a"}],
               "trace": {"spans": [dict(span, name="construct"), dict(span, name="execute"),
                                   dict(span, op=1, name="construct"),
                                   dict(span, op=1, name="execute")],
                         "plan_ms": {"0": 5, "1": 5},
                         "counts": {"op/warm/sources": {"jobs": 3, "job_ms": 1500,
                                                        "bytes_written": 4096},
                                    "op/0/sources": {"jobs": 1, "job_ms": 20},
                                    "op/1/sources": {"jobs": 1, "job_ms": 40}}}}
        m = run.batch_layers(res, cores=4)
        self.assertEqual((m["sources.build_jobs"], m["sources.build_s"],
                          m["sources.build_bytes"]), (3, 1.5, 4096))
        self.assertEqual((m["sources.store_jobs"], m["sources.store_s"]), (1.0, 0.03))
        self.assertEqual(set(m), set(run.BATCH_LAYERS))


class LakeSizingTest(unittest.TestCase):

    def test_closed_loop_has_files_for_the_minimum_and_the_time_budget(self):
        for seconds in (1, 8, 20, 60):
            n = run.closed_files(seconds)
            self.assertGreaterEqual(n - 1, run.MIN_COMMITS)  # one file primes the query
            self.assertGreaterEqual(n - 1, run.COMMIT_RATE_CAP * seconds)


class FailureAccountingTest(unittest.TestCase):

    def test_failed_operation_counts_against_ok_frac(self):
        self.assertEqual(stats.ok_frac(40, 0), 1.0)
        self.assertEqual(stats.ok_frac(40, 1), 39 / 40)
        with self.assertRaises(ValueError):
            stats.ok_frac(0, 0)

    def test_failed_operation_stays_in_every_denominator(self):
        ok = [0.1] * 19
        m, _ = run.latency_metrics(ok + [math.inf], n_ok=19, wall=2.0)
        self.assertEqual(m["ops_per_s"], 19 / 2.0)     # wall includes the failed op
        self.assertEqual(stats.median(ok + [math.inf]), 0.1)
        # failures sort above every completed operation, so enough of them
        # move both the median and the tail
        m, _ = run.latency_metrics([0.1] * 10 + [math.inf] * 10, n_ok=10, wall=2.0)
        self.assertEqual(m["latency_p50_s"], 0.1)
        m, _ = run.latency_metrics([0.1] * 9 + [math.inf] * 11, n_ok=9, wall=2.0)
        self.assertEqual(m["latency_p50_s"], math.inf)

    def test_incorrect_query_fails_all_its_operations(self):
        res = {"warm": [{"name": "q_a", "ok": True, "error": None, "oracle": None},
                        {"name": "q_b", "ok": False, "error": "boom", "oracle": "SELECT 1"}],
               "timed": [{"name": n, "round": r, "lat_s": 0.1, "ok": True}
                         for r in range(10) for n in ("q_a", "q_b")],
               "timed_wall_s": 2.0}
        with tempfile.TemporaryDirectory() as d:
            gen.write_tables(1, os.path.join(d, "data"))
            m, attempted, failed, correct, _ = run.batch_run(res, os.path.join(d, "data"), d)
        self.assertEqual((attempted, failed, correct), (20, 20, False))
        self.assertEqual(stats.ok_frac(attempted, failed), 0.0)
        self.assertEqual(m["ops_per_s"], 0.0)


if __name__ == "__main__":
    unittest.main()
