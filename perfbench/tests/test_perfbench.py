"""The benchmark's own tests: the tail-percentile rule, the streaming
funnel, checkpoint-log parsing, generator determinism and the mapping
from call site or write target to layer.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import metrics as M  # noqa: E402

SCRATCH = os.path.join(build.BUILD, "test-%d" % os.getpid())


def setUpModule():
    os.makedirs(SCRATCH, exist_ok=True)


def tearDownModule():
    shutil.rmtree(SCRATCH, ignore_errors=True)


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = M.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(value, 90)
        self.assertEqual(sum(1 for x in xs if x > value), M.TAIL_BEYOND)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0] * 5
        self.assertEqual(M.tail(xs), M.tail(sorted(xs)))

    def test_smallest_sample_with_a_tail(self):
        value, pct, n = M.tail(list(range(11)))
        self.assertEqual((value, n), (0, 11))
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_too_few_samples_reports_the_maximum(self):
        self.assertEqual(M.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(M.tail([]), (0.0, 0.0, 0))


class SteadyPass(unittest.TestCase):
    def test_sum_of_per_query_medians(self):
        passes = [{"a": 1.0, "b": 5.0}, {"a": 3.0, "b": 4.0}, {"a": 2.0, "b": 9.0}]
        self.assertAlmostEqual(M.steady_pass_s(passes), 2.0 + 5.0)

    def test_one_slow_pass_barely_moves_it(self):
        calm = [{"a": 1.0, "b": 2.0}] * 4
        self.assertAlmostEqual(M.steady_pass_s(calm + [{"a": 9.0, "b": 9.0}]), 3.0)


class HostSteal(unittest.TestCase):
    def test_share_of_the_delta(self):
        before = [100, 0, 50, 800, 0, 0, 0, 50]
        after = [200, 0, 100, 1600, 0, 0, 0, 100]
        self.assertAlmostEqual(M.steal_share(before, after), 50 / 1000)

    def test_unknown_without_readings(self):
        self.assertIsNone(M.steal_share(None, [1] * 8))


def checks(**over):
    c = {"rows_in": 1000, "dlq": 9, "required_drops": 10, "archive": 981,
         "timeseries": 981, "raw": 981, "levels": {"NORMAL": 500, "NULL": 481},
         "batch_levels": {"NORMAL": 500, "NULL": 481}}
    c.update(over)
    return c


class Funnel(unittest.TestCase):
    def test_balanced_funnel_passes(self):
        self.assertEqual(M.funnel_errors(checks()), [])

    def test_lost_row_fails(self):
        errs = M.funnel_errors(checks(timeseries=980, archive=980, raw=980))
        self.assertEqual(len(errs), 1)
        self.assertIn("funnel", errs[0])

    def test_duplicated_row_fails(self):
        self.assertTrue(M.funnel_errors(checks(dlq=10)))

    def test_stores_must_agree(self):
        errs = M.funnel_errors(checks(archive=982))
        self.assertEqual([e.split(":")[0] for e in errs], ["sinks"])

    def test_levels_must_match_batch(self):
        errs = M.funnel_errors(checks(batch_levels={"NORMAL": 501, "NULL": 480}))
        self.assertEqual([e.split(":")[0] for e in errs], ["levels"])

    def test_two_drains_of_the_same_input(self):
        self.assertEqual(M.same_output_errors(checks(), checks(), "x"), [])
        self.assertTrue(M.same_output_errors(checks(), checks(dlq=8), "x"))


class Checkpoint(unittest.TestCase):
    def test_file_to_batch_to_commit(self):
        ckpt = os.path.join(SCRATCH, "ckpt")
        for d in ("sources/0", "offsets", "commits"):
            os.makedirs(os.path.join(ckpt, d), exist_ok=True)
        entry = '{"path":"file:///w/incoming/%s","timestamp":1,"batchId":%d}'
        with open(os.path.join(ckpt, "sources/0/0"), "w") as f:
            f.write("v1\n" + entry % ("f00000.parquet", 0) + "\n")
        with open(os.path.join(ckpt, "sources/0/1.compact"), "w") as f:
            f.write("v1\n" + entry % ("f00000.parquet", 0) + "\n" +
                    entry % ("f00001.parquet", 1) + "\n")
        for d in ("offsets", "commits"):
            for b in ("0", "1"):
                open(os.path.join(ckpt, d, b), "w").close()
        open(os.path.join(ckpt, "commits", ".1.crc"), "w").close()
        files, offsets, commits = M.read_checkpoint(ckpt)
        self.assertEqual(files, {"f00000.parquet": 0, "f00001.parquet": 1})
        self.assertEqual(sorted(offsets), [0, 1])
        self.assertEqual(sorted(commits), [0, 1])


def digest(path):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(path)):
        for f in sorted(fs):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


class Generator(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b, c = (os.path.join(SCRATCH, x) for x in "abc")
        gen.stage_tables(5, a, 0.001)
        gen.stage_tables(5, b, 0.001)
        gen.stage_tables(6, c, 0.001)
        self.assertEqual(digest(a), digest(b))
        self.assertNotEqual(digest(a), digest(c))

    def test_permutation_keeps_the_rows(self):
        import numpy as np
        t = gen.events_table(np.random.default_rng(1), 200)
        p = gen.permuted(np.random.default_rng(2), t)
        self.assertNotEqual(t.column("event_id").to_pylist(), p.column("event_id").to_pylist())
        self.assertEqual(sorted(t.to_pylist(), key=str), sorted(p.to_pylist(), key=str))

    def test_stream_files_move_with_the_seed(self):
        pool = gen.event_pool(1, 2000)

        def files(seed):
            return gen.stream_files(seed, pool, 3, 100, "pending")
        a, b, c = files(7), files(7), files(8)
        self.assertTrue(all(x.equals(y) for x, y in zip(a, b)))
        ids = lambda fs: [i for f in fs for i in f.column("event_id").to_pylist()]  # noqa: E731
        self.assertEqual(len(set(ids(a))), 300)  # fresh, distinct ids
        # the id-keyed dirty-input classes land on other rows for another seed
        dlq = lambda fs: [i % 107 == 0 for i in ids(fs)]  # noqa: E731
        self.assertNotEqual(dlq(a), dlq(c))

    def test_streams_are_independent(self):
        pool = gen.event_pool(1, 2000)
        w = gen.stream_files(7, pool, 1, 100, "warm")[0]
        p = gen.stream_files(7, pool, 1, 100, "pending")[0]
        self.assertFalse(w.equals(p))


SPARK_CALLSITE = """org.apache.spark.sql.classic.DataFrameWriter.parquet(DataFrameWriter.scala:350)
graft.ops.Artifacts$.parquetArtifact(Artifacts.scala:22)
graft.SparkEntry$.pairs(SparkEntry.scala:94)
graft.SparkEntry$.$anonfun$queries$12(SparkEntry.scala:300)
perfbench.Harness$Run.$anonfun$batch$3(Harness.scala:258)"""

STREAM_CALLSITE = """org.apache.spark.sql.classic.DataStreamWriter.start(DataStreamWriter.scala:137)
graft.streaming.StreamingPipeline$.startWithDim(StreamingPipeline.scala:67)
graft.streaming.StreamingPipeline$.start(StreamingPipeline.scala:40)
perfbench.Harness$Run.poll(Harness.scala:174)"""


class Layers(unittest.TestCase):
    def test_write_target_names_the_sink(self):
        for sink in ("archive", "timeseries", "raw", "dlq"):
            self.assertEqual(M.layer_of(STREAM_CALLSITE, "write file:/w/poll-out/" + sink),
                             "sinks." + sink)

    def test_stream_job_without_a_write(self):
        self.assertEqual(M.layer_of(STREAM_CALLSITE, "WholeStageCodegen (1)"), "stream")

    def test_innermost_graft_frame_wins(self):
        self.assertEqual(M.layer_of(SPARK_CALLSITE), "artifacts")
        entry = SPARK_CALLSITE.replace("graft.ops.Artifacts$.parquetArtifact(Artifacts.scala:22)\n", "")
        self.assertEqual(M.layer_of(entry), "entry")

    def test_artifact_write_target(self):
        self.assertEqual(M.layer_of(None, "write file:/w/target/graft-artifacts/pairs_v1_j"),
                         "artifacts")

    def test_benchmark_frames_only(self):
        self.assertEqual(M.layer_of("org.apache.spark.X.y(X.scala:1)\n"
                                    "perfbench.Harness$Run.noop(Harness.scala:78)"), "harness")
        self.assertEqual(M.layer_of(None), "other")

    def test_query_families(self):
        self.assertEqual(layers.family("dedup_exact"), "dedup")
        self.assertEqual(layers.family("q_classify"), "hrfco")
        self.assertEqual(layers.family("q1_pricing_summary"), "relational")


class Spans(unittest.TestCase):
    def test_self_time_subtracts_covered_child_time(self):
        span = {"start": 0.0, "end": 10.0}
        kids = [{"start": 1.0, "end": 4.0}, {"start": 3.0, "end": 5.0},
                {"start": 9.0, "end": 12.0}]
        self.assertAlmostEqual(M.self_time(span, kids), 10.0 - 4.0 - 1.0)
        self.assertAlmostEqual(M.self_time(span, []), 10.0)


if __name__ == "__main__":
    unittest.main()
