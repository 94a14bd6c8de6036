#!/usr/bin/env python3
"""Reconciles every counter the traced run publishes with a truth measured
another way. Run from the root of a checkout:

    python3 perfbench/test_reconcile.py

Each test class makes one traced run of one workload (about a minute each)
and checks its raw record. A counter that cannot be reconciled is not
published by run.py.
"""
import argparse
import glob
import os
import shutil
import sys
import time
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

ROOT = run.HERE.parent


def traced(workload: str) -> tuple:
    """One traced run's raw record and its per-layer metrics."""
    jars = run.spark_jars(ROOT)
    classes = run.build(ROOT, jars)
    data = run.data_dir(ROOT, run.SCALE[workload])
    base = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"
    work = base / f"test-{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    args = argparse.Namespace(workload=workload, seed=7, seconds=1, trace=1)
    res = run.run_jvm(classes, jars, work, args, data, time.time() + run.RUN_LIMIT_S)
    return res, run.per_layer(res), data, work


def parquet_rows(path: Path) -> int:
    import pyarrow.parquet as pq
    return sum(pq.read_metadata(f).num_rows for f in glob.glob(f"{path}/*.parquet"))


class QueryMix(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.res, cls.metrics, cls.data, cls.work = traced("query_mix")
        cls.ops = {o["name"]: o for o in cls.res["passes"][0]["ops"]}

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work, ignore_errors=True)

    def c(self, op, key):
        return self.ops[op]["counters"].get(key, 0.0)

    def test_scan_bytes_are_file_sizes(self):
        # q_winnow reads documents.parquet once, in full
        size = (self.data / "documents.parquet").stat().st_size / 1e6
        self.assertAlmostEqual(self.c("q_winnow", "sources.scan_mb"), size, places=4)

    def test_listener_input_bytes_do_not_reconcile(self):
        # why sources.scan_mb comes from the scan nodes' file sizes: the
        # task input metrics count cached-block reads as input and miss
        # most parquet bytes, so they match no file size
        size = (self.data / "documents.parquet").stat().st_size / 1e6
        self.assertNotAlmostEqual(self.c("q_winnow", "recon.input_mb"), size, places=1)

    def test_batches_match_scheduler_batch_ids(self):
        for name, o in self.ops.items():
            self.assertEqual(o["counters"].get("streaming.batches", 0.0),
                             o["counters"].get("recon.batch_ids", 0.0), name)
        self.assertGreater(self.c("q_stream_dedup", "streaming.batches"), 0)

    def test_state_rows_are_the_distinct_keys(self):
        # q_stream_dedup keeps one state row per key inside the watermark
        # horizon, which spans the whole feed: the keys it outputs
        rows = parquet_rows(Path(self.res["check_dir"]) / "q_stream_dedup")
        self.assertEqual(self.c("q_stream_dedup", "streaming.state_rows"), rows)

    def test_commit_time_within_task_time(self):
        for name, o in self.ops.items():
            c = o["counters"]
            self.assertLessEqual(c.get("streaming.commit_s", 0.0),
                                 c.get("spark.executor_run_s", 0.0) + 1e-9, name)

    def test_checkpoints_are_the_persisted_rdds(self):
        # every eager localCheckpoint leaves one persisted RDD behind,
        # which the fence after the op drops
        for name, o in self.ops.items():
            c = o["counters"]
            self.assertEqual(c.get("spark.checkpoints", 0.0),
                             c.get("recon.persisted_rdds", 0.0), name)
        self.assertGreater(self.c("q_gini", "spark.checkpoints"), 0)

    def test_scheduler_counts_match_the_status_store(self):
        for name, o in self.ops.items():
            c = o["counters"]
            for k in ("jobs", "stages", "tasks", "useful_tasks"):
                self.assertEqual(c.get(f"spark.{k}", 0.0), c.get(f"recon.{k}", 0.0),
                                 f"{name} {k}")

    def test_scan_rows_are_table_rows(self):
        import pyarrow.parquet as pq
        rows = pq.read_metadata(self.data / "documents.parquet").num_rows
        self.assertEqual(self.c("q_winnow", "sources.scan_rows"), rows)

    def test_shuffle_bytes_are_the_shuffle_files(self):
        for name, o in self.ops.items():
            c = o["counters"]
            self.assertAlmostEqual(c.get("spark.shuffle_write_mb", 0.0),
                                   c.get("recon.shuffle_files_mb", 0.0), places=3, msg=name)
        self.assertGreater(self.metrics["spark.shuffle_write_mb"]["value"], 0)

    def test_executor_cpu_within_process_cpu(self):
        for name, o in self.ops.items():
            self.assertLessEqual(o["counters"].get("spark.executor_cpu_s", 0.0),
                                 o["cpu_s"] + 0.05, name)


class DbtBuild(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.res, cls.metrics, cls.data, cls.work = traced("dbt_build")
        cls.pass0 = cls.res["passes"][0]

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work, ignore_errors=True)

    def total(self, key):
        return sum(o["counters"].get(key, 0.0) for o in self.pass0["ops"])

    def test_written_bytes_are_the_warehouse(self):
        self.assertAlmostEqual(self.total("build.written_mb"),
                               self.pass0["warehouse_parquet_mb"], places=4)
        self.assertEqual(self.total("build.files"), self.pass0["warehouse_parquet_files"])

    def test_process_writes_cover_the_warehouse(self):
        written = sum(o["written_mb"] for o in self.pass0["ops"])
        self.assertGreaterEqual(written, self.pass0["warehouse_parquet_mb"])

    def test_step_times_within_build(self):
        m = self.metrics
        steps = sum(m[f"build.{s}_s"]["value"] for s in run.BUILD_STEPS) \
            + m["build.tests_s"]["value"]
        self.assertLessEqual(steps, m["build.build_s"]["value"])
        for s in run.BUILD_STEPS:
            self.assertGreater(m[f"build.{s}_s"]["value"], 0, s)

    def test_schema_tests_pinned(self):
        self.assertEqual(self.pass0["checks"], run.PINNED_CHECKS)


if __name__ == "__main__":
    unittest.main()
