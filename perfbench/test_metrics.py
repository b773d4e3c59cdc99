"""Tests of the benchmark's metric math.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics as M  # noqa: E402


class DriverTimeTest(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        # span 0..100; jobs 10..40 and 30..60 overlap: covered 10..60
        self.assertEqual(M.driver_time([(0, 100)], [(10, 40), (30, 60)]), 50)

    def test_job_time_outside_the_span_does_not_count(self):
        self.assertEqual(M.driver_time([(0, 100)], [(-50, 20), (90, 300)]), 70)

    def test_disjoint_segments(self):
        # two calls of the same span; one job spans the gap between them
        self.assertEqual(M.driver_time([(0, 10), (20, 30)], [(5, 25)]), 10)

    def test_no_jobs_is_all_driver(self):
        self.assertEqual(M.driver_time([(0, 10), (5, 12)], []), 12)


class BatchPhasesTest(unittest.TestCase):
    def test_only_batches_with_data_per_traced_iteration(self):
        progress = [
            {"numInputRows": 10, "durationMs": {"addBatch": 100, "walCommit": 4}},
            {"numInputRows": 0, "durationMs": {"addBatch": 1, "walCommit": 1}},
            {"numInputRows": 5, "durationMs": {"addBatch": 300, "walCommit": 8}},
            {"numInputRows": 7, "durationMs": {"addBatch": 200, "walCommit": 6}},
        ]
        got = M.batch_phases(progress, 2)
        self.assertEqual(got["streaming.batch.add_batch_ms"], 200)
        self.assertEqual(got["streaming.batch.wal_commit_ms"], 6)
        self.assertEqual(got["streaming.batch.planning_ms"], 0)
        self.assertEqual(got["streaming.batches"], 1.5)


class AttributionTest(unittest.TestCase):
    def job(self, i, span, ex, start, end, cpu_s=0.0):
        return {"id": i, "span": span, "exec": ex, "start": start, "end": end,
                "cpu_ns": int(cpu_s * 1e9), "run_ms": 0, "gc_ms": 0,
                "shuffle_bytes": 0, "spill_bytes": 0, "out_bytes": 0, "tasks": 1}

    def test_lake_stages_split_the_enrich_call(self):
        trace = {
            "spans": [{"name": "stages", "start": 0, "end": 100, "iter": 1}],
            "execs": [
                {"id": 1, "start": 10, "end": 30, "writes": "file:/w/lake/jobs_parsed",
                 "reads": []},
                {"id": 2, "start": 31, "end": 35, "writes": "",
                 "reads": ["file:/w/lake/jobs_parsed"]},
                {"id": 3, "start": 50, "end": 90,
                 "writes": "file:/w/lake/jobs_enriched_skills", "reads": []},
            ],
            "jobs": [self.job(1, "stages", 1, 10, 30, 2.0),
                     self.job(2, "stages", 2, 31, 35),
                     self.job(3, "stages", 3, 50, 90, 3.0)],
        }
        spans = M.attribute(trace, {1})
        self.assertEqual(spans["stages.parse"][0], [(0, 35)])
        self.assertEqual(spans["stages.skills"][0], [(35, 90)])
        parse = M.span_metrics(*spans["stages.parse"], 1)
        self.assertAlmostEqual(parse["wall_s"], 0.035)
        self.assertAlmostEqual(parse["driver_s"], 0.011)
        self.assertAlmostEqual(parse["task_cpu_s"], 2.0)
        self.assertNotIn("stages", spans)

    def test_neardedup_call_splits_at_the_edge_stage(self):
        # nearDedup: an LSH probe job (no execution), the CC edge stage
        # write, then a CC round; the survivors' write is its own call
        trace = {
            "spans": [{"name": "dedup", "start": 0, "end": 100, "iter": 1},
                      {"name": "dedup.survivors", "start": 100, "end": 130, "iter": 1}],
            "execs": [{"id": 7, "start": 12, "end": 60,
                       "writes": "file:/w/scratch/x/graft-cc-1/pairs0", "reads": []},
                      {"id": 8, "start": 70, "end": 90,
                       "writes": "file:/w/scratch/x/graft-cc-1/h1", "reads": []},
                      {"id": 9, "start": 101, "end": 125, "writes": "file:/w/survivors",
                       "reads": []}],
            "jobs": [self.job(1, "dedup", -1, 2, 8), self.job(2, "dedup", 7, 12, 60),
                     self.job(3, "dedup", 8, 70, 90),
                     self.job(4, "dedup.survivors", 9, 101, 125)],
        }
        spans = M.attribute(trace, {1})
        self.assertEqual(spans["dedup.lsh"][0], [(0, 60)])
        self.assertEqual(spans["dedup.cc"][0], [(60, 100)])
        self.assertEqual([j["id"] for j in spans["dedup.lsh"][1]], [1, 2])
        self.assertEqual([j["id"] for j in spans["dedup.cc"][1]], [3])
        self.assertEqual([j["id"] for j in spans["dedup.survivors"][1]], [4])
        self.assertNotIn("dedup", spans)

    def test_untraced_iterations_are_ignored(self):
        trace = {"spans": [{"name": "engine.table", "start": 0, "end": 5, "iter": 2}],
                 "execs": [], "jobs": []}
        self.assertEqual(M.attribute(trace, {1}), {})

if __name__ == "__main__":
    unittest.main()
