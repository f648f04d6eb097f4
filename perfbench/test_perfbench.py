"""Tests of the benchmark's statistics and output checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Set PERFBENCH_E2E=1 to also run the benchmark end to end with
`--corrupt` (builds the program; about two minutes) and require the
damaged outputs to show up as failed ops.
"""
import hashlib
import json
import os
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import checks  # noqa: E402
import stats  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_percentile_interpolates(self):
        v = list(range(1, 11))  # 1..10
        self.assertEqual(stats.percentile(v, 0), 1)
        self.assertEqual(stats.percentile(v, 100), 10)
        self.assertAlmostEqual(stats.percentile(v, 90), 9.1)
        self.assertAlmostEqual(stats.percentile(v, 50), stats.median(v))

    def test_tail_percentile_keeps_ten_beyond(self):
        for n in (20, 21, 35, 110, 1000):
            p = stats.tail_percentile(n)
            pos = int(p / 100 * (n - 1))
            self.assertGreaterEqual(n - 1 - pos, 10, n)
            # the next percentile up would leave fewer than ten beyond
            if p < 99:
                self.assertLess(n - 1 - int((p + 1) / 100 * (n - 1)), 10, n)
        self.assertEqual(stats.tail_percentile(20), 52)
        self.assertEqual(stats.tail_percentile(110), 91)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertIsNone(stats.tail_percentile(19))

    def test_failed_share(self):
        self.assertEqual(stats.failed_share(12, 0), 0)
        self.assertEqual(stats.failed_share(12, 3), 0.25)
        with self.assertRaises(ValueError):
            stats.failed_share(0, 0)

    def test_self_time_subtracts_covered_children(self):
        spans = [
            {"id": "op", "parent": None, "layer": "driver", "start": 0, "end": 10},
            {"id": "a", "parent": "op", "layer": "sched", "start": 2, "end": 5},
            {"id": "b", "parent": "op", "layer": "sched", "start": 4, "end": 8},
            {"id": "a1", "parent": "a", "layer": "ops", "start": 3, "end": 4},
            # a child running past its parent only covers the overlap
            {"id": "b1", "parent": "b", "layer": "io", "start": 7, "end": 12},
        ]
        st = stats.self_times(spans)
        self.assertEqual(st["op"], 10 - 6)  # a and b cover [2, 8]
        self.assertEqual(st["a"], 3 - 1)
        self.assertEqual(st["b"], 4 - 1)
        self.assertEqual(st["a1"], 1)
        self.assertEqual(st["b1"], 5)
        by_layer = stats.layer_self_times(spans)
        self.assertEqual(by_layer, {"driver": 4, "sched": 5, "ops": 1, "io": 5})

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)


def op(id_, kind, phase="timed", ok=True, **facts):
    return {"id": id_, "kind": kind, "name": f"{kind}{id_}", "phase": phase,
            "ok": ok, "error": None if ok else "boom", "facts": facts}


class PipelineCheckTest(unittest.TestCase):
    def setUp(self):
        self.urls = [f"https://example.org/m/{i:05d}" for i in range(60)]
        srt = sorted(self.urls)
        self.ops = [op(1, "canary", accepted=True)]
        produced = 0
        for i, start in enumerate(range(0, 60, 25)):
            part = srt[start:start + 25]
            dead = checks.dead_by_md5(part)
            produced += len(part) - dead
            self.ops.append(op(2 + i, "batch", start_index=start, consumed=len(part),
                               produced=len(part) - dead, dead=dead,
                               failed_attempts=0))
        self.ops.append(op(9, "aggregate", shard_rows=produced,
                           statistics_json=json.dumps({"total_records": produced})))
        self.passes = [{"urls_file": "u.json",
                        "op_ids": [o["id"] for o in self.ops]}]

    def bad(self):
        return checks.check_pipeline(self.ops, self.passes, {"u.json": self.urls},
                                     batch_size=25)

    def test_correct_outputs_pass(self):
        self.assertEqual(self.bad(), {})

    def test_dead_count_is_recomputed_from_md5(self):
        urls = ["u%d" % i for i in range(2000)]
        want = sum(hashlib.md5(u.encode()).hexdigest()[:2] == "00" for u in urls)
        self.assertEqual(checks.dead_by_md5(urls), want)
        self.assertGreater(want, 0)

    def test_wrong_dead_count_fails_the_batch(self):
        b = self.ops[1]["facts"]
        b["dead"] += 1
        b["produced"] -= 1
        self.assertIn(2, self.bad())

    def test_lost_shard_rows_fail_the_aggregator(self):
        self.ops[-1]["facts"]["shard_rows"] -= 1
        self.assertIn(9, self.bad())

    def test_short_pass_fails_the_aggregator(self):
        self.passes[0]["op_ids"].remove(4)
        self.assertIn(9, self.bad())

    def test_thrown_op_fails(self):
        self.ops[2].update(ok=False, error="boom")
        self.assertEqual(self.bad()[3], "boom")


class QueryCheckTest(unittest.TestCase):
    digests = {"q1": {"rows": 3, "digest": "a:3:123"}}

    def test_matching_digests_pass(self):
        ops = [op(1, "query", "prime", rows=3, digest="a:3:123"),
               op(2, "query", "timed", rows=3, digest="a:3:123")]
        ops[0]["name"] = ops[1]["name"] = "q1"
        self.assertEqual(checks.check_queries(ops, self.digests), {})

    def test_corrupted_output_fails(self):
        ops = [op(1, "query", "prime", rows=4, digest="a:4:999"),
               op(2, "query", "prime", rows=3, digest="a:3:124")]
        for o in ops:
            o["name"] = "q1"
        bad = checks.check_queries(ops, self.digests)
        self.assertEqual(set(bad), {1, 2})

    def test_timed_pass_output_is_checked(self):
        ops = [op(1, "query", "prime", rows=3, digest="a:3:123"),
               op(2, "query", "timed", rows=3, digest="a:3:123"),
               op(3, "query", "timed", rows=3, digest="a:3:124")]
        for o in ops:
            o["name"] = "q1"
        self.assertEqual(set(checks.check_queries(ops, self.digests)), {3})

    def test_unrecorded_query_fails(self):
        ops = [op(1, "query", "prime", rows=5, digest="d")]
        ops[0]["name"] = "q9"
        self.assertIn(1, checks.check_queries(ops, self.digests))


class IngestCheckTest(unittest.TestCase):
    kinds = {"fresh": [10, 11], "verbatim": [12], "near": [13]}

    def facts(self, **over):
        f = {"corpus_before": 100, "corpus_rows": 103, "corpus_distinct_ids": 103,
             "rows_in": 4, "present_input_ids": [10, 11, 13], "stream_error": None}
        f.update(over)
        return f

    def files(self):
        return [op(1, "file"), op(2, "file")]

    def test_correct_corpus_passes(self):
        self.assertEqual(checks.check_ingest(self.files(), self.facts(), self.kinds, 4), {})

    def test_duplicate_doc_id_fails_every_file(self):
        bad = checks.check_ingest(self.files(), self.facts(corpus_rows=104), self.kinds, 4)
        self.assertEqual(set(bad), {1, 2})

    def test_appended_verbatim_duplicate_fails(self):
        f = self.facts(corpus_rows=104, corpus_distinct_ids=104,
                       present_input_ids=[10, 11, 12, 13])
        self.assertTrue(checks.check_ingest(self.files(), f, self.kinds, 4))

    def test_lost_rows_fail(self):
        self.assertTrue(checks.check_ingest(self.files(), self.facts(rows_in=3),
                                            self.kinds, 4))


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1")
class CorruptRunTest(unittest.TestCase):
    def test_damaged_outputs_count_as_failed_ops(self):
        root = Path(__file__).resolve().parent.parent
        for workload in ("pipeline", "curation"):
            out = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", workload,
                 "--seed", "3", "--seconds", "20", "--trace", "0", "--corrupt"],
                cwd=root, stdout=subprocess.PIPE, text=True, check=True).stdout
            last = json.loads(out.strip().splitlines()[-1])
            self.assertFalse(last["correct"], workload)
            self.assertGreater(last["failed"], 0, workload)


if __name__ == "__main__":
    unittest.main()
