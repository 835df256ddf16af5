"""Self-tests of the benchmark's own arithmetic; no Spark needed:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))


class TailTest(unittest.TestCase):
    def test_percentile_follows_sample_count(self):
        self.assertEqual(metrics.tail(range(100)), (89, 90.0))
        self.assertEqual(metrics.tail(range(20)), (9, 50.0))
        self.assertEqual(metrics.tail(range(11)), (0, 100.0 / 11))

    def test_too_few_samples(self):
        self.assertEqual(metrics.tail(range(10)), (None, None))
        self.assertEqual(metrics.tail([]), (None, None))

    def test_ties_at_the_cut_move_it_down(self):
        # 12 samples tie at 2.0: no cut at 2.0 has 10 samples above it
        xs = [1.0] * 5 + [2.0] * 12
        self.assertEqual(metrics.tail(xs), (1.0, 100.0 * 5 / 17))
        self.assertEqual(metrics.tail([3.0] * 30), (None, None))

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail(list(range(50))[::-1]), metrics.tail(range(50)))


class EndToEndTest(unittest.TestCase):
    @staticmethod
    def samples(passes, per_pass):
        # pass p, query i takes (p + 1) * 10 + i ms; the cold pass is slowest
        out = []
        for p in range(passes):
            for i in range(per_pass):
                ms = 1000.0 if p == 0 else (p + 1) * 10 + i
                out.append({"q": "q%d" % i, "pass": p, "ok": True, "start_ms": 0.0,
                            "built_ms": 0.0, "end_ms": ms, "live_heap_mb": 50.0 + p})
        return out

    def test_tail_takes_later_passes_only(self):
        # later passes are 2 and 3; pooling settle pass 1 (20..25 ms)
        # would add six samples and move the cut
        values, counts = metrics.end_to_end(self.samples(4, 6), 2.0, 3, 1_000_000, 1)
        later = sorted([(p + 1) * 10 + i for p in (2, 3) for i in range(6)])
        self.assertEqual(counts["query_tail_s"], 12)
        self.assertAlmostEqual(values["query_tail_s"], later[1] / 1e3)
        self.assertAlmostEqual(values["cold_pass_s"], 6.0)
        self.assertAlmostEqual(values["peak_heap_gb"], 0.053)
        self.assertEqual(counts["setup_s"], 3)

    def test_too_few_later_samples_fail(self):
        with self.assertRaises(ValueError):
            metrics.end_to_end(self.samples(3, 5), 2.0, 3, 1_000_000, 1)


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union_length([(1, 3), (2, 5), (7, 8)]), 5)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([]), 0)

    def test_overlapping_jobs_count_once(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 3), (2, 5), (7, 8)]), 5)

    def test_children_clipped_to_span(self):
        self.assertEqual(metrics.self_time((0, 10), [(-5, 2), (9, 20)]), 7)
        self.assertEqual(metrics.self_time((0, 10), [(11, 12)]), 10)
        self.assertEqual(metrics.self_time((0, 10), [(0, 10), (3, 4)]), 0)


def sample(q, ok=True, pass_=1):
    return {"q": q, "ok": ok, "pass": pass_, "start_ms": 0.0, "built_ms": 1.0, "end_ms": 2.0}


class FailureAccountingTest(unittest.TestCase):
    def test_forced_mismatch_counts_as_failure(self):
        want = {"columns": ["a", "b"], "rows": [["1", "x"], ["2", "y"]]}
        got = {"columns": ["a", "b"], "rows": [["1", "x"], ["2", "z"]]}
        self.assertEqual(oracle.compare(want, want), "pass")
        verdicts = {"q1": oracle.compare(got, want), "q2": "pass"}
        self.assertNotEqual(verdicts["q1"], "pass")
        samples = [sample("q1"), sample("q2"), sample("q1"), sample("q2")]
        self.assertEqual(metrics.failure_counts(samples, verdicts), (6, 1))

    def test_thrown_executions_and_checks(self):
        samples = [sample("q1", ok=False), sample("q2")]
        verdicts = {"q1": "threw: boom", "q2": "pass"}
        self.assertEqual(metrics.failure_counts(samples, verdicts), (4, 2))

    def test_shape_mismatches(self):
        want = {"columns": ["a"], "rows": [["1"]]}
        self.assertTrue(oracle.compare({"columns": ["b"], "rows": [["1"]]}, want).startswith("columns"))
        self.assertTrue(oracle.compare({"columns": ["a"], "rows": []}, want).startswith("rows"))

    def test_normalization_is_order_free(self):
        import pandas as pd
        a = pd.DataFrame({"y": [2, 1], "x": ["b", "a"]})
        b = pd.DataFrame({"x": ["a", "b"], "y": [1, 2]})
        self.assertEqual(oracle.as_strings(a), oracle.as_strings(b))


class SpanTest(unittest.TestCase):
    def setUp(self):
        self.samples = [
            {"q": "qa", "pass": 1, "start_ms": 100.0, "built_ms": 150.0, "end_ms": 300.0,
             "ok": True, "gc_ms": 5, "persisted_rdds": 1, "cached_mb": 2.0},
            {"q": "qb", "pass": 1, "start_ms": 400.0, "built_ms": 410.0, "end_ms": 500.0,
             "ok": True, "gc_ms": 0, "persisted_rdds": 0, "cached_mb": 0.0}]
        stage = dict(attempt=0, tasks=2, task_ms=[10, 30], run_ms=36, cpu_ns=30_000_000,
                     delay_ms=4, input_b=1_000_000, shuffle_read_b=0, shuffle_write_b=0,
                     spill_b=0, gc_ms=1)
        self.events = {
            "plans": [{"func": "collect", "ok": True, "operators": 3, "exchanges": 1,
                       "phases": [{"name": "analysis", "start_ms": 101, "end_ms": 105},
                                  {"name": "planning", "start_ms": 110, "end_ms": 112}]},
                      {"func": "command", "ok": True, "operators": 2, "exchanges": 0,
                       "phases": [{"name": "planning", "start_ms": 151, "end_ms": 160}]}],
            "jobs": [{"id": 0, "start_ms": 120, "end_ms": 140, "stages": [0], "ok": True},
                     {"id": 1, "start_ms": 130, "end_ms": 145, "stages": [1], "ok": True},
                     {"id": 2, "start_ms": 200, "end_ms": 290, "stages": [2], "ok": True}],
            "stages": [dict(stage, id=0, start_ms=121, end_ms=139),
                       dict(stage, id=1, start_ms=131, end_ms=144),
                       dict(stage, id=2, start_ms=201, end_ms=289)]}
        self.spans = metrics.build_spans(self.samples, self.events)

    def test_tree(self):
        kinds = {}
        for s in self.spans:
            kinds.setdefault(s["kind"], []).append(s)
        self.assertEqual(len(kinds["query"]), 2)
        self.assertEqual([j["phase"] for j in kinds["job"]], ["construct", "construct", "execute"])
        by_id = {s["id"]: s for s in self.spans}
        for st in kinds["stage"]:
            self.assertEqual(by_id[st["parent"]]["kind"], "job")
        # every span of a query carries the query's id
        for s in self.spans:
            root = s
            while root["parent"] is not None:
                root = by_id[root["parent"]]
            self.assertEqual(s["qid"], root["qid"])

    def test_coverage(self):
        self.assertEqual(metrics.coverage_gaps(self.spans), [])
        late = [dict(s, end_ms=s["end_ms"] + 250) if s["kind"] == "plan" else s for s in self.spans]
        self.assertEqual(metrics.coverage_gaps(late), ["p1.qa"])

    def test_pass_layers(self):
        m = metrics.pass_layers(self.samples, self.spans, 4, {"qa"}, {"qb": 2_000_000})
        self.assertEqual(m["entry.construct_jobs"], 2)
        # construct 100..150 minus jobs 120..145 (overlapping, counted once)
        self.assertAlmostEqual(m["entry.construct_self_s"], 0.025 + 0.010)
        self.assertEqual(m["sched.jobs"], 3)
        self.assertEqual(m["sched.tasks"], 6)
        self.assertEqual(m["sched.task_p50_ms"], 20)
        self.assertEqual(m["plans.exchanges"], 1)
        self.assertEqual(m["plans.operators"], 5)
        self.assertAlmostEqual(m["plans.plan_s"], 0.015)
        self.assertEqual(m["core.quantile_jobs"], 3)
        self.assertAlmostEqual(m["exec.input_mb"], 3.0)
        self.assertAlmostEqual(m["sources.parse_mb"], 2.0)
        self.assertAlmostEqual(m["sched.floor_s"], 0.3 - 0.108 / 4)


class NamesTest(unittest.TestCase):
    def test_charset(self):
        for ok in ("pass_s", "sched.task_p50_ms", "sources.parse_mb_s.q329_warc_responses",
                   "9lives", "a" * 64):
            self.assertTrue(metrics.valid_name(ok), ok)
        for bad in ("", "_x", ".x", "a b", "a/b", "a" * 65, "é"):
            self.assertFalse(metrics.valid_name(bad), bad)
        for ok in ("ms", "s", "1/s", "count", "MB/s", "%"):
            self.assertTrue(metrics.valid_unit(ok), ok)
        self.assertFalse(metrics.valid_unit("a" * 17))

    def test_declared_names(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        with open(os.path.join(HERE, "workloads.json")) as f:
            spec = json.load(f)
        names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
        names += [w["name"] for w in bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(metrics.valid_name(n), n)
        for m in bench["end_to_end"] + bench["per_layer"]:
            self.assertTrue(metrics.valid_unit(m["unit"]), m)
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]), sorted(spec["workloads"]))


if __name__ == "__main__":
    unittest.main()
