"""The benchmark's own tests: python3 -m unittest discover perfbench/tests"""
import json
import os
import re
import statistics
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import compare  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

SPEC = json.load(open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def op(i, kind="sql", ms=100.0, ok=True, p=1, name="point_lookup", traced=False, **extra):
    return {"type": "op", "id": i, "pass": p, "idx": i, "kind": kind, "name": name,
            "ms": ms, "ok": ok, "measured": p >= 1, "traced": traced, **extra}


class InputsTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.base = os.path.join(cls.tmp.name, "base")
        gen.base_tables(cls.base, 7)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_same_lake(self):
        again = os.path.join(self.tmp.name, "again")
        gen.base_tables(again, 7)
        self.assertEqual(gen.digest(self.base), gen.digest(again))

    def test_same_seed_same_workload_inputs(self):
        def digest(seed, tag):
            d = os.path.join(self.tmp.name, f"{tag}-{seed}")
            passes = workloads.make_passes("lake_sql", seed, self.base, d)
            body = json.dumps([[{k: v for k, v in o.items() if k != "batch"} for o in p]
                               for p in passes])
            return body + gen.digest(d)
        self.assertEqual(digest(1, "a"), digest(1, "b"))
        self.assertNotEqual(digest(1, "a"), digest(2, "c"))

    def test_commit_expectations_follow_the_batches(self):
        d = os.path.join(self.tmp.name, "batches")
        passes = workloads.make_passes("lake_sql", 3, self.base, d)
        commits = [o for p in passes for o in p if o["kind"] == "commit"]
        self.assertEqual(len(commits), len(passes))
        counts = [c["expect"][0] for c in commits]
        self.assertEqual(counts, [150_000 + workloads.INSERTS * (i + 1)
                                  for i in range(len(commits))])


class TailTest(unittest.TestCase):
    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_pct(100), 90.0)
        self.assertEqual(metrics.tail_pct(40), 75.0)
        self.assertEqual(metrics.tail_pct(1000), 99.0)

    def test_tail_never_below_median(self):
        self.assertEqual(metrics.tail_pct(12), 50.0)
        self.assertEqual(metrics.tail_pct(0), 50.0)

    def test_quantile_interpolates(self):
        self.assertEqual(metrics.quantile(range(1, 101), 50), 50.5)
        self.assertEqual(metrics.quantile([1.0, 2.0, 3.0, 4.0, 5.0], 75), 4.0)


class FailureTest(unittest.TestCase):
    def records(self):
        recs = [{"type": "setup", "setup_s": 9.0}]
        recs += [op(i, ms=100.0 + i, p=1 + i // 10) for i in range(40)]
        recs += [op(40, kind="commit", ms=2000.0, p=1), op(41, kind="commit", ms=2100.0, p=2)]
        recs += [{"type": "end", "measure_s": 30.0, "first_pass": 1, "passes": 4}]
        return recs

    def test_failed_and_wrong_ops_count_and_leave_the_timings(self):
        recs = self.records()
        recs[5]["ok"] = False           # id 2 throws: pass 1
        recs[5]["ms"] = 1e6             # an abort's time must not be measured
        m, facts = metrics.end_to_end(recs, bad_ids={33})   # id 33: wrong answer
        self.assertEqual(facts["attempted"], 42)
        self.assertEqual(facts["failed"], 2)
        self.assertAlmostEqual(m["ops_ok_frac"], 1 - 2 / 42)
        self.assertEqual(facts["reads"], 38)
        self.assertLess(m["read_tail_ms"], 200.0)
        # Passes 1 and 4 held a failed op, so only passes 2 and 3 count.
        self.assertEqual(facts["passes"], 2)

    def test_failed_reads_count_against_the_tail(self):
        recs = self.records()
        for r in recs[3:18]:            # 15 of 40 reads fail
            r["ok"] = False
        m, facts = metrics.end_to_end(recs, bad_ids=set())
        self.assertEqual(facts["reads"], 25)
        self.assertEqual(m["read_tail_ms"], 30000.0)
        self.assertLess(m["read_p50_ms"], 200.0)

    def test_clean_run(self):
        m, facts = metrics.end_to_end(self.records(), bad_ids=set())
        self.assertEqual(m["ops_ok_frac"], 1.0)
        self.assertEqual(m["setup_s"], 9.0)     # the cold set-up
        self.assertEqual(m["write_p50_ms"], 2050.0)
        self.assertEqual(facts["tail_pct"], 75.0)


class PipelineTest(unittest.TestCase):
    def records(self):
        recs = [{"type": "setup", "setup_s": 7.0}]
        for p in range(1, 5):
            recs += [op(2 * p, kind="query", name="a", ms=3000.0 + p, p=p, traced=p % 2 == 1,
                        write_ms=700.0),
                     op(2 * p + 1, kind="query", name="b", ms=2000.0, p=p, traced=p % 2 == 1,
                        write_ms=200.0 + p)]
        return recs + [{"type": "end", "measure_s": 20.0, "first_pass": 1, "passes": 4}]

    def test_writes_are_each_pass_operator_output_writes(self):
        m, facts = metrics.end_to_end(self.records(), bad_ids=set())
        self.assertEqual(facts["writes"], 4)       # one per pass: 901, 902, 903, 904 ms
        self.assertAlmostEqual(m["write_p50_ms"], 902.5)
        self.assertTrue(facts["tail_is_median"])
        self.assertEqual(m["read_tail_ms"], m["read_p50_ms"])

    def test_a_cut_short_last_pass_is_left_out(self):
        recs = self.records()
        del recs[-3]                                        # pass 4 ran op "b" only
        recs[-1].update(passes=3)
        m, facts = metrics.end_to_end(recs, bad_ids=set())
        self.assertEqual((facts["passes"], facts["reads"], facts["writes"]), (3, 6, 3))
        self.assertEqual(m["pass_s"], 5.002)

    def test_trace_overhead_holds_traced_passes_against_untraced(self):
        recs = self.records()
        for r in recs:
            if r.get("traced"):
                r["ms"] *= 1.1
        # traced passes 1 and 3, untraced 2 and 4
        want = statistics.median([5001 * 1.1, 5003 * 1.1]) / statistics.median([5002, 5004]) - 1
        self.assertAlmostEqual(metrics.trace_overhead(recs, set()), want)

    def test_trace_overhead_unknown_without_untraced_pass(self):
        recs = [r for r in self.records() if r.get("traced", True)]
        self.assertIsNone(metrics.trace_overhead(recs, set()))
        self.assertIsNone(metrics.per_layer(recs, set())["trace.overhead_frac"])


class RowsTest(unittest.TestCase):
    def test_rows_compare_as_multisets_within_tolerance(self):
        got = [["b", 2, 0.30000000000000004], ["a", 1, None]]
        self.assertTrue(oracle.same_rows(got, [("a", 1, None), ("b", 2, 0.3)]))
        self.assertFalse(oracle.same_rows(got, [("a", 1, None), ("b", 2, 0.31)]))
        self.assertFalse(oracle.same_rows(got, [("a", 1, None)]))


class SpecTest(unittest.TestCase):
    def test_names(self):
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in SPEC[k]]
        for n in names:
            self.assertRegex(n, NAME)
        for k in ("end_to_end", "per_layer"):
            ms = [m["name"] for m in SPEC[k]]
            self.assertEqual(len(ms), len(set(ms)), k)

    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in SPEC["workloads"]], list(workloads.WORKLOADS))
        self.assertEqual(sorted(metrics.APPLIES), sorted(workloads.WORKLOADS))
        e2e = {m["name"] for m in SPEC["end_to_end"]}
        for names in metrics.APPLIES.values():
            self.assertLessEqual(names, e2e)

    def test_read_mix_follows_the_reference_shapes(self):
        # every shape has the same share, and one read in seven is a lookup
        self.assertEqual({len(ts) for ts in workloads.SHAPES.values()}, {2})
        self.assertEqual(len(workloads.SHAPES), 7)
        self.assertEqual(len(set(workloads.TEMPLATES)), 14)

    def test_metrics_match_what_the_run_reports(self):
        e2e, _ = metrics.end_to_end([], set())
        self.assertEqual(sorted(m["name"] for m in SPEC["end_to_end"]), sorted(e2e))
        layer = set(metrics.per_layer([], set()))
        self.assertEqual(sorted(m["name"] for m in SPEC["per_layer"]), sorted(layer))
        self.assertIn("setup_s", e2e)


class CompareTest(unittest.TestCase):
    def test_verdicts(self):
        parent = [100.0, 101.0, 99.0, 100.5, 100.2]
        self.assertEqual(compare.verdict(parent, [130.0] * 5, "lower", 0.1)[0], "regressed")
        self.assertEqual(compare.verdict(parent, [80.0] * 5, "lower", 0.1)[0], "improved")
        self.assertEqual(compare.verdict(parent, parent, "lower", 0.1)[0], "within bound")
        noisy = [50.0, 150.0, 100.0, 60.0, 140.0]
        self.assertEqual(compare.verdict(noisy, [105.0] * 5, "lower", 0.1)[0], "unresolved")


if __name__ == "__main__":
    unittest.main()
