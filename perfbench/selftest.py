#!/usr/bin/env python3
"""Self-tests of the benchmark.

    python3 perfbench/selftest.py            # fast tests of the metric code
    python3 perfbench/selftest.py negative   # + the negative control (~9 min)

The negative control runs lake_sweep with a wrapper that calls
Validation.validate twice before each transform (run.py --negative-control),
so every suite runs three times instead of once. It must push the median
sweep_s of three runs past its bound in BENCHMARK.json, and the traced run
must show the extra validation passes inside the transform spans
(pipeline.transform_jobs, validation.jobs).
"""
import json
import os
import statistics
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import metrics  # noqa: E402


def op(kind, name, ok=True, sf=None, digest=None):
    return {"kind": kind, "name": name, "ok": ok, "ms": 1.0,
            "detail": {"sf": sf, "digest": digest}}


class TailPercentile(unittest.TestCase):
    def test_leaves_ten_samples_beyond(self):
        for n in range(11, 600):
            p = metrics.tail_percentile(n)
            xs = list(range(n))
            beyond = sum(1 for x in xs if x > metrics.percentile(xs, p))
            self.assertGreaterEqual(beyond, 10, (n, p))
            # and it is the highest whole percentile that does
            if p < 99:
                q = p + 1
                self.assertLess(sum(1 for x in xs if x > metrics.percentile(xs, q)), 10, (n, q))

    def test_known_values(self):
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(30), 66)
        self.assertIsNone(metrics.tail_percentile(10))

    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(metrics.percentile(xs, 50), 3)
        self.assertEqual(metrics.percentile(xs, 100), 5)
        self.assertEqual(metrics.percentile(xs, 1), 1)


class QueryMedians(unittest.TestCase):
    """Latency figures of a query workload are taken over per-query medians,
    so a query the window ran more often weighs no more than the others."""

    def test_each_query_weighs_once(self):
        first = [{"q": f"q{i}", "ms": 100.0 + 10 * i} for i in range(20)]
        again = [{"q": f"q{i}", "ms": 80.0 + 10 * i} for i in range(10)]
        res = {"setup_s": 1.0, "rss_peak_mb": 1.0, "ops": [], "window_s": 6.0,
               "samples": first + again}
        m = metrics.end_to_end(res, {"min_samples": 20}, [])["metrics"]
        self.assertEqual(m["qps"], 5.0)
        # q0..q9 at 90..180 ms (median of two), q10..q19 at 200..290 ms
        self.assertEqual(m["query_p50_ms"], 190.0)
        self.assertEqual(m["query_tail_ms"], 180.0)  # p50 of 20: 10 beyond it
        self.assertAlmostEqual(m["sweep_s"], 3.8)


class OracleCheck(unittest.TestCase):
    """The warm pass's Parquet result is compared row for row, in order,
    with the DuckDB oracle's digest."""

    def setUp(self):
        import duckdb
        self.dir = os.path.join(ROOT, ".bench_build", "selftest-oracle")
        self.con = duckdb.connect()
        rel = self.con.sql("SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c')) t(k, v) ORDER BY k")
        self.want, _ = metrics.digest_rows(self.con, rel)
        self.frozen = os.path.join(self.dir, "digests.json")
        os.makedirs(self.dir, exist_ok=True)
        with open(self.frozen, "w") as fh:
            json.dump({"s": {"q": {"spark": "d", "oracle": self.want}}}, fh)

    def result(self, order):
        out = os.path.join(self.dir, order)
        os.makedirs(out, exist_ok=True)
        self.con.execute(f"COPY (SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c')) t(k, v) "
                         f"ORDER BY k {order}) TO '{out}/part-0.parquet' (FORMAT PARQUET)")
        return out

    def check(self, result, digest="d"):
        ops = [op("query", "q", sf="s", digest=digest)]
        ops[0]["detail"]["result"] = result
        return metrics.oracle_check({"ops": ops}, self.frozen)[0]["ok"]

    def test_same_rows_same_order_pass(self):
        self.assertTrue(self.check(self.result("ASC")))

    def test_wrong_row_order_fails(self):
        self.assertFalse(self.check(self.result("DESC")))

    def test_wrong_observe_digest_fails(self):
        self.assertFalse(self.check(self.result("ASC"), digest="other"))


class TracingOverhead(unittest.TestCase):
    def run_of(self, seed, stamp, qps):
        return {"seed": seed, "stamp": stamp,
                "metrics": {k: 1.0 for k in metrics.E2E} | {"qps": qps}}

    def test_same_seed_and_build(self):
        over = metrics.overhead(self.run_of(1, "b", 2.0), self.run_of(1, "b", 3.0))
        self.assertEqual(over["qps"], -1.0)
        self.assertEqual(over["setup_s"], 0.0)

    def test_other_seed_build_or_none_is_not_measured(self):
        self.assertIsNone(metrics.overhead(self.run_of(1, "b", 2.0), self.run_of(2, "b", 3.0)))
        self.assertIsNone(metrics.overhead(self.run_of(1, "b", 2.0), self.run_of(1, "c", 3.0)))
        self.assertIsNone(metrics.overhead(self.run_of(1, "b", 2.0), None))


class FailureCounting(unittest.TestCase):
    def test_errors_and_wrong_results_count(self):
        ops = [op("query", "a", sf="s", digest="d1"), op("query", "b", ok=False, sf="s"),
               op("query", "a", sf="s", digest="bad"), op("step", "land"),
               op("step", "register", ok=False), op("read", "flagship")]
        res = {"ops": ops}
        frozen = {"s": {"a": {"spark": "d1"}, "b": {"spark": "d2"}}}
        path = os.path.join(ROOT, ".bench_build", "selftest-digests.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(frozen, fh)
        checks = metrics.oracle_check(res, path)
        self.assertEqual([c["ok"] for c in checks], [True, False])
        attempted, failed = metrics.fail_ratio(ops, checks)
        self.assertEqual((attempted, failed), (6, 3))

    def test_unknown_query_digest_is_a_failure(self):
        ops = [op("query", "zz", sf="s", digest="x")]
        path = os.path.join(ROOT, ".bench_build", "selftest-digests.json")
        with open(path, "w") as fh:
            json.dump({}, fh)
        self.assertEqual(metrics.fail_ratio(ops, metrics.oracle_check({"ops": ops}, path)), (1, 1))

    def test_clean_run(self):
        ops = [op("step", "land"), op("read", "flagship")]
        self.assertEqual(metrics.fail_ratio(ops, []), (2, 0))


def bench(workload, seed, trace, *extra):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", str(trace), *extra],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(p.stderr[-3000:])
    out = json.loads(p.stdout.strip().splitlines()[-1])
    return {k: v["value"] for k, v in out["metrics"].items()}


class NegativeControl(unittest.TestCase):
    def test_sweep_s_moves_past_its_bound(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bound = next(m["bound"] for m in json.load(fh)["end_to_end"] if m["name"] == "sweep_s")
        # interleaved, so a drift of the machine's speed hits both sides
        base, neg = [], []
        for seed in (7, 8, 9):
            base.append(bench("lake_sweep", seed, 0)["sweep_s"])
            neg.append(bench("lake_sweep", seed, 0, "--negative-control")["sweep_s"])
        b, n = statistics.median(base), statistics.median(neg)
        print(f"sweep_s median {b:.2f} -> {n:.2f} s (+{n / b - 1:.1%}, bound {bound})",
              file=sys.stderr)
        self.assertGreater(n, b * (1 + bound))

    def test_trace_shows_the_extra_validation(self):
        traced = bench("lake_sweep", 7, 1)
        traced_neg = bench("lake_sweep", 7, 1, "--negative-control")
        print(f"validation.jobs {traced['validation.jobs']} -> {traced_neg['validation.jobs']}; "
              f"pipeline.transform_jobs {traced['pipeline.transform_jobs']} -> "
              f"{traced_neg['pipeline.transform_jobs']}; pipeline.transform_s "
              f"{traced['pipeline.transform_s']:.2f} -> {traced_neg['pipeline.transform_s']:.2f}",
              file=sys.stderr)
        self.assertGreater(traced_neg["validation.jobs"], traced["validation.jobs"])
        self.assertGreater(traced_neg["pipeline.transform_jobs"], traced["pipeline.transform_jobs"])


if __name__ == "__main__":
    names = ["TailPercentile", "QueryMedians", "OracleCheck", "TracingOverhead", "FailureCounting"]
    if "negative" in sys.argv[1:]:
        names.append("NegativeControl")
    suite = unittest.TestSuite(unittest.defaultTestLoader.loadTestsFromName(n, sys.modules[__name__])
                               for n in names)
    sys.exit(0 if unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful() else 1)
