"""Self-tests of the benchmark's own code (no engine build needed).

    python3 perfbench/run.py --selftest
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import plan  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(stats.highest_percentile(19))
        self.assertEqual(stats.highest_percentile(20), 50.0)
        self.assertEqual(stats.highest_percentile(39), 50.0)
        self.assertEqual(stats.highest_percentile(40), 75.0)
        self.assertEqual(stats.highest_percentile(100), 90.0)
        self.assertEqual(stats.highest_percentile(199), 90.0)
        self.assertEqual(stats.highest_percentile(200), 95.0)
        self.assertEqual(stats.highest_percentile(1000), 99.0)
        self.assertEqual(stats.highest_percentile(10000), 99.9)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 99.9), 100)
        self.assertEqual(stats.percentile([7.0], 50), 7.0)

    def test_tail_reports_its_percentile(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(stats.tail(xs), (90.0, 90.0))
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100.0, 3.0))


class Means(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(stats.geomean([4.0, 4.0, 4.0]), 4.0)
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class DueTimeAccounting(unittest.TestCase):
    def test_latency_counts_from_due_time(self):
        # due at 0, sent at 50 (every sender busy), answered at 80
        op = {"due": 0.0, "dispatched": 1.0, "start": 50.0, "end": 80.0}
        self.assertEqual(stats.latency_ms(op), 80.0)
        self.assertEqual(stats.late_ms(op), 1.0)

    def test_closed_loop_latency_is_service_time(self):
        op = {"due": 10.0, "dispatched": 10.0, "start": 10.0, "end": 35.0}
        self.assertEqual(stats.latency_ms(op), 25.0)
        self.assertEqual(stats.late_ms(op), 0.0)

    def test_repeat_share_within_ttl(self):
        sends = [(0, "a"), (1000, "a"), (7000, "a"), (7100, "b")]
        # the second "a" is within 5 s of the first; the third is not
        self.assertAlmostEqual(stats.repeat_share(sends), 0.25)


class Generators(unittest.TestCase):
    def test_zipf_same_for_a_seed(self):
        a = stats.Zipf(50, 1.1, stats.seeded(3, "z"))
        b = stats.Zipf(50, 1.1, stats.seeded(3, "z"))
        c = stats.Zipf(50, 1.1, stats.seeded(4, "z"))
        da = a.block(500)
        self.assertEqual(da, b.block(500))
        self.assertNotEqual(da, c.block(500))
        self.assertTrue(all(0 <= r < 50 for r in da))
        self.assertGreater(da.count(0), da.count(10))

    def test_zipf_blocks_follow_the_distribution(self):
        z = stats.Zipf(400, 1.1, stats.seeded(3, "z"))
        b = z.block(100)
        self.assertEqual(b, stats.Zipf(400, 1.1, stats.seeded(3, "z")).block(100))
        self.assertEqual(len(b), 100)
        self.assertAlmostEqual(b.count(0), 100 * z.cdf[0], delta=1)
        self.assertAlmostEqual(b.count(1), 100 * (z.cdf[1] - z.cdf[0]), delta=2)

    def test_poisson_same_for_a_seed(self):
        a = stats.poisson_arrivals(5.0, 2000, stats.seeded(3, "p"))
        self.assertEqual(a, stats.poisson_arrivals(5.0, 2000, stats.seeded(3, "p")))
        self.assertNotEqual(a, stats.poisson_arrivals(5.0, 2000, stats.seeded(4, "p")))
        self.assertEqual(len(a), 2000)
        self.assertEqual(a, sorted(a))
        self.assertAlmostEqual(a[-1] / 1000.0 / len(a), 1 / 5.0, delta=0.02)

    def test_tables_same_for_a_seed(self):
        t1 = gen.tables(42, 0.001)
        t2 = gen.tables(42, 0.001, only=("documents",))
        self.assertTrue(t1["documents"].equals(t2["documents"]))
        self.assertTrue(t1["lineitem"].equals(gen.tables(42, 0.001)["lineitem"]))
        self.assertFalse(t1["lineitem"].equals(gen.tables(43, 0.001)["lineitem"]))

    def test_serving_plan_same_for_a_seed(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write(d, 42, plan.SERVE_SF, ("documents",))
            p1 = plan.serve("serve_read", 7, 10, 1, d, d, 4)
            p2 = plan.serve("serve_read", 7, 10, 1, d, d, 4)
            p3 = plan.serve("serve_read", 8, 10, 1, d, d, 4)
            self.assertEqual(json.dumps(p1), json.dumps(p2))
            self.assertNotEqual(p1["open"], p3["open"])
            self.assertEqual(len(p1["open"]), plan.OPEN_REQUESTS)
            bodies = [json.loads(r[2]) for r in p1["open"] + p1["closed"]]
            self.assertTrue(all(b["count"] == 10 for b in bodies))
            share = sum(b["offset"] == 0 and b["centroids"] == 1 for b in bodies) / len(bodies)
            self.assertGreater(share, 0.7)
            # an untraced run spends its time in the closed loop
            self.assertEqual(plan.serve("serve_read", 7, 10, 0, d, d, 4)["open"], [])

    def test_read_workload_texts(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write(d, 42, plan.SERVE_SF, ("documents",))

            def texts(workload):
                p = plan.serve(workload, 7, 10, 1, d, d, 4)
                return [json.loads(r[2])["text"] for r in
                        p["warmup"] + p["open"] + p["closed"][:400]] + [
                    json.loads(b)["text"] for b in p["exhaustive_checks"]]
            unique = texts("serve_unique")
            self.assertEqual(len(unique), len(set(unique)))
            read = texts("serve_read")
            self.assertLess(len(set(read)), len(read) * 0.9)
            # the hot texts are the same for every seed
            other = plan.serve("serve_read", 8, 10, 1, d, d, 4)["closed"][:400]
            hot = [max(set(ts), key=ts.count) for ts in
                   (read, [json.loads(r[2])["text"] for r in other])]
            self.assertEqual(hot[0], hot[1])


class BatchMetrics(unittest.TestCase):
    def test_gated_figures_are_over_per_query_medians(self):
        import run

        def op(name, ms):
            return {"kind": "query", "name": name, "phase": "timed", "due": 0.0,
                    "start": 0.0, "end": ms, "ok": True}
        res = {"setup_s": [3.0], "live_heap_mb": 90.0,
               "families": {"a": "dedup", "b": "relational"},
               "ops": [op("a", 100.0), op("b", 400.0), op("a", 300.0), op("b", 400.0),
                       op("a", 200.0), op("b", 1000.0)]}
        m, report = run.end_to_end("batch_fleet", res)
        self.assertEqual(m["op_p50_ms"], 300.0)     # median of 200 and 400
        self.assertEqual(m["op_tail_ms"], 400.0)    # the slowest query's median
        self.assertAlmostEqual(m["op_geomean_ms"], stats.geomean([200.0, 400.0]))
        self.assertAlmostEqual(m["ops_per_s"], 2 / 0.6)
        self.assertAlmostEqual(report["dedup_s"], 0.2)


class AnnCheck(unittest.TestCase):
    def test_q26_rows_carry_their_own_cosine(self):
        import duckdb
        import pandas as pd

        import check
        con = duckdb.connect()
        emb = pd.DataFrame({"vec_id": [0, 1, 2],
                            "embedding": [[1.0, 0.0], [0.6, 0.8], [0.0, 1.0]]})
        con.register("emb_df", emb)
        con.execute("CREATE VIEW embeddings AS SELECT vec_id, "
                    "CAST(embedding AS FLOAT[]) AS embedding FROM emb_df")
        good = pd.DataFrame({"vec_id": [0, 1], "sim": [1.0, 0.6]})
        self.assertIsNone(check.check_ann(con, good))
        swapped = pd.DataFrame({"vec_id": [0, 2], "sim": [1.0, 0.6]})
        self.assertIn("vec_id 2", check.check_ann(con, swapped))
        twice = pd.DataFrame({"vec_id": [1, 1], "sim": [0.6, 0.6]})
        self.assertIsNotNone(check.check_ann(con, twice))

if __name__ == "__main__":
    unittest.main()
