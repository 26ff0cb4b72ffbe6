"""Tests of the benchmark's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import re
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import build  # noqa: E402
import datagen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402


class TailTest(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        value, pct, n = metrics.tail(list(range(1, 101)))
        self.assertEqual((value, pct, n), (90, 90.0, 100))

    def test_ten_samples_beyond_the_tail(self):
        for n in (11, 12, 37, 250):
            xs = [float(i) for i in range(n)]
            value, pct, _ = metrics.tail(xs[::-1])
            self.assertEqual(sum(x > value for x in xs), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_fewer_than_eleven_samples_have_no_tail(self):
        for xs in ([], [3.0, 1.0, 2.0], [float(i) for i in range(10)]):
            with self.assertRaises(ValueError):
                metrics.tail(xs)


class MedianAndRatioTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(metrics.median([5, 1, 3]), 3)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)

    def test_ratio_rejects_empty_base(self):
        self.assertEqual(metrics.ratio(3, 4), 0.75)
        with self.assertRaises(ValueError):
            metrics.ratio(1, 0)

    def test_pass_writes_sum_every_write_kind(self):
        # passes of 4 ops after 2 warm-up ops; the failed write is left out
        recs = [{"i": i, "kind": k, "ok": ok, "s": s} for i, k, ok, s in [
            (2, "write", True, 1.0), (3, "read", True, 9.0), (4, "write", True, 0.5),
            (6, "write", True, 2.0), (7, "write", False, 4.0), (9, "write", True, 0.25)]]
        self.assertEqual(metrics.pass_writes(recs, 2, 4), [1500.0, 2250.0])

    def test_end_to_end_ratios(self):
        recs = [{"i": i, "kind": "read", "ok": True, "s": 0.1 * (i + 1), "name": "q"}
                for i in range(20)]
        recs += [{"i": 20 + i, "kind": "write", "ok": True, "s": 1.0, "name": "w"}
                 for i in range(12)]
        recs += [{"i": 32, "kind": "read", "ok": False, "s": 9.0, "name": "q"}]
        run = {"loop_s": 4.0, "cpu_s": 66.0}
        # passes of 7 ops: the writes fall 1, 7 and 4 to a pass
        v, detail = metrics.end_to_end(recs, run, 7.5, 300, 100, 0, 7)
        self.assertEqual(v["queries_per_s"], 5.0)           # 20 good reads / 4 s
        self.assertEqual(v["cpu_s_per_op"], 2.0)            # 66 s / 33 ops
        self.assertEqual(v["space_amp"], 3.0)
        self.assertAlmostEqual(v["query_p50_ms"], 1050.0)
        self.assertAlmostEqual(v["query_tail_ms"], 1000.0)  # 10 reads beyond it
        self.assertEqual(detail["query_tail_ms"], "p50.0 n=20")
        self.assertEqual(v["write_p50_ms"], 4000.0)
        self.assertEqual(detail["write_p50_ms"], "n=3 passes")
        self.assertEqual(v["setup_s"], 7.5)

    def test_trace_overhead(self):
        recs = [{"name": "a", "ok": True, "traced": t, "s": 2.0 if t else 1.0} for t in (1, 0)]
        recs += [{"name": "b", "ok": True, "traced": t, "s": 8.0 if t else 1.0} for t in (1, 0)]
        self.assertAlmostEqual(metrics.trace_overhead(recs), 4.0)


class WorkloadSeedTest(unittest.TestCase):
    def each(self, seed):
        return {w: workloads.make(w, seed, 15000) for w in ("lakehouse_sql", "etl_curation")}

    def test_same_seed_same_ops(self):
        a, b = self.each(11), self.each(11)
        for w in a:
            self.assertEqual(workloads.render(*a[w]), workloads.render(*b[w]), w)

    def test_other_seed_other_ops(self):
        a, b = self.each(11), self.each(12)
        for w in a:
            self.assertNotEqual(a[w][1], b[w][1], w)

    def test_same_seed_same_tables(self):
        a, b = datagen.tables(5, 0.001), datagen.tables(5, 0.001)
        self.assertEqual(sorted(a), sorted(oracle.TABLES))
        for t in a:
            self.assertTrue(a[t].equals(b[t]), t)
        self.assertFalse(datagen.tables(6, 0.001)["lineitem"].equals(a["lineitem"]))

    def test_every_pass_has_the_same_op_mix(self):
        for w, (params, ops) in self.each(3).items():
            timed = ops[params["warm"]:]
            n = params["pass"]
            # which gold KPI tables a pipeline day reads is seeded
            mix = lambda p: sorted((o[0], o[1], "kpi" if o[:2] == ("read", "etl") else o[2])
                                   for o in p)
            first = mix(timed[:n])
            for k in range(1, 5):
                self.assertEqual(mix(timed[k * n:(k + 1) * n]), first, w)

    def test_lakehouse_pass_covers_the_panel(self):
        params, ops = workloads.make("lakehouse_sql", 3, 15000)
        timed = ops[params["warm"]:params["warm"] + params["pass"]]
        self.assertEqual(sorted(o[2] for o in timed if o[1] == "sql"),
                         sorted(workloads.LAKEHOUSE))
        self.assertEqual(sorted(o[2] for o in timed if o[0] == "write"),
                         ["compact", "delete", "upsert"])

    def test_each_pipeline_day_is_one_cycle_before_its_reads(self):
        params, ops = workloads.make("etl_curation", 3)
        for k in range(params["held"]):
            day = [o for o in ops if o[1] == "etl" and o[3] == k]
            self.assertEqual(day[0][:3], ("write", "etl", "cycle"))
            self.assertTrue(all(o[0] == "read" for o in day[1:]))
        first = ops[params["warm"]:params["warm"] + params["pass"]]
        self.assertEqual([o[0] for o in first].count("write"), 1)
        self.assertEqual(first[0][2], "cycle")

    def test_dml_inserts_fresh_keys_once(self):
        _, ops = workloads.make("lakehouse_sql", 3, 15000)
        fresh = [k for o in ops if o[2] == "upsert" for k in range(o[6], o[6] + o[7])]
        self.assertEqual(len(fresh), len(set(fresh)))
        self.assertTrue(all(k >= 15000 for k in fresh))


class OracleTest(unittest.TestCase):
    def test_digest_ignores_row_and_column_order(self):
        a = oracle.digest(["b", "a"], [(1, "x"), (2.5, "y")])
        b = oracle.digest(["a", "b"], [("y", 2.5), ("x", 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, oracle.digest(["a", "b"], [("y", 2.5), ("x", 2)]))

    def test_dml_replay(self):
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq
        import tempfile
        with tempfile.TemporaryDirectory() as d:
            base = f"{d}/base.parquet"
            pq.write_table(pa.table({
                "o_orderkey": pa.array(range(10), pa.int64()),
                "o_custkey": pa.array([7] * 10, pa.int64()),
                "o_orderstatus": ["F"] * 10,
                "price_cents": pa.array([100] * 10, pa.int64())}), base)
            con = duckdb.connect()
            oracle.replay_dml(con, base, [("write", "dml", "upsert", 4, 8, 2, 10, 1),
                                          ("write", "dml", "delete", 0, 4),
                                          ("write", "dml", "compact", 1024)])
            rows = con.execute("SELECT * FROM t ORDER BY 1").fetchall()
        self.assertEqual([r[0] for r in rows], [1, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual(rows[-1], (10, 10, "U", (10 * 7919 + 4 * 104729) % 10000000))
        self.assertEqual(rows[-2][2], "U")


class BuildFlagsTest(unittest.TestCase):
    def test_jvm_flags_match_build_sbt(self):
        sbt = HERE.parent.parent / "build.sbt"
        if not sbt.is_file():
            self.skipTest("no build.sbt beside the benchmark")
        text = sbt.read_text()
        for p in build.ADD_OPENS:
            self.assertIn(f'"{p}"', text)
        for f in build.JVM_FLAGS:
            if f.startswith("-D") or "Cutoff" in f or "CodeCache" in f:
                self.assertIn(f'"{f}"', text)
        self.assertTrue(re.search(r"unmanagedBase", text))


if __name__ == "__main__":
    unittest.main()
