#!/usr/bin/env python3
"""Self-tests for the benchmark's own code. Run: python3 perfbench/selftest.py

The module-split test reads the query metadata of the newest build under
.bench_build/ and is skipped when there is none.
"""
import os
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

from pb import gen, stats  # noqa: E402
from pb.settings import bench_conf  # noqa: E402
from pb.trace import Spans  # noqa: E402
from pb.workloads import check_point_reads, module_split_problems  # noqa: E402

REPO = BENCH.parent
ORACLE = {name: f"SELECT {i} AS x" for i, name in enumerate(gen.ANALYTIC)}


class TailRule(unittest.TestCase):
    def test_tail_is_always_p90(self):
        for n in (20, 99, 100, 150, 1000, 10000):
            ops = [{"ms": float(i), "ok": True} for i in range(1, n + 1)]
            s = stats.summarize(ops, 10.0)
            self.assertEqual(s["tail_pct"], 90.0)
            self.assertEqual(s["tail_ms"], float(stats.rank(90.0, n)))

    def test_comparable_only_with_ten_beyond(self):
        for n in range(1, 3000):
            self.assertEqual(stats.tail_comparable(n), n - stats.rank(90.0, n) >= 10)
        self.assertFalse(stats.tail_comparable(99))
        self.assertTrue(stats.tail_comparable(100))   # ranks 91..100 beyond p90

    def test_summary_figures(self):
        ops = [{"ms": float(i), "ok": True} for i in range(1, 201)]
        s = stats.summarize(ops, 10.0)
        self.assertEqual(s["tail_ms"], 180.0)
        self.assertTrue(s["tail_comparable"])
        self.assertEqual(s["p50_ms"], 100.0)
        self.assertEqual(s["ops_per_s"], 20.0)
        self.assertFalse(stats.summarize(ops[:99], 10.0)["tail_comparable"])


class FailedOpsAreSlowest(unittest.TestCase):
    def test_failure_outranks_every_success(self):
        ops = [{"ms": 1000.0 + i, "ok": True} for i in range(99)] + [{"ms": 0.5, "ok": False}]
        lat = stats.latencies(ops)
        self.assertEqual(max(lat), stats.FAILED_MS)
        self.assertEqual(stats.percentile(lat, 100.0), stats.FAILED_MS)
        self.assertGreater(stats.FAILED_MS, max(o["ms"] for o in ops if o["ok"]))

    def test_failures_move_the_tail_and_count(self):
        ops = [{"ms": 10.0, "ok": True} for _ in range(80)] + \
              [{"ms": 1.0, "ok": False} for _ in range(20)]
        s = stats.summarize(ops, 1.0)
        self.assertEqual(s["tail_ms"], stats.FAILED_MS)
        self.assertEqual(s["failed"], 20)
        self.assertEqual(s["ops_per_s"], 80.0)


class SeededStatements(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        self.assertEqual(gen.statement_bytes(7, ORACLE), gen.statement_bytes(7, ORACLE))

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(gen.statement_bytes(7, ORACLE), gen.statement_bytes(8, ORACLE))

    def test_same_bytes_in_another_process(self):
        code = ("import sys; sys.path.insert(0, sys.argv[1]); from pb import gen; "
                "import selftest; sys.stdout.buffer.write(gen.statement_bytes(7, selftest.ORACLE))")
        env = dict(os.environ, PYTHONHASHSEED="12345")
        out = subprocess.run([sys.executable, "-c", code, str(BENCH)], env=env, cwd=BENCH,
                             capture_output=True, check=True).stdout
        self.assertEqual(out, gen.statement_bytes(7, ORACLE))

    def test_write_ops_never_reuse_or_miss_a_key(self):
        ops, names = gen.write_ops(3, 500)
        live = set(range(gen.PRELOAD_ROWS))
        for cls, sql in ops:
            if cls in ("insert", "batch"):
                for part in sql.split("VALUES ", 1)[1].split("), ("):
                    k = int(part.strip("()").split(",")[0])
                    self.assertNotIn(k, live)
                    live.add(k)
            else:
                k = int(sql.rsplit("=", 1)[1])
                self.assertIn(k, live)
                if cls == "delete":
                    live.remove(k)


class PointReadCheck(unittest.TestCase):
    @staticmethod
    def read(k, start, vals):
        return {"tag": "reader0", "ok": True, "start": start, "ms": 100.0,
                "sql": f"SELECT id, name FROM kv WHERE id = {k}",
                "doc": {"results": {"values": vals}}}

    def check(self, reads):
        names = {1: {"n1", "u1"}, 2: {"n2"}}
        sent = [{"tag": "writer", "ok": True, "start": 10.0, "ms": 50.0,
                 "sql": "DELETE FROM kv WHERE id = 2"}]
        check_point_reads(reads + sent, names, sent)
        return [(o["ok"], o.get("cause")) for o in reads]

    def test_held_names_pass(self):
        self.assertEqual(self.check([self.read(1, 0.0, [[1, "n1"]]), self.read(1, 20.0, [[1, "u1"]])]),
                         [(True, None), (True, None)])

    def test_empty_reply_for_a_live_key_fails(self):
        (ok, cause), = self.check([self.read(1, 20.0, [])])
        self.assertFalse(ok)
        self.assertIn("no row for live id 1", cause)

    def test_empty_reply_before_its_delete_was_sent_fails(self):
        (ok, _), = self.check([self.read(2, 5.0, [])])   # ends at 5.1 s, delete sent at 10 s
        self.assertFalse(ok)

    def test_empty_reply_after_a_delete_passes(self):
        self.assertEqual(self.check([self.read(2, 9.95, []), self.read(2, 30.0, [])]),
                         [(True, None), (True, None)])

    def test_unknown_name_or_key_fails(self):
        got = self.check([self.read(1, 0.0, [[1, "zz"]]), self.read(1, 0.0, [[2, "n2"]]),
                          self.read(1, 0.0, [[1, "n1"], [1, "u1"]])])
        self.assertEqual([ok for ok, _ in got], [False, False, False])


class ModuleSplit(unittest.TestCase):
    def test_problems_are_found(self):
        self.assertEqual(module_split_problems({"a": ["q1"], "b": ["q2"]}, ["q1", "q2"]), [])
        self.assertTrue(module_split_problems({"a": ["q1"], "b": ["q1"]}, ["q1"]))
        self.assertTrue(module_split_problems({"a": ["q1"]}, ["q1", "q2"]))
        self.assertTrue(module_split_problems({"a": ["q1", "q3"]}, ["q1"]))

    def test_built_split_covers_every_query_once(self):
        builds = sorted((REPO / ".bench_build" / "perfbench").glob("*/ok"),
                        key=lambda p: p.stat().st_mtime)
        if not builds:
            self.skipTest("no build yet")
        from pb.build import meta
        m = meta(builds[-1].parent)
        self.assertEqual(len(m["queries"]), 107)
        self.assertEqual(module_split_problems(m["modules"], m["queries"]), [])


class SelfTime(unittest.TestCase):
    def test_children_overlap_counted_once(self):
        s = Spans()
        root = s.add("op", 0, 100, 1)
        s.add("job", 10, 40, 1, root)
        s.add("job", 30, 50, 1, root)
        s.add("job", 90, 120, 1, root)  # clipped to the parent
        self.assertEqual(s.self_us(root), 100 - 40 - 10)


class BenchSettings(unittest.TestCase):
    def test_bench_builder_parses(self):
        conf = bench_conf(REPO / "src/main/scala/graft/Bench.scala", {"SPARK_GRAFT_CPUS": "4"})
        self.assertEqual(conf["spark.master"], "local[4]")
        self.assertEqual(conf["spark.sql.shuffle.partitions"], "4")
        self.assertIn("spark.sql.codegen.cache.maxEntries", conf)


if __name__ == "__main__":
    unittest.main()
