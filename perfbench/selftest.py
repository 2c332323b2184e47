#!/usr/bin/env python3
"""Self-tests for the benchmark's pure logic.

    python3 perfbench/selftest.py            # Python checks + JVM fingerprint check
    python3 perfbench/selftest.py --no-jvm   # Python checks only

The fingerprint check builds the harness (as a benchmark run would) and runs
graft.perfbench.FingerprintCheck in one small local JVM.
"""
import os
import subprocess
import sys
import unittest
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import lake_ops  # noqa: E402
import metrics as M  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(M.percentile(xs, 50), 50)
        self.assertEqual(M.percentile(xs, 90), 90)
        self.assertEqual(M.percentile(reversed(xs), 90), 90)
        self.assertEqual(M.percentile([3.0], 90), 3.0)

    def test_ten_beyond_rule(self):
        self.assertEqual(M.beyond(100, 90), 10)
        self.assertEqual(M.highest_supported(100), 90)
        self.assertEqual(M.highest_supported(99), 75)   # 9 beyond p90
        self.assertEqual(M.highest_supported(40), 75)   # 10 beyond p75
        self.assertEqual(M.highest_supported(39), 50)
        self.assertEqual(M.highest_supported(1000), 99)
        self.assertIsNone(M.highest_supported(19))

    def test_op_medians(self):
        got = M.op_medians([("a", 3.0), ("b", 1.0), ("a", 1.0), ("a", 2.0),
                            ("b", 5.0)])
        self.assertEqual(got, [2.0, 3.0])
        # one slow sample of an operation does not move its latency
        self.assertEqual(M.op_medians([("a", 1.0), ("a", 9.0), ("a", 1.1)]),
                         [1.1])

    def test_median(self):
        self.assertEqual(M.median([3, 1, 2]), 2)
        self.assertEqual(M.median([4, 1, 2, 3]), 2.5)


def span(i, parent, kind, a, b, name=""):
    return {"id": i, "parent": parent, "kind": kind, "name": name or kind,
            "start_us": a, "end_us": b, "attrs": {}}


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_and_clipped_children(self):
        p = span(1, 0, "action", 0, 100)
        kids = [span(2, 1, "job", 10, 30), span(3, 1, "job", 20, 50),
                span(4, 1, "job", 90, 120)]
        # covered: [10,50) and [90,100) = 50
        self.assertEqual(M.self_time(p, kids), 50)

    def test_no_children_and_full_cover(self):
        p = span(1, 0, "build", 5, 25)
        self.assertEqual(M.self_time(p, []), 20)
        self.assertEqual(M.self_time(p, [span(2, 1, "job", 0, 30)]), 0)

    def test_tree_metrics(self):
        spans = [span(1, 0, "op", 0, 10_000_000, "q"),
                 span(2, 1, "build", 0, 4_000_000),
                 span(3, 2, "job", 1_000_000, 2_000_000),
                 span(4, 1, "action", 4_000_000, 10_000_000),
                 span(5, 4, "job", 5_000_000, 9_000_000)]
        t = M.SpanTree(spans)
        ops = M.operator_metrics(t)
        self.assertEqual(ops["operators.build_jobs"], 1)
        self.assertAlmostEqual(ops["operators.build_self_s"], 3.0)
        self.assertAlmostEqual(ops["operators.build_share"], 0.4)
        ex = M.exec_metrics(t, t.of_kind("action"))
        self.assertEqual(ex["exec.jobs"], 1)
        self.assertAlmostEqual(ex["exec.self_s"], 2.0)


class LakeStreamTest(unittest.TestCase):
    def test_same_seed_same_stream(self):
        self.assertEqual(lake_ops.stream(7), lake_ops.stream(7))

    def test_other_seed_same_kind_mix(self):
        _, a = lake_ops.stream(7)
        _, b = lake_ops.stream(8)
        self.assertNotEqual(a, b)
        n = lake_ops.PASS_LEN
        for p in range(len(a) // n):
            self.assertEqual(Counter(o["kind"] for o in a[p * n:(p + 1) * n]),
                             Counter(o["kind"] for o in b[p * n:(p + 1) * n]))

    def test_setup_independent_of_seed(self):
        self.assertEqual(lake_ops.stream(1)[0], lake_ops.stream(2)[0])

    def test_replay_semantics(self):
        ops = [{"kind": "create", "table": "t"},
               {"kind": "append", "table": "t", "lo": 0, "hi": 10, "salt": 1},
               {"kind": "merge", "table": "t", "lo": 5, "hi": 8,
                "new_lo": 10, "new_hi": 12, "salt": 2},
               {"kind": "delete", "table": "t", "mod": 5, "rem": 0, "below": 9},
               {"kind": "update", "table": "t", "mod": 7, "rem": 3},
               {"kind": "merge", "table": "t", "lo": 0, "hi": 7,
                "new_lo": 12, "new_hi": 13, "salt": 3}]
        rows = lake_ops.replay(ops, [], 0)["t"]
        self.assertEqual(sorted(rows),
                         [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12])
        self.assertEqual(rows[7][2], "m0")          # merged, matched
        self.assertEqual(rows[11][0], 11)           # merged, inserted
        self.assertEqual(rows[3][2], "u")           # updated
        self.assertEqual(rows[3][1], (3 * 37 + 1) % 100000 / 100 + 1.25)
        self.assertEqual(rows[5][1], (5 * 31 + 3) % 100000 / 100)  # merged back
        self.assertEqual(rows[6][2], "a6")          # not a merge key

    def test_file_table_keeps_its_size(self):
        # the range delete keeps the newest SEED_ROWS keys of the
        # parquet-store table, so its size stays level over the passes
        setup, ops = lake_ops.stream(4, passes=12)
        n = lake_ops.PASS_LEN
        seed = lake_ops.SEED_ROWS["pb_pq"]
        grow = sum(b for k, t, b in lake_ops.MIX
                   if k == "append" and t == "pb_pq")
        for p in range(1, 13):
            rows = len(lake_ops.replay(setup, ops, p * n)["pb_pq"])
            self.assertGreaterEqual(rows, seed)
            self.assertLessEqual(rows, seed + 2 * grow)

    def test_new_ids_are_fresh(self):
        # a MERGE source must not repeat an id, and no statement may insert
        # an id that an earlier one already used (the row id is unique)
        setup, ops = lake_ops.stream(3)
        used = {t: set() for t in lake_ops.TABLES}
        for op in setup + ops:
            if op["kind"] == "append":
                new = set(range(op["lo"], op["hi"]))
            elif op["kind"] == "merge":
                self.assertLessEqual(op["hi"], op["new_lo"])
                new = set(range(op["new_lo"], op["new_hi"]))
            else:
                continue
            self.assertFalse(new & used[op["table"]])
            used[op["table"]] |= new


def jvm_fingerprint_check():
    import run
    cp = run.build()
    p = subprocess.run(
        ["java", "-Xmx1g", "-XX:-UsePerfData"] + [a for q in run.JVM_OPENS for a in
                              ("--add-opens", f"java.base/{q}=ALL-UNNAMED")]
        + ["-cp", cp, "graft.perfbench.FingerprintCheck"],
        capture_output=True, text=True, timeout=300)
    print(p.stdout.strip() or p.stderr.strip().splitlines()[-1:])
    return p.returncode == 0


if __name__ == "__main__":
    jvm = "--no-jvm" not in sys.argv
    argv = [a for a in sys.argv if a != "--no-jvm"]
    ok = unittest.main(argv=argv, exit=False).result.wasSuccessful()
    if jvm:
        ok = jvm_fingerprint_check() and ok
    sys.exit(0 if ok else 1)
