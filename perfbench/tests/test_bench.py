"""Tests of the benchmark's own parts (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""

import hashlib
import os
import re
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen_er7  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

SPLIT = re.compile(r"(\r?\n)\s*(\r?\n)+")


def read_inbox(d):
    """Independent re-split of the inbox, the way the engine's readers split."""
    msgs = []
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), encoding="utf-8", newline="") as f:
            text = f.read()
        parts = [p for i, p in enumerate(SPLIT.split(text)) if i % 3 == 0]
        msgs += [p.rstrip() for p in parts if p.rstrip()]
    return msgs


class GeneratorTest(unittest.TestCase):

    def test_deterministic_per_seed(self):
        a = gen_er7.generate(None, 7, 400, 4, write=False)
        b = gen_er7.generate(None, 7, 400, 4, write=False)
        c = gen_er7.generate(None, 8, 400, 4, write=False)
        self.assertEqual(a, b)
        self.assertNotEqual(a["ok_ids"], c["ok_ids"])

    def test_files_are_deterministic_per_seed(self):
        with tempfile.TemporaryDirectory() as d:
            gen_er7.generate(os.path.join(d, "a"), 3, 300, 3, blob_bytes=4096)
            gen_er7.generate(os.path.join(d, "b"), 3, 300, 3, blob_bytes=4096)
            for name in os.listdir(os.path.join(d, "a")):
                with open(os.path.join(d, "a", name), "rb") as fa, \
                        open(os.path.join(d, "b", name), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read())

    def test_planted_counts(self):
        with tempfile.TemporaryDirectory() as d:
            t = gen_er7.generate(d, 11, 2000, 8, dup_rate=0.05, error_rate=0.02,
                                 n_blobs=2, blob_bytes=100_000)
            msgs = read_inbox(d)
        ids = [hashlib.sha256(m.encode()).hexdigest() for m in msgs]
        self.assertEqual(len(msgs), t["n_messages"])
        self.assertEqual(len(msgs), 2000)
        self.assertEqual(len(ids) - len(set(ids)), t["n_duplicates"])
        self.assertEqual(t["n_duplicates"], 100)
        self.assertEqual(set(ids), set(t["ok_ids"]) | set(t["error_ids"]))
        self.assertEqual(t["zones"]["ingestion/er7"], len(set(ids)))
        # every planted error is its own payload: no two collapse under dedup
        self.assertEqual(len(t["error_ids"]), 40)
        self.assertEqual(len(set(t["error_ids"])), 40)
        self.assertEqual(t["zones"]["error/txt"], 40)
        self.assertEqual(t["zones"]["staging/json"], len(set(ids)) - 40)
        by_id = dict(zip(ids, msgs))
        ok = [by_id[i] for i in t["ok_ids"]]
        versions = {m.split("\n")[0].rstrip("\r").split("|")[11] for m in ok}
        self.assertEqual(versions, set(gen_er7.VERSIONS))
        self.assertTrue(any("\r\n" in m for m in ok) and any("\r\n" not in m for m in ok))
        self.assertEqual(sum(1 for m in ok if len(m) > 100_000), 2)
        obx = [m.count("\nOBX|") for m in ok if "ORU^R01" in m]
        self.assertEqual(sum(obx), t["views"]["observations"])
        self.assertLessEqual(max(obx), 30)
        self.assertIn(0, obx)


class PercentileTest(unittest.TestCase):

    def test_tail_keeps_ten_samples_beyond(self):
        xs = list(range(1, 101))
        v, q, n = stats.tail(xs, 0.9)
        self.assertEqual((v, n), (90, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        v, q, n = stats.tail(list(range(1, 51)), 0.9)
        self.assertEqual(v, 40)  # p90 would leave 5 beyond; p80 leaves 10
        self.assertAlmostEqual(q, 0.8)

    def test_tail_never_below_median(self):
        v, q, n = stats.tail(list(range(1, 16)), 0.9)
        self.assertEqual((v, q, n), (8, 0.5, 15))
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


class FailureTest(unittest.TestCase):

    def test_failed_ops_are_counted_not_timed(self):
        ops = [{"ok": True, "ms": 10.0}, {"ok": False, "ms": 99999.0},
               {"ok": True, "ms": 30.0}, {"ok": False}]
        self.assertEqual(stats.latencies(ops), [10.0, 30.0])
        self.assertEqual(stats.failed(ops), 2)

    def test_end_to_end_excludes_failed_operations(self):
        res = {"session_s": 1.0, "setup_reps_s": [3.0, 1.0, 2.0], "window_s": 2.0,
               "session_steal": 0.0, "setup_reps_steal": [0.0] * 3, "window_steal": 0.0,
               "ops": [{"kind": "lookup", "ok": True, "ms": 10.0},
                       {"kind": "lookup", "ok": False, "ms": 9000.0},
                       {"kind": "lookup", "ok": True, "ms": 20.0},
                       {"kind": "lookup", "ok": False},
                       {"kind": "query", "ok": True, "ms": 100.0},
                       {"kind": "query", "ok": False, "ms": 5000.0},
                       {"kind": "query", "ok": True, "ms": 300.0}]}
        m = run.end_to_end("serve", res, {})
        self.assertEqual(m["setup_s"], 3.0)
        self.assertEqual(m["op_p50_ms"], 15.0)
        self.assertEqual(m["items_per_s"], 1.0)
        self.assertEqual(m["aux_op_p50_ms"], 200.0)
        self.assertAlmostEqual(m["aux_items_per_s"], 2 / 0.4)

    def test_stolen_cpu_time_is_removed_from_walls(self):
        res = {"session_s": 2.0, "session_steal": 0.5,
               "setup_reps_s": [4.0, 2.0], "setup_reps_steal": [0.5, 0.0],
               "window_s": 4.0, "window_steal": 0.5,
               "ops": [{"kind": "lookup", "ok": True, "ms": 10.0, "steal": 0.2},
                       {"kind": "query", "ok": True, "ms": 100.0, "steal": 0.5}]}
        m = run.end_to_end("serve", res, {})
        self.assertEqual(m["setup_s"], 1.0 + 2.0)
        self.assertEqual(m["op_p50_ms"], 8.0)
        self.assertEqual(m["items_per_s"], 0.5)
        self.assertEqual(m["aux_op_p50_ms"], 50.0)


if __name__ == "__main__":
    unittest.main()
