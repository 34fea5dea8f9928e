"""Tests of the benchmark itself. Run from the repository root:

    python3 perfbench/test_bench.py            # generator tests (seconds)
    python3 perfbench/test_bench.py --slow     # plus planted-value runs (minutes)

- the same seed gives byte-identical inputs, for every workload;
- a different seed picks different wave months, price changes and arrivals;
- the waves are the held-out 1/20 of the extract's orders;
- a planted wrong expected value makes a run report failed operations.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

TMP = os.path.join(os.getcwd(), ".bench_work", "test")
SLOW = "--slow" in sys.argv


def tree_digest(root):
    out = {}
    for base, _, files in os.walk(root):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def gen(self, workload, seed, name):
        d = os.path.join(TMP, name)
        return gen.generate(workload, seed, d), tree_digest(d)

    def test_same_seed_same_inputs(self):
        for w in gen.GENERATORS:
            m1, d1 = self.gen(w, 7, f"{w}-a")
            m2, d2 = self.gen(w, 7, f"{w}-b")
            self.assertEqual(d1, d2, w)
            self.assertEqual(m1, m2, w)
            self.assertTrue(all(f["rows"] > 0 and f["mb"] > 0 for f in m1["files"]), w)

    def test_other_seed_other_waves(self):
        a, _ = self.gen("refresh_serve", 7, "r7")
        b, _ = self.gen("refresh_serve", 8, "r8")
        self.assertNotEqual([w["source_month"] for w in a["waves"]],
                            [w["source_month"] for w in b["waves"]])
        self.assertNotEqual([w["price_changes"] for w in a["waves"]],
                            [w["price_changes"] for w in b["waves"]])
        # the waves land in the same months past the watermark either way
        self.assertEqual([w["order_month"] for w in a["waves"]],
                         [w["order_month"] for w in b["waves"]])
        # the held-out months are 1/20 of the extract's orders, and the
        # waves are exactly those orders
        n_orders = gen._read("orders").num_rows
        for m in (a, b):
            self.assertAlmostEqual(m["held_out_orders"] / n_orders, gen.HOLDOUT_FRAC, delta=0.01)
            self.assertEqual(sum(w["orders"] for w in m["waves"]), m["held_out_orders"])
        a, _ = self.gen("dedup_ingest", 7, "d7")
        b, _ = self.gen("dedup_ingest", 8, "d8")
        self.assertNotEqual([w["doc_ids"] for w in a["waves"]],
                            [w["doc_ids"] for w in b["waves"]])


@unittest.skipUnless(SLOW, "needs --slow: runs the benchmark JVM")
class PlantedValueTest(unittest.TestCase):
    def run_bench(self, workload, plant):
        cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
               "--seed", "5", "--seconds", "1", "--trace", "0", "--reads", "2"]
        r = subprocess.run(cmd + (["--plant"] if plant else []),
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        return json.loads(r.stdout.strip().splitlines()[-1]), r.stdout

    def test_planted_value_is_flagged(self):
        for w in gen.GENERATORS:
            ok, _ = self.run_bench(w, plant=False)
            self.assertTrue(ok["correct"], w)
            self.assertEqual(ok["failed"], 0, w)
            bad, out = self.run_bench(w, plant=True)
            self.assertFalse(bad["correct"], w)
            self.assertGreaterEqual(bad["failed"], 1, w)
            self.assertIn("FAILED", out, w)


if __name__ == "__main__":
    unittest.main(argv=[a for a in sys.argv if a != "--slow"])
