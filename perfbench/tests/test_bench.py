"""The benchmark's own tests (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""

import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "..", "bench"))

import gen_ffi  # noqa: E402
import gen_lake  # noqa: E402
import gen_orders  # noqa: E402
import metrics  # noqa: E402


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class Determinism(unittest.TestCase):
    def test_same_seed_gives_byte_identical_inputs(self):
        with tempfile.TemporaryDirectory() as t:
            for run in ("a", "b"):
                gen_ffi.generate(os.path.join(t, run, "ffi"), 5, **gen_ffi.BATCH)
                gen_orders.write(os.path.join(t, run, "tables"), 5, 0.001)
                gen_lake.generate(os.path.join(t, run, "lake_ops.json"), 5, max_key=1499)
            self.assertTrue(same_tree(os.path.join(t, "a"), os.path.join(t, "b")))
            gen_ffi.generate(os.path.join(t, "c", "ffi"), 6, **gen_ffi.BATCH)
            self.assertFalse(same_tree(os.path.join(t, "a", "ffi"), os.path.join(t, "c", "ffi")))

    def test_ffi_batch_revises_earlier_plots(self):
        with tempfile.TemporaryDirectory() as t:
            batch = gen_ffi.generate(t, 9, **gen_ffi.BATCH)
        exports = batch["exports"]
        self.assertEqual([e["revision"] for e in exports], [False, False, True])
        before, after = exports[1]["expected"], exports[2]["expected"]
        # the revision repeats every plot (matched arm) and adds events and trees
        self.assertEqual(before["PLOT"]["rows"], after["PLOT"]["rows"])
        self.assertGreater(after["EVENT"]["rows"], before["EVENT"]["rows"])
        self.assertGreater(after["TREE"]["rows"], before["TREE"]["rows"])


class Checkers(unittest.TestCase):
    def test_failed_ops_are_counted_and_never_timed(self):
        ops = [{"kind": "merge", "sec": 1.0, "error": None},
               {"kind": "merge", "sec": None, "error": "boom"},
               {"kind": "point", "sec": 0.5, "error": None}]
        record = {"workload": "lake_dml", "setup_s": 9.0, "ops": ops,
                  "final": {"final_error": None, "batch_bytes": 10, "bytes_written": 30,
                            "table_bytes": 40, "live_plain_bytes": 20}}
        with self.assertRaises(ValueError):  # kinds of the cycle are missing: no work_s
            metrics.summarize(record, traced=False)
        record["ops"] = ops + [{"kind": k, "sec": 2.0, "error": None}
                               for k in metrics.LAKE_CYCLE]
        result, detail = metrics.summarize(record, traced=False)
        self.assertEqual(result["failed"], 1)
        self.assertEqual(result["attempted"], len(record["ops"]))
        self.assertFalse(result["correct"])
        self.assertEqual(detail["lake.commit_samples"], 6)  # 1 + five commit kinds
        self.assertAlmostEqual(result["metrics"]["ops_per_s"]["value"], 9 / 15.5)

    def test_traced_run_fails_when_an_exercised_layer_is_not_measured(self):
        ops = [{"kind": "export", "sec": 2.0, "error": None, "batch": 1, "bytes": 10, "rows": 5}]
        layers = {n: 1.0 for n in metrics.exercised("ffi_export")}
        record = {"workload": "ffi_export", "setup_s": 9.0, "ops": ops, "traced_ops": ops,
                  "final": {}, "layers": layers}
        result, detail = metrics.summarize(record, traced=True)
        self.assertEqual(result["metrics"]["etl.extract_s"]["value"], 1.0)
        self.assertEqual(result["metrics"]["sources.files_read"]["value"], 0.0)
        self.assertIn("sources.files_read", detail["layers_not_exercised"])
        del layers["etl.extract_s"]
        with self.assertRaises(ValueError):
            metrics.summarize(record, traced=True)

    def test_tail_needs_ten_samples_beyond_it(self):
        self.assertIsNone(metrics.tail(list(range(10))))
        self.assertEqual(metrics.tail(list(range(1, 101))), (90.0, 90))


class Contract(unittest.TestCase):
    def test_benchmark_json_lists_the_metrics_run_py_prints(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         metrics.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(metrics.DRIVEN))


if __name__ == "__main__":
    unittest.main()
