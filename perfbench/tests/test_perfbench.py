"""Self-tests of the benchmark.

Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The generator tests take seconds. The two end-to-end tests each run
etl_batches through run.py (about a minute each, one untraced, one
traced): they inject a wrong result into the written outputs before the
gates run, and check that the run reports it as failed and prints
exactly the metric names BENCHMARK.json lists.
"""
import contextlib
import datetime
import filecmp
import glob
import io
import json
import os
import sys
import tempfile
import unittest
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):

    def check_deterministic(self, workload):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            gen.generate(workload, 7, a)
            gen.generate(workload, 7, b)
            gen.generate(workload, 8, c)
            self.assertTrue(same_tree(a, b), "same seed, different bytes")
            self.assertFalse(same_tree(a, c), "different seeds, same bytes")

    def test_etl_batches_deterministic(self):
        self.check_deterministic("etl_batches")

    def test_ann_serving_deterministic(self):
        self.check_deterministic("ann_serving")


def spec_names(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


def run_with_injection(argv, inject):
    """run.main with `inject(jvm_result)` applied to the written outputs
    just before the gates check them; returns the result line."""
    real = run.gates.check

    def corrupted(workload, seed, jvm):
        inject(jvm)
        return real(workload, seed, jvm)

    out = io.StringIO()
    with mock.patch.object(run.gates, "check", corrupted), \
            contextlib.redirect_stdout(out):
        run.main(argv)
    return json.loads(out.getvalue().strip().splitlines()[-1])


class InjectedFailureTest(unittest.TestCase):

    def assert_failed(self, res, kind):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(res["metrics"]), spec_names(kind))
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"] / res["attempted"], 0)

    def test_fact_row_off_its_version_counts_as_failed(self):
        import pyarrow as pa
        import pyarrow.parquet as pq

        def shift_a_fact_row(jvm):
            b = jvm["gate"]["batches"][-1]
            d = os.path.join(jvm["gate"]["out_dir"], b, "warehouse", "fact")
            part = max(glob.glob(os.path.join(d, "*.parquet")), key=os.path.getsize)
            t = pq.read_table(part)
            i = t.schema.get_field_index("dim_valid_from")
            days = t.column(i).to_pylist()
            days[0] -= datetime.timedelta(days=1)
            pq.write_table(t.set_column(i, t.schema.field(i),
                                        pa.array(days, t.schema.field(i).type)), part)

        res = run_with_injection(["--workload", "etl_batches", "--seed", "3",
                                  "--seconds", "0", "--trace", "0"],
                                 shift_a_fact_row)
        self.assert_failed(res, "end_to_end")

    def test_duplicated_eligibility_row_counts_as_failed(self):
        import pyarrow as pa
        import pyarrow.parquet as pq

        def duplicate_a_request(jvm):
            b = jvm["gate"]["batches"][-1]
            d = os.path.join(jvm["gate"]["out_dir"], b, "eligibility", "requests")
            part = max(glob.glob(os.path.join(d, "*.parquet")), key=os.path.getsize)
            t = pq.read_table(part)
            pq.write_table(pa.concat_tables([t, t.slice(0, 1)]), part)

        res = run_with_injection(["--workload", "etl_batches", "--seed", "3",
                                  "--seconds", "0", "--trace", "1"],
                                 duplicate_a_request)
        self.assert_failed(res, "per_layer")


if __name__ == "__main__":
    unittest.main()
