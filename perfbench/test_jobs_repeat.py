#!/usr/bin/env python3
"""Jobs per operation must repeat exactly for a fixed seed: later changes
claim job counts against this benchmark, so a count that drifts between two
runs of the same code would make such claims meaningless.

Runs the traced benchmark twice per workload with the same seed and
compares every deterministic count: Spark jobs per operation of each
operation type that is not timing-driven, and the per-layer `*.jobs`,
`*.eager_jobs` and `*_rows_out` metrics (read from the run's
`name = value unit` lines, which hold every metric it measured). Streaming
micro-batch counts are excluded, because how drops group into micro-batches
depends on timing.

Usage (from the root of a checkout, about two minutes per workload):
  python3 perfbench/test_jobs_repeat.py [workload ...]
"""
import json
import subprocess
import sys
import unittest

WORKLOADS = sys.argv[1:] or ["cdc", "curate"]
SEED = 7
# operation types whose job count depends on timing, not on the inputs
TIMING_DRIVEN = {"stream_batch", "other", "setup"}
# spark.jobs is a run total that counts micro-batches; op.jobs of cdc is
# jobs per micro-batch
TIMING_DRIVEN_METRICS = {"spark.jobs", "op.jobs"}


def traced_counts(workload):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "15", "--trace", "1"],
        check=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True).stdout
    counts = {}
    for line in out.strip().splitlines()[:-1]:
        if line.startswith("spark "):
            op, c = line[len("spark "):].split(": ", 1)
            c = json.loads(c)
            if op not in TIMING_DRIVEN and c["ops"] > 0:
                counts[f"spark[{op}].jobs_per_op"] = c["jobs"] / c["ops"]
        elif " = " in line:
            # every metric the run measured, as `name = value unit`
            name, value = line.split(" = ", 1)
            if name not in TIMING_DRIVEN_METRICS and name.endswith((".jobs", ".eager_jobs", "_rows_out")):
                counts[name] = float(value.split()[0])
    return counts


class JobsRepeat(unittest.TestCase):
    def test_jobs_per_operation_repeat(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                first, second = traced_counts(w), traced_counts(w)
                self.assertTrue(first, f"{w}: no deterministic counts reported")
                diff = {k: (first.get(k), second.get(k)) for k in first.keys() | second.keys()
                        if first.get(k) != second.get(k)}
                self.assertEqual(diff, {}, f"{w}: counts that differ between two runs")


if __name__ == "__main__":
    unittest.main(argv=sys.argv[:1])
