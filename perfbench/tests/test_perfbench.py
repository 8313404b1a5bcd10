"""The benchmark's own tests. Run from the root of the repository:

    python3 -m unittest discover -s perfbench/tests -v

They build the benchmark if needed, then run tiny-volume smoke runs of
every workload (a few minutes in all).
"""

import json
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = "0.01"


def bench(workload, trace, seed=5):
    """One tiny smoke run; returns the parsed result line."""
    p = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--volume", TINY],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_and_every_seed_same_volumes(self):
        out = subprocess.run(run.java_command("perfbench.Digest", [TINY, "7", "7", "8"]),
                             cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
        rows = [l.split("\t") for l in out.stdout.strip().splitlines()]
        self.assertEqual(len(rows), 3)
        seven, again, eight = rows
        self.assertEqual(seven, again)
        for digest in (1, 2, 3):
            self.assertNotEqual(seven[digest], eight[digest])
        self.assertEqual(seven[4:], eight[4:])


class ResultTest(unittest.TestCase):
    def check(self, result, names):
        self.assertTrue(result["correct"], result)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(sorted(result["metrics"]), sorted(names))
        for name, m in result["metrics"].items():
            self.assertEqual(set(m), {"value", "unit"}, name)

    def test_end_to_end_metrics_of_every_workload(self):
        names = [m["name"] for m in SPEC["end_to_end"]]
        units = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        # and the two workloads that are runnable but left out of BENCHMARK.json
        for w in [w["name"] for w in SPEC["workloads"]] + ["pipeline_restate", "operator_mix"]:
            with self.subTest(workload=w):
                r = bench(w, 0)
                self.check(r, names)
                for name, m in r["metrics"].items():
                    self.assertEqual(m["unit"], units[name])
                    self.assertGreater(m["value"], 0, name)

    def test_per_layer_metrics_and_stage_coverage(self):
        names = [m["name"] for m in SPEC["per_layer"]]
        r = bench("pipeline_initial", 1)
        self.check(r, names)
        stages = sum(v["value"] for k, v in r["metrics"].items() if k.startswith("pipeline.stage_ms."))
        self.assertGreater(stages, 0)
        # the 13 stage spans cover fullRun up to the per-stage millisecond rounding
        self.assertLess(r["metrics"]["pipeline.unattributed_ms"]["value"], 20)
        r = bench("evals_upsert_mor", 1)
        self.check(r, names)
        self.assertGreater(r["metrics"]["snapshot.commit_jobs"]["value"], 0)
        self.assertEqual(r["metrics"]["pipeline.stage_ms.extract_comments"]["value"], 0)
        r = bench("operator_mix", 1)
        self.check(r, names)
        for name in names:
            if name.startswith("op."):
                self.assertGreater(r["metrics"][name]["value"], 0, name)
        self.assertEqual(r["metrics"]["snapshot.commit_jobs"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
