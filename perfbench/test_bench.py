"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The last test runs the finance workload once (about a minute on 4 cores;
the first run in a checkout also builds).
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            for w in ("finance_refresh", "drop_cadence"):
                gen.generate(w, 5, os.path.join(a, w))
                gen.generate(w, 5, os.path.join(b, w))
                self.assertEqual(gen.tree_digest(os.path.join(a, w)),
                                 gen.tree_digest(os.path.join(b, w)))
            gen.generate("finance_refresh", 6, os.path.join(b, "other"))
            self.assertNotEqual(gen.tree_digest(os.path.join(a, "finance_refresh")),
                                gen.tree_digest(os.path.join(b, "other")))


class ContractTest(unittest.TestCase):
    def test_benchmark_json_names_the_printed_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], run.PER_LAYER)
        self.assertTrue(all(w["name"] in run.WORKLOADS for w in bench["workloads"]))

    def test_refuses_without_program_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", ".build", "target", "__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "finance_refresh",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")

    def test_refuses_ab_overrides(self):
        env = dict(os.environ, SPARK_GRAFT_FAN_DISABLE="1")
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            "finance_refresh", "--seed", "1"], env=env,
                           capture_output=True, text=True, timeout=60)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


class CorruptedOutputTest(unittest.TestCase):
    def test_corrupted_report_fails_its_check(self):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            "finance_refresh", "--seed", "3", "--seconds", "1", "--trace", "0"],
                           capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)

        _, manifest, _ = run.inputs("finance_refresh", 3)
        pass_dir = os.path.join(run.WORK, "out", "finance_refresh", "pass1")
        self.assertTrue(all(ok for _, ok in run.check_finance(pass_dir, manifest, 1)))
        with tempfile.TemporaryDirectory() as d:
            bad = os.path.join(d, "pass1")
            shutil.copytree(pass_dir, bad)
            month = os.path.basename(manifest["spec"]["months"][1]["dir"])
            summary = os.path.join(bad, month, "summary.csv")
            with open(summary) as fh:
                lines = fh.read().splitlines()
            metric, value = lines[1].split(",")
            lines[1] = f"{metric},{float(value) + 0.01}"
            with open(summary, "w") as fh:
                fh.write("\n".join(lines) + "\n")
            failed = [k for k, ok in run.check_finance(bad, manifest, 1) if not ok]
            self.assertEqual(failed, [f"{month}.{metric}"])


if __name__ == "__main__":
    unittest.main()
