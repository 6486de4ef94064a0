"""The benchmark's own tests. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests -v

The last test drives one traced tx_commits run (about 20 s).
"""
import hashlib
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
SCRATCH = Path.cwd() / ".bench_work" / "tests"


def digest(d):
    h = hashlib.sha256()
    for f in sorted(p for p in Path(d).rglob("*") if p.is_file()):
        h.update(str(f.relative_to(d)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_differs(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                dirs = []
                for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
                    root = SCRATCH / tag
                    shutil.rmtree(root / f"{w}-seed{seed}", ignore_errors=True)
                    dirs.append(gen.generate(w, seed, root))
                a, b, c = (digest(d) for d in dirs)
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)


class SpecTest(unittest.TestCase):
    def test_workload_names(self):
        self.assertEqual(set(run.WORKLOADS), set(gen.SIZES))
        self.assertEqual(set(run.WORKLOADS), set(__import__("check").CHECKS))

    def test_bounds_within_contract(self):
        for m in SPEC["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        self.assertIn("setup_s", [m["name"] for m in SPEC["end_to_end"]])


class TracedRunTest(unittest.TestCase):
    """One traced run: printed names match BENCHMARK.json, the exact counts
    repeat across passes, and tracing adds no Spark job."""

    def test_traced_run(self):
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", "tx_commits",
                            "--seed", "3", "--seconds", "2", "--trace", "1"],
                           stdout=subprocess.PIPE, text=True, timeout=180)
        self.assertEqual(r.returncode, 0, r.stdout[-2000:])
        last = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertTrue(last["correct"])
        self.assertEqual(set(last["metrics"]), {m["name"] for m in SPEC["per_layer"]})
        for name, m in last["metrics"].items():
            self.assertEqual(m["unit"], {x["name"]: x["unit"] for x in SPEC["per_layer"]}[name])
        res = json.loads((Path.cwd() / ".bench_work" / "run-tx_commits" / "result.json").read_text())
        self.assertEqual(set(run.end_to_end(res)), {m["name"] for m in SPEC["end_to_end"]})
        traced = [p for p in res["passes"] if p["traced"]]
        untraced = [p for p in res["passes"] if not p["traced"]]
        self.assertTrue(traced and untraced)
        counts = {(p["jobs"], p["stages"], p["tasks"], p["log_files"]) for p in res["passes"]}
        self.assertEqual(len(counts), 1, counts)
        self.assertEqual(traced[0]["exec"]["jobs"], traced[0]["jobs"])
        self.assertEqual(last["metrics"]["trace.extra_jobs"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
