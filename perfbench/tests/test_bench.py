"""Self-tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

Run from the root of a checkout. The first test to run builds the program
and the benchmark (see perfbench/run.py); the smoke runs use --size tiny,
so the whole suite takes a few minutes on a 4-core host.
"""
import hashlib
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")
INPUTS = os.path.join(ROOT, ".bench_build", "run", "inputs")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(*args):
    p = subprocess.run([sys.executable, RUN, *args], cwd=ROOT,
                       capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"run.py {' '.join(args)} failed: {p.stderr[-2000:]}")
    return p.stdout


def input_digests():
    out = {}
    for d, _, files in os.walk(INPUTS):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, INPUTS)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    def gen(self, seed):
        run("--workload", "serve_mixed", "--seed", str(seed), "--seconds", "1",
            "--size", "tiny", "--gen-only")
        return input_digests()

    def test_same_seed_same_bytes(self):
        a = self.gen(7)
        self.assertGreaterEqual(len(a), 9, "every input kind is generated")
        self.assertEqual(a, self.gen(7))

    def test_other_seed_other_bytes(self):
        a, b = self.gen(7), self.gen(8)
        self.assertEqual(a.keys(), b.keys())
        self.assertTrue(all(a[k] != b[k] for k in a), "every input depends on the seed")


class SmokeTest(unittest.TestCase):
    """Each workload at tiny size, untraced and traced: every check passes
    (catalog results against perfbench/expected/catalog_core_tiny.json)
    and the printed metric names are exactly the declared ones."""

    def smoke(self, workload, trace):
        out = run("--workload", workload, "--seed", "3", "--seconds", "2",
                  "--trace", str(trace), "--size", "tiny")
        res = json.loads(out.strip().splitlines()[-1])
        self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreater(res["attempted"], 0)
        section = "per_layer" if trace else "end_to_end"
        self.assertEqual(sorted(res["metrics"]), sorted(m["name"] for m in SPEC[section]))
        for m in SPEC[section]:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
        if not trace:
            for name, v in res["metrics"].items():
                self.assertGreater(v["value"], 0, name)
        return res

    def test_serve_mixed(self):
        self.smoke("serve_mixed", 0)

    def test_serve_mixed_traced(self):
        self.smoke("serve_mixed", 1)

    def test_catalog_core(self):
        self.smoke("catalog_core", 0)

    def test_catalog_core_traced(self):
        self.smoke("catalog_core", 1)


if __name__ == "__main__":
    unittest.main()
