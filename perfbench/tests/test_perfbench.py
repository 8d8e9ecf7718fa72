"""Self-tests of the benchmark.

    python3 -m unittest discover -s perfbench/tests -v

The generator tests take seconds. The fault tests run the real benchmark
(compiling first when needed) and take about a minute each.
"""

import hashlib
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_work", "selftest")


def tree_digest(d):
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(d)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def gopher_pass(text):
    """The gate of CurateMain (TextQueries.gopherFeatures), for the
    lower-case ASCII texts the generator writes.
    """
    toks = text.lower().split()
    n = len(toks)
    mean = round(sum(map(len, toks)) / n, 4)
    alpha = round(sum(any("a" <= c <= "z" for c in t) for t in toks) / n, 4)
    stop = sum(w in toks for w in ("the", "a", "of", "to", "and"))
    return 30 <= n <= 100000 and 3 <= mean <= 10 and alpha >= 0.8 and stop >= 2


class GeneratorTest(unittest.TestCase):
    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def generate(self, workload, seed, name):
        out = os.path.join(SCRATCH, name)
        return gen.generate(workload, seed, out), out

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                _, a = self.generate(w, 7, f"{w}-a")
                _, b = self.generate(w, 7, f"{w}-b")
                _, c = self.generate(w, 8, f"{w}-c")
                self.assertEqual(tree_digest(a), tree_digest(b))
                self.assertNotEqual(tree_digest(a), tree_digest(c))

    def test_pol_files_resemble_the_reference_sample(self):
        full, _ = self.generate("pol_full", 3, "full")
        push, _ = self.generate("pol_push", 3, "push")
        # the pushes and the full-rescan corpus; the push inventory's
        # 1000-line files are too short for ~329 distinct wins
        entries = list(full["files"].values()) + [p["expect"] for p in push["pushes"]]
        for e in entries:
            hist = dict(map(tuple, e["hist"]))
            n = sum(hist.values())
            self.assertTrue(0.74 <= hist[0] / n <= 0.86)
            self.assertTrue(290 <= len(hist) - 1 <= 360)
        for files in (full["files"], push["files"]):
            bets = [e["bet"] for e in files.values()]
            self.assertEqual(sum(b is None for b in bets), round(0.1 * len(bets)),
                             "a tenth of pools miss the lookup")
            self.assertTrue(any("/Pool_0" in p for p in files), "zero-padded pool ids")
        cfg = gen.POL_PUSH
        blocks = range(0, len(push["pushes"]), 10)
        misses = [i for i, p in enumerate(push["pushes"]) if p["expect"]["bet"] is None]
        self.assertEqual(misses, [b + cfg["miss_slot"] for b in blocks],
                         "one push in each block of ten misses the lookup, at a fixed slot")
        adds = [i for i, p in enumerate(push["pushes"]) if p["kind"] == "add"]
        self.assertEqual(adds, [b + k for b in blocks for k in cfg["add_slots"]])
        other, _ = self.generate("pol_push", 4, "push-other")
        self.assertEqual([p["kind"] for p in other["pushes"]],
                         [p["kind"] for p in push["pushes"]], "every seed has the same push mix")

    def test_curate_gate_shares_are_as_planted(self):
        exp, out = self.generate("curate", 5, "cur")
        with open(os.path.join(out, "documents.jsonl")) as f:
            docs = [json.loads(line) for line in f]
        bench = {d["doc_id"] for d in docs
                 if d["doc_id"] % gen.BENCH_MOD == 0 and d["doc_id"] < gen.BENCH_BUDGET}
        passed = [d for d in docs if gopher_pass(d["text"]) and d["doc_id"] not in bench]
        planted = exp["kinds"]
        self.assertEqual(len(passed), planted["clean"] + planted["contam"] + planted["dup"])
        first = {}
        for d in passed:
            first.setdefault(d["text"], d["doc_id"])
        self.assertEqual(sorted(first.values()), sorted(map(int, exp["survivors"])))


def run_bench(workload, fault, seconds):
    r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", "1", "--seconds", str(seconds), "--trace", "0",
                        "--fault", fault],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(r.stderr[-3000:])
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-2])["env"], json.loads(lines[-1])


class FaultTest(unittest.TestCase):
    def assert_counted_not_timed(self, env, result):
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertEqual(env["timed_ops"], result["attempted"] - result["failed"])
        self.assertEqual(len(env["op_s"]), env["timed_ops"])

    # The fault hits the first timed operation; at least one more runs
    # (pol_push times four, and a throw leaves curate's window open)
    # and must succeed once the workload recovers.

    def test_planted_wrong_rtp_is_a_failure_and_not_timed(self):
        env, result = run_bench("pol_push", "wrong_rtp", 4)
        self.assert_counted_not_timed(env, result)
        self.assertEqual(result["failed"], 1)
        self.assertGreaterEqual(env["timed_ops"], 1)
        self.assertIn("rtp", " ".join(env["failures"]))

    def test_exception_counts_as_failure(self):
        env, result = run_bench("curate", "throw", 4)
        self.assert_counted_not_timed(env, result)
        self.assertEqual(result["failed"], 1)
        self.assertGreaterEqual(env["timed_ops"], 1)
        self.assertIn("planted failure", " ".join(env["failures"]))


if __name__ == "__main__":
    unittest.main()
