"""Tests of the benchmark itself: seeded determinism, ground-truth totals, and
that every correctness gate fails when its expected value is corrupted.

    python3 -m unittest discover -s perfbench/tests

Each test starts the benchmark JVM; the whole file takes a few minutes.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
RESULT = os.path.join(ROOT, ".bench_build", "run", "result.json")

GATES = {
    "stream_route": {"sink_route_counts", "sink_reason_counts", "dedup_dropped"},
    "corpus_dedup": {"exact_duplicates", "near_dup_recall", "line_dedup_words",
                     "lsh_planted_recall", "lsh_recall"},
}


def run(workload, seed, seconds=2, corrupt=False):
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    if corrupt:
        cmd.append("--corrupt")
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    with open(RESULT) as fh:
        return proc, json.load(fh)


def totals(rendered):
    """Sum of a rendered 'route/reason=n;...' count list."""
    return sum(int(part.rsplit("=", 1)[1]) for part in rendered.split(";"))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        _, a = run("digest", 5)
        _, b = run("digest", 5)
        _, c = run("digest", 6)
        keys = [k for k in a["info"] if k.endswith("_digest")]
        self.assertEqual(len(keys), 2)
        for k in keys:
            self.assertEqual(a["info"][k], b["info"][k], k)
            self.assertNotEqual(a["info"][k], c["info"][k], k)
        self.assertEqual(a["info"]["corpus_dedup_truth"], b["info"]["corpus_dedup_truth"])

    def test_ground_truth_accounts_for_every_record(self):
        _, r = run("digest", 5)
        info = r["info"]
        redelivered = info["stream_route_redeliveries"]
        self.assertEqual(totals(info["stream_route_expected"]) + redelivered, 400000)
        # about 2% of stream records are planted redeliveries
        self.assertTrue(0.015 * 400000 < redelivered < 0.025 * 400000, redelivered)
        truth = dict(kv.split("=") for kv in info["corpus_dedup_truth"].split(";"))
        self.assertGreater(int(truth["copies"]), 0)
        self.assertGreater(int(truth["near_pairs"]), 0)
        self.assertGreater(int(truth["vec_pairs"]), 0)


class GateTest(unittest.TestCase):
    def check(self, workload):
        proc, r = run(workload, 3, corrupt=True)
        self.assertNotEqual(proc.returncode, 0)
        self.assertFalse(r["correct"])
        failed = {g["name"] for g in r["gates"] if not g["ok"]}
        self.assertEqual(failed, GATES[workload])

    def test_stream_route_gates_fail_on_corrupted_expectations(self):
        self.check("stream_route")

    def test_corpus_dedup_gates_fail_on_corrupted_expectations(self):
        self.check("corpus_dedup")


if __name__ == "__main__":
    unittest.main()
