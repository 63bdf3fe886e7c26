"""Seed discipline: a seed always yields the same schedule, byte for byte.

Run: python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
import run  # noqa: E402
import schedule  # noqa: E402


def schedule_bytes(workload, seed):
    return schedule.render(schedule.rounds(run.WORKLOADS[workload]["ops"], seed, 1000)).encode()


class ScheduleTest(unittest.TestCase):
    def test_same_seed_same_bytes_across_processes(self):
        code = ("import sys; sys.path.insert(0, %r); import run, schedule; "
                "sys.stdout.write(schedule.render(schedule.rounds("
                "run.WORKLOADS['api_lookups']['ops'], 7, 1000)))") % str(HERE.parent)
        outs = {subprocess.run([sys.executable, "-c", code], capture_output=True,
                               check=True).stdout for _ in range(2)}
        self.assertEqual(outs, {schedule_bytes("api_lookups", 7)})

    def test_pinned_digest(self):
        # pins the generator: a change here changes every recorded schedule
        digest = hashlib.sha256(schedule.render(
            schedule.rounds([f"op{i}" for i in range(25)], 1, 100)).encode()).hexdigest()
        self.assertEqual(digest, PINNED)

    def test_seeds_differ_and_rounds_are_permutations(self):
        for w, spec in run.WORKLOADS.items():
            ops = spec["ops"]
            a = schedule.rounds(ops, 1, 50)
            b = schedule.rounds(ops, 2, 50)
            if len(ops) > 2:
                self.assertNotEqual(a, b, w)
            for r in a + b:
                self.assertEqual(sorted(r), sorted(ops))


PINNED = "c121d88385ae84d88304b3ab378d2f83903efe21b19dca9f0d58e24155fb7e76"

if __name__ == "__main__":
    unittest.main()
