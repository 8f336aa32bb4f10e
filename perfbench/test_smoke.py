#!/usr/bin/env python3
"""The benchmark's own test: every workload at tiny scale, untraced and
traced, must report every metric of BENCHMARK.json with its unit and no
failed op. Run from the repository root:

    python3 perfbench/test_smoke.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def test_smoke():
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
                       stdout=subprocess.PIPE, text=True)
    last = r.stdout.strip().splitlines()[-1]
    assert r.returncode == 0, last
    assert json.loads(last)["smoke_ok"] is True


if __name__ == "__main__":
    test_smoke()
    print("smoke ok")
