#!/usr/bin/env python3
"""The benchmark's own test: a wrong answer must fail the run. Runs the
extract workload once against a copy of the pins with one checksum digit
changed (expects exit 1 and "correct": false) and once against the
committed pins (expects exit 0 and "correct": true).

    python3 perfbench/test_pins.py
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(pins):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "extract",
                        "--seed", "0", "--seconds", "1", "--trace", "0", "--pins", pins],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])


def main():
    pins = os.path.join(HERE, "pins")
    bad = os.path.join(ROOT, ".bench_work", f"test-pins-{os.getpid()}")
    shutil.rmtree(bad, ignore_errors=True)
    shutil.copytree(pins, bad)
    try:
        path = os.path.join(bad, "extract.json")
        with open(path) as f:
            doc = json.load(f)
        pin = doc["windows"]["0"]
        pin["checksum"] = pin["checksum"][:-1] + ("0" if pin["checksum"][-1] != "0" else "1")
        with open(path, "w") as f:
            json.dump(doc, f)
        code, result = bench(bad)
        assert code != 0 and result["correct"] is False and result["failed"] >= 1, \
            f"corrupted pin was not detected: exit {code}, {result}"
    finally:
        shutil.rmtree(bad, ignore_errors=True)
    code, result = bench(pins)
    assert code == 0 and result["correct"] is True and result["failed"] == 0, \
        f"committed pins fail: exit {code}, {result}"
    print("ok: corrupted pin exits non-zero, committed pins pass")


if __name__ == "__main__":
    main()
