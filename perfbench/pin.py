#!/usr/bin/env python3
"""Regenerates the pinned expected outputs in perfbench/pins/ from the
current program: the check values of every input window (extract, clean)
or of the fixed tables (suite). Run it only at a commit whose outputs are
known good, and commit the result with a reason.

    python3 perfbench/pin.py [extract] [clean] [suite]
"""
import json
import os
import shutil
import sys

import run


def main(workloads):
    jar = run.build.build()
    for w in workloads or run.WORKLOADS:
        work = os.path.join(run.ROOT, ".bench_work", f"pin-{w}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            out = os.path.join(run.HERE, "pins", f"{w}.json")
            if not run.jvm(jar, work, ["--workload", w, "--pin", out], timeout_s=1800):
                return 1
        finally:
            shutil.rmtree(work, ignore_errors=True)
        with open(out) as f:
            doc = json.load(f)
        with open(out, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"pinned {w}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
