#!/usr/bin/env python3
"""Re-pin the analytics slice's oracle row counts.

    python3 perfbench/oracle_pins.py

Builds the benchmark, asks the JVM for the slice's SparkEntry.oracleSql,
runs each oracle in DuckDB over the dataset run.py reads, and writes
perfbench/oracle_pins.json. Every analytics_slice run re-runs the oracles
and fails when a pin no longer matches, so a stale pin cannot hide a wrong
result; re-pin only when a slice member or its oracle changed on purpose.
"""

import json
import os
import subprocess
import sys
import tempfile

import run


def main():
    jars = run.spark_jars()
    classes = run.build(jars)
    with tempfile.TemporaryDirectory(dir=run.BUILD) as tmp:
        out = os.path.join(tmp, "oracles.json")
        subprocess.run(["java", "-cp", classes + os.pathsep + os.path.join(jars, "*"),
                        "perfbench.Main", "--oracles", out], check=True)
        with open(out) as fh:
            oracles = json.load(fh)["oracles"]
    data = run.sf_dir()
    counts = run.oracle_counts(oracles, data)
    pins = {"data": os.path.basename(os.path.normpath(data)),
            "counts": {o["query"]: counts[o["query"]] for o in oracles}}
    with open(run.PINS, "w") as fh:
        json.dump(pins, fh, indent=2)
        fh.write("\n")
    json.dump(pins, sys.stdout, indent=2)
    print()


if __name__ == "__main__":
    main()
