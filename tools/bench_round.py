#!/usr/bin/env python3
"""One-command round bench snapshot: full bench -> gate -> (if time-only
trips) cool-down -> targeted best-of-3 retry -> final gate verdict.

Usage: bench_round.py [SF_DIR] [--old GIT_REF] [--cooldown SECONDS]

Runs graft.Bench over SF_DIR (default /root/testdata/sf0.1), writes
bench_detail.json in the repo root, and gates it against the last
committed snapshot (`git show GIT_REF:bench_detail.json`, default
HEAD). When the gate quarantines time-only trips (exit 3), this driver
re-measures JUST those queries itself after a cool-down — best-of-3,
warm pass on — and re-invokes the gate with the retry detail, so a
round snapshot needs no manual retry loop (the r15 close-out needed
two hand-driven re-measures; this mechanizes them). Exit code is the
final gate verdict: 0 clean, 1 regression, 2 usage/infra error.
"""
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ADD_OPENS_PKGS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def java_cmd():
    cmd = ["java"]
    for p in ADD_OPENS_PKGS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '32g')}",
            "-cp", f"{REPO}/target/scala-2.13/classes:/opt/spark/jars/*",
            "graft.Bench"]
    return cmd


def run_bench(sf_dir, only=None, runs=None):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    if only:
        env["SPARK_GRAFT_BENCH_ONLY"] = ",".join(only)
    if runs:
        env["SPARK_GRAFT_BENCH_RUNS"] = str(runs)
    r = subprocess.run(java_cmd(), cwd=REPO, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    tail = r.stdout.decode().strip().splitlines()[-1:]
    print(f"bench rc={r.returncode} {' '.join(tail)[:200]}")
    return r.returncode


def run_gate(old_path, new_path, retry_path=None):
    cmd = [sys.executable, os.path.join(REPO, "tools", "bench_gate.py"),
           old_path, new_path]
    if retry_path:
        cmd.append(retry_path)
    r = subprocess.run(cmd)
    return r.returncode


def main() -> int:
    args = [a for a in sys.argv[1:]]
    sf_dir, ref, cooldown = "/root/testdata/sf0.1", "HEAD", 180
    pos = []
    i = 0
    while i < len(args):
        if args[i] == "--old":
            ref = args[i + 1]; i += 2
        elif args[i] == "--cooldown":
            cooldown = int(args[i + 1]); i += 2
        else:
            pos.append(args[i]); i += 1
    if pos:
        sf_dir = pos[0]

    old_path = "/tmp/bench_old.json"
    show = subprocess.run(["git", "-C", REPO, "show",
                           f"{ref}:bench_detail.json"],
                          stdout=subprocess.PIPE)
    if show.returncode != 0:
        print(f"cannot read {ref}:bench_detail.json")
        return 2
    open(old_path, "wb").write(show.stdout)

    print(f"== full bench over {sf_dir}")
    if run_bench(sf_dir) != 0:
        print("bench reported errors — inspect bench_detail.json")
        return 2
    new_path = os.path.join(REPO, "bench_detail.json")
    # coverage drift: README family table / SURVEY §8 inventory /
    # SparkEntry.queries are three hand-maintained views of the same
    # names — the snapshot fails if a query landed without its
    # documentation row (fix: the named row by hand, or
    # coverage_check.py --update for counts + the generated inventory)
    print("== coverage check")
    if subprocess.run([sys.executable,
                       os.path.join(REPO, "tools", "coverage_check.py"),
                       new_path]).returncode != 0:
        return 1
    print(f"== gate vs {ref}")
    rc = run_gate(old_path, new_path)
    if rc != 3:
        return rc

    noise = json.load(open(os.path.join(REPO, "bench_noise_pending.json")))["queries"]
    print(f"== {len(noise)} time-only trip(s); cool-down {cooldown}s, "
          "then targeted best-of-3 retry")
    time.sleep(cooldown)
    if run_bench(sf_dir, only=noise, runs=3) != 0:
        print("targeted retry reported errors")
        return 2
    retry_path = os.path.join(REPO, "bench_detail_targeted.json")
    print("== final gate with retry detail")
    rc = run_gate(old_path, new_path, retry_path)
    # Record the retry measurements NEXT TO the main numbers — never
    # rewrite them. An earlier revision merged min(main, retry) into the
    # snapshot; that estimator is biased LOW for time-BIMODAL queries
    # (q_sim_jl swings 1.2↔3.5 s with identical plan and bytes), and a
    # fluke-low committed baseline makes every honest later measurement
    # read as a regression. The main run's best-of-N stands as the
    # snapshot; "retry_times" preserves the quiet-window evidence for
    # whoever audits a confirmed trip.
    try:
        detail = json.load(open(new_path))
        retry_d = json.load(open(retry_path))
        detail["retry_times"] = {
            q: retry_d["queries"][q] for q in noise
            if q in retry_d.get("queries", {})}
        json.dump(detail, open(new_path, "w"))
    except OSError:
        pass
    return rc


if __name__ == "__main__":
    sys.exit(main())
