#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

Builds the program (src/main/scala) and the benchmark's JVM side
(perfbench/scala) with the Scala compiler that ships in Spark's jars, runs
perfbench.Main in a fresh local[nproc] session, checks every operation,
and prints human-readable lines followed by one JSON result line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics of a traced run (its
spans are written under .bench_build/results/). Exits non-zero on any
failed operation. See perfbench/NOTES.md.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("serve_read", "analytics_slice")
BUILD = os.path.join(ROOT, ".bench_build")
PINS = os.path.join(HERE, "oracle_pins.json")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
JVM_TIMEOUT_S = 165
# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt sets them)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def read_root(name):
    """Text of a file at the repository root, or "" when it is absent."""
    path = os.path.join(ROOT, name)
    if not os.path.exists(path):
        return ""
    with open(path) as fh:
        return fh.read()


def find_jars():
    """The Spark jars the project builds against: $SPARK_HOME/jars, else
    build.sbt's `unmanagedBase`; None when neither has a Scala compiler."""
    dirs = [os.path.join(os.environ["SPARK_HOME"], "jars")] if "SPARK_HOME" in os.environ else []
    dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', read_root("build.sbt"))
    return next((d for d in dirs if glob.glob(os.path.join(d, "scala-compiler-*.jar"))), None)


def spark_jars():
    jars = find_jars()
    if jars is None:
        fail("no Spark jars with a Scala compiler ($SPARK_HOME/jars or build.sbt unmanagedBase)")
    return jars


def sf_dir():
    """The sf0.1 dataset: $PERFBENCH_DATA, else the sf 0.1 directory
    TESTDATA.md lists."""
    if "PERFBENCH_DATA" in os.environ:
        return os.environ["PERFBENCH_DATA"]
    rows = re.findall(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", read_root("TESTDATA.md"), re.M)
    if not rows:
        fail("no dataset: set PERFBENCH_DATA or list sf 0.1 in TESTDATA.md")
    return rows[0].rstrip("/")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    if not prog:
        fail("no program sources under src/main/scala")
    if not bench:
        fail("no benchmark sources under perfbench/scala")
    return prog, bench


def build(jars):
    """Compile program + benchmark once per source digest; returns the
    classes directory."""
    prog, bench = sources()
    h = hashlib.sha256()
    for f in prog + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    for stale in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(stale, ignore_errors=True)
    os.makedirs(out)
    cp = os.path.join(jars, "*")
    for files, classpath in ((prog, cp), (bench, out + os.pathsep + cp)):
        r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                            "-nowarn", "-d", out, "-classpath", classpath] + files,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(out, ignore_errors=True)
            fail("build failed:\n" + r.stdout[-4000:])
    open(os.path.join(out, ".ok"), "w").close()
    return out


def run_jvm(classes, jars, args, log):
    cmd = (["java", "-Xmx3g", "-Xss8m"] + ADD_OPENS
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={args['work']}/tmp",
              "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"]
           + [x for k, v in args.items() for x in (f"--{k}", str(v))])
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def oracle_counts(oracles, data):
    """Row counts of the slice's DuckDB oracles, run fresh."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO %d" % len(os.sched_getaffinity(0)))
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return {o["query"]: len(con.execute(o["sql"]).fetchall()) for o in oracles}


def check_ops(raw, data):
    """Mark each measured operation's correctness in place; returns notes
    on anything that failed."""
    ops = metrics.measured_ops(raw)
    notes = []
    for c in raw.get("checks", []):
        if not c["ok"]:
            notes.append(f"{c['name']}: {c['err']}")
            for o in ops:  # every operation ran against the wrong state
                o["ok"] = False
    if raw["workload"] == "analytics_slice":
        fresh = oracle_counts(raw["oracles"], data)
        with open(PINS) as fh:
            pinned = json.load(fh)
        pins = pinned["counts"]
        if pinned["data"] != os.path.basename(os.path.normpath(data)):
            notes.append(f"pins are for {pinned['data']}, the run read {data}")
        for q, n in fresh.items():
            if pins.get(q) != n:
                notes.append(f"pin for {q} is {pins.get(q)}, fresh oracle counts {n}")
        for o in ops:
            want = fresh[o["query"]]
            if o["ok"] and (o["count"] != want or pins.get(o["query"]) != want):
                o["ok"] = False
                o["err"] = f"count {o['count']}, oracle {want}, pin {pins.get(o['query'])}"
    notes += [f"op {o['id']} {o.get('route', o.get('query', o['kind']))}: {o['err']}"
              for o in ops if not o["ok"] and o.get("err")][:10]
    return notes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    data = sf_dir() if a.workload == "analytics_slice" else ""
    if data and not os.path.exists(os.path.join(data, "lineitem.parquet")):
        fail(f"no dataset at {data}")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, tag + ".raw.json")
    log = os.path.join(results, tag + ".log")
    if os.path.exists(out):
        os.remove(out)
    steal0, total0 = cpu_ticks()
    try:
        rc = run_jvm(classes, jars, {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "cpus": len(os.sched_getaffinity(0)), "work": work, "data": data, "out": out}, log)
        if rc != 0 or not os.path.exists(out):
            fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}; see {log}")
        with open(out) as fh:
            raw = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = cpu_ticks()
    raw["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)

    notes = check_ops(raw, data)
    attempted, failed = stats.fail_counts(metrics.measured_ops(raw))
    if a.trace:
        tree = metrics.span_tree(raw)
        with open(os.path.join(results, tag + ".spans.json"), "w") as fh:
            json.dump(sorted(tree.values(), key=lambda s: (s["start"], str(s["id"]))), fh)
        values, units = metrics.per_layer(raw), dict(metrics.PER_LAYER)
        if values["trace.unaccounted_frac"] > metrics.UNACCOUNTED_TOL:
            notes.append(f"spans leave {values['trace.unaccounted_frac']:.3f} of an operation's"
                         f" wall unaccounted (tolerance {metrics.UNACCOUNTED_TOL})")
    else:
        values, units = metrics.end_to_end(raw), dict(metrics.END_TO_END)
    print(f"# {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    for name, value, unit in metrics.report(raw):
        print(f"#   {name} = {value:.6g} {unit}")
    for n in notes:
        print(f"#   FAILED {n}")
    result = {"correct": failed == 0 and not notes, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
