#!/usr/bin/env python3
"""Self-test for bench_gate.py's verdict logic — the gate is the round
snapshot's gatekeeper, so its own behavior is pinned here: fingerprint
hard-trips, volatile/flips exemptions, time-trip quarantine (to an
untracked file), the missing-retry rule, and retry adjudication
annotations.

Run: python3 tools/test_bench_gate.py  (exit 0 = all cases pass)
"""
import json
import os
import subprocess
import sys
import tempfile

TOOLS = os.path.dirname(os.path.abspath(__file__))
GATE = os.path.join(TOOLS, "bench_gate.py")


def detail(queries, shuffle=None, spill=None, fp=None, volatile=None):
    return {
        "queries": queries,
        "shuffle_bytes": shuffle or {q: 1000 for q in queries},
        "spill_bytes": spill or {q: 0 for q in queries},
        "plan_fp": fp or {},
        "plan_fp_volatile": volatile or [],
    }


def run_gate(old, new, retry=None, pins=None, workdir=None):
    d = workdir or tempfile.mkdtemp()
    po, pn = os.path.join(d, "old.json"), os.path.join(d, "new.json")
    json.dump(old, open(po, "w"))
    json.dump(new, open(pn, "w"))
    cmd = [sys.executable, GATE, po, pn]
    if retry is not None:
        pr = os.path.join(d, "retry.json")
        json.dump(retry, open(pr, "w"))
        cmd.append(pr)
    # isolate the pins/flips files the gate reads from its own dir
    env = dict(os.environ)
    gate_copy = os.path.join(d, "bench_gate.py")
    open(gate_copy, "w").write(open(GATE).read())
    if pins is not None:
        json.dump(pins, open(os.path.join(d, "plan_fingerprints.json"), "w"))
    json.dump({}, open(os.path.join(d, "bench_flips.json"), "w"))
    cmd[1] = gate_copy
    r = subprocess.run(cmd, env=env, stdout=subprocess.PIPE)
    return r.returncode, r.stdout.decode()


def check(name, cond, out=""):
    if not cond:
        print(f"FAIL {name}\n{out}")
        sys.exit(1)
    print(f"ok   {name}")


def main():
    base = {"q_a": 1.0, "q_b": 2.0}

    # clean: identical details
    rc, out = run_gate(detail(base), detail(base))
    check("clean pass", rc == 0, out)

    # fingerprint change vs pins -> hard trip
    rc, out = run_gate(detail(base), detail(base, fp={"q_a": "SMJ=1"}),
                       pins={"q_a": "BHJ=1"})
    check("fp change trips", rc == 1 and "PLAN  q_a" in out, out)

    # fingerprint change on a volatile query -> exempt
    rc, out = run_gate(detail(base),
                       detail(base, fp={"q_a": "SMJ=1"}, volatile=["q_a"]),
                       pins={"q_a": "BHJ=1"})
    check("volatile fp exempt", rc == 0, out)

    # planted SORT DEMOTION under the widened taxonomy: a top-k that was
    # TakeOrderedAndProject degrading to a global sort + separate limit
    # is invisible to join/exchange counts and to shuffle bytes — the
    # new sort/limit node classes must hard-trip it
    rc, out = run_gate(
        detail(base),
        detail(base, fp={"q_a": "GlobalLimitExec=1;SortExec[global]=1"}),
        pins={"q_a": "TakeOrderedAndProjectExec=1"})
    check("sort demotion trips", rc == 1 and "PLAN  q_a" in out, out)

    # planted LOST PARTIAL AGGREGATE: Partial+Final collapsing to a
    # Complete-mode aggregate multiplies exchange volume at scale while
    # operator counts stay flat — the aggregate MODE classes catch it
    rc, out = run_gate(
        detail(base),
        detail(base, fp={"q_a": "HashAggregateExec[Complete]=1;ShuffleExchangeExec=1"}),
        pins={"q_a": "HashAggregateExec[Final]=1;HashAggregateExec[Partial]=1;"
                     "ShuffleExchangeExec=1"})
    check("lost partial agg trips", rc == 1 and "PLAN  q_a" in out, out)

    # PLAN diff must stay visible when the same query ALSO shuffle-trips
    # (previously suppressed exactly when the plan most likely changed)
    rc, out = run_gate(
        detail(base),
        detail(base, shuffle={"q_a": 1000000, "q_b": 1000},
               fp={"q_a": "SortMergeJoinExec=1"}),
        pins={"q_a": "BroadcastHashJoinExec=1"})
    check("plan diff shown beside shuffle trip",
          rc == 1 and "SHUF  q_a" in out and "PLAN  q_a" in out
          and "with shuffle trip" in out, out)

    # time-only trip with flat bytes -> quarantine exit 3
    rc, out = run_gate(detail(base), detail({"q_a": 2.0, "q_b": 2.0}))
    check("time trip quarantined", rc == 3 and "quarantined" in out, out)

    # the quarantine list goes to the untracked bench_noise_pending.json;
    # the tracked bench_noise.json (the notes ledger) stays byte-identical
    d = tempfile.mkdtemp()
    ledger = os.path.join(d, "bench_noise.json")
    open(ledger, "w").write('{\n "notes": {\n  "q_a": "a hand-written note"\n }\n}')
    before = open(ledger, "rb").read()
    rc, out = run_gate(detail(base), detail({"q_a": 2.0, "q_b": 2.0}),
                       workdir=d)
    pending = json.load(open(os.path.join(d, "bench_noise_pending.json")))
    check("trip leaves the tracked ledger untouched",
          rc == 3 and open(ledger, "rb").read() == before
          and pending["queries"] == ["q_a"], out)

    # shuffle regression -> hard even with flat time
    rc, out = run_gate(detail(base),
                       detail(base, shuffle={"q_a": 1000000, "q_b": 1000}))
    check("shuffle hard trip", rc == 1 and "SHUF  q_a" in out, out)

    # retry clears the time trip
    rc, out = run_gate(detail(base), detail({"q_a": 2.0, "q_b": 2.0}),
                       retry=detail({"q_a": 1.05}))
    check("retry clears", rc == 0 and "host jitter, cleared" in out, out)

    # retry confirms, annotated plan-identical via pins
    rc, out = run_gate(detail(base, fp={"q_a": "BHJ=1"}),
                       detail({"q_a": 2.0, "q_b": 2.0}, fp={"q_a": "BHJ=1"}),
                       retry=detail({"q_a": 1.9}))
    check("retry confirms + plan-identical note",
          rc == 1 and "plan-identical" in out, out)

    # quarantined query MISSING from retry -> still exit 3, never confirmed
    rc, out = run_gate(detail(base), detail({"q_a": 2.0, "q_b": 2.0}),
                       retry=detail({"q_b": 2.0}))
    check("missing retry stays quarantined",
          rc == 3 and "NOT in" in out and "REGRESSION" not in out, out)

    # spill 0 -> nonzero is hard
    rc, out = run_gate(detail(base),
                       detail(base, spill={"q_a": 5000000, "q_b": 0}))
    check("spill hard trip", rc == 1 and "SPILL q_a" in out, out)

    # warm-pass compile counts gate like shuffle bytes, only when both
    # snapshots carry them; a time-only trip shows the host calibration
    # ratio
    grown = dict(detail(base), compiles={"q_a": 0, "q_b": 8})
    rc, out = run_gate(dict(detail(base), compiles={"q_a": 0, "q_b": 0}), grown)
    check("compile growth trips", rc == 1 and "CGEN  q_b: 0 -> 8" in out
          and "q_a" not in out, out)
    rc, out = run_gate(detail(base), grown)
    check("compiles absent from old: no trip", rc == 0, out)
    rc, out = run_gate(dict(detail(base), calib_ms=100.0),
                       dict(detail({"q_a": 2.0, "q_b": 2.0}), calib_ms=140.0))
    check("time trip shows host calib ratio",
          rc == 3 and "host calib 1.40x" in out, out)

    # new + removed queries are notes, not failures
    rc, out = run_gate(detail(base), detail({"q_a": 1.0, "q_c": 9.0}))
    check("new/removed are notes",
          rc == 0 and "new query" in out and "removed" in out, out)

    print("all gate cases pass")


if __name__ == "__main__":
    main()
