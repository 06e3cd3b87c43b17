#!/usr/bin/env python3
"""Round-over-round bench gate: plan fingerprints and shuffle/spill
bytes first, wall time second.

Usage: bench_gate.py OLD_bench_detail.json NEW_bench_detail.json [RETRY_detail.json]

A local[32] host has fast loopback shuffle, so a plan regression that
doubles exchange volume can ship with flat wall-times — and exchange
volume is exactly what kills the 100 TB deploy. The shared host ALSO
has multi-minute degradation phases that inflate wall-times 30-60%
with byte-identical shuffles (r13 assortativity, r14 winsorize), so
the axes get different trust levels:

  HARD (deterministic, fail immediately):
    plan regression:   the query's plan FINGERPRINT (join/exchange
                        operator counts + scan pushdown/schema hashes,
                        emitted by Bench as "plan_fp") differs from the
                        committed pin in tools/plan_fingerprints.json
                        (or from OLD's plan_fp when no pin exists) —
                        catches a silent broadcast→SMJ demotion or a
                        lost pushdown even when wall time is flat.
                        Skipped for queries Bench marked
                        plan_fp_volatile (AQE near-threshold flips) or
                        listed in bench_flips.json. An INTENTIONAL
                        plan change is acknowledged by re-pinning:
                        tools/plan_fp.py bench_detail.json
    shuffle regression: new > 1.5 x old AND new - old > 65536 bytes
    spill  regression: spill went 0 -> nonzero (or > 1.5 x nonzero old)
    codegen regression: the warm pass compiles > 1.5 x old AND at least
                        4 more generated classes ("compiles", Bench's
                        CodegenMetrics delta) — an evicted codegen cache
                        or a plan that emits new source on every run.
                        Only when both snapshots carry the field;
                        plan-volatile queries are exempt, as for
                        fingerprints (another plan compiles other
                        classes).
  NOISE-QUARANTINED (host-jitter-prone, re-measure before failing):
    time regression:   new > 1.5 x old AND new - old > 0.4 s
                        AND the query's shuffle bytes did NOT regress

  * no RETRY file: time-only trips are QUARANTINED — written to the
    untracked bench_noise_pending.json next to NEW (the tracked
    bench_noise.json holds only the hand-written "notes" ledger and is
    never rewritten) and printed as `noise`; exit 3 means
    "re-measure these, then re-invoke with the retry detail".
    tools/bench_round.py runs the whole loop (full bench → gate →
    cool-down → targeted best-of-3 retry → final gate) in ONE command.
  * with RETRY: a quarantined query fails only if min(new, retry)
    still trips against old — two independent inflated runs are a
    regression, one is host noise. A quarantined query MISSING from
    the retry detail stays quarantined (exit 3), never silently
    confirmed. Confirmed time regressions are annotated with the
    fingerprint verdict: plan-identical ⇒ suspect GC/JIT/host, plan
    changed ⇒ the plan is the cause.

Time-only trips print the NEW/OLD ratio of the snapshots' host
calibration ("calib_ms", a fixed CPU loop) when both carry it: a trip
on a host that reads 1.4x slower on that loop is most likely the host.

Absolute floors keep sub-noise queries from tripping the ratios. New
queries (absent from OLD) and removed ones are reported, not failed.
Exit 0 clean / 1 hard or confirmed regressions / 3 quarantine pending.
The old side is the last committed snapshot
(`git show <ref>:bench_detail.json`).
"""
import json
import os
import sys

TIME_RATIO, TIME_FLOOR_S = 1.5, 0.4
SHUF_RATIO, SHUF_FLOOR_B = 1.5, 65536
SPILL_RATIO = 1.5
COMPILE_RATIO, COMPILE_FLOOR = 1.5, 4
TOOLS_DIR = os.path.dirname(os.path.abspath(__file__))
FLIPS_FILE = os.path.join(TOOLS_DIR, "bench_flips.json")
FP_PINS_FILE = os.path.join(TOOLS_DIR, "plan_fingerprints.json")


def load_json(path, default=None):
    try:
        return json.load(open(path))
    except OSError:
        return default


def known_flip(q, b0, b1):
    """True iff old AND new each match (within 10%) distinct states of a
    checked-in AQE flip pair for this query — plan nondeterminism on an
    untouched query, not a regression."""
    flips = load_json(FLIPS_FILE, {})
    states = flips.get(q)
    if not isinstance(states, list):
        return False
    def match(b):
        return [s for s in states if s > 0 and abs(b - s) <= 0.1 * s]
    m0, m1 = match(b0), match(b1)
    return bool(m0) and bool(m1) and set(m0) != set(m1)


def main() -> int:
    if len(sys.argv) not in (3, 4):
        print(__doc__)
        return 2
    old = json.load(open(sys.argv[1]))
    new = json.load(open(sys.argv[2]))
    retry = json.load(open(sys.argv[3])) if len(sys.argv) == 4 else None
    ot, nt = old["queries"], new["queries"]
    os_, ns = old.get("shuffle_bytes", {}), new.get("shuffle_bytes", {})
    op, np_ = old.get("spill_bytes", {}), new.get("spill_bytes", {})
    rt = retry["queries"] if retry else {}
    oc, nc = old.get("compiles"), new.get("compiles")
    c_old, c_new = old.get("calib_ms"), new.get("calib_ms")
    host = f"; host calib {c_new / c_old:.2f}x" if c_old and c_new else ""

    # fingerprint reference: committed pins first (the acknowledged
    # state), OLD's own plan_fp as fallback for un-pinned queries
    pins = load_json(FP_PINS_FILE, {})
    ever_volatile = set(pins.pop("_volatile_ever", []))
    old_fp = {**old.get("plan_fp", {}), **pins}
    new_fp = new.get("plan_fp", {})
    volatile = ever_volatile \
        | set(old.get("plan_fp_volatile", [])) \
        | set(new.get("plan_fp_volatile", [])) \
        | set(load_json(FLIPS_FILE, {}).keys())
    if retry:
        volatile |= set(retry.get("plan_fp_volatile", []))

    def fp_verdict(q):
        """'same' / 'changed' / None (no reference or volatile)."""
        if q in volatile:
            return None
        a, b = old_fp.get(q), new_fp.get(q)
        if a is None or b is None:
            return None
        return "same" if a == b else "changed"

    hard, noise, confirmed, pending = [], [], [], []
    for q in sorted(nt):
        if q not in ot:
            print(f"note  {q}: new query ({nt[q]:.2f} s, "
                  f"{ns.get(q, -1)} shuffle B)")
            continue
        shuf_trip = False
        b0, b1 = os_.get(q, -1), ns.get(q, -1)
        if b0 >= 0 and b1 > SHUF_RATIO * b0 and b1 - b0 > SHUF_FLOOR_B:
            if known_flip(q, b0, b1):
                print(f"flip  {q}: {b0} B -> {b1} B — known AQE "
                      "near-threshold broadcast flip, cleared")
            else:
                shuf_trip = True
                hard.append(f"SHUF  {q}: {b0} B -> {b1} B "
                            f"({b1 / max(b0, 1):.2f}x)")
        p0, p1 = op.get(q, 0), np_.get(q, 0)
        if p1 > 0 and (p0 == 0 or p1 > SPILL_RATIO * p0):
            hard.append(f"SPILL {q}: {p0} B -> {p1} B")
        if oc is not None and nc is not None and q not in volatile:
            c0, c1 = oc.get(q, -1), nc.get(q, -1)
            if c0 >= 0 and c1 > COMPILE_RATIO * c0 and c1 - c0 >= COMPILE_FLOOR:
                hard.append(f"CGEN  {q}: {c0} -> {c1} classes compiled "
                            "on the warm pass")
        verdict = fp_verdict(q)
        if verdict == "changed":
            # Emit the PLAN entry even when the same query also
            # shuffle-trips: the runs where bytes moved are exactly the
            # ones where the plan most likely changed, and the
            # adjudication/re-pin workflow needs the fingerprint diff
            # in hand (previously suppressed — the gate failed via SHUF
            # but hid the plan evidence).
            hard.append(
                f"PLAN  {q}: fingerprint changed"
                + (" (with shuffle trip)" if shuf_trip else "") + "\n"
                f"      pinned: {old_fp.get(q)}\n"
                f"      now:    {new_fp.get(q)}\n"
                f"      (intentional? re-pin: tools/plan_fp.py {sys.argv[2]})")
        t0, t1 = ot[q], nt[q]
        if t0 >= 0 and t1 > TIME_RATIO * t0 and t1 - t0 > TIME_FLOOR_S:
            if shuf_trip:
                # byte-confirmed: the time trip is real, fold into hard
                hard.append(f"TIME  {q}: {t0:.2f} s -> {t1:.2f} s "
                            f"({t1 / t0:.2f}x, shuffle-confirmed)")
            elif retry is not None:
                if q not in rt:
                    pending.append(q)
                    print(f"noise {q}: {t0:.2f} s -> {t1:.2f} s — NOT in "
                          "the retry detail; still quarantined, "
                          "re-measure it")
                    continue
                t2 = rt[q]
                best = min(t1, t2)
                if best > TIME_RATIO * t0 and best - t0 > TIME_FLOOR_S:
                    cause = {"same": "plan-identical: suspect GC/JIT/host",
                             "changed": "PLAN CHANGED — see fingerprints",
                             None: "no fingerprint reference"}[verdict]
                    confirmed.append(
                        f"TIME  {q}: {t0:.2f} s -> {t1:.2f} s, "
                        f"retry {t2:.2f} s (both trip; {cause}{host})")
                else:
                    print(f"noise {q}: {t0:.2f} s -> {t1:.2f} s, "
                          f"retry {t2:.2f} s — host jitter, cleared")
            else:
                noise.append(q)
                fpn = {"same": "fingerprint identical",
                       "changed": "fingerprint CHANGED",
                       None: "no fingerprint reference"}[verdict]
                print(f"noise {q}: {t0:.2f} s -> {t1:.2f} s "
                      f"({t1 / t0:.2f}x{host}) with flat shuffle bytes "
                      f"({b0} -> {b1}), {fpn} — quarantined, re-measure")
    for q in sorted(set(ot) - set(nt)):
        print(f"note  {q}: removed (was {ot[q]:.2f} s)")

    for r in hard + confirmed:
        print(f"REGRESSION {r}")
    still_open = noise if retry is None else pending
    if still_open:
        noise_path = os.path.join(
            os.path.dirname(os.path.abspath(sys.argv[2])),
            "bench_noise_pending.json")
        json.dump({"queries": still_open}, open(noise_path, "w"), indent=1)
        print(f"gate: {len(still_open)} time-only trip(s) quarantined -> "
              f"{noise_path}; re-measure and re-invoke with the retry "
              "detail (exit 3)")
        return 3 if not (hard or confirmed) else 1
    if not (hard or confirmed):
        print("gate: clean (plan/shuffle/spill hard, time noise-screened, "
              f"{len(set(nt) & set(ot))} shared queries)")
    return 1 if (hard or confirmed) else 0


if __name__ == "__main__":
    sys.exit(main())
