#!/usr/bin/env python3
"""Parallel, timeout-bounded oracle compare (the sf0.1-scale variant).

Usage: oracle_check_par.py <verify_out_dir> <sf_dir> <result_json>
         [timeout_s] [workers] [only_csv]

Per query: sort columns, compare row counts then exact values, flag
int/float dtype splits. Each oracle replays in its OWN killable subprocess under a hard wall-clock timeout:
some reference replays (the WITH RECURSIVE graph walks at sf0.1) are
superlinear in DuckDB where the engine side is linear, and a compare
harness must bound them rather than hang. Timeouts are recorded as
status "oracle_timeout" — the ENGINE result for such a query is still
hash-verified at sf0.01 by the driver gate; the timeout marks the
ORACLE's replay cost at 10x data, not an engine mismatch.

Writes {"n", "pass", "fail": [..], "timeout": [..],
"results": {name: status}} to result_json. Exit 1 iff any real fail.
"""
import json
import multiprocessing as mp
import os
import sys
import time

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def check_one(out_dir, sf_dir, name, sql, q):
    import duckdb
    import glob
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    pq = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not pq:
        q.put("no_spark_output")
        return
    s = con.execute(
        f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchdf()
    try:
        o = con.execute(sql).fetchdf()
    except Exception as e:
        q.put(f"oracle_error: {str(e)[:160]}")
        return
    s = s[sorted(s.columns)]
    o = o[sorted(o.columns)]
    if list(s.columns) != list(o.columns):
        q.put(f"schema: {list(s.columns)} vs {list(o.columns)}")
        return
    if len(s) != len(o):
        q.put(f"rows: {len(s)} vs {len(o)}")
        return
    for c in s.columns:
        if {s[c].dtype.kind, o[c].dtype.kind} == {"i", "f"}:
            q.put(f"dtype: {c} int/float split")
            return
        a, b = s[c].values, o[c].values
        if s[c].dtype == object:
            # bool(): pd.isna returns numpy.bool_ for numpy scalars in
            # object columns, and `np.bool_(True) is True` is False —
            # identity comparison would flag matching nulls as mismatches
            eq = all((x == y) or (bool(pd.isna(x)) and bool(pd.isna(y)))
                     for x, y in zip(a, b))
        else:
            eq = bool(((pd.isna(a) & pd.isna(b)) | (a == b)).all())
        if not eq:
            q.put(f"values: {c}")
            return
    q.put("pass")


def main():
    out_dir, sf_dir, result_json = sys.argv[1:4]
    timeout = int(sys.argv[4]) if len(sys.argv) > 4 else 300
    workers = int(sys.argv[5]) if len(sys.argv) > 5 else 8
    only = set(sys.argv[6].split(",")) if len(sys.argv) > 6 else None
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = sorted(n for n in oracle
                   if os.path.isdir(f"{out_dir}/{n}")
                   and (only is None or n in only))
    results = {}
    running = {}  # name -> (Process, Queue, deadline)
    todo = list(names)
    while todo or running:
        while todo and len(running) < workers:
            n = todo.pop(0)
            q = mp.Queue()
            p = mp.Process(target=check_one,
                           args=(out_dir, sf_dir, n, oracle[n], q))
            p.start()
            running[n] = (p, q, time.time() + timeout)
        time.sleep(0.3)
        for n in list(running):
            p, q, deadline = running[n]
            if not q.empty():
                results[n] = q.get()
                p.join(5)
                if p.is_alive():
                    p.terminate()
                del running[n]
                print(f"{n}: {results[n]}", flush=True)
            elif not p.is_alive():
                results[n] = "worker_died"
                del running[n]
                print(f"{n}: worker_died", flush=True)
            elif time.time() > deadline:
                p.terminate()
                p.join(10)
                if p.is_alive():
                    p.kill()
                results[n] = "oracle_timeout"
                del running[n]
                print(f"{n}: oracle_timeout ({timeout}s)", flush=True)
    fails = sorted(n for n, st in results.items()
                   if st not in ("pass", "oracle_timeout"))
    touts = sorted(n for n, st in results.items() if st == "oracle_timeout")
    summary = {"n": len(names),
               "pass": sum(1 for v in results.values() if v == "pass"),
               "fail": fails, "timeout": touts, "results": results}
    json.dump(summary, open(result_json, "w"), indent=1)
    print(f"== {summary['pass']}/{summary['n']} pass, "
          f"{len(fails)} fail, {len(touts)} oracle-timeout")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
