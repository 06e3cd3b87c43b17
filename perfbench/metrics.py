"""Turns one raw result file of the benchmark JVM into metrics.

End-to-end metrics (every workload, untraced run):
  setup_s     JVM + session start plus the median of the repeated set-ups
              (building the warehouse; for analytics_slice the warm pass)
  latency_ms  geometric mean over the operation kinds (the five routes, or
              the slice's queries) of each kind's median latency: a request
              timed from its due time (open-loop phase), or one query
  ops_per_s   operations completed per second, back to back: closed-loop
              requests with nproc clients, or queries

The per-layer metrics (PER_LAYER) come from a traced run; a metric whose
layer the workload does not run reads 0.
"""

import statistics

import stats

ROUTES = ("data_series", "data_page", "export_csv", "discovery_sample", "discovery_raw")
MODULES = ("Subqueries", "Relational", "Analytics", "TextAnalysis", "Dedup", "Similarity",
           "Graph", "Temporal", "Discovery", "Sampling", "TrainPrep", "LayoutQueries", "Parity")
OP_SPANS = ("request", "ingest", "query")

END_TO_END = (("setup_s", "s"), ("latency_ms", "ms"), ("ops_per_s", "1/s"))
# largest share of an operation's wall that its spans may leave unaccounted
# before a traced run counts as failed
UNACCOUNTED_TOL = 0.05

PER_LAYER = (
    [(f"serving.{r}.p50_ms", "ms") for r in ROUTES]
    + [("serving.export_csv.ttfb_ms", "ms"), ("serving.jobs_per_req", "count"),
       ("serving.driver_ms_per_req", "ms"), ("serving.bytes_out_per_req", "B"),
       ("loadgen.late_max_ms", "ms"), ("loadgen.backlog_max", "count"),
       ("sources.requests_per_tick", "count"), ("sources.retries", "count"),
       ("sources.bytes_per_tick", "B"), ("sources.upstream_ms_per_tick", "ms"),
       ("warehouse.ingest_wide_ms", "ms"), ("warehouse.bytes_written_per_tick", "B"),
       ("warehouse.write_amp", "ratio"), ("warehouse.obs_rows", "count"),
       ("warehouse.obs_files", "count"),
       ("engine.jobs", "count"), ("engine.stages", "count"), ("engine.tasks", "count"),
       ("engine.executor_run_s", "s"), ("engine.executor_cpu_s", "s"), ("engine.gc_s", "s"),
       ("engine.shuffle_write_bytes", "B"), ("engine.shuffle_fetch_wait_s", "s"),
       ("engine.spill_bytes", "B"), ("engine.input_bytes", "B"), ("engine.output_bytes", "B"),
       ("engine.driver_gap_s", "s")]
    + [(f"queries.{m}.wall_s", "s") for m in MODULES]
    + [(f"queries.{m}.shuffle_bytes", "B") for m in MODULES]
    + [("streaming.drain_wall_s", "s"),
       ("layer.op.self_ms", "ms"), ("layer.serving.self_ms", "ms"),
       ("layer.warehouse.self_ms", "ms"), ("layer.sources.self_ms", "ms"),
       ("layer.queries.self_ms", "ms"), ("layer.spark_job.self_ms", "ms"),
       ("layer.spark_stage.self_ms", "ms"),
       ("trace.overhead_ms", "ms"), ("trace.overhead_frac", "ratio"),
       ("trace.unaccounted_frac", "ratio"), ("trace.ops", "count"),
       ("jvm.heap_peak_mb", "MB"), ("host.calib_ms", "ms"), ("host.steal_frac", "ratio")])


def setup_s(raw):
    return raw["session_s"] + statistics.median(raw["stage_s"])


def measured_ops(raw):
    """The operations that count towards attempted and failed: requests or
    queries, not warm-up, set-up ingests or phase markers."""
    return [o for o in raw["ops"] if o["kind"] in ("request", "query")
            and o.get("phase") not in ("warm", "setup")]


def ticks(raw):
    """serve_read's set-up refresh ticks (the upserts into a built warehouse)."""
    return [o for o in raw["ops"] if o["kind"] == "ingest" and o["step"] == "tick"]


def op_wall(o):
    return o["end"] - o["start"]


def latencies(raw):
    """Latency samples (ms) of the untraced run by operation kind: each
    route's open-loop requests from their due time, or each query."""
    by_kind = {}
    for o in measured_ops(raw):
        if raw["workload"] == "serve_read":
            if o["phase"] == "open":
                by_kind.setdefault(o["route"], []).append(o["end"] - o["due"])
        else:
            by_kind.setdefault(o["query"], []).append(op_wall(o))
    return by_kind


def end_to_end(raw):
    ops = measured_ops(raw)
    if raw["workload"] == "serve_read":
        closed = [o for o in ops if o["phase"] == "closed"]
        closed_ms = next(o["ms"] for o in raw["ops"] if o.get("kind") == "phase")
        rate = len(closed) / (closed_ms / 1000.0)
    else:
        rate = len(ops) / (sum(op_wall(o) for o in ops) / 1000.0)
    latency = statistics.geometric_mean([statistics.median(v) for v in latencies(raw).values()])
    return {"setup_s": setup_s(raw), "latency_ms": latency, "ops_per_s": rate}


def report(raw):
    """Every end-to-end figure of the workload as (name, value, unit), for
    the human-readable lines before the result."""
    w = raw["workload"]
    ops = measured_ops(raw)
    out = [("setup_s", setup_s(raw), "s"), ("fail_frac", stats.fail_frac(ops), "ratio")]
    if raw["trace"]:  # a traced run's figures are its per-layer metrics
        return out + [("host.calib_ms", raw["calib_ms"], "ms"),
                      ("host.steal_frac", raw.get("steal_frac", 0.0), "ratio")]
    e = end_to_end(raw)
    out.append(("latency_ms", e["latency_ms"], "ms"))
    if w == "serve_read":
        lat = [x for v in latencies(raw).values() for x in v]
        out.append(("p50_ms", statistics.median(lat), f"ms (n={len(lat)})"))
        p = stats.tail_percentile(len(lat))
        if p is not None and p > 50:  # p50 is the line above
            out.append((f"p{p}_ms", stats.percentile(lat, p), f"ms (n={len(lat)})"))
        out.append(("capacity_rps", e["ops_per_s"], "req/s"))
        out.append(("open_loop_rate", raw["counters"]["rate"], "req/s"))
        t = ticks(raw)
        out.append(("tick_p50_ms", statistics.median([op_wall(o) for o in t]), "ms"))
        out.append(("rows_per_s", raw["counters"]["tick_rows"] * len(t)
                    / (sum(op_wall(o) for o in t) / 1000.0), "rows/s"))
        c = raw["counters"]
        out.append(("bytes_per_row", c["warehouse_bytes"] / c["obs_rows"], "B"))
    else:
        out.append(("pass_s", statistics.median(pass_walls(ops).values()) / 1000.0, "s"))
        out.append(("ops_per_s", e["ops_per_s"], "queries/s"))
    out.append(("host.calib_ms", raw["calib_ms"], "ms"))
    out.append(("host.steal_frac", raw.get("steal_frac", 0.0), "ratio"))
    return out


def pass_walls(ops):
    walls = {}
    for o in ops:
        walls[o["pass"]] = walls.get(o["pass"], 0.0) + op_wall(o)
    return walls


# ---------------------------------------------------------------- tracing

def span_tree(raw):
    """Benchmark spans plus Spark job and stage spans, parented: a job
    under the deepest benchmark span of its operation that contains its
    start, a stage under its job, and a fixture chunk under the deepest job
    or stage containing it. Returns id -> span dict."""
    spans = {}
    for s in raw["spans"]:
        spans[s["id"]] = dict(s, kind="bench")
    ops = [s for s in spans.values() if s["name"] in OP_SPANS]
    ops.sort(key=lambda s: s["start"])

    def containing(t, cands):
        best = None
        for c in cands:
            if c["start"] - 1.0 <= t <= c["end"] + 1.0:
                if best is None or c["start"] >= best["start"]:
                    best = c
        return best

    nonfix = [s for s in spans.values() if s["name"] != "sources.fixture_chunk"]
    job_by_stage = {}
    for j in raw["jobs"]:
        op = containing(j["start"], ops)
        if op is None:
            continue
        inner = [s for s in nonfix if s["op"] == op["op"]]
        parent = containing(j["start"], inner)
        jid = f"job{j['id']}"
        spans[jid] = {"id": jid, "parent": parent["id"], "op": op["op"], "name": "spark.job",
                      "start": j["start"], "end": j["end"], "kind": "job"}
        for st in j["stages"]:
            job_by_stage.setdefault(st, []).append(jid)
    for st in raw["stages"]:
        if st.get("start") is None or st.get("end") is None:
            continue
        jobs = [spans[j] for j in job_by_stage.get(st["id"], [])]
        job = containing(st["start"], jobs) if jobs else None
        if job is None:
            continue
        sid = f"stage{st['id']}.{st['attempt']}"
        spans[sid] = dict(st, id=sid, parent=job["id"], op=job["op"], name="spark.stage",
                          kind="stage")
    engine = [s for s in spans.values() if s["kind"] in ("job", "stage")]
    for s in list(spans.values()):
        if s["name"] == "sources.fixture_chunk":
            host = containing(s["start"], [e for e in engine if e["op"] == s["op"]])
            if host is not None:
                s["parent"] = host["id"]
    return spans


LAYER_OF = {"request": "op", "ingest": "op", "query": "op",
            "serving.http": "serving", "warehouse.ingest_wide": "warehouse",
            "sources.fixture_chunk": "sources", "spark.job": "spark_job",
            "spark.stage": "spark_stage"}
PRIMARY = {"serve_read": "request", "analytics_slice": "query"}


def layer_of(name):
    return LAYER_OF.get(name, "queries" if name.startswith("queries.") else name)


def per_layer(raw):
    """Per-layer metrics of a traced run. Engine counters and layer self
    times are per traced operation of the workload's kind (request or
    query); sources and warehouse figures come from serve_read's set-up
    refresh ticks."""
    w = raw["workload"]
    m = {name: 0.0 for name, _ in PER_LAYER}
    ops = measured_ops(raw)
    seq = [o for o in ops if o.get("phase", "seq") == "seq"]
    untraced = [o for o in seq if not o["traced"]]
    spans = span_tree(raw)
    selfs = stats.self_times(spans)
    roots = {s["op"]: s for s in spans.values() if s["name"] in OP_SPANS}
    primary = {op: s for op, s in roots.items() if s["name"] == PRIMARY[w]}
    n_tr = max(1, len(primary))

    # layer self times per traced operation; the refresh layers per tick
    tick_ids = {o["id"] for o in ticks(raw) if o["traced"]} if w == "serve_read" else set()
    for sid, s in spans.items():
        layer = layer_of(s["name"])
        key = f"layer.{layer}.self_ms"
        if layer in ("warehouse", "sources"):
            if s["op"] in tick_ids:
                m[key] += selfs[sid] / len(tick_ids)
        elif s["op"] in primary:
            m[key] += selfs[sid] / n_tr
    # accounting: each operation's wall against its spans' self times plus
    # the union of its jobs
    unacc = []
    for op, s in roots.items():
        total = sum(selfs[k] for k, x in spans.items() if x["op"] == op and x["kind"] == "bench"
                    and x["name"] != "sources.fixture_chunk")
        total += stats.union_length([(x["start"], x["end"]) for x in spans.values()
                                     if x["op"] == op and x["kind"] == "job"], s["start"], s["end"])
        wall = s["end"] - s["start"]
        unacc.append(abs(wall - total) / wall if wall > 0 else 0.0)
    m["trace.unaccounted_frac"] = max(unacc) if unacc else 0.0
    m["trace.ops"] = len(primary)

    # engine counters per traced operation
    jobs = [s for s in spans.values() if s["kind"] == "job" and s["op"] in primary]
    stages = [s for s in spans.values() if s["kind"] == "stage" and s["op"] in primary]
    m["engine.jobs"] = len(jobs) / n_tr
    m["engine.stages"] = len(stages) / n_tr
    m["engine.tasks"] = sum(s["tasks"] for s in stages) / n_tr
    for key, field, scale in (("engine.executor_run_s", "run_ms", 1e-3),
                              ("engine.executor_cpu_s", "cpu_ns", 1e-9),
                              ("engine.gc_s", "gc_ms", 1e-3),
                              ("engine.shuffle_write_bytes", "shuffle_write", 1),
                              ("engine.shuffle_fetch_wait_s", "fetch_wait_ms", 1e-3),
                              ("engine.spill_bytes", "spill", 1),
                              ("engine.input_bytes", "input", 1),
                              ("engine.output_bytes", "output", 1)):
        m[key] = sum(s.get(field, 0) for s in stages) * scale / n_tr
    gaps = [(s["end"] - s["start"]) - stats.union_length(
        [(j["start"], j["end"]) for j in jobs if j["op"] == op], s["start"], s["end"])
        for op, s in primary.items()]
    m["engine.driver_gap_s"] = (sum(gaps) / n_tr) / 1000.0

    # tracing overhead: each operation ran twice in a row, traced and
    # untraced (which first alternates); the median of the pairs' differences
    pairs = {}
    for o in seq:
        if o.get("pair"):
            pairs.setdefault(o["pair"], {})[o["traced"]] = op_wall(o)
    diffs = [p[True] - p[False] for p in pairs.values() if len(p) == 2]
    if diffs:
        m["trace.overhead_ms"] = statistics.median(diffs)
        m["trace.overhead_frac"] = m["trace.overhead_ms"] / statistics.median(
            [op_wall(o) for o in untraced])

    c = raw.get("counters", {})
    m["warehouse.obs_rows"] = c.get("obs_rows", 0)
    m["warehouse.obs_files"] = c.get("obs_files", 0)
    m["jvm.heap_peak_mb"] = raw["heap_peak_mb"]
    m["host.calib_ms"] = raw["calib_ms"]
    m["host.steal_frac"] = raw.get("steal_frac", 0.0)

    if w == "serve_read":
        open_ = [o for o in ops if o["phase"] == "open"]
        for r in ROUTES:
            lat = [o["end"] - o["due"] for o in open_ if o["route"] == r]
            if lat:
                m[f"serving.{r}.p50_ms"] = statistics.median(lat)
        exports = [o for o in seq if o["route"] == "export_csv"]
        if exports:
            m["serving.export_csv.ttfb_ms"] = statistics.median([o["ttfb"] - o["start"] for o in exports])
        m["serving.jobs_per_req"] = m["engine.jobs"]
        m["serving.driver_ms_per_req"] = m["layer.serving.self_ms"]
        m["serving.bytes_out_per_req"] = sum(o["bytes"] for o in seq) / max(1, len(seq))
        m["loadgen.late_max_ms"] = max(o["late"] for o in open_)
        m["loadgen.backlog_max"] = max(o["backlog"] for o in open_)
        t = ticks(raw)
        n = len(t)
        m["sources.requests_per_tick"] = sum(o["requests"] for o in t) / n
        m["sources.retries"] = sum(o["requests"] - o["chunks"] for o in t)
        m["sources.bytes_per_tick"] = sum(o["fetched_bytes"] for o in t) / n
        m["sources.upstream_ms_per_tick"] = sum(o["upstream_ms"] for o in t) / n
        m["warehouse.ingest_wide_ms"] = statistics.median([s["end"] - s["start"] for s in spans.values()
                                                      if s["name"] == "warehouse.ingest_wide"
                                                      and s["op"] in tick_ids])
        written = sum(s.get("output", 0) for s in spans.values()
                      if s["kind"] == "stage" and s["op"] in tick_ids)
        m["warehouse.bytes_written_per_tick"] = written / n
        m["warehouse.write_amp"] = written / sum(o["fetched_bytes"] for o in t)
    else:
        streaming = {o["query"] for o in raw["oracles"] if o["streaming"]}
        for mod in MODULES:
            mine = [o for o in ops if o["module"] == mod]
            if mine:
                m[f"queries.{mod}.wall_s"] = statistics.median([op_wall(o) for o in mine]) / 1000.0
            ids = {o["id"] for o in mine if o["traced"]}
            sb = sum(s.get("shuffle_write", 0) for s in stages if s["op"] in ids)
            m[f"queries.{mod}.shuffle_bytes"] = sb / max(1, len(ids))
        drains = [statistics.median([op_wall(o) for o in ops if o["query"] == q])
                  for q in {o["query"] for o in ops} & streaming]
        if drains:
            m["streaming.drain_wall_s"] = sum(drains) / 1000.0
    return m
