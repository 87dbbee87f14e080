"""Per-layer metrics from a traced run (``run.py --trace 1``).

The trace agent (``perfbench/trace``) records spans around the program's
layer entry points and a Spark listener records jobs, tasks, cache block
updates and SQL planning phases.  Each benchmark call is matched to its
``McpServer.handleLine`` span (calls are strictly sequential: one closed-loop
client), and every Spark event is charged to the call whose span contains it.

Self times of one call, which add up to its traced wall time:
  planning  analysis + optimization + physical planning of its SQL executions
  sched     time inside Spark jobs when none of their tasks is running
  exec      time inside Spark jobs when a task is running
  residual  the rest: driver work outside planning and jobs

Metrics ("per read": median over the traced phase's read calls; "per cycle":
summed over a timed cycle, median over cycles), with the end-to-end metric
each should move:
  mcp.frame_ms              handleLine time outside McpDispatcher.handle per
                            read; a guard, about 0
  mcp.response_bytes        response frame size per read
  ingest.fetch_ms / _bytes  RemoteFetcher.readLogFile per load_logs_from_ssh:
                            pass_s on churn, setup_s elsewhere
  ingest.load_ms            LogCatalog.loadContent per load: pass_s on churn
  analyze.refill_ms         first read after a load minus a warm analyze:
                            refresh_p50_ms
  cache.bytes_written       block-store bytes cached per cycle: refresh_p50_ms
  cache.rewrite_ratio       bytes a refresh caches over the reloaded node's
                            share of the cache; 1 when only that node is
                            rewritten, the node count today: refresh_p50_ms
  cache.bytes_resident      cached bytes at the end: setup_s
  report.actions_per_call   SQL executions per read: analyze_p50_ms,
                            read_gmean_ms on triage
  report.render_ms          Reports.render* self time per read
  query.self_ms             LogQueries self time per cycle
  spark.jobs_per_call / tasks_per_call / planning.ms_per_call / sched.delay_ms
                            per read: read_gmean_ms on triage
  sched.deserialize_ms      task deserialization per read; LogCatalog.linesDf
                            ships driver-side rows inside every raw scan
  exec.run_s / cpu_s / gc_s / shuffle_bytes / spill_bytes
                            task totals per cycle: refresh_p50_ms on churn
  driver.residual_ms        per read: read_gmean_ms on triage
  spark.failed_tasks        over all traced calls: correctness
  analyze_call.*            mean self times of a warm analyze_cluster
  trace.pass_s / overhead_s the traced pass_s, and it minus the same
                            server's untraced pass_s
"""

import bisect
import json
import statistics


def _union_ms(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _med(values):
    return statistics.median(values) if values else 0.0


class CallTrace:
    def __init__(self, rec, t0_us, t1_us):
        self.rec = rec
        self.t0, self.t1 = t0_us / 1000.0, t1_us / 1000.0  # ms
        self.wall = self.t1 - self.t0
        self.spans, self.jobs, self.tasks, self.sql, self.blocks = [], {}, [], [], []

    def self_ms(self, layer):
        """Self time of a layer's spans: duration minus nested spans of other layers."""
        own = [s for s in self.spans if s["n"].startswith(layer + ":")]
        total = 0.0
        for s in own:
            kids = [(c["t0"], c["t1"]) for c in self.spans if c is not s and c["th"] == s["th"]
                    and c["d"] > s["d"] and s["t0"] <= c["t0"] and c["t1"] <= s["t1"]
                    and not c["n"].startswith(layer + ":")]
            total += (s["t1"] - s["t0"] - _union_ms(kids)) / 1000.0
        return total

    def span_ms(self, name):
        return sum(s["t1"] - s["t0"] for s in self.spans if s["n"] == name) / 1000.0

    def breakdown(self):
        planning = sum(q["plan"] for q in self.sql)
        jobs = _union_ms([(a, b) for a, b in self.jobs.values() if b is not None])
        tasks = _union_ms([(t["launch"], t["finish"]) for t in self.tasks])
        return {"planning": planning, "sched": max(0.0, jobs - tasks), "exec": tasks,
                "residual": self.wall - planning - jobs}

    def task_sum(self, key):
        return sum(t.get(key, 0) for t in self.tasks)

    def sched_delay(self):
        return sum(max(0, t["finish"] - t["launch"] - t.get("run", 0) - t.get("deser", 0)
                       - t.get("ser", 0) - t["getres"]) for t in self.tasks)

    def cached_bytes(self):
        return sum(b["bytes"] for b in self.blocks if b["valid"])


def load_trace(run, path):
    """The traced calls, each with the Spark events charged to it, and the
    cache bytes resident at the end of the run."""
    with open(path) as f:
        events = [json.loads(l) for l in f]
    recs = [r for r in run.calls if r["traced"]]
    lines = sorted((e for e in events if e["k"] == "span" and e["n"] == "mcp:McpServer.handleLine"),
                   key=lambda e: e["t0"])
    # the first two frames are `initialize` and `notifications/initialized`
    lines = lines[2:]
    if len(lines) != len(recs):
        raise SystemExit(f"trace has {len(lines)} tool calls, the run traced {len(recs)}")
    calls = [CallTrace(rec, s["t0"], s["t1"]) for rec, s in zip(recs, lines)]
    starts = [c.t0 for c in calls]

    def owner(t_ms):
        i = bisect.bisect_right(starts, t_ms + 0.5) - 1
        return calls[i] if i >= 0 and t_ms <= calls[i].t1 + 0.5 else None

    job_owner = {}
    for e in events:
        k = e["k"]
        t = {"span": e.get("t0", 0) / 1000.0, "task": e.get("launch")}.get(k, e.get("t"))
        c = owner(t) if k != "job1" else job_owner.get(e["id"])
        if c is None:
            continue
        if k == "span":
            c.spans.append(e)
        elif k == "job0":
            c.jobs[e["id"]] = [e["t"], None]
            job_owner[e["id"]] = c
        elif k == "job1":
            c.jobs[e["id"]][1] = e["t"]
        elif k == "task":
            c.tasks.append(e)
        elif k == "sql":
            c.sql.append(e)
        elif k == "block":
            c.blocks.append(e)
    resident = {}
    for e in sorted((e for e in events if e["k"] in ("block", "unpersist")), key=lambda e: e["t"]):
        if e["k"] == "unpersist":
            prefix = f"rdd_{e['rdd']}_"
            resident = {b: n for b, n in resident.items() if not b.startswith(prefix)}
        elif e["valid"] and e["bytes"] > 0:
            resident[e["id"]] = e["bytes"]
        else:
            resident.pop(e["id"], None)
    return calls, sum(resident.values())


def per_layer_metrics(run, path, untraced_pass_s, traced_pass_s):
    calls, resident = load_trace(run, path)
    timed = [c for c in calls if c.rec["phase"] == "traced"]
    reads = [c for c in timed if c.rec["tool"] != "load_logs_from_ssh"]
    after_setup = [c for c in calls if c.rec["phase"] != "setup"]
    loads = [c for c in after_setup if c.rec["tool"] == "load_logs_from_ssh"]
    refresh = [c for c in after_setup if c.rec["refresh"]]
    warm = [c for c in after_setup if c.rec["tool"] == "analyze_cluster" and not c.rec["refresh"]]
    cycles = {}
    for c in timed:
        cycles.setdefault(c.rec["cycle"], []).append(c)
    per_cycle = lambda f: _med([sum(f(c) for c in cs) for cs in cycles.values()])  # noqa: E731
    # bytes cached by a refresh over the reloaded node's share of the cache
    # left at the end (the old relation's blocks are dropped asynchronously):
    # 1 when only that node is rewritten, the node count when all are
    ratios = [c.cached_bytes() / (resident * c.rec["lines"][0] / c.rec["lines"][1])
              for c in refresh] if resident else []
    parts = [c.breakdown() for c in warm]

    def m(v, unit):
        return {"value": round(float(v), 4), "unit": unit}

    def mean(key):
        return statistics.mean(p[key] for p in parts) if parts else 0.0

    return {
        "mcp.frame_ms": m(_med([c.wall - c.span_ms("mcp:McpDispatcher.handle") for c in reads]), "ms"),
        "mcp.response_bytes": m(_med([c.rec["bytes"] for c in reads]), "bytes"),
        "ingest.fetch_ms": m(_med([c.span_ms("ingest:RemoteFetcher.readLogFile") for c in loads]), "ms"),
        "ingest.fetch_bytes": m(_med([c.rec["fetch_bytes"] for c in loads]), "bytes"),
        "ingest.load_ms": m(_med([c.span_ms("ingest:LogCatalog.loadContent") for c in loads]), "ms"),
        "analyze.refill_ms": m(_med([c.wall for c in refresh]) - _med([c.wall for c in warm]), "ms"),
        "cache.bytes_written": m(per_cycle(CallTrace.cached_bytes), "bytes"),
        "cache.rewrite_ratio": m(_med(ratios), "ratio"),
        "cache.bytes_resident": m(resident, "bytes"),
        "report.actions_per_call": m(_med([len(c.sql) for c in reads]), "count"),
        "report.render_ms": m(_med([c.self_ms("report") for c in reads]), "ms"),
        "query.self_ms": m(per_cycle(lambda c: c.self_ms("query")), "ms"),
        "spark.jobs_per_call": m(_med([len(c.jobs) for c in reads]), "count"),
        "spark.tasks_per_call": m(_med([len(c.tasks) for c in reads]), "count"),
        "spark.failed_tasks": m(sum(not t["ok"] for c in calls for t in c.tasks), "count"),
        "planning.ms_per_call": m(_med([c.breakdown()["planning"] for c in reads]), "ms"),
        "sched.delay_ms": m(_med([c.sched_delay() for c in reads]), "ms"),
        "sched.deserialize_ms": m(_med([c.task_sum("deser") for c in reads]), "ms"),
        "exec.run_s": m(per_cycle(lambda c: c.task_sum("run")) / 1000, "s"),
        "exec.cpu_s": m(per_cycle(lambda c: c.task_sum("cpu")) / 1e9, "s"),
        "exec.gc_s": m(per_cycle(lambda c: c.task_sum("gc")) / 1000, "s"),
        "exec.shuffle_bytes": m(per_cycle(lambda c: c.task_sum("shw")), "bytes"),
        "exec.spill_bytes": m(per_cycle(lambda c: c.task_sum("spill")), "bytes"),
        "driver.residual_ms": m(_med([c.breakdown()["residual"] for c in reads]), "ms"),
        # mean self times of a warm analyze_cluster; they sum to its wall time
        "analyze_call.wall_ms": m(statistics.mean(c.wall for c in warm) if warm else 0.0, "ms"),
        "analyze_call.planning_ms": m(mean("planning"), "ms"),
        "analyze_call.sched_ms": m(mean("sched"), "ms"),
        "analyze_call.exec_ms": m(mean("exec"), "ms"),
        "analyze_call.residual_ms": m(mean("residual"), "ms"),
        "trace.pass_s": m(traced_pass_s, "s"),
        "trace.overhead_s": m(traced_pass_s - untraced_pass_s, "s"),
    }
