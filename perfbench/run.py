#!/usr/bin/env python3
"""Front-door benchmark of the MCP stdio server (``graft.mcp.McpServer``).

One closed-loop client drives the real server, started by its own entry
point, through newline-delimited JSON-RPC ``tools/call`` frames and checks
every response byte for byte against the truth planted by ``corpus.py``.

    python3 perfbench/run.py --workload triage --seed 1 --seconds 12 --trace 0

Run it from the repository root.  The first run builds the program and the
trace agent (``perfbench/trace``) with sbt; the build is cached under
``.bench_build/`` and keyed by the sources.  The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics from ``trace_report.py`` with
``--trace 1``).  A run with any failed call is not correct and exits 1.

Workloads (closed loop, one client, ``local[nproc]``):
  triage  4 nodes x 10k lines loaded once; a cycle is the nine read tools plus
          a second analyze_cluster and two more search_logs, in a seeded
          order with seeded arguments; the catalog never changes.
  churn   8 nodes x 8k lines; a cycle appends a seeded batch to one node's
          file, re-fetches it with load_logs_from_ssh, then reads:
          analyze_cluster (the refresh), analyze_cluster again, search_logs
          and one of detect_issues / get_errors / compare_nodes.

Set-up (``setup_s``: process start to ready) fetches the corpus through
configure_ssh_node(localhost) + load_logs_from_all_nodes, runs every tool
once, runs reload rounds (three load_logs_from_ssh, then analyze_cluster
twice) and one untimed cycle.  The timed phase runs whole cycles for about
``--seconds`` of call time.  ``triage`` has no timed loads, so it takes
``refresh_p50_ms`` from its reload rounds; ``analyze_p50_ms`` counts the
warm analyze_cluster calls of the reload rounds and the timed phase.

Every duration is wall time less the CPU time the hypervisor stole from
the machine during it (see ``StealClock``): on a shared virtual machine that
share swings from run to run and would otherwise dominate the spread.
"""

import argparse
import glob
import hashlib
import json
import math
import os
import random
import selectors
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from corpus import Generator, Truth  # noqa: E402

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
CALL_TIMEOUT_S = 90

WORKLOADS = {
    "triage": {"nodes": 4, "lines": 10000, "reload_rounds": 4},
    "churn": {"nodes": 8, "lines": 8000, "reload_rounds": 1, "batch": 400},
}
READ_TOOLS = ["analyze_cluster", "search_logs", "get_errors", "compare_nodes", "detect_issues",
              "mine_templates", "detect_slot_anomalies", "deduplicate_lines", "group_stack_traces"]
SEARCH_PATTERNS = ["timed out", "Exception", "compaction.*failed", "ReadStage:[0-9]", "tombstone",
                   "10\\.0\\.0\\.7[0-9]", "GC pause", "dropped [0-9]+ mutation", "heap", "QUORUM"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---- build ------------------------------------------------------------------

def _sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    env["SPARK_DRIVER_MEM"] = driver_mem()
    return env


def driver_mem():
    """The Tier-1 driver heap: half the host memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def _tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        full = os.path.join(ROOT, top)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs
            if "target" not in os.path.relpath(d, full).split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _sbt(args, cwd, **env):
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *args], cwd=cwd,
                       env=dict(_sbt_env(), **env), stdin=subprocess.DEVNULL, capture_output=True,
                       text=True, timeout=800)
    if r.returncode != 0:
        log(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit(f"sbt {' '.join(args)} failed in {cwd}")
    return r.stdout


def build():
    """Compile the program (and the trace agent) once per source state."""
    for need in ("build.sbt", "src/main/scala/graft/mcp/McpServer.scala"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            raise SystemExit(f"not a checkout of the program: {need} is missing")
    key = _tree_hash(["build.sbt", "project/build.properties", "src/main",
                      os.path.relpath(os.path.join(BENCH_DIR, "trace"), ROOT)]) + driver_mem()
    stamp = os.path.join(BUILD_DIR, "build.json")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b.get("key") == key and os.path.isfile(b["agent"]):
            return b
    t0 = time.time()
    out = _sbt(["compile", "export Runtime/fullClasspath", "show run/javaOptions"], ROOT)
    cp = next(l.strip() for l in out.splitlines()
              if not l.startswith("[") and "scala-2.13/classes" in l)
    jvm = [l[len("[info] * "):].strip() for l in out.splitlines() if l.startswith("[info] * ")]
    trace_dir = os.path.join(BENCH_DIR, "trace")
    # the agent compiles against the Spark jars the program runs with
    spark_core = next(j for j in cp.split(os.pathsep) if os.path.basename(j).startswith("spark-core_"))
    _sbt(["package"], trace_dir, SPARK_JARS_DIR=os.path.dirname(spark_core))
    agent = os.path.join(trace_dir, "target", "perfbench-trace.jar")
    b = {"key": key, "cp": cp, "jvm": jvm, "agent": agent, "build_s": time.time() - t0}
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump(b, f)
    return b


# ---- hypervisor steal ---------------------------------------------------------

def cpu_ticks():
    """(busy, stolen) CPU ticks of the whole machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


class StealClock:
    """Durations less the share the hypervisor stole from the busy vCPUs.

    On a shared virtual machine the host takes a varying share of the CPU
    (steal), which slows every call by a varying factor.  An idle vCPU
    accrues no steal, so busy / (busy + steal) over an interval is the share
    of its time the program actually ran.  /proc/stat counts 10 ms ticks,
    too coarse for a short call, so the share is taken over the call or the
    last second before its end, whichever is longer."""

    WINDOW_S = 1.0

    def __init__(self):
        self.samples = [(time.perf_counter(), cpu_ticks())]

    def mark(self):
        now = (time.perf_counter(), cpu_ticks())
        self.samples.append(now)
        del self.samples[:-64]
        return now

    def since(self, start):
        """Corrected seconds from ``start`` (a mark) to now."""
        end = self.mark()
        edge = min(start[0], end[0] - self.WINDOW_S)
        base = next((x for x in reversed(self.samples) if x[0] <= edge), self.samples[0])
        busy, steal = end[1][0] - base[1][0], end[1][1] - base[1][1]
        return (end[0] - start[0]) * (busy / (busy + steal) if busy + steal else 1.0)


# ---- JSON-RPC client ----------------------------------------------------------

class Server:
    """The MCP server process and its one closed-loop client."""

    def __init__(self, cmd, env, stderr_path):
        self.clock = StealClock()
        self.start = self.clock.samples[0]
        self.err = open(stderr_path, "wb")
        self.p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.PIPE,
                                  stdout=subprocess.PIPE, stderr=self.err)
        self.sel = selectors.DefaultSelector()
        self.sel.register(self.p.stdout, selectors.EVENT_READ)
        self.buf = b""
        self.next_id = 0
        self.dead = False

    def _readline(self, deadline):
        while b"\n" not in self.buf:
            left = deadline - time.time()
            if left <= 0 or not self.sel.select(left):
                return None
            chunk = os.read(self.p.stdout.fileno(), 1 << 20)
            if not chunk:
                return None
            self.buf += chunk
        line, self.buf = self.buf.split(b"\n", 1)
        return line

    def request(self, method, params):
        """Send one request; returns (response or None, seconds less steal,
        response bytes, wall seconds)."""
        if self.dead:
            return None, 0.0, 0, 0.0
        self.next_id += 1
        frame = json.dumps({"jsonrpc": "2.0", "id": self.next_id, "method": method,
                            "params": params}, ensure_ascii=False).encode() + b"\n"
        start = self.clock.mark()
        try:
            self.p.stdin.write(frame)
            self.p.stdin.flush()
            line = self._readline(time.time() + CALL_TIMEOUT_S)
        except (BrokenPipeError, OSError):
            line = None
        wall = time.perf_counter() - start[0]
        dt = self.clock.since(start)
        if line is None:
            self.dead = True
            return None, dt, 0, wall
        return json.loads(line), dt, len(line), wall

    def notify(self, method):
        self.p.stdin.write(json.dumps({"jsonrpc": "2.0", "method": method}).encode() + b"\n")
        self.p.stdin.flush()

    def stop(self):
        try:
            self.p.stdin.close()
        except OSError:
            pass
        try:
            self.p.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.p.kill()
            self.p.wait()
        self.err.close()


# ---- workload --------------------------------------------------------------

class Run:
    """One workload against one server: seeded calls, planted truth, call records."""

    def __init__(self, workload, seed, run_dir):
        self.w = WORKLOADS[workload]
        self.name = workload
        self.seed = seed
        self.rng = random.Random(f"{workload}:{seed}")
        self.offset = {t: self.rng.randrange(1000) for t in READ_TOOLS}
        self.turn = {}  # calls per tool so far; arguments rotate with it
        self.cycle_no = -1
        self.traced = False
        self.last_load = (0, 0)  # (node lines, catalog lines) of the latest load
        self.dir = run_dir
        self.srv = None
        self.truth = Truth()
        self.version = 0  # bumps on every load; keys the expected-text memo
        self.memo = {}
        self.check_s = 0.0  # client time spent deriving expected texts
        self.calls = []  # dicts: tool, phase, ok, s, bytes, refresh
        self.failures = []
        self.nodes = [f"node{i + 1}" for i in range(self.w["nodes"])]
        self.gens = {n: Generator(seed, n) for n in self.nodes}
        self.fresh = False  # the next read is the first after a load
        self.fetch_bytes = 0

    def node_dir(self, node):
        return os.path.join(self.dir, "nodes", node)

    def write_corpus(self):
        for n in self.nodes:
            os.makedirs(self.node_dir(n), exist_ok=True)
            lines = self.gens[n].lines(self.w["lines"])
            with open(os.path.join(self.node_dir(n), "system.log"), "w") as f:
                f.write("\n".join(lines) + "\n")
            self.truth.set_lines(f"{n}_system", lines)

    def expected(self, tool, args):
        key = (self.version, tool, json.dumps(args, sort_keys=True))
        if key not in self.memo:
            t0 = time.perf_counter()
            t, a = self.truth, args
            if tool == "search_logs":
                val = t.search_logs(a["pattern"], a.get("case_sensitive", False),
                                    a.get("node_filter"))[0]
            elif tool == "get_errors":
                val = t.get_errors(a.get("node_name"), a.get("limit", 50))
            elif tool == "compare_nodes":
                val = t.compare_nodes(a.get("nodes"))
            elif tool == "detect_issues":
                val = t.detect_issues(a.get("severity", "all"))
            elif tool in ("mine_templates", "deduplicate_lines", "group_stack_traces"):
                val = getattr(t, tool)(a.get("limit", 20))
            else:
                val = getattr(t, tool)()
            self.memo[key] = val
            self.check_s += time.perf_counter() - t0
        return self.memo[key]

    def call(self, tool, args, expect, phase):
        resp, dt, nbytes, wall = self.srv.request("tools/call", {"name": tool, "arguments": args})
        if resp is None:
            why = "no answer (server dead or timed out)"
            # a dead server answers nothing: charge each unanswered call the
            # median answered time, so the timed phase still spans --seconds
            # and every call it would have made counts as failed
            dt = max(dt, statistics.median([c["s"] for c in self.calls if c["ok"]] or [1.0]))
        elif "error" in resp:
            why = f"JSON-RPC error {resp['error']}"
        elif resp["result"].get("isError"):
            why = "isError"
        else:
            text = resp["result"]["content"][0]["text"]
            why = None if text == expect else "output differs from planted truth"
            if why:
                log(f"--- expected ---\n{expect[:1500]}\n--- got ---\n{text[:1500]}")
        rec = {"tool": tool, "args": args, "phase": phase, "ok": why is None, "s": dt, "wall": wall,
               "bytes": nbytes,
               "refresh": self.fresh and tool in READ_TOOLS, "cycle": self.cycle_no,
               "traced": self.traced, "lines": self.last_load,
               "fetch_bytes": self.fetch_bytes if tool == "load_logs_from_ssh" else 0}
        if tool.startswith("load") or tool in READ_TOOLS:
            self.fresh = tool.startswith("load")
        self.calls.append(rec)
        if why:
            self.failures.append(f"{tool} {json.dumps(args, ensure_ascii=False)}: {why}")
            log(f"FAILED {self.failures[-1]}")
        return rec

    def read(self, tool, args, phase):
        return self.call(tool, args, self.expected(tool, args), phase)

    def load(self, node, phase):
        n = len(self.truth.nodes[f"{node}_system"]) + 1
        self.version += 1
        self.last_load = (n, sum(len(v) + 1 for v in self.truth.nodes.values()))
        self.fetch_bytes = os.path.getsize(os.path.join(self.node_dir(node), "system.log"))
        return self.call("load_logs_from_ssh", {"node_name": node},
                         f"Logs chargés depuis '{node}' (localhost)\n  - system.log ({n} lignes)"
                         f"\n\nTotal nodes avec logs: {len(self.nodes)}", phase)

    # ---- seeded call arguments ---------------------------------------------
    def args_for(self, tool):
        """Arguments rotate through each option from a seeded offset, so every
        run holds the same mix of cheap and costly variants (a node filter
        scans one node instead of all, limits size the collected result)."""
        k = self.turn[tool] = self.turn.get(tool, -1) + 1
        keys = [f"{n}_system" for n in self.nodes]
        pick = lambda opts: opts[(self.offset[tool] + k) % len(opts)]  # noqa: E731
        if tool == "search_logs":
            a = {"pattern": pick(SEARCH_PATTERNS)}
            if k % 3 == 1:
                a["case_sensitive"] = True
            if k % 3 == 2:
                a["node_filter"] = pick(keys)
            return a
        if tool == "get_errors":
            a = {"limit": pick([10, 50, 100])}
            if k % 2:
                a["node_name"] = pick(keys)
            return a
        if tool == "compare_nodes":
            return {"nodes": self.rng.sample(keys, self.rng.randint(2, len(keys)))} if k % 2 else {}
        if tool == "detect_issues":
            return {"severity": pick(["all", "critical", "high", "medium"])}
        if tool in ("mine_templates", "deduplicate_lines", "group_stack_traces"):
            return {"limit": pick([5, 20, 50])}
        return {}

    # ---- phases -------------------------------------------------------------
    def setup(self):
        """Process start to ready; returns False when the server is unusable."""
        init = self.srv.request("initialize", {
            "protocolVersion": "2024-11-05", "capabilities": {},
            "clientInfo": {"name": "perfbench", "version": "1"}})
        if init[0] is None or "result" not in init[0]:
            self.failures.append("initialize: no answer")
            return False
        self.srv.notify("notifications/initialized")
        for n in self.nodes:
            d = self.node_dir(n)
            self.call("configure_ssh_node", {"node_name": n, "host": "localhost",
                                             "username": "bench", "log_directory": d},
                      f"Configuration SSH réussie pour '{n}'\nHost: localhost:22\nUser: bench\n"
                      f"Auth: Agent SSH\nRépertoire: {d}\nFichiers trouvés: 1\n  - {d}/system.log",
                      "setup")
        self.version += 1
        self.call("load_logs_from_all_nodes", {},
                  f"Chargement de tous les nodes\n\nSuccès: {len(self.nodes)}/{len(self.nodes)}\n\n"
                  + "\n".join(f"OK {n}" for n in self.nodes), "setup")
        for tool in READ_TOOLS:
            self.read(tool, self.args_for(tool), "setup")
        for _ in range(self.w["reload_rounds"]):
            for node in self.rng.sample(self.nodes, 3):
                self.load(node, "reload")
            self.read("analyze_cluster", {}, "reload")
            self.read("analyze_cluster", {}, "reload")
        self.cycle("setup")  # every tool runs once more before timing starts
        return not self.failures

    def timed(self, seconds, phase, inject=None):
        """Whole cycles while one more fits in about ``seconds`` of call time,
        at least one; returns the pass times of the cycles whose calls were
        all correct.  Each phase replays the same seeded calls."""
        self.rng = random.Random(f"{self.name}:{self.seed}:timed")
        self.turn, busy, passes, last = {}, 0.0, [], 0.0
        while busy + last / 2 < seconds or not (passes or self.srv.dead):
            if inject and len(passes) == 1:
                busy += self.call(inject[0], inject[1], None, phase)["s"]
                inject = None
            recs = self.cycle(phase)
            last = sum(c["s"] for c in recs)
            busy += last
            if all(c["ok"] for c in recs):
                passes.append(last)
        return passes

    def cycle(self, phase):
        """One workload cycle; returns its call records."""
        start = len(self.calls)
        self.cycle_no += 1
        if self.name == "triage":
            steps = READ_TOOLS + ["analyze_cluster", "search_logs", "search_logs"]
            self.rng.shuffle(steps)
        else:
            node = self.rng.choice(self.nodes)
            third = ["detect_issues", "get_errors", "compare_nodes"]
            steps = ["append", "analyze_cluster", "analyze_cluster", "search_logs",
                     third[(self.offset["detect_issues"] + self.cycle_no) % 3]]
        for step in steps:
            if step == "append":
                lines = self.gens[node].lines(self.w["batch"])
                with open(os.path.join(self.node_dir(node), "system.log"), "a") as f:
                    f.write("\n".join(lines) + "\n")
                self.truth.append(f"{node}_system", lines)
                self.load(node, phase)
            else:
                self.read(step, self.args_for(step), phase)
        return self.calls[start:]


# ---- metrics ---------------------------------------------------------------

def end_to_end(run, setup_s, passes):
    ok = [c for c in run.calls if c["ok"]]
    timed = [c for c in ok if c["phase"] == "timed"]

    def pick(pred):
        """Timed samples, else the set-up reload rounds' samples."""
        t = [c["s"] for c in timed if pred(c)]
        return t or [c["s"] for c in ok if c["phase"] == "reload" and pred(c)]

    reads = [c["s"] for c in timed if c["tool"] != "load_logs_from_ssh"]
    refresh = pick(lambda c: c["refresh"])
    analyze = [c["s"] for c in ok if c["phase"] in ("reload", "timed")
               and c["tool"] == "analyze_cluster" and not c["refresh"]]
    for c in run.calls:
        log(f"  {c['phase']:7s} {c['tool']:26s} {1000 * c['s']:9.1f} ms"
            f" (wall {1000 * c['wall']:9.1f}) {c['bytes']:8d} B"
            + (" refresh " if c["refresh"] else " ") + json.dumps(c["args"], ensure_ascii=False))
    log(f"samples: {len(reads)} reads, {len(passes)} passes, {len(refresh)} refreshes, "
        f"{len(analyze)} warm analyzes")
    # the geometric mean weighs every call of the mix alike (a median of
    # nine different tools jumps between them from run to run)
    gmean = math.exp(statistics.mean(math.log(v) for v in reads))
    ms = lambda v: {"value": round(1000 * v, 4), "unit": "ms"}  # noqa: E731
    return {
        "setup_s": {"value": round(setup_s, 4), "unit": "s"},
        "read_gmean_ms": ms(gmean),
        "analyze_p50_ms": ms(statistics.median(analyze)),
        "refresh_p50_ms": ms(statistics.median(refresh)),
        "pass_s": {"value": round(statistics.median(passes), 4), "unit": "s"},
    }


# ---- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its server (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = bench(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def bench(workload, seed, seconds, trace, inject=None):
    """One run. With ``trace`` the server carries the trace agent: set-up is
    traced, the timed phase runs untraced, then replays traced.  ``inject``
    is a (tool, args) call the self-test sends after the first cycle."""
    b = build()
    for old in glob.glob(os.path.join(BUILD_DIR, "run-*")):  # left by killed runs
        if not os.path.exists(f"/proc/{old.rsplit('-', 1)[1]}"):
            shutil.rmtree(old, ignore_errors=True)
    run_dir = os.path.join(BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "local"))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
               SPARK_DRIVER_MEM=driver_mem(), SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    env.pop("SPARK_GRAFT_MASTER", None)
    jvm = b["jvm"] + ["-Djava.io.tmpdir=" + os.path.join(run_dir, "local"), "-XX:-UsePerfData"]
    trace_out = os.path.join(run_dir, "trace.jsonl")
    run = Run(workload, seed, run_dir)
    run.write_corpus()
    if trace:
        jvm += [f"-javaagent:{b['agent']}={trace_out}",
                "-Dspark.extraListeners=perfbench.trace.Listener",
                "-Dspark.sql.queryExecutionListeners=perfbench.trace.Listener"]
        set_tracing(run, trace_out, True)
    passes, traced = [], []
    try:
        run.srv = Server(["java", *jvm, "-cp", b["cp"], "graft.mcp.McpServer"], env,
                         os.path.join(run_dir, "server.stderr"))
        ready = run.setup()
        setup_s = run.srv.clock.since(run.srv.start) - run.check_s
        if ready:
            set_tracing(run, trace_out, False)
            passes = run.timed(seconds, "timed", inject)
            if trace:
                set_tracing(run, trace_out, True)
                traced = run.timed(seconds, "traced")
                set_tracing(run, trace_out, False)
    finally:
        if run.srv is not None:
            run.srv.stop()
    for f in run.failures:
        log(f"FAILED CALL: {f}")
    metrics = {}
    if passes and (traced or not trace):
        metrics = end_to_end(run, setup_s, passes)
        if trace:
            from trace_report import per_layer_metrics
            metrics = per_layer_metrics(run, trace_out, statistics.median(passes),
                                        statistics.median(traced))
    shutil.rmtree(run_dir, ignore_errors=True)
    return {"correct": not run.failures and bool(metrics), "attempted": len(run.calls),
            "failed": sum(not c["ok"] for c in run.calls), "metrics": metrics}


def set_tracing(run, trace_out, on):
    """Flip the agent's recording switch; it polls every 5 ms."""
    flag = trace_out + ".on"
    if on:
        open(flag, "w").close()
    elif os.path.exists(flag):
        os.remove(flag)
    time.sleep(0.05)
    run.traced = on


if __name__ == "__main__":
    main()
