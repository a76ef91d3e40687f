"""Served-path PromQL benchmark for filodb_spark.

Starts the engine as an HTTP server (launcher.py, its own process) and
drives it from this process over the Prometheus HTTP API:

    python3 promql_bench/run.py --workload dashboard_range --seed 1 \\
        --seconds 20 --trace 0

Workloads (README.md says why each was chosen):
  dashboard_range  4 closed-loop clients replaying range panels and
                   metadata lookups over an on-disk series table
  rule_eval        2 closed-loop clients (rule groups) evaluating ~100
                   instant rules against an in-memory store
  ingest_mixed     an open-loop remote-write writer plus the rule_eval
                   mix with 2 clients

With `--trace 0` the last stdout line carries the end-to-end metrics;
with `--trace 1` the run replays a fixed request list with the layers
traced (tracing.py) and carries the per-layer metrics. Every response
is checked against check.py. Lines before the last one give the
workload-specific metrics, sample counts and the run environment; the
full record is written to .bench_results/.
"""

from __future__ import annotations

import argparse
import http.client
import json
import math
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse
from types import SimpleNamespace

T_IMPORT = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen    # noqa: E402

WORKLOADS = {
    # clients: closed-loop query clients; trace_requests: requests each
    # client sends in a traced run (sized to take 20-30 s on 4 cores)
    "dashboard_range": {"clients": 4, "writer": False, "trace_requests": 7},
    "rule_eval": {"clients": 2, "writer": False, "trace_requests": 18},
    "ingest_mixed": {"clients": 2, "writer": True, "trace_requests": 8},
}
N_WRITERS = 2
DRIVER_MEM = "2g"
READY_TIMEOUT_S = 150
REQUEST_TIMEOUT_S = 60
QUERY_KINDS = ("range", "instant")
WRITE_HEADERS = {"Content-Type": "application/x-protobuf",
                 "Content-Encoding": "snappy",
                 "X-Prometheus-Remote-Write-Version": "0.1.0"}


# ---- run environment --------------------------------------------------------

def calibration() -> dict:
    """bench.py's CPU/memory anchors at a smaller size: a pure-Python
    integer loop (single-thread CPU) and 100 MB numpy copies (memory
    bandwidth), so a contended box shows in the artifact."""
    import numpy as np
    n = 1_000_000
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    cpu_s = time.perf_counter() - t0
    a = np.zeros(100 * 1024 * 1024 // 8)
    a.copy()
    t0 = time.perf_counter()
    for _ in range(4):
        a.copy()
    mem_s = time.perf_counter() - t0
    return {"cpu_st_mops": n / cpu_s / 1e6,
            "mem_gbps": 4 * 2 * a.nbytes / 1e9 / mem_s}


def environment(cores: int) -> dict:
    return {"cores": cores, "driver_mem": DRIVER_MEM,
            "loadavg": os.getloadavg(), "calibration": calibration()}


def proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


# ---- the server process --------------------------------------------------

class Server:
    """launcher.py in its own session; stopped and reaped by close()."""

    def __init__(self, work: str, workload: str, write_rows: int,
                 trace: bool, cores: int):
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
                   SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
                   PYTHONPATH=ROOT, TMPDIR=os.path.join(work, "tmp"),
                   SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                   # keep the JVM's temp files (and no perf-data
                   # file) out of /tmp: a run writes only in the checkout
                   JAVA_TOOL_OPTIONS="-XX:-UsePerfData -Djava.io.tmpdir="
                                     + os.path.join(work, "tmp"))
        os.makedirs(env["TMPDIR"], exist_ok=True)
        self.log_path = os.path.join(work, "server.log")
        cmd = [sys.executable, os.path.join(HERE, "launcher.py"),
               "--inputs", work, "--workload", workload,
               "--write-rows", str(write_rows),
               "--warmup-threads", str(cores)]
        if trace:
            cmd.append("--trace")
        with open(self.log_path, "w") as log:
            self.proc = subprocess.Popen(
                cmd, cwd=work, env=env, stdin=subprocess.PIPE,
                stdout=subprocess.PIPE, stderr=log, text=True,
                start_new_session=True)
        self.jvm_pid = None
        self._lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self):
        for line in self.proc.stdout:
            self._lines.put(line.rstrip("\n"))
        self._lines.put(None)

    def expect(self, prefix: str, timeout: float) -> str:
        deadline = time.monotonic() + timeout
        while True:
            try:
                line = self._lines.get(
                    timeout=max(0.1, deadline - time.monotonic()))
            except queue.Empty:
                raise RuntimeError(f"server gave no {prefix} in {timeout}s")
            if line is None:
                raise RuntimeError(f"server exited before {prefix}")
            if line.startswith(prefix):
                return line[len(prefix):].strip()

    def send(self, cmd: str):
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def log_tail(self, n: int = 30) -> str:
        with open(self.log_path, errors="replace") as f:
            return "".join(f.readlines()[-n:])

    def close(self):
        if self.proc.poll() is None:
            try:
                self.send("quit")
                self.proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                pass
        if self.proc.poll() is None:
            os.killpg(self.proc.pid, signal.SIGKILL)
        self.proc.wait()
        # the JVM is the launcher's child; never leave it behind
        for _ in range(100):
            if self.jvm_pid is None or not os.path.exists(
                    f"/proc/{self.jvm_pid}"):
                return
            time.sleep(0.1)
        os.kill(self.jvm_pid, signal.SIGKILL)
        while os.path.exists(f"/proc/{self.jvm_pid}"):
            time.sleep(0.1)


# ---- load ------------------------------------------------------------------

class Op:
    __slots__ = ("rid", "kind", "q", "time_s", "due", "t0", "t1", "status",
                 "body", "sent", "accepted", "error", "ok")

    def __init__(self, rid, kind, q=None, time_s=None, due=None, sent=0):
        self.rid, self.kind, self.q, self.time_s = rid, kind, q, time_s
        self.due, self.sent, self.accepted = due, sent, 0
        self.t0 = self.t1 = None
        self.status, self.body, self.error, self.ok = None, b"", None, False


def request(port: int, op: Op, method: str, path: str,
            body: bytes | None = None, headers: dict | None = None):
    hdrs = {"X-Bench-Req": op.rid, **(headers or {})}
    op.t0 = time.perf_counter()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", port,
                                          timeout=REQUEST_TIMEOUT_S)
        try:
            conn.request(method, path, body=body, headers=hdrs)
            resp = conn.getresponse()
            op.body = resp.read()
            op.status = resp.status
            if op.kind == "write":
                op.accepted = int(resp.getheader(
                    "X-Prometheus-Remote-Write-Samples") or -1)
        finally:
            conn.close()
    except (OSError, http.client.HTTPException, ValueError) as ex:
        # OSError includes socket timeouts; ValueError: a bad header
        op.error = f"{type(ex).__name__}: {ex}"
    op.t1 = time.perf_counter()


def query_path(q: gen.Query, time_s: int | None) -> str:
    enc = urllib.parse.urlencode
    if q.kind == "range":
        return "/api/v1/query_range?" + enc(
            {"query": q.promql, "start": gen.DASH_START_S,
             "end": gen.DASH_END_S, "step": gen.DASH_STEP_S})
    if q.kind == "instant":
        return "/api/v1/query?" + enc({"query": q.promql, "time": time_s})
    if q.kind == "label_values":
        return f"/api/v1/label/{q.label}/values?" + enc({"match[]": q.promql})
    return "/api/v1/series?" + enc({"match[]": q.promql})


def dashboard_client(i: int, n_clients: int, panels: list):
    """Client i replays the panel list from its own offset, forever."""
    k = i * len(panels) // n_clients
    while True:
        yield panels[k % len(panels)], None
        k += 1


def rule_client(group: list):
    """Evaluates every rule of its group at time T, then advances T."""
    cycle = 0
    while True:
        for q in group:
            yield q, gen.RULE_START_S + cycle * gen.RULE_EVAL_STEP_S
        cycle += 1


def run_clients(port: int, streams: list, deadline: float | None,
                n_requests: int | None, writes: list | None,
                start: float) -> list:
    """Closed-loop clients (one thread each) plus, if given, the
    open-loop writer: N_WRITERS threads taking turns on one schedule, so
    one slow write does not hold back the next. Clients stop at
    `deadline`, or after `n_requests` each; the writer stops when its
    schedule runs out, at `deadline`, or when the clients are done."""
    ops: list = []
    lock = threading.Lock()
    clients_done = threading.Event()

    def client(ci: int, stream):
        mine = []
        for n, (q, time_s) in enumerate(stream):
            if n_requests is not None and n >= n_requests:
                break
            if deadline is not None and time.perf_counter() >= deadline:
                break
            op = Op(f"c{ci}-{n}", q.kind, q, time_s)
            request(port, op, "GET", query_path(q, time_s))
            mine.append(op)
        with lock:
            ops.extend(mine)

    def writer(w: int):
        mine = []
        for n, (due, body, samples) in enumerate(writes):
            if n % N_WRITERS != w:
                continue
            t_due = start + due
            if (deadline is not None and t_due >= deadline) or \
                    clients_done.is_set():
                break
            time.sleep(max(0.0, t_due - time.perf_counter()))
            op = Op(f"w-{n}", "write", due=t_due, sent=samples)
            request(port, op, "POST", "/api/v1/write", body, WRITE_HEADERS)
            mine.append(op)
        with lock:
            ops.extend(mine)

    threads = [threading.Thread(target=client, args=(i, s))
               for i, s in enumerate(streams)]
    writers = [threading.Thread(target=writer, args=(w,))
               for w in range(N_WRITERS if writes else 0)]
    for t in threads + writers:
        t.start()
    for t in threads:
        t.join()
    clients_done.set()
    for t in writers:
        t.join()
    return ops


def coverage_probe(port: int, meta: list, writes: list) -> list:
    """Traced runs only: sequential metadata lookups and remote writes
    after the replay, for a workload that sends none of its own, so
    every layer metric is measured on every workload (README: read
    these as the idle-server cost)."""
    ops = []
    for n, q in enumerate(meta):
        op = Op(f"p-{n}", q.kind, q)
        request(port, op, "GET", query_path(q, None))
        ops.append(op)
    for n, (_, body, samples) in enumerate(writes):
        op = Op(f"pw-{n}", "write", sent=samples)
        request(port, op, "POST", "/api/v1/write", body, WRITE_HEADERS)
        ops.append(op)
    return ops


# ---- correctness -----------------------------------------------------------

def check_op(model: gen.Model, op: Op) -> tuple:
    """(error or None, whether the error is a wrong answer)."""
    if op.error:
        return op.error, False
    want = 204 if op.kind == "write" else 200
    if op.status != want:
        return f"HTTP {op.status}: {op.body[:200]!r}", False
    if op.kind == "write":
        err = None if op.accepted == op.sent else \
            f"accepted {op.accepted} samples, sent {op.sent}"
        return err, err is not None
    try:
        resp = json.loads(op.body)
        if op.kind == "range":
            steps = list(range(gen.DASH_START_S, gen.DASH_END_S + 1,
                               gen.DASH_STEP_S))
            err = check.check_query(model, op.q, resp, steps)
        elif op.kind == "instant":
            err = check.check_query(model, op.q, resp, [op.time_s])
        else:
            err = check.check_metadata(model, op.q, resp)
    except (ValueError, KeyError, TypeError) as ex:
        err = f"malformed response: {type(ex).__name__}: {ex}"
    return err, err is not None


# ---- metrics ---------------------------------------------------------------

def pct(values: list, p: float) -> float:
    """Linear-interpolated percentile (p in 0..100)."""
    v = sorted(values)
    if not v:
        return math.nan
    x = (len(v) - 1) * p / 100.0
    lo = int(x)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (x - lo)


def setup_metrics(setup: dict) -> dict:
    out = {f"setup.{k}": v for k, v in setup.items()}
    out["setup_s"] = sum(setup.values())
    return out


def end_to_end(ops: list, seconds: float, start: float) -> tuple:
    """(gated metrics, workload-specific metrics with sample counts)."""
    qs = [o for o in ops if o.kind in QUERY_KINDS]
    ql = [(o.t1 - o.t0) * 1000 for o in qs]
    # closed loop: each client's successful queries over the time it
    # took to finish them (its last request ends after the deadline)
    qps = 0.0
    for c in {o.rid.split("-")[0] for o in qs}:
        mine = [o for o in ops if o.rid.startswith(c + "-")]
        n_ok = sum(o.ok for o in mine if o.kind in QUERY_KINDS)
        qps += n_ok / (max(o.t1 for o in mine) - start)
    gated = {"query_p50_ms": pct(ql, 50), "query_p90_ms": pct(ql, 90),
             "queries_per_s": qps}
    extra = {"query_samples": len(ql)}
    md = [(o.t1 - o.t0) * 1000 for o in ops
          if o.kind in ("label_values", "series")]
    if md:
        extra.update(metadata_p50_ms=pct(md, 50), metadata_samples=len(md))
    ws = [o for o in ops if o.kind == "write"]
    if ws:
        wl = [(o.t1 - o.due) * 1000 for o in ws]
        extra.update(
            write_p50_ms=pct(wl, 50), write_p90_ms=pct(wl, 90),
            write_samples=len(wl),
            # accepted by the deadline: a writer that falls behind
            # drains its backlog after it, which must not count
            ingest_samples_per_s=sum(o.accepted for o in ws if o.ok
                                     and o.t1 <= start + seconds) / seconds,
            writer_late_p90_ms=pct([(o.t0 - o.due) * 1000 for o in ws], 90))
    return gated, extra


def _dur(s: dict) -> float:
    return (s["t1"] - s["t0"]) * 1000


def _outermost(spans: list, name_prefix: str, within: int | None = None):
    """Spans whose name starts with prefix, with no ancestor of the same
    prefix; if `within` is given, only those under that span."""
    out = []
    for i, s in enumerate(spans):
        if not s["name"].startswith(name_prefix):
            continue
        p, inside, nested = s["parent"], within is None, False
        while p is not None:
            if spans[p]["name"].startswith(name_prefix):
                nested = True
            if p == within:
                inside = True
            p = spans[p]["parent"]
        if inside and not nested:
            out.append(i)
    return out


def layer_metrics(traced: dict, ops: list, cpu_frac: float) -> dict:
    by_id = {o.rid: o for o in ops}
    acc: dict = {k: [] for k in (
        "parse", "compile", "plan", "exec", "render", "overhead",
        "handler_self", "lookup", "decode")}
    sums = dict.fromkeys(("exchanges", "jobs", "stages", "tasks",
                          "input_rows", "input_bytes", "shuffle_write_bytes",
                          "spill_bytes", "executor_run_ms", "series",
                          "points", "bytes", "wsamples", "wbytes",
                          "handler_ms", "overhead_s"), 0.0)
    n_q = n_w = 0
    for req in traced["requests"]:
        op = by_id.get(req["id"])
        if op is None or not op.ok:
            continue
        sp = req["spans"]
        root = sp[0]
        sums["handler_ms"] += _dur(root)
        sums["overhead_s"] += req["overhead_s"]
        children = [s for s in sp if s["parent"] == 0]
        acc["handler_self"].append(_dur(root) - sum(map(_dur, children)))
        if op.kind in QUERY_KINDS:
            n_q += 1
            parse = sum(_dur(sp[i]) for i in _outermost(sp, "promql.parser"))
            eng = _outermost(sp, "promql.engine")[0]
            inner = sum(_dur(sp[i]) for p in ("promql.parser", "spark.exec")
                        for i in _outermost(sp, p, eng))
            acc["parse"].append(parse)
            acc["compile"].append(_dur(sp[eng]) - inner)
            acc["plan"].append(sum(_dur(s) for s in sp
                                   if s["name"] == "catalyst.plan"))
            acc["exec"].append(sum(_dur(sp[i])
                                   for i in _outermost(sp, "spark.exec")))
            acc["render"].append(sum(
                _dur(sp[r]) - sum(_dur(sp[i])
                                  for i in _outermost(sp, "spark.exec", r))
                for r in _outermost(sp, "api.render")))
            acc["overhead"].append((op.t1 - op.t0) * 1000 - _dur(root))
            sums["exchanges"] += req["exchanges"]
            for k, v in req["spark"].items():
                sums[k] += v
            data = json.loads(op.body)["data"]["result"]
            sums["series"] += len(data)
            sums["points"] += sum(len(r.get("values", [0])) for r in data)
            sums["bytes"] += len(op.body)
        elif op.kind == "write":
            n_w += 1
            acc["decode"].append(sum(_dur(s) for s in sp
                                     if s["name"] == "remote_write.append"))
            sums["wsamples"] += req.get("write_samples", 0)
            sums["wbytes"] += req.get("write_bytes", 0)
        else:
            acc["lookup"].append(sum(_dur(s) for s in children
                                     if s["name"] in ("metadata.lookup",
                                                      "spark.exec")))
    med = {k: statistics.median(v) if v else math.nan
           for k, v in acc.items()}
    per_q = {k: sums[k] / max(n_q, 1) for k in sums}
    return {
        "promql.parser.parse_ms": med["parse"],
        "promql.compiler.compile_ms": med["compile"],
        "catalyst.plan_ms": med["plan"],
        "catalyst.exchanges": per_q["exchanges"],
        "spark.jobs": per_q["jobs"],
        "spark.stages": per_q["stages"],
        "spark.tasks": per_q["tasks"],
        "spark.exec_ms": med["exec"],
        "spark.input_rows": per_q["input_rows"],
        "spark.input_bytes": per_q["input_bytes"],
        "spark.shuffle_write_bytes": per_q["shuffle_write_bytes"],
        "spark.spill_bytes": per_q["spill_bytes"],
        "spark.executor_run_ms": per_q["executor_run_ms"],
        "spark.input_rows_per_result_point":
            sums["input_rows"] / max(sums["points"], 1),
        "api.render_ms": med["render"],
        "api.result_series": per_q["series"],
        "api.result_points": per_q["points"],
        "api.response_bytes": per_q["bytes"],
        "http_server.overhead_ms": med["overhead"],
        "http_server.handler_self_ms": med["handler_self"],
        "metadata.lookup_ms": med["lookup"],
        "remote_write.decode_ms": med["decode"],
        "remote_write.samples_per_request":
            sums["wsamples"] / max(n_w, 1),
        "remote_write.body_bytes_per_sample":
            sums["wbytes"] / max(sums["wsamples"], 1),
        "driver.py_cpu_frac": cpu_frac,
        "trace.overhead_frac":
            (sums["overhead_s"] + traced["resolver_overhead_s"])
            / max(sums["handler_ms"] / 1000, 1e-9),
    }


def unit_of(name: str, declared: dict) -> str:
    """The unit BENCHMARK.json declares, else one read off the name."""
    if name in declared:
        return declared[name]
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"),
                         ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "count"


# ---- one run ---------------------------------------------------------------

def make_inputs(args, cfg: dict, work: str) -> SimpleNamespace:
    """Everything the server and the clients receive, from the seed."""
    t = time.perf_counter()
    model = gen.build_model(args.workload, args.seed)
    import pyarrow.parquet as pq
    pq.write_table(gen.samples_table(model),
                   os.path.join(work, "samples.parquet"))
    panels = gen.dashboard_panels(model)
    if args.workload == "dashboard_range":
        streams = [dashboard_client(i, cfg["clients"], panels)
                   for i in range(cfg["clients"])]
        sent = panels
    else:
        groups = gen.rule_groups(model, n_groups=cfg["clients"])
        streams = [rule_client(g) for g in groups]
        sent = [q for g in groups for q in g]
    # a run's writes (a traced run may last longer), or only the four
    # the coverage probe sends
    writes = gen.write_schedule(
        model, args.seconds * (1 + args.trace) + 2 if cfg["writer"]
        else 0.1)
    warm = [{"kind": q.kind, "promql": q.promql, "time": q.time_s,
             "start": gen.DASH_START_S - 1800,
             "end": gen.DASH_END_S - 1800, "step": gen.DASH_STEP_S}
            for q in gen.warmup_queries(model)]
    with open(os.path.join(work, "warmup.json"), "w") as f:
        json.dump(warm, f)
    return SimpleNamespace(
        model=model, panels=panels, streams=streams, writes=writes,
        digest=gen.digest(model, sent, writes if cfg["writer"] else []),
        gen_s=time.perf_counter() - t)


def measure(server: Server, args, cfg: dict, inp: SimpleNamespace,
            work: str) -> SimpleNamespace:
    """Wait for set-up, run the window, read the server's counters."""
    ready = json.loads(server.expect("READY", READY_TIMEOUT_S))
    t_ready = time.perf_counter()
    server.jvm_pid = ready["jvm_pid"]
    port = ready["port"]
    traced = bool(args.trace)
    cpu0, start = proc_cpu_s(server.proc.pid), time.perf_counter()
    ops = run_clients(port, inp.streams,
                      None if traced else start + args.seconds,
                      cfg["trace_requests"] if traced else None,
                      inp.writes if cfg["writer"] else None, start)
    window_end = time.perf_counter()
    cpu_frac = (proc_cpu_s(server.proc.pid) - cpu0) / (window_end - start)
    spans = None
    if traced:
        ops += coverage_probe(
            port, [] if args.workload == "dashboard_range" else
            [q for q in inp.panels if q.kind != "range"][:2],
            [] if cfg["writer"] else inp.writes[:4])
        path = os.path.join(work, "spans.json")
        server.send(f"spans {path} {len(ops)}")
        server.expect("DONE", 120)
        with open(path) as f:
            spans = json.load(f)
    rss = {"driver_py": peak_rss_mb(server.proc.pid),
           "jvm": peak_rss_mb(server.jvm_pid)}
    return SimpleNamespace(ready=ready, t_ready=t_ready, ops=ops,
                           start=start, window_end=window_end,
                           cpu_frac=cpu_frac, spans=spans, rss=rss)


def check_all(model: gen.Model, ops: list) -> tuple:
    """(failures, number of wrong answers); sets op.ok."""
    failures, wrong = [], 0
    for op in ops:
        err, is_wrong = check_op(model, op)
        op.ok = err is None
        wrong += is_wrong
        if err:
            failures.append({"id": op.rid, "kind": op.kind, "time": op.time_s,
                             "query": op.q.promql if op.q else None,
                             "error": err})
    return failures, wrong


def report(args, spec: dict, inp, m, failures: list, wrong: int,
           env_start: dict, t_closed: float) -> int:
    ops = m.ops
    setup = setup_metrics(m.ready["setup"])
    detail = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "input_digest": inp.digest, "gen_s": inp.gen_s,
              "wall_s": {"to_ready": m.t_ready - T_IMPORT,
                         "window": m.window_end - m.start,
                         "to_closed": t_closed - T_IMPORT},
              "env_start": env_start,
              "env_end": environment(env_start["cores"]),
              "setup": m.ready["setup"], "peak_rss_parts_mb": m.rss,
              "attempted": len(ops), "failed": len(failures),
              "wrong": wrong,
              "failed_frac": len(failures) / max(len(ops), 1),
              "failures": failures,
              "ops": [[o.rid, o.kind, o.q.promql if o.q else None, o.time_s,
                       o.t0 - m.start, (o.t1 - o.t0) * 1000, o.ok]
                      for o in ops]}
    if args.trace:
        names = [x["name"] for x in spec["per_layer"]]
        measured = {**setup, **layer_metrics(m.spans, ops, m.cpu_frac)}
    else:
        names = [x["name"] for x in spec["end_to_end"]]
        gated, detail["workload_metrics"] = end_to_end(
            ops, args.seconds, m.start)
        measured = {**setup, **gated}
        # printed, not gated: it moved by up to 30% between identical
        # runs (README)
        detail["workload_metrics"]["peak_rss_mb"] = sum(m.rss.values())
    metrics = {k: measured.get(k, math.nan) for k in names}
    detail["metrics"] = metrics
    out_dir = os.path.join(ROOT, ".bench_results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-"
                           f"trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1)

    units = {x["name"]: x["unit"]
             for x in spec["end_to_end"] + spec["per_layer"]}
    for f in failures[:10]:
        print(f"# FAILED {f['kind']} {f['query']!r} t={f['time']}: "
              f"{f['error']}", file=sys.stderr)
    cal = env_start["calibration"]
    print(f"# {args.workload} seed={args.seed} digest={inp.digest[:16]} "
          f"gen_s={inp.gen_s:.2f} attempted={len(ops)} "
          f"failed={len(failures)} failed_frac={detail['failed_frac']:.4f}")
    print(f"# env cores={env_start['cores']} driver_mem={DRIVER_MEM} "
          f"loadavg={env_start['loadavg'][0]:.2f} "
          f"cpu_st_mops={cal['cpu_st_mops']:.1f} "
          f"mem_gbps={cal['mem_gbps']:.1f}")
    for k, v in {**metrics, **detail.get("workload_metrics", {})}.items():
        print(f"# {k} = {v:.6g} {unit_of(k, units)}")
    missing = [k for k, v in metrics.items() if not math.isfinite(v)]
    if missing:
        print(f"error: not measured: {', '.join(missing)}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": wrong == 0, "attempted": len(ops),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "filodb_spark")):
        print(f"error: no filodb_spark package next to {HERE}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cfg = WORKLOADS[args.workload]
    env_start = environment(len(os.sched_getaffinity(0)))
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    server = None
    try:
        inp = make_inputs(args, cfg, work)
        write_rows = sum(s for _, _, s in inp.writes) + 1
        server = Server(work, args.workload, write_rows, bool(args.trace),
                        env_start["cores"])
        m = measure(server, args, cfg, inp, work)
    except (RuntimeError, OSError, ValueError) as ex:
        print(f"error: {ex}", file=sys.stderr)
        if server is not None:
            print(server.log_tail(), file=sys.stderr)
        return 1
    finally:
        if server is not None:
            server.close()
        t_closed = time.perf_counter()
    failures, wrong = check_all(inp.model, m.ops)
    shutil.rmtree(work, ignore_errors=True)
    return report(args, spec, inp, m, failures, wrong, env_start, t_closed)


if __name__ == "__main__":
    sys.exit(main())
