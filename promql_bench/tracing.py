"""Request tracing for the traced run, installed from the outside.

No product file is edited: `Tracer.install()` replaces public entry
points with timing wrappers at runtime —

- `http_server.make_handler` (one root span per request, tagged with the
  client's `X-Bench-Req` header),
- `promql.parser.parse` (in every module that imported it),
- `PromQLEngine.query_range` / `query_instant`,
- DataFrame actions (`collect`, `count`, `isEmpty`, `toPandas`),
- `api.query_range_api` / `query_api` and `api.to_matrix_response` /
  `to_vector_response`,
- the `metadata` lookups the HTTP API calls,
- `remote_write.WriteBuffer.append`.

The returned DataFrame's physical plan is forced right after compile
(`catalyst.plan` span); the later collect reuses that plan, so the time
moves between spans instead of being added. Spark jobs are attributed
to a request through the job group `run_with_timeout` sets, read from
the status store after the listener bus has drained.

Spans stay in memory and are written out once, on `dump`. Every
wrapper also times its own bookkeeping, so the cost of tracing is
reported (`overhead_s`) rather than guessed.
"""

from __future__ import annotations

import json
import re
import threading
import time

_EXCHANGE = re.compile(r"^[\s:+\-|*()0-9]*(Exchange|BroadcastExchange|"
                       r"ReusedExchange)\b")


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._done: list = []        # finished requests, Spark not resolved
        self._resolved: list = []
        self._overhead_s = 0.0       # resolver + plan inspection, global
        self._stop = threading.Event()
        self._resolver = threading.Thread(target=self._resolve_loop,
                                          daemon=True)

    # ---- spans -------------------------------------------------------------

    def _wrap(self, name: str, fn, on_result=None):
        tracer = self

        def wrapper(*args, **kwargs):
            req = getattr(tracer._tls, "req", None)
            if req is None:
                return fn(*args, **kwargs)
            o0 = time.perf_counter()
            parent = req["stack"][-1]
            span = {"name": name, "parent": parent, "t0": 0.0, "t1": 0.0}
            req["spans"].append(span)
            req["stack"].append(len(req["spans"]) - 1)
            span["t0"] = t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                span["t1"] = t1 = time.perf_counter()
                req["stack"].pop()
            # on_result returns the seconds of real work it did (a
            # forced plan), which is moved, not tracing cost
            moved = on_result(req, span, args, out) if on_result else 0.0
            req["overhead_s"] += ((t0 - o0) + (time.perf_counter() - t1)
                                  - (moved or 0.0))
            return out
        wrapper.__wrapped__ = fn
        return wrapper

    def _patch(self, owner, attr: str, name: str, on_result=None):
        setattr(owner, attr, self._wrap(name, getattr(owner, attr),
                                        on_result))

    def _after_compile(self, req, span, args, df):
        """Force the physical plan of the DataFrame the engine returned
        (only for the outermost engine call of a request)."""
        if req["spans"][span["parent"]]["name"].startswith("promql.engine"):
            return 0.0
        t0 = time.perf_counter()
        plan = df._jdf.queryExecution().executedPlan()
        t1 = time.perf_counter()
        req["spans"].append({"name": "catalyst.plan",
                             "parent": span["parent"], "t0": t0, "t1": t1})
        req["exchanges"] += sum(1 for line in plan.toString().splitlines()
                                if _EXCHANGE.match(line))
        return t1 - t0

    def _after_api(self, req, span, args, out):
        req["job_group"] = self.spark.sparkContext.getLocalProperty(
            "spark.jobGroup.id")

    def _after_append(self, req, span, args, out):
        req["write_samples"] = out
        req["write_bytes"] = len(args[1])

    def install(self):
        from pyspark.sql.classic.dataframe import DataFrame

        from filodb_spark import api, http_server, metadata, remote_write
        from filodb_spark.promql import compiler, parser

        for mod in (parser, compiler, metadata):
            self._patch(mod, "parse", "promql.parser.parse")
        self._patch(compiler.PromQLEngine, "query_range",
                    "promql.engine.query_range", self._after_compile)
        self._patch(compiler.PromQLEngine, "query_instant",
                    "promql.engine.query_instant", self._after_compile)
        for action in ("collect", "count", "isEmpty", "toPandas"):
            self._patch(DataFrame, action, "spark.exec")
        for fn in ("query_range_api", "query_api"):
            self._patch(api, fn, "api.query", self._after_api)
        for fn in ("to_matrix_response", "to_vector_response"):
            self._patch(api, fn, "api.render")
        for fn in ("label_names", "label_values", "series"):
            self._patch(metadata, fn, "metadata.lookup")
        self._patch(remote_write.WriteBuffer, "append",
                    "remote_write.append", self._after_append)

        orig_make_handler = http_server.make_handler
        tracer = self

        def make_handler(*args, **kwargs):
            base = orig_make_handler(*args, **kwargs)

            class TracedHandler(base):
                def do_GET(self):
                    tracer._request(self, super().do_GET)

                def do_POST(self):
                    tracer._request(self, super().do_POST)
            return TracedHandler
        http_server.make_handler = make_handler
        self._resolver.start()

    def _request(self, handler, fn):
        rid = handler.headers.get("X-Bench-Req")
        if rid is None:
            return fn()
        o0 = time.perf_counter()
        req = {"id": rid, "spans": [], "stack": [0], "overhead_s": 0.0,
               "exchanges": 0, "job_group": None}
        req["spans"].append({"name": "http_server.handler", "parent": None,
                             "t0": 0.0, "t1": 0.0})
        self._tls.req = req
        req["spans"][0]["t0"] = t0 = time.perf_counter()
        try:
            fn()
        finally:
            req["spans"][0]["t1"] = t1 = time.perf_counter()
            self._tls.req = None
            del req["stack"]
            req["overhead_s"] += (t0 - o0) + (time.perf_counter() - t1)
            with self._lock:
                self._done.append(req)

    # ---- Spark job attribution ------------------------------------------

    def _stage_rows(self, store, jvm, stage_id: int):
        empty = jvm.java.util.ArrayList()
        no_q = self.spark.sparkContext._gateway.new_array(jvm.double, 0)
        seq = store.stageData(stage_id, False, empty, False, no_q)
        return [seq.apply(i) for i in range(seq.size())]

    def _resolve_batch(self):
        with self._lock:
            batch, self._done = self._done, []
        if not batch:
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        # every job a finished request started has posted its end event;
        # draining the bus makes the status store hold all of them
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        tracker = sc.statusTracker()
        for req in batch:
            s = {"jobs": 0, "stages": 0, "tasks": 0, "input_rows": 0,
                 "input_bytes": 0, "shuffle_write_bytes": 0,
                 "spill_bytes": 0, "executor_run_ms": 0}
            if req["job_group"]:
                for jid in tracker.getJobIdsForGroup(req["job_group"]):
                    s["jobs"] += 1
                    stage_ids = store.job(jid).stageIds()
                    for i in range(stage_ids.size()):
                        for st in self._stage_rows(store, jvm,
                                                   stage_ids.apply(i)):
                            if st.status().toString() == "SKIPPED":
                                continue
                            s["stages"] += 1
                            s["tasks"] += st.numCompleteTasks()
                            s["input_rows"] += st.inputRecords()
                            s["input_bytes"] += st.inputBytes()
                            s["shuffle_write_bytes"] += \
                                st.shuffleWriteBytes()
                            s["spill_bytes"] += (st.memoryBytesSpilled()
                                                 + st.diskBytesSpilled())
                            s["executor_run_ms"] += st.executorRunTime()
            req["spark"] = s
        self._resolved.extend(batch)
        self._overhead_s += time.perf_counter() - t0

    def _resolve_loop(self):
        # resolve as the run goes: the status store keeps only the most
        # recent 1000 jobs and stages
        while not self._stop.wait(1.0):
            self._resolve_batch()

    def dump(self, path: str, n_requests: int, timeout_s: float = 30.0):
        """Write every span once `n_requests` traced requests have
        finished (a handler records its request just after the client
        has its response, so the last one may still be closing)."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if len(self._done) + len(self._resolved) >= n_requests:
                    break
            time.sleep(0.05)
        self._stop.set()
        self._resolver.join()
        self._resolve_batch()
        with open(path, "w") as f:
            json.dump({"requests": self._resolved,
                       "resolver_overhead_s": self._overhead_s}, f)
