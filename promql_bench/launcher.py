"""The system under test: filodb_spark serving PromQL over HTTP.

Started by run.py as its own process. It loads the generated samples
into the stores the workload names, warms up, and serves them with
`filodb_spark.http_server.serve`. Spark comes from
`session.get_spark()` with its defaults; run.py sets only
SPARK_GRAFT_CPUS and SPARK_GRAFT_DRIVER_MEM.

Set-up is timed step by step: Spark start, the series-table write, the
part-key table build, the cache fill and the warm-up.

Protocol: one `READY <json>` line on stdout when serving; then commands
on stdin — `spans <path> <n>` writes the traced spans once n requests
have finished, `quit` stops.

    python3 promql_bench/launcher.py --inputs DIR --workload NAME \\
        --write-rows N --warmup-threads 4 [--trace]
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys
import time


def _store(spark, path: str, in_memory: bool):
    """Open the series table with its sibling part-key table attached.
    The part-key index is always held in memory (the reference keeps
    its part-key index in memory too); the samples only for the
    in-memory (memstore) workloads."""
    from filodb_spark.promql.compiler import TsStore
    store = TsStore.from_table(spark, path)
    cached = {"partkey_df": store.partkey_df.cache()}
    if in_memory:
        cached["df"] = store.df.cache()
    for df in cached.values():
        df.count()
    return dataclasses.replace(store, **cached)


def _warm_up(engine, queries: list, threads: int):
    """Run the warm-up queries, one thread per core."""
    from concurrent.futures import ThreadPoolExecutor

    from filodb_spark import api

    def one(q):
        if q["kind"] == "range":
            return api.query_range_api(engine, q["promql"], q["start"],
                                       q["end"], q["step"])
        return api.query_api(engine, q["promql"], q["time"])
    with ThreadPoolExecutor(threads) as pool:
        for resp in pool.map(one, queries):
            if resp.get("status") != "success":
                raise RuntimeError(f"warm-up query failed: {resp}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--write-rows", type=int, required=True)
    ap.add_argument("--warmup-threads", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    t0 = time.perf_counter()
    from filodb_spark.session import get_spark
    spark = get_spark("promql-bench")
    setup = {"spark_start_s": time.perf_counter() - t0}

    from filodb_spark.http_server import serve
    from filodb_spark.partkey import write_partkey_table
    from filodb_spark.promql import PromQLEngine
    from filodb_spark.remote_write import WriteBuffer
    from filodb_spark.sources.table import write_series_table

    raw = spark.read.parquet(os.path.join(args.inputs, "samples.parquet"))
    path = os.path.join(args.inputs, "series")
    t = time.perf_counter()
    write_series_table(raw, path)
    setup["table_write_s"] = time.perf_counter() - t
    t = time.perf_counter()
    write_partkey_table(raw, path + "_partkey")
    setup["partkey_build_s"] = time.perf_counter() - t
    t = time.perf_counter()
    store = _store(spark, path, args.workload != "dashboard_range")
    setup["cache_fill_s"] = time.perf_counter() - t

    engine = PromQLEngine(spark, store)
    with open(os.path.join(args.inputs, "warmup.json")) as f:
        warmup = json.load(f)
    t = time.perf_counter()
    _warm_up(engine, warmup, args.warmup_threads)
    setup["warmup_s"] = time.perf_counter() - t

    tracer = None
    if args.trace:
        from tracing import Tracer
        tracer = Tracer(spark)
        tracer.install()
    srv = serve(engine, write_buffer=WriteBuffer(spark,
                                                 max_rows=args.write_rows))
    ready = {"port": srv.server_address[1], "setup": setup,
             "jvm_pid": spark.sparkContext._gateway.proc.pid}
    print("READY " + json.dumps(ready), flush=True)

    for line in sys.stdin:
        cmd, _, arg = line.strip().partition(" ")
        if cmd == "spans" and tracer is not None:
            path, n = arg.rsplit(" ", 1)
            tracer.dump(path, int(n))
            print("DONE", flush=True)
        elif cmd == "quit":
            break
    # no spark.stop(): the JVM exits when this process's pipe to it
    # closes, and run.py waits for that
    srv.shutdown()


if __name__ == "__main__":
    main()
