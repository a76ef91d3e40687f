"""Capture the physical plans in this directory.

Builds the `dashboard_range` series table of the served-path benchmark
(promql_bench/gen.py, seed 7), mounts it with TsStore.from_table and
writes the formatted physical plan of two dashboard panels:

- `error_ratio_<tag>.txt`: the error-ratio panel
  `sum by (job)(rate(..{code="500"}[5m])) / sum by (job)(rate(..[5m]))`;
- `pruned_scan_<tag>.txt`: the raw `rate(..[5m])` panel, one leaf scan.

Run it once from each checkout to compare:

    python3 plans/pr2/capture.py before    # from the parent checkout
    python3 plans/pr2/capture.py after

The script reads the engine from the checkout it runs in and writes
next to itself in that checkout.
"""

from __future__ import annotations

import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path[:0] = [ROOT, os.path.join(ROOT, "promql_bench")]

OUT = os.path.dirname(os.path.abspath(__file__))
REQ = "http_requests_total"
QUERIES = {
    "error_ratio": f'sum by (job)(rate({REQ}{{_ns_="prod",code="500"}}[300s]))'
                   f' / sum by (job)(rate({REQ}{{_ns_="prod"}}[300s]))',
    "pruned_scan": f'rate({REQ}{{_ns_="prod"}}[300s])',
}


def main(tag: str) -> None:
    import pyarrow.parquet as pq

    import gen
    import filodb_spark
    from filodb_spark.promql import PromQLEngine
    from filodb_spark.promql.compiler import TsStore
    from filodb_spark.sources.table import write_series_table

    spark = filodb_spark.get_spark("plans-pr2")
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as work:
        samples = os.path.join(work, "samples.parquet")
        pq.write_table(gen.samples_table(
            gen.build_model("dashboard_range", 7)), samples)
        table = os.path.join(work, "series")
        write_series_table(spark.read.parquet(samples), table)
        engine = PromQLEngine(spark, TsStore.from_table(spark, table))
        for name, q in QUERIES.items():
            df = engine.query_range(q, gen.DASH_START_S * 1000,
                                    gen.DASH_END_S * 1000,
                                    gen.DASH_STEP_S * 1000)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            plan = plan.replace(work, "<work>")
            with open(os.path.join(OUT, f"{name}_{tag}.txt"), "w") as f:
                f.write(f"-- {q}\n{plan}")
            tree = df._jdf.queryExecution().executedPlan().toString()
            print(f"wrote {name}_{tag}.txt: "
                  f"{tree.count('Exchange')} exchanges")


if __name__ == "__main__":
    main(sys.argv[1])
