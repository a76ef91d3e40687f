"""Digest the executed physical plan of every served query shape.

Mounts both stores of the served-path benchmark the way
`promql_bench/launcher.py` does (seed 7):

- `dashboard_range`: the on-disk series table with its part-key index;
- `rule_eval`: the same layout with the samples and the index cached
  in memory (the memstore).

It then plans, without running, every `dashboard_panels` range panel
over the dashboard store and all 9 `_rule_templates` as instant
queries over the rule store. Each line of `plan_digests_<tag>.txt` is
the sha256 of one executed physical plan, followed by the query kind
and text. Expression IDs (`#<n>`), exchange plan IDs (`plan_id=<n>`)
and the scratch directory are stripped first, so the digests depend
only on the plan's shape.

Run it once from each checkout to compare:

    python3 plans/pr3/capture.py before    # from the parent checkout
    python3 plans/pr3/capture.py after
    cmp plans/pr3/plan_digests_before.txt plans/pr3/plan_digests_after.txt

The script reads the engine from the checkout it runs in and writes
next to itself in that checkout.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path[:0] = [ROOT, os.path.join(ROOT, "promql_bench")]

OUT = os.path.dirname(os.path.abspath(__file__))
SEED = 7
_IDS = re.compile(r"#\d+|plan_id=\d+")


def _engine(spark, work: str, workload: str):
    """The launcher's store for `workload`, behind a default engine."""
    import pyarrow.parquet as pq

    import gen
    import launcher
    from filodb_spark.partkey import write_partkey_table
    from filodb_spark.promql import PromQLEngine
    from filodb_spark.sources.table import write_series_table

    samples = os.path.join(work, f"{workload}.parquet")
    model = gen.build_model(workload, SEED)
    pq.write_table(gen.samples_table(model), samples)
    raw = spark.read.parquet(samples)
    path = os.path.join(work, workload)
    write_series_table(raw, path)
    write_partkey_table(raw, path + "_partkey")
    store = launcher._store(spark, path, workload != "dashboard_range")
    return PromQLEngine(spark, store), model


def _digest(df, work: str) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = _IDS.sub("", plan.replace(work, "<work>"))
    return hashlib.sha256(plan.encode()).hexdigest()


def main(tag: str) -> None:
    import gen
    import filodb_spark

    spark = filodb_spark.get_spark("plans-pr3")
    spark.sparkContext.setLogLevel("ERROR")
    lines = []
    with tempfile.TemporaryDirectory() as work:
        engine, model = _engine(spark, work, "dashboard_range")
        for q in gen.dashboard_panels(model):
            if q.kind != "range":
                continue
            df = engine.query_range(q.promql, gen.DASH_START_S * 1000,
                                    gen.DASH_END_S * 1000,
                                    gen.DASH_STEP_S * 1000)
            lines.append(f"{_digest(df, work)}  range    {q.promql}")
        engine, _ = _engine(spark, work, "rule_eval")
        rng = random.Random("warm")
        for i in range(9):
            promql = gen.render(gen._rule_templates(rng, i))
            df = engine.query_instant(promql, gen.RULE_START_S * 1000)
            lines.append(f"{_digest(df, work)}  instant  {promql}")
    name = f"plan_digests_{tag}.txt"
    with open(os.path.join(OUT, name), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {name}: {len(lines)} plans")


if __name__ == "__main__":
    main(sys.argv[1])
