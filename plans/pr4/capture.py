"""Digest every served query shape and keep the quantile panel's plan.

Reuses `plans/pr3/capture.py`: the same two benchmark stores (seed 7),
the same 29 query shapes and the same ID-stripped sha256 digest of each
executed physical plan (with the two additions below). Writes, next to
itself:

- `plan_digests_<tag>.txt`: one digest per query shape, as in pr3;
- `quantile_panel_<tag>.txt`: the optimized logical plan of the
  dashboard's first `histogram_quantile` panel, IDs stripped, followed by
  its count of `aggregate(` folds.

Run it once from each checkout to compare:

    python3 plans/pr4/capture.py before    # from the parent checkout
    python3 plans/pr4/capture.py after
    diff plans/pr4/plan_digests_before.txt plans/pr4/plan_digests_after.txt

Only the three `histogram_quantile` lines are expected to differ.

Two session counters leak into plan text and are neutralized here, so
that a change to one query's plan does not move the digests of the
queries planned after it:

- scan metadata is not truncated: a truncated `DataFilters: [...]`
  string is cut at a fixed width *before* the expression IDs are
  stripped, so smaller IDs would show more of the same filter;
- PySpark names each Python lambda's variables `x_<n>`, `y_<n>`, `z_<n>`
  from a session-wide counter; the `<n>` is stripped like the IDs.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import random
import re
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
_LAMBDA_VARS = re.compile(r"\b([xyz])_\d+\b")
_spec = importlib.util.spec_from_file_location(
    "pr3_capture", os.path.join(os.path.dirname(HERE), "pr3", "capture.py"))
pr3 = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(pr3)


def _plan_text(plan: str, work: str) -> str:
    plan = pr3._IDS.sub("", plan.replace(work, "<work>"))
    return _LAMBDA_VARS.sub(r"\1_", plan)


def _digest(df, work: str) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return hashlib.sha256(_plan_text(plan, work).encode()).hexdigest()


def main(tag: str) -> None:
    import gen
    import filodb_spark

    spark = filodb_spark.get_spark("plans-pr4")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.maxMetadataStringLength", 1 << 20)
    lines, quantile_plan = [], None
    with tempfile.TemporaryDirectory() as work:
        engine, model = pr3._engine(spark, work, "dashboard_range")
        for q in gen.dashboard_panels(model):
            if q.kind != "range":
                continue
            df = engine.query_range(q.promql, gen.DASH_START_S * 1000,
                                    gen.DASH_END_S * 1000,
                                    gen.DASH_STEP_S * 1000)
            lines.append(f"{_digest(df, work)}  range    {q.promql}")
            if quantile_plan is None and "histogram_quantile" in q.promql:
                plan = _plan_text(
                    df._jdf.queryExecution().optimizedPlan().toString(), work)
                quantile_plan = (f"{q.promql}\n\n{plan}\n"
                                 f"aggregate( folds: "
                                 f"{plan.count('aggregate(')}\n")
        engine, _ = pr3._engine(spark, work, "rule_eval")
        rng = random.Random("warm")
        for i in range(9):
            promql = gen.render(gen._rule_templates(rng, i))
            df = engine.query_instant(promql, gen.RULE_START_S * 1000)
            lines.append(f"{_digest(df, work)}  instant  {promql}")
    for name, text in ((f"plan_digests_{tag}.txt", "\n".join(lines) + "\n"),
                       (f"quantile_panel_{tag}.txt", quantile_plan)):
        with open(os.path.join(HERE, name), "w") as f:
            f.write(text)
    print(f"wrote plan_digests_{tag}.txt ({len(lines)} plans) and "
          f"quantile_panel_{tag}.txt")


if __name__ == "__main__":
    main(sys.argv[1])
