"""HistogramQuantileMapperSpec goldens + the makeMonotonic repair.

Bucket tables and expected quantiles ported from the reference's
query/src/test/scala/filodb/query/exec/HistogramQuantileMapperSpec.scala
(values only). The engine path under test is the Prometheus-style
`_bucket`-series assembly (`_histogram_quantile_buckets`), which now
applies HistogramQuantileMapper.makeMonotonic: NaN / dipped cumulative
counts are replaced with the running max before interpolation."""

import pytest
from pyspark.sql import functions as F

from filodb_spark.promql import PromQLEngine
from filodb_spark.promql.compiler import TsStore

# HistogramQuantileMapperSpec.scala:40-51 — 8 buckets (le 1,2,4,...,64,
# +Inf) x 4 instants; quantile 0.5 expected per instant
LES = ["1.0", "2.0", "4.0", "8.0", "16.0", "32.0", "64.0", "+Inf"]
BUCKET_VALUES = [
    [(10, 10), (20, 6), (30, 11), (40, 4)],
    [(10, 15), (20, 16), (30, 16), (40, 5)],
    [(10, 17), (20, 26), (30, 26), (40, 4)],
    [(10, 20), (20, 26), (30, 27), (40, 33)],
    [(10, 25), (20, 36), (30, 33), (40, 35)],
    [(10, 34), (20, 38), (30, 42), (40, 67)],
    [(10, 76), (20, 56), (30, 46), (40, 91)],
    [(10, 82), (20, 59), (30, 55), (40, 121)],
]
Q50_EXPECTED = {10: 37.333333333333336, 20: 10.8,
                30: 8.666666666666666, 40: 28.75}

# HistogramQuantileMapperSpec.scala:106-123 — "buckets change over
# time": NaN means the bucket wasn't populated at that instant (our
# pipeline drops stale samples upstream, so the bucket is simply absent)
CHANGING_VALUES = [
    [(30, 11), (40, 40)],
    [(10, 15), (20, 16), (30, 16), (40, 45)],
    [(10, 17), (20, 26), (30, 26), (40, 47)],
    [(10, 20), (20, 30), (30, 33), (40, 49)],
    [(10, 25), (20, 30), (30, 33), (40, 57)],
    [(30, 38), (40, 67)],
    [(10, 34), (20, 42), (30, 46)],
    [(10, 35), (20, 45), (30, 46), (40, 89)],
]
CHANGING_EXPECTED = {10: 4.666666666666667, 20: 3.3, 30: 3.4, 40: 1.9}


def _engine(spark, bucket_rows):
    rows = []
    for le, series in zip(LES, bucket_rows):
        for t, v in series:
            rows.append(({"__name__": "hqm_bucket", "le": le, "dc": "dc1"},
                         t, float(v)))
    df = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double")
    return PromQLEngine(spark, TsStore(df), lookback_ms=5)


def _q50(spark, bucket_rows):
    eng = _engine(spark, bucket_rows)
    out = eng.query_range('histogram_quantile(0.5, hqm_bucket)', 10, 40, 10)
    return {r["t"]: r["value"] for r in out.collect()}


def test_quantile50_golden(spark):
    got = _q50(spark, BUCKET_VALUES)
    assert set(got) == set(Q50_EXPECTED)
    for t, want in Q50_EXPECTED.items():
        assert got[t] == pytest.approx(want, rel=1e-12), t


def test_changing_buckets_golden(spark):
    got = _q50(spark, CHANGING_VALUES)
    assert set(got) == set(CHANGING_EXPECTED)
    for t, want in CHANGING_EXPECTED.items():
        assert got[t] == pytest.approx(want, rel=1e-12), t


def test_monotonic_repair_on_dipped_bucket(spark):
    """A non-atomic scrape can dip a later bucket below an earlier one;
    the reference repairs the dip to the running max. les [1,2,4+Inf]
    with counts [15,12,20,20] at rank 0.9*20=18: raw interpolation
    against the dip gives 3.5, the repaired mapper 3.2."""
    rows = [({"__name__": "d_bucket", "le": le}, 10, v)
            for le, v in [("1.0", 15.0), ("2.0", 12.0), ("4.0", 20.0),
                          ("+Inf", 20.0)]]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double")
    eng = PromQLEngine(spark, TsStore(df), lookback_ms=5)
    out = eng.query_range('histogram_quantile(0.9, d_bucket)', 10, 10, 10)
    assert out.collect()[0]["value"] == pytest.approx(3.2, rel=1e-12)


def test_monotonic_values_kernel(spark):
    from filodb_spark.kernels.histogram import monotonic_values
    df = spark.createDataFrame(
        [([15.0, float("nan"), 12.0, 20.0, float("nan")],)], "vals array<double>")
    [r] = df.select(monotonic_values("vals").alias("v")).collect()
    assert r["v"] == [15.0, 15.0, 15.0, 20.0, 20.0]


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_quantile_plan_evaluates_each_fold_once(spark):
    """Plan-shape pin: the `_bucket` quantile holds one monotone-repair
    fold and one search fold; the hist-schema quantile holds one fold.
    Re-inlining the bucket index or the repaired counts at each use
    multiplies the folds (62 on the `_bucket` path before the repair
    was bound to a column and the result moved into the fold's
    `finish`)."""
    rows = [({"__name__": "x_bucket", "job": j, "le": le}, t, float(v))
            for j in ("a", "b") for t in range(0, 600_001, 60_000)
            for le, v in (("1", t / 6e4), ("5", t / 3e4), ("+Inf", t / 2e4))]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double")
    eng = PromQLEngine(spark, TsStore(df))
    plan = _optimized_plan(eng.query_range(
        "histogram_quantile(0.9, sum by (le) (rate(x_bucket[5m])))",
        300_000, 600_000, 60_000))
    assert plan.count("aggregate(") <= 2, plan.count("aggregate(")

    hist_df = spark.createDataFrame(
        [({"__name__": "h", "job": "a"}, t, 0.0, 0.0, 0.5, 9.0,
          ([1.0, 5.0, float("inf")], [t / 6e4, t / 3e4, t / 2e4]))
         for t in range(0, 600_001, 60_000)],
        "labels map<string,string>, ts long, sum double, count double, "
        "min double, max double, "
        "hist struct<les: array<double>, values: array<double>>")
    gauge = spark.createDataFrame(
        [], "labels map<string,string>, ts long, value double")
    eng = PromQLEngine(spark, TsStore(gauge, hist_df=hist_df,
                                      hist_metrics=("h",)))
    for fn in ("histogram_quantile", "histogram_max_quantile"):
        plan = _optimized_plan(eng.query_range(
            f"{fn}(0.9, rate(h[5m]))", 300_000, 600_000, 60_000))
        assert plan.count("aggregate(") == 1, (fn, plan.count("aggregate("))
