"""Histogram kernel tests — goldens per Histogram.scala quantile
semantics (linear interpolation, +Inf top bucket rule)."""

import math

import pytest
from pyspark.sql import functions as F

from filodb_spark.kernels.grid import StepGrid
from filodb_spark.kernels.histogram import (bucketize, hist_fraction,
                                            hist_quantile,
                                            hist_range_function, hist_sum)

INF = float("inf")


def hist_df(spark, rows):
    # rows: (series, les, values)
    return spark.createDataFrame(
        [(s, (les, vals)) for s, les, vals in rows],
        "series string, hist struct<les: array<double>, values: array<double>>")


def q_of(spark, les, values, q):
    df = hist_df(spark, [("a", les, values)])
    return df.select(hist_quantile(q, "hist.les", "hist.values")
                     .alias("v")).first()["v"]


class TestQuantile:
    LES = [2.0, 4.0, 8.0, 16.0, INF]

    def test_interpolation(self, spark):
        vals = [10.0, 20.0, 30.0, 40.0, 50.0]
        # q=0.5: rank=25 -> bucket (4,8]: lo_cum=20 -> 4 + 4*(5/10) = 6
        assert q_of(spark, self.LES, vals, 0.5) == pytest.approx(6.0)

    def test_first_bucket_from_zero(self, spark):
        vals = [40.0, 40.0, 40.0, 40.0, 50.0]
        # q=0.5: rank=25 -> first bucket: 0 + 2*(25/40) = 1.25
        assert q_of(spark, self.LES, vals, 0.5) == pytest.approx(1.25)

    def test_top_bucket_returns_last_finite_le(self, spark):
        vals = [10.0, 20.0, 30.0, 40.0, 100.0]
        assert q_of(spark, self.LES, vals, 0.99) == pytest.approx(16.0)

    def test_nan_cases(self, spark):
        # finite-top schemes interpolate in the last bucket (the
        # reference does not require a +Inf top — Histogram.scala:85-89)
        assert q_of(spark, [2.0, 4.0], [1.0, 2.0], 0.5) == pytest.approx(2.0)
        assert math.isnan(q_of(spark, self.LES, [0.0] * 5, 0.5))     # empty
        assert q_of(spark, self.LES, [1.0] * 5, -1) == -INF
        assert q_of(spark, self.LES, [1.0] * 5, 2) == INF


class TestFraction:
    def test_fraction(self, spark):
        les = [2.0, 4.0, INF]
        vals = [10.0, 30.0, 40.0]
        df = hist_df(spark, [("a", les, vals)])
        # [0,2] -> 10/40; [2,4] -> 20/40; [0,3] -> (10 + 10)/40
        got = df.select(
            hist_fraction(0.0, 2.0, F.col("hist")).alias("a"),
            hist_fraction(2.0, 4.0, F.col("hist")).alias("b"),
            hist_fraction(0.0, 3.0, F.col("hist")).alias("c")).first()
        assert got["a"] == pytest.approx(0.25)
        assert got["b"] == pytest.approx(0.5)
        assert got["c"] == pytest.approx(0.5)


class TestBucketizeSumRate:
    def test_bucketize(self, spark):
        df = spark.createDataFrame(
            [("a", float(v)) for v in [1, 2, 3, 5, 9]], "series string, value double")
        h = bucketize(df, ["series"], [2.0, 4.0, 8.0]).first()["hist"]
        assert list(h["les"]) == [2.0, 4.0, 8.0, INF]
        assert list(h["values"]) == [2.0, 3.0, 4.0, 5.0]

    def test_hist_sum(self, spark):
        les = [1.0, INF]
        df = hist_df(spark, [("a", les, [1.0, 2.0]), ("b", les, [3.0, 4.0])])
        out = hist_sum(df.withColumn("g", F.lit("x")), ["g"]).first()["hist"]
        assert list(out["values"]) == [4.0, 6.0]

    def test_hist_rate_per_bucket(self, spark):
        # cumulative histogram over time: rate per bucket
        les = [1.0, INF]
        rows = [("a", int(ts), (les, [float(v), float(2 * v)]))
                for ts, v in [(0, 0), (10_000, 10), (20_000, 20)]]
        df = spark.createDataFrame(
            rows, "series string, ts long, "
                  "hist struct<les: array<double>, values: array<double>>")
        grid = StepGrid(20_000, 20_000, 10_000)
        out = hist_range_function(df, "rate", ["series"], grid, 20_000)
        h = out.first()["hist"]
        # delta 20 over exactly-spanning 20s window -> 1/s; bucket2: 2/s
        assert list(h["les"]) == les
        assert h["values"][0] == pytest.approx(1.0)
        assert h["values"][1] == pytest.approx(2.0)


class TestExponentialBuckets:
    def test_base2_exp_les(self):
        from filodb_spark.kernels.histogram import base2_exp_les
        # scale 0 -> base 2; start_index 0 -> tops 2, 4, 8
        assert base2_exp_les(0, 0, 3) == [0.0, 2.0, 4.0, 8.0]
        # scale 1 -> base sqrt(2)
        les = base2_exp_les(1, 0, 2)
        assert les[1] == pytest.approx(2 ** 0.5)
        assert les[2] == pytest.approx(2.0)

    def test_exp_quantile_log_interpolation(self, spark):
        from filodb_spark.kernels.histogram import hist_quantile
        from pyspark.sql import functions as F
        import math as m
        les = [0.0, 2.0, 4.0, 8.0]
        vals = [0.0, 10.0, 20.0, 30.0]
        df = hist_df(spark, [("a", les, vals)])
        got = df.select(hist_quantile(0.5, "hist.les", "hist.values",
                                      exponential=True).alias("v")).first()["v"]
        # rank 15 -> bucket (2,4], frac=(15-10)/10=0.5
        # log interp: 2^(1 + (2-1)*0.5) = 2^1.5
        assert got == pytest.approx(2 ** 1.5)
        lin = df.select(hist_quantile(0.5, "hist.les", "hist.values")
                        .alias("v")).first()["v"]
        assert lin == pytest.approx(3.0)

    def test_engine_exp_metric(self, spark):
        from filodb_spark.promql import PromQLEngine
        from filodb_spark.promql.compiler import TsStore
        T0 = 1_700_000_000_000
        les = [0.0, 2.0, 4.0, 8.0]
        rows = [({"__name__": "exph", "job": "a"}, T0 + i * 10_000,
                 float(i), float(i),
                 (les, [0.0, 10.0 * i, 20.0 * i, 30.0 * i]))
                for i in range(3)]
        hist_df_ = spark.createDataFrame(
            rows, "labels map<string,string>, ts long, sum double, "
                  "count double, "
                  "hist struct<les: array<double>, values: array<double>>")
        gauge = spark.createDataFrame(
            [], "labels map<string,string>, ts long, value double")
        eng = PromQLEngine(spark, TsStore(
            gauge, hist_df=hist_df_, hist_metrics=("exph",),
            exp_hist_metrics=("exph",)))
        t = T0 + 20_000
        res = eng.query_range(
            "histogram_quantile(0.5, last_over_time(exph[30s]))",
            t, t, 10_000).collect()
        assert res[0]["value"] == pytest.approx(2 ** 1.5)


class TestMixedSchemeSum:
    """hist_sum over heterogeneous bucket schemes
    (MutableHistogram.addNoCorrection, Histogram.scala:367-420)."""

    def test_strict_mixed_schemes_nan(self, spark):
        # mismatched non-exp schemes -> all-NaN histogram (reference parity)
        df = hist_df(spark, [("a", [1.0, INF], [1.0, 2.0]),
                             ("b", [2.0, INF], [3.0, 4.0])])
        out = hist_sum(df.withColumn("g", F.lit("x")), ["g"]).first()["hist"]
        assert all(math.isnan(v) for v in out["values"])

    def test_strict_same_scheme_untouched(self, spark):
        les = [1.0, 2.0, INF]
        df = hist_df(spark, [("a", les, [1.0, 2.0, 3.0]),
                             ("b", les, [1.0, 1.0, 1.0]),
                             ("c", les, [0.0, 2.0, 5.0])])
        out = hist_sum(df.withColumn("g", F.lit("x")), ["g"]).first()["hist"]
        assert list(out["les"]) == les
        assert list(out["values"]) == [2.0, 5.0, 9.0]

    def test_reconcile_subset_grid_exact(self, spark):
        # fine scheme projected onto coarse grid that is a subset of its
        # bounds: exact bucket-index remap, no interpolation error
        fine = [1.0, 2.0, 4.0, 8.0, INF]
        coarse = [2.0, 8.0, INF]
        df = hist_df(spark, [("a", fine, [1.0, 3.0, 5.0, 7.0, 9.0]),
                             ("b", coarse, [2.0, 4.0, 6.0])])
        out = hist_sum(df.withColumn("g", F.lit("x")), ["g"],
                       target_les=coarse).first()["hist"]
        assert list(out["les"]) == coarse
        # a projects exactly: cum(2)=3, cum(8)=7, cum(inf)=9
        assert list(out["values"]) == [5.0, 11.0, 15.0]

    def test_reconcile_interpolates_between_bounds(self, spark):
        df = hist_df(spark, [("a", [2.0, 4.0, INF], [10.0, 20.0, 20.0])])
        out = hist_sum(df.withColumn("g", F.lit("x")), ["g"],
                       target_les=[1.0, 3.0, INF]).first()["hist"]
        # cum(1) = 10 * 1/2 = 5; cum(3) = 10 + 10*(3-2)/(4-2) = 15
        assert out["values"][0] == pytest.approx(5.0)
        assert out["values"][1] == pytest.approx(15.0)
        assert out["values"][2] == 20.0  # total

    def test_base2_exp_merged_scheme(self, spark):
        from filodb_spark.kernels.histogram import (base2_exp_les,
                                                    base2_exp_merged_scheme)
        # same scale, overlapping ranges -> union range, same scale
        s = base2_exp_merged_scheme([(0, 0, 3), (0, 2, 3)])
        assert s == (0, 0, 5)
        # different scales -> min scale; start floored to cover the finer
        # scheme's first bound (sqrt2 -> bucket top 1.0 at scale 0)
        s2 = base2_exp_merged_scheme([(1, 0, 4), (0, 0, 3)])
        assert s2 == (0, -1, 4)
        merged_les = base2_exp_les(*s2)
        assert merged_les == [0.0, 1.0, 2.0, 4.0, 8.0]
        # in-range merged bounds are bitwise-identical to finer-scale
        # bounds (dyadic-exponent computation) -> exact projection
        fine_les = base2_exp_les(1, 0, 4)
        assert set(merged_les[2:]) - {8.0} <= set(fine_les)
        # bucket-count cap forces scale reduction
        s3 = base2_exp_merged_scheme([(3, 0, 100), (3, 700, 100)],
                                     max_pos_buckets=180)
        assert s3[0] < 3
        assert s3[2] <= 180

    def test_exp_merge_end_to_end(self, spark):
        from filodb_spark.kernels.histogram import (base2_exp_les,
                                                    base2_exp_merged_scheme)
        # two exp schemes: scale 1 (sqrt2 base) and scale 0 (base 2)
        a_scheme, b_scheme = (1, 0, 4), (0, 0, 3)
        a_les = base2_exp_les(*a_scheme)   # [0, r2, 2, 2r2, 4]
        b_les = base2_exp_les(*b_scheme)   # [0, 2, 4, 8]
        df = hist_df(spark, [("a", a_les, [1.0, 2.0, 3.0, 4.0, 5.0]),
                             ("b", b_les, [10.0, 20.0, 30.0, 40.0])])
        merged = base2_exp_merged_scheme([a_scheme, b_scheme])
        out = hist_sum(df.withColumn("g", F.lit("x")), ["g"],
                       target_les=base2_exp_les(*merged)).first()["hist"]
        vals = list(out["values"])
        # merged (0, -1, 4): les [0, 1, 2, 4, 8]
        # a: cum(0)=1, cum(1)=1+1*(1/sqrt2)~1.707 (below-range interp),
        #    cum(2)=3 exact, cum(4)=5 exact, cum(8)=5 (clamp above range)
        # b: 10, 15 (in-bucket interp), 20, 30, 40
        assert vals[0] == 11.0
        assert vals[1] == pytest.approx(1 + 2 ** -0.5 + 15.0)
        assert vals[2:] == [23.0, 35.0, 45.0]


@pytest.mark.slow
class TestMinMaxConstrainedQuantile:
    """AggrOverTimeFunctionsSpec.scala:1764-1933 — observed min/max
    tighten the interpolation bucket: a high quantile landing in the top
    bucket is clamped to max; a low quantile in the bottom bucket to min.
    Rate-hist fixture: (second - first) buckets / 100 s."""

    LES = [2.0, 4.0, 8.0, 16.0, 32.0, 64.0, 128.0, 256.0]
    TOP_SKEW = [0.01, 0.02, 0.03, 0.04, 0.05, 0.1, 0.5, 10.0]
    BOT_SKEW = [10.0, 10.01, 10.02, 10.03, 10.04, 10.05, 10.06, 10.07]
    MAXV, MINV = 200.0, 1.0

    def _q(self, spark, values, q, with_hints):
        df = hist_df(spark, [("a", self.LES, values)])
        kw = dict(min_hint=self.MINV,
                  max_hint=self.MAXV) if with_hints else {}
        return df.select(
            hist_quantile(q, "hist.les", "hist.values", **kw)
            .alias("v")).first()["v"]

    @pytest.mark.parametrize("q", [0.95, 0.99, 0.995, 0.999])
    def test_max_constrains_top_bucket(self, spark, q):
        unbounded = self._q(spark, self.TOP_SKEW, q, False)
        bounded = self._q(spark, self.TOP_SKEW, q, True)
        assert self.MINV <= bounded <= self.MAXV
        if unbounded > self.MAXV:
            assert bounded < unbounded

    @pytest.mark.parametrize("q", [0.001, 0.005, 0.01, 0.05])
    def test_min_constrains_bottom_bucket(self, spark, q):
        unbounded = self._q(spark, self.BOT_SKEW, q, False)
        bounded = self._q(spark, self.BOT_SKEW, q, True)
        assert self.MINV <= bounded <= self.MAXV
        if unbounded < self.MINV:
            assert bounded > unbounded
