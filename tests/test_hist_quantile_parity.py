"""hist_quantile's one-fold form is bit-identical to the per-reference
form it replaced.

`_hist_quantile_r14` and `_monotonic_values_r14` below are the previous
Column-built kernels, frozen verbatim. The old quantile bound the bucket
index to a Python variable, so every use of the index re-inlined the
search fold (and, on the `_bucket` path, the monotonic_values repair
inside it). The current kernels are single SQL expressions: the search
runs once per row and the fold's `finish` lambda computes the result.
Both run on a seeded randomized battery plus fixed edge cases, on the
struct path, on the repaired (`_bucket`) form and through PromQLEngine;
every answer must match bit for bit (NaN equals NaN)."""

import math
import random
import struct

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from filodb_spark.kernels.histogram import hist_quantile, monotonic_values
from filodb_spark.promql import PromQLEngine
from filodb_spark.promql.compiler import TsStore

INF = float("inf")
NAN = float("nan")
QS = [-0.5, 0.0, 0.5, 1.0, 1.5, 0.01, 0.25, 0.9, 0.99]


def _hist_quantile_r14(q, hist, min_hint=None, max_hint=None,
                       even_distribution=False, exponential=False):
    """The previous hist_quantile, verbatim (oracle only)."""
    if not isinstance(q, Column):
        q = F.lit(float(q))
    les, vals = hist["les"], hist["values"]
    n = F.size(les)
    total = F.element_at(vals, -1)
    rank = q * total
    idx = F.aggregate(
        vals,
        F.struct(F.lit(0).alias("i"), F.lit(-1).alias("found")),
        lambda acc, v: F.struct(
            (acc["i"] + 1).alias("i"),
            F.when((acc["found"] < 0) & (v >= rank), acc["i"] + 1)
             .otherwise(acc["found"]).alias("found")),
        lambda acc: acc["found"])
    le = F.element_at(les, idx)
    cum = F.element_at(vals, idx)
    lo_le = F.when(idx > 1, F.element_at(les, idx - 1)).otherwise(F.lit(0.0))
    lo_cum = F.when(idx > 1, F.element_at(vals, idx - 1)).otherwise(F.lit(0.0))
    b_start, b_end = lo_le, le
    if min_hint is not None:
        b_start = F.when((min_hint > b_start) & (min_hint <= b_end), min_hint) \
            .otherwise(b_start)
    if max_hint is not None:
        b_end = F.when((max_hint > b_start) & (max_hint <= b_end), max_hint) \
            .otherwise(b_end)
    count = cum - lo_cum
    frac = (rank - lo_cum) / (count + (1 if even_distribution else 0))
    if exponential:
        log2 = lambda c: F.log(c) / F.lit(math.log(2.0))
        log_interp = F.pow(F.lit(2.0), log2(b_start)
                           + (log2(b_end) - log2(b_start)) * frac)
        interp = F.when(b_start == 0, b_start + (b_end - b_start) * frac) \
            .otherwise(log_interp)
    else:
        interp = b_start + (b_end - b_start) * frac
    nan = F.lit(float("nan"))
    return (F.when(q < 0, F.lit(float("-inf")))
             .when(q > 1, F.lit(float("inf")))
             .when((n < 2) | (total == 0) | total.isNull(), nan)
             .when(b_end == F.lit(float("inf")), lo_le)
             .when(cum == lo_cum, lo_le)
             .otherwise(interp))


def _monotonic_values_r14(vals):
    """The previous monotonic_values, verbatim (oracle only)."""
    return F.aggregate(
        vals,
        F.struct(F.lit(0.0).alias("mx"),
                 F.array().cast("array<double>").alias("out")),
        lambda acc, v: F.struct(
            F.when(~F.isnan(v) & (v > acc["mx"]), v)
             .otherwise(acc["mx"]).alias("mx"),
            F.concat(acc["out"], F.array(
                F.when(F.isnan(v) | (v < acc["mx"]), acc["mx"])
                 .otherwise(v))).alias("out")),
        lambda acc: acc["out"])


def _hist(les, vals):
    return F.struct(les.alias("les"), vals.alias("values"))


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return struct.pack("<d", a) == struct.pack("<d", b)


def _assert_rows_identical(rows, cols):
    bad = [(i, c, r[f"old_{c}"], r[f"new_{c}"])
           for i, r in enumerate(rows) for c in cols
           if not _same(r[f"old_{c}"], r[f"new_{c}"])]
    assert not bad, bad[:10]


# (les, values, min hint, max hint); the values are cumulative counts
EDGE_CASES = [
    ([1.0, 2.0, 4.0, INF], [15.0, 12.0, 20.0, 20.0], None, None),   # dip
    ([1.0, 2.0, 4.0, INF], [5.0, NAN, 9.0, 12.0], None, None),      # NaN
    ([1.0, 2.0, 4.0, INF], [NAN, NAN, 9.0, 12.0], 0.5, 3.0),
    ([1.0, 2.0, 4.0, INF], [0.0, 0.0, 0.0, 0.0], None, None),       # empty
    ([INF], [7.0], None, None),                                     # single
    ([3.0], [7.0], 1.0, 2.0),
    ([1.0, 2.0, 4.0, 8.0], [1.0, 2.0, 3.0, 4.0], None, None),       # finite
    ([1.0, 2.0, 4.0, INF], [1.0, 2.0, 3.0, 4.0], 0.5, 10.0),        # +Inf
    ([2.0, 4.0, INF], [40.0, 40.0, 50.0], 1.0, 3.0),    # rank < 1st bucket
    ([1.0, 2.0, INF], [1.0, 2.0, NAN], None, None),     # NaN total
    ([1.0, 2.0, INF], [1.0, 2.0, INF], None, None),     # 0 * Inf rank
    ([1.0, 2.0, INF], [-4.0, -2.0, -1.0], None, None),  # rank above all
    ([0.0, 2.0, 4.0, 8.0], [0.0, 10.0, 20.0, 30.0], 0.5, 6.0),      # exp
    ([0.0, 2.0, 4.0, 8.0], [3.0, 10.0, 20.0, 30.0], None, None),
    ([], [], None, None),
]


def _random_cases(rng: random.Random, n: int):
    cases = []
    for _ in range(n):
        k = rng.randint(1, 8)
        les = sorted(rng.sample(range(1, 400), k))
        les = [b / rng.choice([1, 4, 10]) for b in les]
        les = sorted(set(les))
        if rng.random() < 0.3:
            les = [0.0, *les]
        if rng.random() < 0.6:
            les[-1] = INF
        cum, vals = 0.0, []
        for _ in les:
            cum += rng.choice([0.0, 0.0, 1.0, 3.0, rng.random() * 50])
            r = rng.random()
            vals.append(NAN if r < 0.08 else cum * rng.random() if r < 0.2
                        else cum)
        hmin = rng.choice([None, rng.uniform(0.0, 2.0 * les[0] + 1.0)])
        hmax = rng.choice([None, rng.uniform(0.0, 120.0)])
        cases.append((les, vals, hmin, hmax))
    return cases


@pytest.fixture(scope="module")
def battery(spark):
    cases = EDGE_CASES + _random_cases(random.Random(20261017), 400)
    rows = [(i, (les, vals), lo, hi)
            for i, (les, vals, lo, hi) in enumerate(cases)]
    df = spark.createDataFrame(
        rows, "id int, hist struct<les: array<double>, values: "
              "array<double>>, hmin double, hmax double")
    # q rides as a column (one oracle expression per form, not one per
    # q); the repaired form is built as the `_bucket` path builds it:
    # the repaired counts bound to a column of their own select
    qs = spark.createDataFrame([(q,) for q in QS], "q double")
    return (df.crossJoin(qs)
              .select("*", F.col("hist.les").alias("_les"),
                      monotonic_values("hist.values").alias("_vals")))


@pytest.mark.parametrize("even", [False, True])
@pytest.mark.parametrize("exponential", [False, True])
@pytest.mark.parametrize("hints", [False, True])
def test_kernel_bit_identical(battery, even, exponential, hints):
    kw = dict(even_distribution=even, exponential=exponential)
    old_kw, new_kw = dict(kw), dict(kw)
    if hints:
        old_kw.update(min_hint=F.col("hmin"), max_hint=F.col("hmax"))
        new_kw.update(min_hint="hmin", max_hint="hmax")
    q, h = F.col("q"), F.col("hist")
    repaired = _hist(h["les"], _monotonic_values_r14(h["values"]))
    rows = battery.orderBy("id", "q").select(
        _hist_quantile_r14(q, h, **old_kw).alias("old_struct"),
        hist_quantile("q", "hist.les", "hist.values", **new_kw)
        .alias("new_struct"),
        _hist_quantile_r14(q, repaired, **old_kw).alias("old_repaired"),
        hist_quantile("q", "_les", "_vals", **new_kw)
        .alias("new_repaired")).collect()
    assert len(rows) == (len(EDGE_CASES) + 400) * len(QS)
    _assert_rows_identical(rows, ["struct", "repaired"])


def test_null_histogram_identical(spark):
    df = spark.createDataFrame(
        [(None,), (([1.0, INF], None),)],
        "hist struct<les: array<double>, values: array<double>>")
    out = []
    for i, q in enumerate([-0.5, 0.5, 1.5]):
        out += [_hist_quantile_r14(q, F.col("hist")).alias(f"old_{i}"),
                hist_quantile(q, "hist.les", "hist.values")
                .alias(f"new_{i}")]
    _assert_rows_identical(df.select(*out).collect(), range(3))


T0 = 1_700_000_000_000
STEP = 10_000


def _engine_cases(seed: int, n_steps: int):
    """Per (job, step): one cumulative histogram on a shared bound set
    per job, with dips and repeated counts."""
    rng = random.Random(seed)
    out = []
    for job, les in (("a", [0.5, 1.0, 2.5, 5.0, INF]),
                     ("b", [1.0, 10.0, 100.0]),
                     ("c", [0.25, INF])):
        for s in range(n_steps):
            cum, vals = 0.0, []
            for _ in les:
                cum += rng.choice([0.0, 1.0, 2.0, rng.random() * 9])
                vals.append(cum * rng.random() if rng.random() < 0.2
                            else cum)
            out.append((job, T0 + s * STEP, les, vals,
                        rng.uniform(0.0, 1.0), rng.uniform(0.5, 120.0)))
    return out


def test_struct_path_engine_identical(spark):
    cases = _engine_cases(7, 6)
    hist_df = spark.createDataFrame(
        [({"__name__": "ph", "job": job}, ts, 0.0, 0.0, lo, hi, (les, vals))
         for job, ts, les, vals, lo, hi in cases],
        "labels map<string,string>, ts long, sum double, count double, "
        "min double, max double, "
        "hist struct<les: array<double>, values: array<double>>")
    gauge = spark.createDataFrame(
        [], "labels map<string,string>, ts long, value double")
    eng = PromQLEngine(spark, TsStore(gauge, hist_df=hist_df,
                                      hist_metrics=("ph",)))
    arg = "last_over_time(ph[5s])"
    end = T0 + 5 * STEP
    inner = eng.query_range(arg, T0, end, STEP)
    assert {"hmin", "hmax"} <= set(inner.columns)
    h = F.col("hist")
    for fn, qs, kw in (
            ("histogram_quantile", (0.0, 0.5, 0.9, 1.0),
             dict(min_hint=F.col("hmin"))),
            ("histogram_max_quantile", (0.5, 0.9),
             dict(min_hint=F.col("hmin"), max_hint=F.col("hmax"))),
            ("histogram_max_quantile_even", (0.5, 0.9),
             dict(min_hint=F.col("hmin"), max_hint=F.col("hmax"),
                  even_distribution=True))):
        oracle = inner.select("labels", "t", *[
            _hist_quantile_r14(q, h, **kw).alias(f"v{i}")
            for i, q in enumerate(qs)]).collect()
        for i, q in enumerate(qs):
            want = {(r["labels"]["job"], r["t"]): r[f"v{i}"] for r in oracle}
            got = {(r["labels"]["job"], r["t"]): r["value"]
                   for r in eng.query_range(f"{fn}({q}, {arg})",
                                            T0, end, STEP).collect()}
            assert len(got) == len(cases)
            assert set(got) == set(want)
            bad = [k for k in got if not _same(got[k], want[k])]
            assert not bad, (fn, q, [(k, got[k], want[k]) for k in bad])


def _le_label(le: float) -> str:
    return "+Inf" if le == INF else repr(le)


def test_bucket_path_engine_identical(spark):
    cases = _engine_cases(11, 6)
    rows = [({"__name__": "pb_bucket", "job": job, "le": _le_label(le)},
             ts, v)
            for job, ts, les, vals, _, _ in cases
            for le, v in zip(les, vals)]
    # samples without a numeric `le` join no histogram: a stray bucket on
    # series a, and a series of its own that yields no row at all
    rows += [({"__name__": "pb_bucket", "job": "a", "le": "junk"}, ts, 1e9)
             for _, ts, *_ in cases[:6]]
    rows += [({"__name__": "pb_bucket", "job": "e"}, ts, 5.0)
             for _, ts, *_ in cases[:6]]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double")
    eng = PromQLEngine(spark, TsStore(df), lookback_ms=5)
    end = T0 + 5 * STEP
    ref = spark.createDataFrame(
        [(job, ts, (les, vals)) for job, ts, les, vals, _, _ in cases],
        "job string, t long, "
        "hist struct<les: array<double>, values: array<double>>")
    h = F.col("hist")
    repaired = _hist(h["les"], _monotonic_values_r14(h["values"]))
    qs = (0.0, 0.25, 0.5, 0.9, 1.0)
    oracle = ref.select("job", "t", *[
        _hist_quantile_r14(q, repaired).alias(f"v{i}")
        for i, q in enumerate(qs)]).collect()
    for i, q in enumerate(qs):
        want = {(r["job"], r["t"]): r[f"v{i}"] for r in oracle}
        got = {(r["labels"]["job"], r["t"]): r["value"]
               for r in eng.query_range(f"histogram_quantile({q}, pb_bucket)",
                                        T0, end, STEP).collect()}
        assert set(got) == set(want) and len(got) == len(cases)
        bad = [k for k in got if not _same(got[k], want[k])]
        assert not bad, (q, [(k, got[k], want[k]) for k in bad])
