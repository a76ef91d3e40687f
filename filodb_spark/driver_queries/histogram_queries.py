"""Driver queries: histogram type over events observations.

Builds cumulative-LE histograms from raw event values per (series,
window), then applies histogram_quantile / bucket-wise sum — the
engine's histogram surface (Histogram.scala semantics) with exact SQL
oracles (interpolation formula mirrored as a CASE chain).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from filodb_spark.driver_queries.promql_events import (_base, _series, STEP,
                                                       WINDOW)
from filodb_spark.kernels.grid import drop_nan, explode_to_steps
from filodb_spark.kernels.histogram import (bucketize, hist_fraction,
                                            hist_quantile, hist_sum)

LES = [1.0, 2.0, 5.0, 10.0, 20.0, 50.0, 100.0, 200.0, 500.0]
Q = 0.9


def q_hist_quantile(spark, sf_dir):
    ev, grid = _series(spark, sf_dir)
    ex = explode_to_steps(drop_nan(ev), grid, WINDOW)
    h = bucketize(ex, ["event_type", "t"], LES)
    return h.select("event_type", "t",
                    F.round(hist_quantile(Q, "hist.les", "hist.values"), 6)
                    .alias("value"))


def q_hist_sum_quantile(spark, sf_dir):
    ev, grid = _series(spark, sf_dir)
    ex = explode_to_steps(drop_nan(ev), grid, WINDOW)
    h = bucketize(ex, ["event_type", "t"], LES)
    # one bucketize -> identical schemes by construction
    summed = hist_sum(h, ["t"], check_schemes=False)
    return summed.select("t",
                         F.round(hist_quantile(Q, "hist.les", "hist.values"), 6)
                         .alias("value"))


FRAC_LO, FRAC_HI = 2.0, 100.0   # exact bucket bounds: interpolation is exact
BUCKET_LE = 10.0


def q_hist_fraction(spark, sf_dir):
    """histogram_fraction(lo, hi, h) with lo/hi on bucket boundaries —
    the in-bucket interpolation factor is exactly 1.0, so the result is
    a pure cumulative-count ratio and the SQL oracle is exact."""
    ev, grid = _series(spark, sf_dir)
    ex = explode_to_steps(drop_nan(ev), grid, WINDOW)
    h = bucketize(ex, ["event_type", "t"], LES)
    return h.select(
        "event_type", "t",
        F.round(hist_fraction(FRAC_LO, FRAC_HI, F.col("hist")), 9)
        .alias("value"))


def q_hist_bucket(spark, sf_dir):
    """histogram_bucket(le, h): extract one cumulative bucket as a series
    (InstantFunction.scala:117)."""
    ev, grid = _series(spark, sf_dir)
    ex = explode_to_steps(drop_nan(ev), grid, WINDOW)
    h = bucketize(ex, ["event_type", "t"], LES)
    hc = F.col("hist")
    idx = F.array_position(hc["les"], BUCKET_LE)
    val = F.when(idx > 0, F.element_at(hc["values"], idx.cast("int"))) \
        .otherwise(F.lit(float("nan")))
    return h.select("event_type", "t", val.alias("value"))


MIX_B = [3.0, 30.0, 300.0]          # coarser second scheme (layout change)
MIX_UNION = sorted(set(LES) | set(MIX_B))
INF = float("inf")


def q_hist_mixed_sum(spark, sf_dir):
    """Sum over histograms with two different bucket schemes for the same
    metric (a mid-stream bucket-layout change): even-length event_types
    observe into LES, odd-length into the coarser MIX_B. hist_sum
    reconciles by projecting both onto the union grid (cum_at_le linear
    interpolation — Histogram.scala:367-420 addNoCorrection's
    scheme-merge branch generalized beyond exp schemes) before summing.
    Output: one row per (t, union bound le) of the merged histogram."""
    from filodb_spark.kernels.histogram import explode_hist
    ev, grid = _series(spark, sf_dir)
    ex = explode_to_steps(drop_nan(ev), grid, WINDOW)
    ha = bucketize(ex.where(F.length("event_type") % 2 == 0), ["t"], LES)
    hb = bucketize(ex.where(F.length("event_type") % 2 == 1), ["t"], MIX_B)
    summed = hist_sum(ha.unionByName(hb), ["t"],
                      target_les=[*MIX_UNION, INF])
    return (explode_hist(summed)
            .where(F.col("bucket_le") != INF)
            .select("t", F.col("bucket_le").alias("le"),
                    F.round("value", 6).alias("value")))


def _proj_sql(les: list, prefix: str, x: float) -> str:
    """SQL mirror of cum_at_le for a scheme with cumulative conditional
    counts {prefix}{i} over `les` (+ Inf top bucket = {prefix}tot) at
    threshold x — identical arithmetic, term order included, so the
    oracle is bit-exact against the Spark fold."""
    import bisect
    if x == INF:
        return f"{prefix}tot"
    if x in les:
        return f"{prefix}{les.index(x)}"
    j = bisect.bisect_left(les, x)
    if j == len(les):               # above last finite bound, +Inf clamp
        return f"{prefix}{len(les) - 1}"
    lo_le = 0.0 if j == 0 else les[j - 1]
    lo_c = "0.0" if j == 0 else f"{prefix}{j - 1}"
    return (f"({lo_c} + ({prefix}{j} - {lo_c}) * "
            f"(({x!r} - {lo_le!r}) / ({les[j]!r} - {lo_le!r})))")


def _mixed_sum_sql() -> str:
    def counts(les, prefix, parity):
        sums = ",\n         ".join(
            f"CAST(sum(CASE WHEN value <= {b!r} THEN 1 ELSE 0 END) AS DOUBLE)"
            f" AS {prefix}{i}" for i, b in enumerate(les))
        return (f"SELECT t,\n         {sums},\n"
                f"         CAST(count(*) AS DOUBLE) AS {prefix}tot\n"
                f"  FROM w WHERE length(sk) % 2 = {parity} GROUP BY t")
    rows = "\n  UNION ALL\n  ".join(
        f"SELECT t, {x!r} AS le, round(coalesce({_proj_sql(LES, 'e', x)}, 0.0)"
        f" + coalesce({_proj_sql(MIX_B, 'o', x)}, 0.0), 6) AS value FROM j"
        for x in MIX_UNION)
    return f""",
he AS (
  {counts(LES, 'e', 0)}
),
ho AS (
  {counts(MIX_B, 'o', 1)}
),
j AS (
  SELECT coalesce(he.t, ho.t) AS t, he.*EXCLUDE(t), ho.*EXCLUDE(t)
  FROM he FULL JOIN ho ON he.t = ho.t
)
SELECT * FROM (
  {rows}
)"""


from filodb_spark.kernels.histogram import base2_exp_les

EXP_SCHEME = (0, 2, 7)                    # base-2, tops 8..1024
EXP_LES = base2_exp_les(*EXP_SCHEME)      # [0, 8, 16, ..., 1024]
LN2 = 0.6931471805599453


def q_exp_hist_quantile(spark, sf_dir):
    """histogram_quantile over a base-2 exponential bucket scheme:
    log-scale interpolation inside buckets (Histogram.scala:97-105), the
    zero bucket staying linear. Exact CASE-chain SQL oracle."""
    ev, grid = _series(spark, sf_dir)
    ex = explode_to_steps(drop_nan(ev), grid, WINDOW)
    h = bucketize(ex, ["event_type", "t"], EXP_LES)
    return h.select(
        "event_type", "t",
        F.round(hist_quantile(Q, "hist.les", "hist.values",
                              exponential=True), 6)
        .alias("value"))


def _exp_quantile_case_sql(q: float) -> str:
    bounds = list(EXP_LES)                # finite bounds; +Inf appended
    sums = ",\n         ".join(
        f"CAST(sum(CASE WHEN value <= {b!r} THEN 1 ELSE 0 END) AS DOUBLE)"
        f" AS c{i}" for i, b in enumerate(bounds))
    whens = []
    for i, b in enumerate(bounds):
        lo_le = 0.0 if i == 0 else bounds[i - 1]
        lo_cum = "0.0" if i == 0 else f"c{i - 1}"
        frac = f"((rank - {lo_cum}) / (c{i} - {lo_cum}))"
        if b == 0.0 or lo_le == 0.0:
            # zero bucket / from-zero first bucket: linear interpolation
            expr = f"{lo_le!r} + ({b!r} - {lo_le!r}) * {frac}"
        else:
            expr = (f"pow(2.0, (ln({lo_le!r}) / {LN2!r}) + "
                    f"((ln({b!r}) / {LN2!r}) - (ln({lo_le!r}) / {LN2!r}))"
                    f" * {frac})")
        whens.append(f"WHEN c{i} >= rank THEN {expr}")
    case = "CASE " + " ".join(whens) + f" ELSE {bounds[-1]!r} END"
    return f""",
h AS (
  SELECT sk, t,
         {sums},
         CAST(count(*) AS DOUBLE) AS ctot
  FROM w GROUP BY sk, t
),
r AS (SELECT *, {q} * ctot AS rank FROM h)
SELECT sk AS event_type, t, round({case}, 6) AS value FROM r"""


def _quantile_case_sql(q: float, group: str, out_group: str) -> str:
    """CASE-chain mirror of Histogram.quantile over conditional-count
    buckets c0..cN (cumulative, cN = total)."""
    sums = ",\n         ".join(
        f"CAST(sum(CASE WHEN value <= {b} THEN 1 ELSE 0 END) AS DOUBLE) AS c{i}"
        for i, b in enumerate(LES))
    whens = []
    for i, b in enumerate(LES):
        lo_le = 0.0 if i == 0 else LES[i - 1]
        lo_cum = "0.0" if i == 0 else f"c{i - 1}"
        whens.append(
            f"WHEN c{i} >= rank THEN {lo_le} + ({b} - {lo_le}) * "
            f"((rank - {lo_cum}) / (c{i} - {lo_cum}))")
    case = "CASE " + " ".join(whens) + f" ELSE {LES[-1]} END"
    sel = f"{group}, t" if group else "t"
    out_sel = f"{out_group}, t" if out_group else "t"
    return f""",
h AS (
  SELECT {sel},
         {sums},
         CAST(count(*) AS DOUBLE) AS ctot
  FROM w GROUP BY {sel}
),
r AS (SELECT *, {q} * ctot AS rank FROM h)
SELECT {out_sel}, round({case}, 6) AS value FROM r"""


QUERIES = {
    "ts_exp_hist_quantile": q_exp_hist_quantile,
    "ts_hist_mixed_sum": q_hist_mixed_sum,
    "ts_hist_quantile": q_hist_quantile,
    "ts_hist_sum_quantile": q_hist_sum_quantile,
    "ts_hist_fraction": q_hist_fraction,
    "ts_hist_bucket": q_hist_bucket,
}

ORACLES = {
    "ts_exp_hist_quantile": _base(STEP, WINDOW) + _exp_quantile_case_sql(Q),
    "ts_hist_mixed_sum": _base(STEP, WINDOW) + _mixed_sum_sql(),
    "ts_hist_quantile": _base(STEP, WINDOW)
        + _quantile_case_sql(Q, "sk", "sk AS event_type"),
    "ts_hist_sum_quantile": _base(STEP, WINDOW) + _quantile_case_sql(Q, "", ""),
    "ts_hist_fraction": _base(STEP, WINDOW) + f"""
SELECT sk AS event_type, t,
       round((CAST(sum(CASE WHEN value <= {FRAC_HI} THEN 1 ELSE 0 END) AS DOUBLE)
              - CAST(sum(CASE WHEN value <= {FRAC_LO} THEN 1 ELSE 0 END) AS DOUBLE))
             / CAST(count(*) AS DOUBLE), 9) AS value
FROM w GROUP BY sk, t""",
    "ts_hist_bucket": _base(STEP, WINDOW) + f"""
SELECT sk AS event_type, t,
       CAST(sum(CASE WHEN value <= {BUCKET_LE} THEN 1 ELSE 0 END) AS DOUBLE) AS value
FROM w GROUP BY sk, t""",
}
