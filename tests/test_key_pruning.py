"""Key-column pruning and statically proven join keys.

- TsStore.select twins metric / shard-key equality onto the series
  table's physical key columns (`_metric`, `_ws_`, `_ns_`): the scan
  prunes partition directories and row groups, the rows and the
  returned columns stay exactly those of a labels-only mount.
- One-to-one vector matching skips the duplicate-key check on a side
  whose `by (L)` aggregation already proves its join keys unique.
"""

import dataclasses

import pytest
from pyspark.sql import functions as F

from filodb_spark.promql import PromQLEngine
from filodb_spark.promql.ast import LabelMatcher, VectorSelector
from filodb_spark.promql.compiler import TsStore, _unique_join_keys
from filodb_spark.promql.parser import parse
from filodb_spark.sources.table import read_series_table, write_series_table

T0 = 1_700_000_000_000
STEP = 60_000
HIST = "labels map<string,string>, ts long, sum double, count double, " \
       "hist struct<les: array<double>, values: array<double>>"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _gauge_rows():
    rows = []
    # "" and a missing _ns_ both land outside the named partitions
    for ns in ("App-0", "App-1", "", None):
        for job in ("a", "b"):
            for code in ("200", "500"):
                for metric in ("req", "err"):
                    labels = {"__name__": metric, "_ws_": "demo",
                              "job": job, "code": code}
                    if ns is not None:
                        labels["_ns_"] = ns
                    for i in range(12):
                        rows.append((labels, T0 + i * STEP,
                                     float(i * (3 if metric == "req" else 1))))
    return rows


def _hist_rows():
    les = [0.1, 1.0, float("inf")]
    return [({"__name__": "lat", "_ws_": "demo", "_ns_": "App-9",
              "job": job}, T0 + i * STEP, float(i), float(3 * i),
             (les, [float(i), float(2 * i), float(3 * i)]))
            for job in ("a", "b") for i in range(12)]


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """(store mounted with key columns, the same data mounted labels-only)."""
    root = tmp_path_factory.mktemp("keyprune")
    gauge_path, hist_path = str(root / "gauge"), str(root / "hist")
    write_series_table(spark.createDataFrame(
        _gauge_rows(), "labels map<string,string>, ts long, value double"),
        gauge_path)
    write_series_table(spark.createDataFrame(_hist_rows(), HIST), hist_path)
    hist_keyed = read_series_table(spark, hist_path)
    keyed = TsStore.from_table(spark, gauge_path, hist_df=hist_keyed,
                               hist_metrics=("lat",))
    plain = TsStore(
        spark.read.parquet(gauge_path).select("labels", "ts", "value"),
        hist_df=hist_keyed.select("labels", "ts", "sum", "count", "hist"),
        hist_metrics=("lat",))
    return keyed, plain


def _sel(promql: str) -> VectorSelector:
    sel = parse(promql)
    assert isinstance(sel, VectorSelector)
    return sel


def _rows(df):
    return sorted((tuple(sorted(r["labels"].items())), r["ts"],
                   *[r[c] for c in df.columns if c not in ("labels", "ts")])
                  for r in df.collect())


class TestKeyColumnPruning:
    def test_from_table_keeps_key_columns(self, stores):
        keyed, _ = stores
        assert keyed.df.columns == ["labels", "ts", "value",
                                    "_metric", "_ws_", "_ns_"]

    def test_scan_plan_prunes_partitions_and_pushes_metric(self, spark,
                                                           stores):
        keyed, _ = stores
        eng = PromQLEngine(spark, keyed)
        out = eng.query_range('rate(req{_ns_="App-1"}[5m])',
                              T0 + 5 * STEP, T0 + 11 * STEP, STEP)
        scan = next(line for line in plan_of(out).splitlines()
                    if "FileScan parquet" in line and "gauge" in line)
        part = scan.split("PartitionFilters: [")[1].split("]")[0]
        assert "_ns_" in part and "App-1" in part
        pushed = scan.split("PushedFilters: [")[1]
        assert "EqualTo(_metric,req)" in pushed

    @pytest.mark.parametrize("promql", [
        'req',                              # exact metric
        'req{_ns_="App-1", job="a"}',       # metric + shard key
        '{_ns_="App-0", code="500"}',       # metric-less
        'err{_ns_=~"App-.*"}',              # regex shard key: map-only
        'req{_ns_=""}',                     # empty value: map-only
        'req{_ns_="__none__"}',             # sentinel value: map-only
        'req{_type_="prom-histogram"}',     # _type_ mismatch
        'lat_sum{_ns_="App-9"}',            # hist rewrites
        'lat_bucket{job="b"}',
        '{_ns_="App-9"}',                   # multischema: hist hit
        '{_type_="gauge", _ns_="App-1"}',   # multischema: named schema
    ])
    def test_rows_match_labels_only_mount(self, stores, promql):
        keyed, plain = stores
        sel = _sel(promql)
        got, want = keyed.select(sel), plain.select(sel)
        assert got.columns == want.columns
        assert _rows(got) == _rows(want)

    def test_engine_answers_match_labels_only_mount(self, spark, stores):
        keyed, plain = stores
        q = ('sum by (job)(rate(err{_ns_="App-1"}[5m]))'
             ' / sum by (job)(rate(req{_ns_="App-1"}[5m]))')
        got, want = (PromQLEngine(spark, s).query_range(
            q, T0 + 5 * STEP, T0 + 11 * STEP, STEP) for s in stores)
        assert _rows(got.withColumnRenamed("t", "ts")) == \
            _rows(want.withColumnRenamed("t", "ts"))

    def test_select_returns_pre_change_columns_in_every_branch(self,
                                                               stores):
        keyed, _ = stores
        gauge = ["labels", "ts", "value"]
        hist = ["labels", "ts", "sum", "count", "hist"]
        cases = {
            'req{_ns_="App-1"}': gauge,                    # gauge
            'lat': hist,                                   # hist
            'lat_sum': gauge, 'lat_count': gauge,          # rewrites
            'lat_bucket': gauge,
            'req{_type_="prom-histogram"}': gauge,         # mismatch
            'lat{_type_="gauge"}': keyed.hist_df.columns,  # (unchanged)
            '{_ns_="App-0"}': gauge,                       # multischema
            '{_ns_="App-9"}': hist,
            '{_type_="gauge"}': gauge,
            '{_type_="prom-histogram"}': hist,
        }
        for promql, cols in cases.items():
            assert keyed.select(_sel(promql)).columns == cols, promql
        view = dataclasses.replace(keyed, ds_hist_df=keyed.hist_df).ds_view()
        assert view.select(VectorSelector("req", ())).columns == gauge

    def test_twins_skip_sentinel_and_non_equality_matchers(self, stores):
        keyed, _ = stores
        for m in (LabelMatcher("_ns_", "=", ""),
                  LabelMatcher("_ns_", "=", "__none__"),
                  LabelMatcher("_ns_", "=~", "App-1"),
                  LabelMatcher("_ns_", "!=", "App-1")):
            plan = plan_of(keyed.select(VectorSelector("req", (m,))))
            scan = next(line for line in plan.splitlines()
                        if "FileScan parquet" in line)
            part = scan.split("PartitionFilters: [")[1].split("]")[0]
            assert "App-1" not in part and "__none__" not in part, m

    def test_cached_frame_keeps_key_columns_for_batch_pruning(self, stores):
        keyed, _ = stores
        cached = dataclasses.replace(keyed, df=keyed.df.cache())
        try:
            cached.df.count()
            plan = plan_of(cached.select(_sel('req{_ns_="App-1"}')))
            scan = next(line for line in plan.splitlines()
                        if "InMemoryTableScan" in line)
            assert "_metric" in scan and "_ns_" in scan
        finally:
            cached.df.unpersist()


def _join_store(spark):
    rows = [({"__name__": m, "job": job, "code": code}, T0 + i * STEP,
             float(i + 1))
            for m in ("a", "b") for job in ("x", "y")
            for code in ("200", "500") for i in range(6)]
    return TsStore(spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double"))


@pytest.fixture(scope="module")
def join_engine(spark):
    return PromQLEngine(spark, _join_store(spark))


def _plan(engine, q):
    return plan_of(engine.query_range(q, T0 + 2 * STEP, T0 + 5 * STEP, STEP))


class TestProvenJoinKeys:
    def test_proof_rules(self):
        def proven(q):
            e = parse(q)
            return tuple(_unique_join_keys(side, e.on, e.ignoring)
                         for side in (e.lhs, e.rhs))
        assert proven('sum by (job)(a) / sum by (job)(b)') == (True, True)
        assert proven('(avg by (job)(a)) / stddev by (job)(b)') == \
            (True, True)
        assert proven('max by (job)(a) / on(job, code) b') == (True, False)
        assert proven('sum by (job)(a) / ignoring(code) '
                      'count by (job)(b)') == (True, True)
        # every other shape keeps the check
        assert proven('sum without (code)(a) / sum without (code)(b)') == \
            (False, False)
        assert proven('sum by (__name__, job)(a) / '
                      'sum by (__name__, job)(b)') == (False, False)
        assert proven('sum by (job, code)(a) / on(job) '
                      'sum by (job, code)(b)') == (False, False)
        assert proven('sum by (job, code)(a) / ignoring(code) '
                      'sum by (job, code)(b)') == (False, False)
        assert proven('topk by (job)(1, a) / quantile by (job)(0.5, b)') \
            == (False, False)
        assert proven('a / b') == (False, False)

    def test_proven_sides_drop_the_duplicate_check(self, spark, stores,
                                                   join_engine):
        assert "GlobalLimit" not in _plan(
            join_engine, 'sum by (job)(a) / sum by (job)(b)')
        # the dashboard error-ratio shape on the on-disk table: 12
        # exchanges with both operand subtrees evaluated twice
        out = PromQLEngine(spark, stores[0]).query_range(
            'sum by (job)(rate(err[5m])) / sum by (job)(rate(req[5m]))',
            T0 + 5 * STEP, T0 + 11 * STEP, STEP)
        plan = plan_of(out)
        assert "GlobalLimit" not in plan
        assert plan.count("Exchange") == 5

    @pytest.mark.parametrize("q", [
        'sum without (code)(a) / sum without (code)(b)',
        'sum by (__name__, job)(a) / sum by (__name__, job)(b)',
        'sum by (job, code)(a) / on(job) sum by (job, code)(b)',
        'sum by (job, code)(a) / ignoring(code) sum by (job, code)(b)',
        'a / b',
        'sum by (job)(a) / on(job, code) b',   # one raw side
    ])
    def test_check_stays_for_unproven_sides(self, join_engine, q):
        assert "GlobalLimit" in _plan(join_engine, q)

    def test_proven_answers_unchanged(self, join_engine):
        out = join_engine.query_range('sum by (job)(a) / sum by (job)(b)',
                                      T0 + 2 * STEP, T0 + 5 * STEP, STEP)
        assert sorted((r.labels["job"], r.t, r.value)
                      for r in out.collect()) == \
            [(job, T0 + k * STEP, 1.0) for job in ("x", "y")
             for k in range(2, 6)]

    @pytest.mark.parametrize("q", [
        'sum by (job, code)(a) / on(job) sum by (job, code)(b)',
        'sum by (job)(a) / on(job) b',          # proven lhs, duplicated rhs
    ])
    def test_duplicated_one_to_one_still_raises(self, join_engine, q):
        with pytest.raises(Exception, match="many found instead of one"):
            join_engine.query_range(q, T0 + 2 * STEP, T0 + 5 * STEP,
                                    STEP).collect()
