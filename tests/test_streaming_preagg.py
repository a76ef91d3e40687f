"""Pre-aggregation producer (batch + streaming twin) and its loop into
the query router: the r5 preagg routing (AggRule /
_maybe_preagg_rewrite) assumed an offline job materialized the
``m:::suffix`` metrics; streaming/preagg.py is that producer."""

import json

import pytest
from pyspark.sql import functions as F

from filodb_spark.promql import PromQLEngine
from filodb_spark.promql.compiler import AggRule, TsStore
from filodb_spark.streaming.preagg import (build_preagg, preagg_ready_until,
                                           streaming_preagg)

# @slow tests are skipped by default to keep the default profile short
# (SPARK_GRAFT_RUN_SLOW=1 runs them; scripts/round_close.py does).
# The one unmarked test keeps this entry point in the default profile.

RES = 300_000   # 5m publish resolution
T0 = 1_704_067_200_000

RULE = AggRule(suffix="agg", exclude=frozenset({"inst"}))
RULES = {"cpu": (RULE,)}


def _raw_rows():
    rows = []
    for i in range(36):
        for inst in ("0", "1", "2"):
            rows.append(({"__name__": "cpu", "job": "api", "inst": inst},
                         T0 + i * 60_000 + int(inst) * 7, float(i) + int(inst)))
    # a second job, and NaN staleness markers that must be skipped
    for i in range(36):
        rows.append(({"__name__": "cpu", "job": "db", "inst": "0"},
                     T0 + i * 60_000, float("nan") if i % 9 == 0 else 2.0 * i))
    # an unrelated metric that must not leak into the cpu preagg
    rows.append(({"__name__": "mem", "job": "api", "inst": "0"}, T0, 99.0))
    return rows


@pytest.fixture(scope="module")
def raw(spark):
    return spark.createDataFrame(
        _raw_rows(), "labels map<string,string>, ts long, value double")


def _key(r):
    return (tuple(sorted(r["labels"].items())), r["ts"], r["value"])


class TestBatchProducer:
    @pytest.mark.slow
    def test_emits_four_metric_variants(self, raw):
        out = build_preagg(raw, RULES, RES)
        names = {r["labels"]["__name__"] for r in out.collect()}
        assert names == {"cpu:::agg", "cpu:::agg:count",
                         "cpu:::agg:min", "cpu:::agg:max"}

    def test_values_match_hand_aggregation(self, spark, raw):
        out = build_preagg(raw, RULES, RES)
        # hand-compute one bucket for job=api: i in [0..4] x inst 0,1,2
        lo, hi = T0, T0 + RES
        samples = [(ts, v) for lab, ts, v in _raw_rows()
                   if lab["__name__"] == "cpu" and lab["job"] == "api"
                   and lo <= ts < hi]
        got = {r["labels"]["__name__"]: r for r in out.collect()
               if r["labels"].get("job") == "api" and lo <= r["ts"] < hi}
        vals = [v for _, v in samples]
        assert got["cpu:::agg"]["value"] == pytest.approx(sum(vals))
        assert got["cpu:::agg:count"]["value"] == len(vals)
        assert got["cpu:::agg:min"]["value"] == min(vals)
        assert got["cpu:::agg:max"]["value"] == max(vals)
        # retained labels only; ts = last sample in bucket (tTime)
        assert set(got["cpu:::agg"]["labels"]) == {"__name__", "job"}
        assert got["cpu:::agg"]["ts"] == max(ts for ts, _ in samples)

    @pytest.mark.slow
    def test_include_rule_keeps_only_included(self, raw):
        rules = {"cpu": (AggRule(suffix="byjob",
                                 include=frozenset({"job"})),)}
        out = build_preagg(raw, rules, RES)
        for r in out.collect():
            assert set(r["labels"]) == {"__name__", "job"}


@pytest.mark.slow
class TestStreamingTwin:
    def test_row_equal_to_batch_and_restart(self, spark, raw, tmp_path):
        """Closed windows published by the stream must equal the batch
        producer row-for-row, across a checkpoint restart."""
        src, out, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ck"
        src.mkdir()
        # time-ordered split: the second batch must not be entirely
        # behind the watermark the first run checkpointed (that would be
        # genuinely late data, correctly dropped)
        rows = sorted(_raw_rows(), key=lambda r: r[1])

        def dump(name, chunk):
            with open(src / name, "w") as f:
                for lab, ts, v in chunk:
                    f.write(json.dumps({"labels": lab, "ts": ts,
                                        "value": v}) + "\n")

        def run_once():
            stream = spark.readStream.schema(
                "labels map<string,string>, ts long, value double"
            ).json(str(src))
            ds = streaming_preagg(stream, "cpu", RULE, RES,
                                  watermark_delay="0 seconds")
            q = (ds.writeStream.format("parquet")
                 .option("path", str(out))
                 .option("checkpointLocation", str(ckpt))
                 .outputMode("append").trigger(availableNow=True).start())
            q.awaitTermination(120)

        dump("b1.json", rows[:60])
        run_once()
        dump("b2.json", rows[60:])   # arrives after restart
        run_once()

        got = {_key(r) for r in spark.read.parquet(str(out)).collect()}
        batch = {_key(r) for r in build_preagg(raw, RULES, RES).collect()}
        # append mode withholds windows the watermark hasn't closed;
        # everything emitted must match batch exactly and only the tail
        # buckets may be open
        assert got <= batch
        assert len(got) >= len(batch) - 2 * 4   # <=2 open buckets x 4 variants
        # no duplicate publications across the restart
        assert len(got) == spark.read.parquet(str(out)).count()

    def test_rejects_batch_frame(self, raw):
        with pytest.raises(ValueError, match="streaming"):
            streaming_preagg(raw, "cpu", RULE, RES)


@pytest.mark.slow
class TestRouterLoop:
    def test_router_reads_producer_output(self, spark, raw):
        """End-to-end loop: producer output mounted beside raw with the
        producer-derived freshness watermark; sum(sum_over_time(...))
        routes to the preagg metric and agrees with the raw answer."""
        pre = build_preagg(raw, RULES, RES)
        ready = preagg_ready_until(pre, RES)
        hi = T0 + 35 * 60_000
        assert ready is not None and ready > hi
        store = TsStore(raw.unionByName(pre), agg_rules=RULES,
                        preagg_ready_until_ms=ready)
        eng = PromQLEngine(spark, store, lookback_ms=3600_000)
        # grid must end at/before the producer watermark or the
        # freshness guard (correctly) falls back to raw
        # t is 1ms off the exact sample/bucket boundary: the inclusive
        # raw window [t-w, t] would otherwise include the boundary
        # sample that lives in the next (unpublished) bucket
        t = T0 + 30 * 60_000 - 1
        assert t <= ready
        routed = eng.query_range('sum(sum_over_time(cpu[30m]))',
                                 t, t, 60_000).collect()
        raw_ans = eng.query_range('no_optimize(sum(sum_over_time(cpu[30m])))',
                                  t, t, 60_000).collect()
        assert routed[0]["value"] == pytest.approx(raw_ans[0]["value"])
        # prove routing actually fired (not a trivial raw==raw match):
        # a store whose preagg values are doubled must answer doubled
        skewed = TsStore(
            raw.unionByName(pre.withColumn("value", F.col("value") * 2)),
            agg_rules=RULES, preagg_ready_until_ms=ready)
        eng_skew = PromQLEngine(spark, skewed, lookback_ms=3600_000)
        doubled = eng_skew.query_range('sum(sum_over_time(cpu[30m]))',
                                       t, t, 60_000).collect()
        assert doubled[0]["value"] == pytest.approx(2 * raw_ans[0]["value"])
        # grid past the watermark must fall back to raw: same skewed
        # preagg, stale watermark -> the raw (unskewed) answer
        stale_store = TsStore(
            raw.unionByName(pre.withColumn("value", F.col("value") * 2)),
            agg_rules=RULES, preagg_ready_until_ms=t - 1)
        eng2 = PromQLEngine(spark, stale_store, lookback_ms=3600_000)
        stale = eng2.query_range('sum(sum_over_time(cpu[30m]))',
                                 t, t, 60_000).collect()
        assert stale[0]["value"] == pytest.approx(raw_ans[0]["value"])

    def test_ready_until_none_on_empty(self, spark):
        empty = spark.createDataFrame(
            [], "labels map<string,string>, ts long, value double")
        assert preagg_ready_until(empty, RES) is None
