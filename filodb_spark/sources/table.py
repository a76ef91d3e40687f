"""Series-table storage layout: the 100 TB physical design.

Replaces the reference's Cassandra chunk store + Lucene part-key index
(SURVEY §1.1/§1.3) with a partitioned columnar table:

- partition columns: shard-key labels (`_ws_`, `_ns_` — the reference's
  shardKeyColumns, filodb-defaults.conf:199) plus `date` derived from
  ts -> directory-level partition pruning replaces shard routing;
- within partitions, files are sorted by (metric, series key, ts) ->
  parquet row-group min/max skipping replaces the tag index for the
  metric, and gives run-length/delta friendly pages (the reference's
  delta-delta/dict encodings fall out of parquet's encoders);
- one table per data schema (gauge/counter/histogram/ds-gauge),
  selected by TsStore's schema registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from filodb_spark.kernels.binary import canonical_labels

SHARD_KEY_LABELS = ("_ws_", "_ns_")
# physical key columns _prepped derives from `labels` at write time;
# readers that keep them can push metric/shard-key equality into the
# scan (TsStore.select, TsStore.select_partkeys)
KEY_COLUMNS = ("_metric", *SHARD_KEY_LABELS)


def _prepped(df: DataFrame, shard_labels: tuple[str, ...]) -> DataFrame:
    out = df
    for lab in shard_labels:
        out = out.withColumn(lab, F.coalesce(F.col("labels")[lab],
                                             F.lit("__none__")))
    return (out.withColumn("date",
                           F.date_format(F.timestamp_millis(F.col("ts")),
                                         "yyyy-MM-dd"))
               .withColumn("_metric", F.col("labels")["__name__"])
               .withColumn("_sk", canonical_labels(F.col("labels"))))


def series_frame(df: DataFrame) -> DataFrame:
    """A series-table read projected to the gauge layout (labels, ts,
    value) plus whichever KEY_COLUMNS it carries — the frame TsStore
    mounts, so selectors can prune on the key columns."""
    return df.select("labels", "ts", "value",
                     *[c for c in KEY_COLUMNS if c in df.columns])


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path-class) for `path` via Hadoop's FileSystem API —
    directory-level maintenance (expire/compact/bust swaps) stays
    filesystem-agnostic (HDFS/S3A/local), never os/shutil."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    Path = jvm.org.apache.hadoop.fs.Path
    return Path(path).getFileSystem(conf), Path


# Characters Spark escapes when writing Hive-style partition directories
# (ExternalCatalogUtils.escapePathName, itself from Hive's FileUtils):
# ASCII control chars, and the shell/URI-special set below. Values are
# percent-encoded as %XX (uppercase hex); null/empty becomes the Hive
# default-partition sentinel.
_PATH_ESCAPE_CHARS = frozenset(
    [chr(c) for c in range(0x01, 0x20)]
    + ['"', '#', '%', "'", '*', '/', ':', '=', '?', '\\', '\x7f',
       '{', '[', ']', '^'])
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def escape_path_name(value: str | None) -> str:
    """Escape a partition VALUE exactly the way Spark does when writing
    `partitionBy` directories, so directory paths composed by maintenance
    jobs (cardbuster swaps) target the dirs Spark actually wrote even
    when a label value contains '/', '=', '%', ':', etc."""
    if value is None or value == "":
        return HIVE_DEFAULT_PARTITION
    return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPE_CHARS else c
                   for c in value)


DS_SCHEMA_MANIFEST = "_ds_schema.json"
# Stamping is skipped above this many distinct metric names: the
# manifest is bounded driver-side state (the reference's schema
# registry is config-declared and small — filodb-defaults.conf:221-457;
# metric-NAME cardinality is orders below series cardinality even at
# 100 TB). An unstamped table falls back to the probe path.
DS_SCHEMA_STAMP_CAP = 100_000


def write_ds_schema_manifest(spark: SparkSession, path: str,
                             schema: str, metrics) -> None:
    """Stamp a downsample table directory with its data schema and the
    metric names it holds, so query-time DS routing (TsStore.
    ds_schema_of) answers "which downsample dataset serves metric m"
    as a metadata-only set lookup — no labels-column scan, even for
    absent metrics. The downsampler KNOWS the schema when it writes
    (the reference declares it per metric in config and routes each
    schema to its own downsample dataset, filodb-defaults.conf:212-342,
    DownsampledTimeSeriesShard.scala:96); this records that knowledge
    next to the data. The `_`-prefixed name is invisible to Spark's
    parquet reader, like `_SUCCESS`."""
    import json as _json
    fs, Path = hadoop_fs(spark, path)
    out = fs.create(Path(f"{path.rstrip('/')}/{DS_SCHEMA_MANIFEST}"), True)
    try:
        out.write(bytearray(_json.dumps(
            {"schema": schema, "metrics": sorted(metrics)}).encode()))
    finally:
        out.close()


def read_ds_schema_manifest(spark: SparkSession, path: str) -> dict:
    """Read a table's schema stamp; {} when absent (unstamped tables —
    e.g. a live streaming-downsample sink, where new metric names can
    appear after any stamp — fall back to ds_schema_of's probes)."""
    import json as _json
    fs, Path = hadoop_fs(spark, path)
    p = Path(f"{path.rstrip('/')}/{DS_SCHEMA_MANIFEST}")
    if not fs.exists(p):
        return {}
    stream = fs.open(p)
    try:
        # one bulk JVM read, never a per-byte py4j loop (the
        # partkey-manifest lesson, partkey.py:203-209)
        jvm = spark._jvm
        data = bytes(
            jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray(stream))
        return _json.loads(data.decode())
    finally:
        stream.close()


def distinct_metric_names(df: DataFrame,
                          cap: int = DS_SCHEMA_STAMP_CAP) -> list | None:
    """The distinct `__name__` values in a labels-schema frame, for
    stamping; None when cardinality exceeds `cap` (don't hold an
    unbounded list on the driver — leave the table unstamped)."""
    rows = (df.select(F.col("labels")["__name__"].alias("m"))
              .where(F.col("m").isNotNull())
              .distinct().limit(cap + 1).collect())
    if len(rows) > cap:
        return None
    return [r.m for r in rows]


def open_downsample_table(spark: SparkSession, path: str):
    """Open a downsample table for mounting: (DataFrame, stamped metric
    frozenset or None, stamped schema str or None). The library-level
    twin of the CLI's --ds-gauge/--ds-counter handling — pass df and
    metrics into TsStore(ds_counter_df=df, ds_counter_metrics=metrics)
    (or the ds_df/ds_gauge_metrics slots) so per-metric routing answers
    from the write-time stamp when one exists and falls back to the
    memoized probe when it doesn't. The schema field is the stamp's
    declared data schema ("gauge"/"counter"/"hist"): mount code should
    cross-check it against the slot it is mounting into — attaching a
    counter-stamped table's metric set to the gauge slot routes those
    metrics to the wrong kernels with no probe left to catch it
    (ADVICE r12; cli._open_store fails on a mismatch)."""
    stamp = read_ds_schema_manifest(spark, path)
    metrics = stamp.get("metrics")
    return (spark.read.parquet(path),
            frozenset(metrics) if metrics is not None else None,
            stamp.get("schema"))


def refresh_ds_schema_stamp(spark: SparkSession, path: str,
                            schema: str) -> bool:
    """(Re)stamp an EXISTING downsample table from its own rows — the
    maintenance-cadence companion to retention_ladder's write-time
    stamp, for tables a streaming downsample sink appends to (new
    metric names can appear after any stamp, so live sinks are left
    unstamped by default and probed; run this on the same cadence as
    partkey compaction to convert them to metadata-only routing —
    between refreshes, a stamp can only UNDERSTATE new metrics, so
    refresh before mounting, or keep probing mounts for sinks that
    gain metrics continuously). One distinct-scan of the labels
    column; returns False (and writes nothing) above the stamp cap."""
    metrics = distinct_metric_names(
        spark.read.parquet(path).select("labels"))
    if metrics is None:
        return False
    write_ds_schema_manifest(spark, path, schema, metrics)
    return True


def delta_available(spark: SparkSession) -> bool:
    """True when the Delta Lake runtime is on the session classpath.
    SURVEY §7 names Parquet/Delta as the storage formats; parquet is the
    default (no extra jar), Delta is the optional upgrade carrying data
    skipping, OPTIMIZE ZORDER, and ACID appends. The verification
    container ships no delta jar and has no network to fetch one, so the
    Delta paths below are availability-gated (tests skip-mark, mirroring
    the pillow guard in operators/multimodal.py)."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.delta.catalog.DeltaCatalog")
        return True
    except Exception:
        return False


def _require_delta(spark: SparkSession) -> None:
    if not delta_available(spark):
        raise RuntimeError(
            "format='delta' requires the delta-spark runtime on the "
            "classpath (pip install delta-spark, or "
            "--packages io.delta:delta-spark_2.13:<ver> with the "
            "DeltaCatalog/extension session confs); this environment has "
            "neither the jar nor network access. Use the default "
            "format='parquet'.")


def write_series_table(df: DataFrame, path: str,
                       shard_labels: tuple[str, ...] = SHARD_KEY_LABELS,
                       mode: str = "overwrite",
                       files_per_partition: int | None = None,
                       format: str = "parquet") -> None:
    """Write (labels, ts, value...) to a partitioned parquet/Delta table.

    Shard-key labels and the UTC date become physical partition columns;
    rows are sorted by (metric, series, ts) within partitions.

    files_per_partition: at scale one (ws, ns, date) directory is far too
    big for a single task/file — set this to also split each directory by
    a series-hash so every file stays executor-sized while (metric,
    series, ts) sorting inside each file keeps row-group min/max skipping
    tight. Series rows never straddle files within a directory.

    format='delta' keeps the identical physical layout but writes through
    the Delta log: per-file column min/max land in the transaction log
    (data skipping without opening footers), appends become ACID (the
    compaction job can then OPTIMIZE instead of overwrite), and
    optimize_series_table_delta replaces the hand-rolled z-order
    projection with OPTIMIZE ZORDER where the runtime is present.
    """
    out = _prepped(df, shard_labels)
    keys = [F.col(c) for c in [*shard_labels, "date"]]
    if files_per_partition:
        keys.append(F.pmod(F.xxhash64(F.col("_sk")),
                           F.lit(files_per_partition)))
    if format not in ("parquet", "delta"):
        raise ValueError(f"format must be 'parquet' or 'delta', got {format!r}")
    if format == "delta":
        _require_delta(df.sparkSession)
    (out.repartition(*keys)
        .sortWithinPartitions("_metric", "_sk", "ts")
        .write.mode(mode)
        .partitionBy(*shard_labels, "date")
        .format(format)
        .save(path))


def optimize_series_table_delta(spark: SparkSession, path: str,
                                zorder: tuple[str, ...] = ("_metric", "_sk")
                                ) -> None:
    """Delta-native replacement for write_series_table_zorder's manual
    Morton projection: compact small ingest files and cluster by the
    query dimensions so the Delta log's per-file stats prune label-first
    scans. Availability-gated like the writer."""
    _require_delta(spark)
    cols = ", ".join(zorder)
    spark.sql(f"OPTIMIZE delta.`{path}` ZORDER BY ({cols})")


def write_series_table_bucketed(df: DataFrame, table_name: str,
                                n_buckets: int = 32,
                                shard_labels: tuple[str, ...]
                                = SHARD_KEY_LABELS,
                                mode: str = "overwrite") -> None:
    """Bucketed variant: files within each (ws, ns, date) directory are
    hash-bucketed by metric and sorted by (metric, series, ts).

    This is the storage-level replacement for the reference's per-shard
    part-key index lookup (PartKeyLuceneIndex.partIdsFromFilters): a
    metric-equality query prunes to 1 bucket in n_buckets at PLANNING
    time (SelectedBucketsCount in the scan node) — it never opens the
    other files' footers — and the sort bounds the row groups read inside
    the surviving bucket. Requires saveAsTable (bucket metadata lives in
    the catalog)."""
    out = _prepped(df, shard_labels)
    (out.repartition(*[F.col(c) for c in [*shard_labels, "date"]],
                     F.pmod(F.xxhash64(F.col("_metric")), F.lit(n_buckets)))
        .write.mode(mode)
        .partitionBy(*shard_labels, "date")
        .bucketBy(n_buckets, "_metric")
        .sortBy("_metric", "_sk", "ts")
        .format("parquet")
        .saveAsTable(table_name))


def _zvalue(cols: tuple[str, ...], bits: int = 16):
    """Morton z-value over xxhash64-bucketed columns: interleaves `bits`
    bits of each column's hash so a z-range is simultaneously compact in
    every dimension. Hash-based (not raw-value-ranked) interleaving
    clusters EQUALITY neighborhoods — the PromQL label-matcher shape —
    not lexicographic ranges; range predicates over raw values would
    need Delta-style range_partition_id ranks instead."""
    h = [F.pmod(F.xxhash64(F.col(c).cast("string")), F.lit(1 << bits))
         for c in cols]
    out = F.lit(0).cast("long")
    k = len(h)
    for i in range(bits):
        for j, c in enumerate(h):
            out = out.bitwiseOR(
                F.shiftleft(F.shiftright(c, i).bitwiseAND(1), i * k + j))
    return out


def write_series_table_zorder(df: DataFrame, path: str,
                              index_labels: tuple[str, ...] = ("inst",),
                              shard_labels: tuple[str, ...]
                              = SHARD_KEY_LABELS,
                              n_files: int = 32,
                              mode: str = "overwrite") -> None:
    """Z-order layout for LABEL-addressed queries: metric-sorted files
    (write_series_table) answer `__name__ = m` scans with tight row-group
    pruning, but a query addressing only a non-metric label (`inst=42`
    across all metrics) must read every row group. Here the named index
    labels are materialized as physical columns and files are
    range-partitioned + sorted by the Morton interleave of
    (metric-hash, label-hashes), so each file holds a small cross-section
    of EVERY indexed dimension: an equality predicate on any of them
    skips most files via parquet dictionary/bloom filtering (bloom
    filters are written for each indexed column). This is the
    storage-level stand-in for the reference's per-label Lucene postings
    (PartKeyLuceneIndex.partIdsFromFilters) when the query has no metric.

    Trade-off vs write_series_table: metric-equality scans touch more
    files (the metric dimension shares the z-space), so keep the
    metric-sorted/bucketed layout as the primary store and z-order as
    the secondary projection for label-first workloads."""
    out = _prepped(df, shard_labels)
    for lab in index_labels:
        out = out.withColumn(f"_ix_{lab}", F.col("labels")[lab])
    zcols = ("_metric", *[f"_ix_{lab}" for lab in index_labels])
    out = out.withColumn("_z", _zvalue(zcols))
    w = (out.repartitionByRange(n_files, F.col("_z"))
         .sortWithinPartitions("_z", "_sk", "ts")
         .write.mode(mode))
    for c in zcols:
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
    w.partitionBy(*shard_labels, "date").parquet(path)


def read_series_table(spark: SparkSession, path: str,
                      format: str = "parquet") -> DataFrame:
    """Read back to the universal layout plus the physical key columns
    (`_metric`, shard labels, `date`). Filters on THOSE columns and on
    ts prune partitions and row groups (on format='delta' the Delta
    log's per-file stats additionally skip whole files); a filter on
    the `labels` map alone prunes nothing — TsStore.select adds the
    key-column twins for the engine's scans."""
    if format == "delta":
        _require_delta(spark)
    df = spark.read.format(format).load(path)
    # value columns = whatever the schema carries beyond the layout
    # columns ("value" for gauges/counters; sum/count/hist[/min/max]
    # for histogram tables) — retention_ladder(schema="hist") and
    # partkey-build --hist read those tables through here too.
    # Auxiliary physical columns (`_z` Morton key, `_ix_*` z-order
    # projections) are layout, not values
    skip = {"labels", "ts", "_metric", "_sk", "date", "_z",
            *SHARD_KEY_LABELS}
    value_cols = [c for c in df.columns
                  if c not in skip and not c.startswith("_ix_")]
    return df.select("labels", "ts", *value_cols, "_metric",
                     *SHARD_KEY_LABELS, "date")


def compact_series_table(spark: SparkSession, ingest_path: str,
                         table_path: str,
                         shard_labels: tuple[str, ...] = SHARD_KEY_LABELS,
                         files_per_partition: int | None = None,
                         partkey_path: str | None = None) -> int:
    """Housekeeping: fold a streaming-ingest append directory (many
    small unsorted files from start_ingest) into the canonical sorted
    partitioned layout — the analog of the reference's chunk flush +
    Cassandra compaction cycle (its real-time writes also land
    unsorted and get re-laid-out by background jobs).

    Reads the raw (labels, ts, value) appends, re-deduplicates across
    micro-batch boundaries (streaming dedup state is watermark-bounded;
    compaction owns the full horizon), and rewrites via
    write_series_table. Returns the compacted row count. Run it per
    closed date partition in production; the 'overwrite' is atomic at
    the directory level under the usual _temporary-rename protocol.
    """
    # explicit projection: the per-batch-id ingest layout adds a `_b`
    # partition column that must not leak into the canonical table
    raw = spark.read.parquet(ingest_path).select("labels", "ts", "value")
    dedup = (raw.withColumn("_sk0", canonical_labels(F.col("labels")))
             .dropDuplicates(["_sk0", "ts"]).drop("_sk0"))
    write_series_table(dedup, table_path, shard_labels,
                       files_per_partition=files_per_partition)
    if partkey_path is not None:
        # rebuild the part-key table from the compacted result — the
        # reference's index commit riding its compaction cycle
        # (filodb_spark.partkey; one O(series) row per canonical series)
        from filodb_spark.partkey import write_partkey_table
        write_partkey_table(spark.read.parquet(table_path)
                            .select("labels", "ts"),
                            partkey_path, shard_labels)
    return spark.read.parquet(table_path).count()


def expire_partitions(spark: SparkSession, table_path: str,
                      before_date: str) -> list[str]:
    """Retention enforcement at the storage layer: drop whole `date=`
    partition directories strictly older than `before_date`
    (YYYY-MM-DD) — the analog of the reference's Cassandra TTL +
    `boundToStartTimeToEarliestRetained` clamp, but as an explicit,
    auditable job (query-side clamping stays in
    PromQLEngine(retention_floor_ms=...); this reclaims the bytes).

    Directory-level deletes only — no file rewrite, no scan. Returns
    the deleted partition directories (relative paths). Uses Hadoop's
    FileSystem API so it works on any supported filesystem, not just
    local disk."""
    before_date = str(before_date)   # accepts datetime.date too
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    Path = jvm.org.apache.hadoop.fs.Path
    root = Path(table_path)
    fs = root.getFileSystem(conf)
    deleted: list[str] = []

    def walk(p, rel):
        for st in fs.listStatus(p):
            if not st.isDirectory():
                continue
            name = st.getPath().getName()
            if name.startswith("date="):
                if name[len("date="):] < before_date:
                    fs.delete(st.getPath(), True)
                    deleted.append(f"{rel}/{name}" if rel else name)
            elif "=" in name:
                walk(st.getPath(), f"{rel}/{name}" if rel else name)

    walk(root, "")
    return sorted(deleted)


def retention_ladder(spark: SparkSession, raw_path: str, out_root: str,
                     now_ms: int,
                     tiers: tuple = ((5 * 60_000, "5m", 30),
                                     (3_600_000, "1h", 365)),
                     raw_keep_days: int = 7,
                     schema: str = "gauge",
                     partkey_out: str | None = None,
                     allow: tuple = (), block: tuple = ()) -> dict:
    """The full TSDB storage lifecycle as one batch job — the composed
    analog of the reference's downsampler Spark job + Cassandra TTLs
    (DownsamplerMain + per-resolution retention): roll the raw series
    table into tiered downsample tables (each tier CASCADES from the
    previous — exact for ds-gauge reaggregation AND for the counter
    marker's row subset, whose retained rows are a superset of any
    coarser resolution's marks) and enforce per-tier retention by
    dropping whole date partitions past each horizon.

    tiers: ordered fine->coarse (resolution_ms, name, keep_days); raw
    keeps `raw_keep_days`. schema="gauge" rolls ds-gauge aggregates;
    schema="counter" keeps the dip-preserving prom-counter row subset
    (raw columns — mount via TsStore(ds_counter_df=...));
    schema="hist" keeps the prom-histogram/otel-cumulative subset
    (counter marker on the count column, per-period dMin/dMax when the
    table carries min/max — mount via TsStore(ds_hist_df=...)).
    Queries then mount the tiers with raw_retention_start_ms and
    stitch.

    allow/block: the downsampler's partition eligibility gate
    (label->value maps, conjunction per entry —
    streaming.downsample.is_eligible_for_downsample; the reference
    applies it per partition in BatchDownsampler.scala:151 and the
    index migration DSIndexJob.scala:116). Blocked series are never
    downsampled, so they live only as long as the raw retention —
    the reference's exact consequence.

    partkey_out: also (re)build the part-key index over the SURVIVING
    raw rows plus every tier — the index's [first_ts, last_ts] postings
    then cover the downsample retention (the downsample cluster's own
    part-key index, DownsampledTimeSeriesShard.scala:96), and the
    ladder run doubles as the reference's periodic index refresh.

    Returns {tier_name: surviving_rows, "raw_dropped": [...]}.
    """
    import datetime as _dt

    from filodb_spark.kernels.binary import canonical_labels
    from filodb_spark.streaming.downsample import (downsample,
                                                   downsample_cascade,
                                                   downsample_counter,
                                                   downsample_hist)

    def _cutoff(days: int) -> str:
        t = _dt.datetime.fromtimestamp(now_ms / 1000, _dt.timezone.utc)
        return (t - _dt.timedelta(days=days)).strftime("%Y-%m-%d")

    raw = read_series_table(spark, raw_path)
    hist_mm: tuple = ()
    if schema == "hist":
        # min/max ride only as a PAIR (otel schemas carry both or
        # neither; a half-present pair would crash the downsampler's
        # `mm_min, mm_max` unpack or silently mis-aggregate)
        if "min" in raw.columns and "max" in raw.columns:
            hist_mm = ("min", "max")
        raw = raw.select("labels", "ts", "sum", "count", "hist",
                         *hist_mm)
    else:
        raw = raw.select("labels", "ts", "value")
    if allow or block:
        from filodb_spark.streaming.downsample import \
            is_eligible_for_downsample
        raw = raw.where(
            is_eligible_for_downsample(F.col("labels"), allow, block))
    keyed = raw.withColumn("_sk", canonical_labels(F.col("labels")))
    series = keyed.select("_sk", "labels").dropDuplicates(["_sk"])
    stats: dict = {}
    prev = None
    for res, name, keep_days in tiers:
        if schema == "counter":
            # the counter subset cascades through downsample_counter
            # itself (cascade-stability pinned by
            # test_downsampler_main_spec.TestCascadeConsistency)
            src = keyed if prev is None else prev
            ds = downsample_counter(src, ["_sk"], res)
            out = ds.select("labels", "ts", "value", "_sk").drop("_sk")
        elif schema == "hist":
            # the hist subset cascades through downsample_hist too: the
            # coarser pass keeps the same rows (every 1h-period-end /
            # dip / pre-dip row of the fine subset is the raw one), and
            # min-of-min / max-of-max over the fine rows' per-segment
            # aggregates equals the raw per-segment aggregate because
            # fine marker segments nest inside coarse ones
            # (cascade-stability pinned by TestCascadeConsistency)
            src = keyed if prev is None else prev
            ds = downsample_hist(src, ["_sk"], res, minmax_cols=hist_mm)
            out = ds.drop("_sk")
        else:
            ds = downsample(keyed, ["_sk"], res) if prev is None \
                else downsample_cascade(prev, ["_sk"], res)
            out = ds.join(series, "_sk")
        path = f"{out_root}/{name}"
        (out
           .withColumn("date",
                       F.date_format(F.timestamp_millis(F.col("ts")),
                                     "yyyy-MM-dd"))
           .write.mode("overwrite").partitionBy("date").parquet(path))
        expire_partitions(spark, path, _cutoff(keep_days))
        # stamp AFTER retention, from the SURVIVING tier rows (ADVICE
        # r12: stamping pre-expiry left a metric whose rows were all
        # older than the tier horizon stamped as present — ds_schema_of
        # then routed it to DS, e.g. tripping the 2x-ds-resolution
        # lookback rejection, where the probe path returns None). One
        # distinct-scan per tier on the retained rows — smaller than
        # the single raw-level scan this replaces. The ladder knows
        # each tier's schema right here, so dual mounts route per
        # metric without existence probes (TsStore.ds_schema_of).
        try:
            tier_df = spark.read.parquet(path)
            stats[name] = tier_df.count()
            tier_metrics = distinct_metric_names(tier_df.select("labels"))
        except AnalysisException:
            # retention dropped every date partition of this tier —
            # an empty directory has no schema to infer; count is 0,
            # and the stamp is the EMPTY metric set (correct: routing
            # must answer "absent" for every metric, falling through
            # to raw/other tiers — unstamped would re-probe forever)
            stats[name] = 0
            tier_metrics = []
        if tier_metrics is not None:
            write_ds_schema_manifest(spark, path, schema, tier_metrics)
        prev = ds
    stats["raw_dropped"] = expire_partitions(spark, raw_path,
                                             _cutoff(raw_keep_days))
    if partkey_out is not None:
        from filodb_spark.partkey import write_partkey_table
        try:
            pk_src = spark.read.parquet(raw_path).select("labels", "ts")
        except AnalysisException:
            pk_src = None      # raw fully expired
        ds_src = None
        for _, name, _ in tiers:
            try:
                tier = spark.read.parquet(f"{out_root}/{name}")
            except AnalysisException:
                continue       # tier fully expired, nothing to index
            t = tier.select("labels", "ts")
            ds_src = t if ds_src is None else ds_src.unionByName(t)
        # DS rows extend spans only; `samples` stays the raw-side
        # count (write_partkey_table merges per partkey_from_store's
        # rule — unioning DS rows in would double-count live series).
        # When raw fully expired, the DS count stands in.
        if pk_src is None:
            pk_src, ds_src = ds_src, None
        if pk_src is not None:
            write_partkey_table(pk_src, partkey_out, covers_ds=True,
                                ds_samples_df=ds_src)
            stats["partkey_series"] = \
                spark.read.parquet(partkey_out).count()
    return stats
