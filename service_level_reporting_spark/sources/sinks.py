"""Sinks — idempotent per-minute SLI upsert (SURVEY.md §2.1 S4).

Reference: SLR upserts per-minute rows into Postgres on conflict
`(indicator_id, timestamp)` so re-running an overlapping window never
duplicates [H]. Spark-first equivalent: partitioned parquet with DYNAMIC
partition overwrite — re-writing a day replaces exactly that day's
partition; within a batch, `dropDuplicates` on the natural key.

At 100 TB the same contract is a Delta/Iceberg `MERGE INTO` on
(indicator, minute); the partition-overwrite variant here is the
pure-parquet mechanism with identical idempotence semantics, and the
day-partitioned layout is what makes report time-range scans prune.
"""

from __future__ import annotations

import datetime
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from service_level_reporting_spark import functions as SF
from service_level_reporting_spark.registry import register
from service_level_reporting_spark.tables import load_tables


def _staging_dir(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """Per-application scratch path for a sink leg.

    Salted with applicationId (ADVICE r2): two concurrent processes on the
    same SF (pytest + the scale sweep) previously raced on identical /tmp
    paths and one could read a half-overwritten layout. Within one app the
    path is stable, so legs that intentionally reuse state across calls
    (incremental rollup, bucketed table) still find it. Allocation prunes
    stale same-kind dirs from finished apps (scratch.app_scratch_dir,
    ADVICE r3: the salt alone grew /tmp without bound)."""
    from service_level_reporting_spark.scratch import app_scratch_dir

    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    return app_scratch_dir(spark, f"slr_{kind}_{tag}")


def write_minute_rollup(df: DataFrame, path: str) -> None:
    """Write (indicator, minute, value...) rows partitioned by day with
    dynamic partition overwrite — the idempotent upsert unit is a day."""
    (
        df.withColumn("day", F.to_date("minute"))
        .repartition("day")  # one writer task per partition -> no small files
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(path)
    )


def minute_rollup(ev: DataFrame, time_filter=None) -> DataFrame:
    df = ev if time_filter is None else ev.where(time_filter)
    return (
        df.groupBy(F.col("event_type").alias("indicator"),
                   SF.minute("ts").alias("minute"))
        .agg(F.round(F.avg("value"), 6).alias("value"),
             F.count(F.lit(1)).alias("n_points"))
    )


# ---------------------------------------------------------------------------
# Key-level MERGE upsert (round-2, SURVEY §2.1 S4's 100 TB form): the case
# dynamic partition overwrite CANNOT express — an update window that does
# not align with day boundaries. Read-merge-rewrite on the natural key
# (indicator, minute), touching ONLY the day partitions the update window
# overlaps: old rows for untouched keys survive via anti-join, updated keys
# take the new value — exactly Delta/Iceberg `MERGE INTO ... WHEN MATCHED
# UPDATE WHEN NOT MATCHED INSERT`, expressed over plain parquet. At 100 TB
# the read+rewrite cost is bounded by the affected partitions, not the
# table.
# ---------------------------------------------------------------------------

def merge_upsert_minutes(updates: DataFrame, path: str) -> None:
    """MERGE `updates` into the day-partitioned table at `path` keyed on
    (indicator, minute)."""
    spark = updates.sparkSession
    updates = updates.withColumn("day", F.to_date("minute"))
    affected = [r["day"] for r in updates.select("day").distinct().collect()]
    try:
        existing = spark.read.parquet(path).where(F.col("day").isin(affected))
    except Exception:  # first write: nothing to merge
        existing = None
    if existing is not None:
        keep = existing.join(updates.select("indicator", "minute"),
                             ["indicator", "minute"], "left_anti")
        merged = keep.unionByName(updates)
    else:
        merged = updates
    # localCheckpoint: the merged plan READS the same partitions the write
    # below replaces — materialize before overwrite (classic read-then-
    # overwrite hazard; at scale this is a staging-table write instead).
    merged = merged.localCheckpoint(eager=True)
    (
        merged.repartition("day")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(path)
    )


def sink_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both upsert mechanisms against one table, re-read for verification:
    (1) partition-grain: write minute rollups for days 1-7, RE-write days
    4-7 (the updater's day-aligned backfill, upstream:app/updater.py [M]) —
    dynamic partition overwrite; (2) key-grain: MERGE a half-day-shifted
    window (Jan 3 12:00 → Jan 5 12:00) that crosses day boundaries —
    read-merge-rewrite. Idempotence holds iff the final table has zero
    duplicate (indicator, minute) keys and equals the one-shot result; the
    returned per-indicator counts let the driver (and pytest) pin that."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    out = _staging_dir(spark, sf_dir, "sink_upsert")

    first = minute_rollup(ev, (F.col("ts") >= "2024-01-01") & (F.col("ts") < "2024-01-08"))
    write_minute_rollup(first, out)
    # Overlapping day-aligned re-run
    rerun = minute_rollup(ev, (F.col("ts") >= "2024-01-04") & (F.col("ts") < "2024-01-08"))
    write_minute_rollup(rerun, out)
    # Non-day-aligned overlapping window: partition overwrite would drop the
    # untouched halves of Jan 3 and Jan 5 — key-level merge must not.
    shifted = minute_rollup(ev, (F.col("ts") >= "2024-01-03 12:00:00")
                            & (F.col("ts") < "2024-01-05 12:00:00"))
    merge_upsert_minutes(shifted, out)

    return (
        spark.read.parquet(out)
        .groupBy("indicator")
        .agg(F.count(F.lit(1)).alias("n_minutes"),
             F.countDistinct("minute").alias("n_distinct_minutes"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy("indicator")
    )


# ---------------------------------------------------------------------------
# Bucketed layout — the storage seam that deletes the shuffle (SURVEY §4,
# M6). Writing a fact table bucketed + sorted by its join/agg key means
# every later groupBy/join ON that key is exchange-free: Spark trusts the
# on-disk hash layout (`spark.sql.sources.bucketing.enabled`). At 100 TB
# this is THE difference between re-shuffling 100 TB per query and reading
# co-located buckets; the equivalent lakehouse feature is storage-partitioned
# joins. Bucketed tables require the session catalog (saveAsTable) — the
# path option keeps the data in an explicit external location.
# ---------------------------------------------------------------------------

N_BUCKETS = 8


def write_bucketed(df: DataFrame, table: str, path: str, key: str,
                   n_buckets: int = N_BUCKETS) -> None:
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", path)
        .format("parquet")
        .saveAsTable(table)
    )


def sink_bucketed_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events bucketed by user_id, then run the bucket-key groupBy on
    the bucketed table. The plan for the returned frame contains NO shuffle
    before the aggregate (asserted in tests/test_physical_plans.py) — the
    shuffle was paid once at write time, amortized over every later query."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    table = f"slr_events_by_user_{tag}"
    path = _staging_dir(spark, sf_dir, "bucketed")
    if not spark.catalog.tableExists(table):
        write_bucketed(ev.select("user_id", "event_type", "ts", "value"),
                       table, path, "user_id")
    bucketed = spark.table(table)
    return (
        bucketed.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.avg("value"), 6).alias("avg_value"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Incremental aggregation (delta processing): maintain a daily rollup STATE
# table by merging only the NEW window's partial aggregates — the pattern
# that keeps a 100 TB rollup current by touching the delta, not history.
# Works because the kept aggregates are algebraic: (sum, count, min, max)
# partials combine associatively (avg derives as sum/count at read time —
# never store avg, it does not merge). The merge re-aggregates ONLY the day
# partitions the delta overlaps, exactly like merge_upsert_minutes; a
# production deployment pairs this with a processed-watermark record so a
# delta is applied exactly once (out of scope here — the leg verifies the
# algebra by comparing state to a one-shot recompute).
# ---------------------------------------------------------------------------

INCR_CUT = "2024-01-20 12:00:00"  # mid-day: the cut day's partials exist in
                                  # BOTH loads, forcing a real combine


def _daily_partials(ev: DataFrame) -> DataFrame:
    return (
        ev.groupBy(F.col("event_type").alias("indicator"),
                   SF.day_str("ts").alias("day"))
        .agg(F.sum("value").alias("sum_v"), F.count(F.lit(1)).alias("n"),
             F.min("value").alias("min_v"), F.max("value").alias("max_v"))
    )


def incremental_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial load (ts < cut) writes the state; the delta (ts >= cut)
    merges in via partial-aggregate combine over only its affected days.
    Returns per-indicator totals from the STATE plus a '_mismatches' row
    counting state-vs-full-recompute disagreements (must be 0)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    out = _staging_dir(spark, sf_dir, "incr_state")

    initial = _daily_partials(ev.where(F.col("ts") < INCR_CUT))
    (initial.repartition("day").write.mode("overwrite")
     .partitionBy("day").parquet(out))

    delta = _daily_partials(ev.where(F.col("ts") >= INCR_CUT))
    affected = [r["day"] for r in delta.select("day").distinct().collect()]
    existing = spark.read.parquet(out).where(F.col("day").isin(affected))
    merged = (
        existing.select("indicator", "day", "sum_v", "n", "min_v", "max_v")
        .unionByName(delta)
        .groupBy("indicator", "day")
        .agg(F.sum("sum_v").alias("sum_v"), F.sum("n").alias("n"),
             F.min("min_v").alias("min_v"), F.max("max_v").alias("max_v"))
        .localCheckpoint(eager=True)  # read-then-overwrite hazard
    )
    (merged.repartition("day").write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("day").parquet(out))

    state = spark.read.parquet(out)
    full = _daily_partials(ev)
    mismatches = (
        state.alias("s").join(full.alias("f"), ["indicator", "day"], "full_outer")
        .where(
            F.col("s.n").isNull() | F.col("f.n").isNull()
            | (F.col("s.n") != F.col("f.n"))
            | (F.abs(F.col("s.sum_v") - F.col("f.sum_v")) > 1e-6)
            | (F.col("s.min_v") != F.col("f.min_v"))
            | (F.col("s.max_v") != F.col("f.max_v")))
        .count()
    )
    per_ind = (
        state.groupBy("indicator")
        .agg(F.sum("n").alias("total_points"),
             F.countDistinct("day").alias("n_days"),
             F.round(F.sum("sum_v"), 4).alias("sum_value"))
    )
    return per_ind.unionByName(per_ind.sparkSession.createDataFrame(
        [("_mismatches", mismatches, None, None)],
        "indicator string, total_points long, n_days long, sum_value double"))


def hll_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user counting as INCREMENTAL rollup state (r4 session 2):
    HLL register arrays stored per (indicator, day), delta batches merged
    in by elementwise max — the sketch IS the state, so distinct becomes
    as algebraic as sum/count (operators/sketches.py docstring).

    Same shape as incremental_daily_rollup: initial load (ts < cut) writes
    state, delta (ts >= cut) merges into only its affected days. Verified
    two ways: stored registers must equal a one-shot recompute BIT-FOR-BIT
    per (indicator, day) ('_state_mismatches' row, must be 0), and the
    read-time cross-day rollup (merge each indicator's day registers — the
    union property again) must sit within HLL tolerance of the exact
    distinct (rel_err carried in the rows)."""
    import numpy as np

    from service_level_reporting_spark.operators.sketches import (
        hll_estimate_np, hll_merge, hll_partial)

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    out = _staging_dir(spark, sf_dir, "hll_state")
    keys = ["indicator", "day"]

    def partials(df):
        return hll_partial(
            df.select(F.col("event_type").alias("indicator"),
                      SF.day_str("ts").alias("day"), "user_id"),
            keys, "user_id")

    initial = hll_merge(partials(ev.where(F.col("ts") < INCR_CUT)), keys)
    (initial.select(*keys, "registers").repartition("day")
     .write.mode("overwrite").partitionBy("day").parquet(out))

    delta = partials(ev.where(F.col("ts") >= INCR_CUT))
    affected = [r["day"] for r in delta.select("day").distinct().collect()]
    existing = spark.read.parquet(out).where(F.col("day").isin(affected))
    merged = (
        hll_merge(existing.select(*keys, "registers").unionByName(delta),
                  keys)
        .select(*keys, "registers")
        .localCheckpoint(eager=True)  # read-then-overwrite hazard
    )
    (merged.repartition("day").write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("day").parquet(out))

    # bit-exact state check: delta-merged registers == one-shot recompute
    state = spark.read.parquet(out)
    full = hll_merge(partials(ev), keys).select(
        *keys, F.col("registers").alias("registers_full"))
    mism = (
        state.join(full, keys, "full_outer")
        .where(F.col("registers").isNull()
               | F.col("registers_full").isNull()
               | (F.col("registers") != F.col("registers_full")))
        .count())

    # read-time rollup: distinct users per indicator over ALL days by
    # merging that indicator's stored day sketches (no raw-data rescan)
    per_ind_rows = hll_merge(
        state.select("indicator", "registers"), ["indicator"]).collect()
    exact = {r["indicator"]: r["n"] for r in ev.groupBy(
        F.col("event_type").alias("indicator"))
        .agg(F.countDistinct("user_id").alias("n")).collect()}
    rows = [
        (r["indicator"], int(r["approx_distinct"]), int(exact[r["indicator"]]),
         round(abs(r["approx_distinct"] - exact[r["indicator"]])
               / exact[r["indicator"]], 6))
        for r in per_ind_rows
    ]
    rows.append(("_state_mismatches", mism, None, None))
    return spark.createDataFrame(
        rows, "key string, n long, n2 long, v double")


# ---------------------------------------------------------------------------
# Small-file compaction — the maintenance pass every partitioned 100 TB
# table needs: streaming/incremental writers leave many tiny files per
# partition; scans then pay one task + one open per file. Compaction
# rewrites each partition to target-sized files (here: one writer task per
# day via repartition("day") + a maxRecordsPerFile ceiling; at cluster
# scale the same two knobs, sized to ~512 MB-1 GB files — SCALE.md §1).
# Only file layout changes: row counts and aggregates must survive
# byte-for-byte, which the suite rows + pytest assert.
# ---------------------------------------------------------------------------

from contextlib import contextmanager


@contextmanager
def _max_records_per_file(spark: SparkSession, n: int):
    """Scoped spark.sql.files.maxRecordsPerFile (0 = unlimited)."""
    key = "spark.sql.files.maxRecordsPerFile"
    prev = spark.conf.get(key, "0")
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _count_parquet_files(path: str) -> int:
    import os

    return sum(1 for root, _, files in os.walk(path)
               for f in files if f.endswith(".parquet"))


def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    frag = _staging_dir(spark, sf_dir, "sink_frag")
    comp = _staging_dir(spark, sf_dir, "sink_compact")

    ev = (load_tables(spark, sf_dir, ("events",))["events"]
          .where(F.col("ts") < F.lit("2024-01-08"))
          .withColumn("day", F.date_format("ts", "yyyy-MM-dd")))
    # Fragmented state: a per-file record cap simulates a week of
    # micro-batch appends (several small files per day partition). The cap
    # SCALES with the data so the demo writes a bounded file count at any
    # SF (a constant cap at 10x the data meant 10x the files and a
    # 10x-slower leg — caught by the scale sweep). NB the cap is the
    # session conf spark.sql.files.maxRecordsPerFile (a writer .option of
    # that name is silently ignored).
    n_week = ev.count()
    frag_cap = max(50, n_week // 56)   # ~8 files per day partition
    with _max_records_per_file(spark, frag_cap):
        (ev.repartition(8).write.mode("overwrite")
         .partitionBy("day").parquet(frag))

    fragged = spark.read.parquet(frag)
    with _max_records_per_file(spark, 0):
        (fragged.repartition("day").write.mode("overwrite")
         .partitionBy("day").parquet(comp))

    compacted = spark.read.parquet(comp)
    stats = lambda df: df.agg(  # noqa: E731 — tiny local twice-used alias
        F.count(F.lit(1)).alias("rows"),
        F.round(F.sum("value"), 4).alias("sum_v")).collect()[0]
    s_frag, s_comp = stats(fragged), stats(compacted)
    return spark.createDataFrame(
        [("files", _count_parquet_files(frag), _count_parquet_files(comp),
          None),
         ("rows", s_frag["rows"], s_comp["rows"],
          round(abs(s_frag["sum_v"] - s_comp["sum_v"]), 4))],
        "key string, n long, n2 long, v double")


# ---------------------------------------------------------------------------
# Clustered layout for data skipping — the other half of the at-rest story
# (SCALE.md §1): within a partition, SORTING by the hot filter column makes
# parquet row-group min/max statistics selective, so predicate pushdown
# skips whole row groups instead of decoding them. This leg writes the same
# data twice (hash-scattered vs sortWithinPartitions) and MEASURES the
# row-group statistics with pyarrow: how many groups a reader could skip
# for a point filter. Metadata-only driver work — no data is re-read.
# ---------------------------------------------------------------------------

CLUSTER_FILTER_VALUE = "error"


def _rowgroup_skip_stats(path: str, column: str, value: str) -> tuple[int, int]:
    """(n_row_groups, n_skippable) for `column = value` via min/max stats."""
    import os

    import pyarrow.parquet as pq

    total = skippable = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, f)).metadata
            ci = md.schema.to_arrow_schema().get_field_index(column)
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(ci).statistics
                total += 1
                if st is not None and st.has_min_max and (
                        value < st.min or value > st.max):
                    skippable += 1
    return total, skippable


def clustered_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    scattered = _staging_dir(spark, sf_dir, "sink_scatter")
    clustered = _staging_dir(spark, sf_dir, "sink_cluster")

    ev = (load_tables(spark, sf_dir, ("events",))["events"]
          .where(F.col("ts") < F.lit("2024-01-08"))
          .withColumn("day", F.date_format("ts", "yyyy-MM-dd")))
    # Per-file record cap sized so each day yields ~5 stat units (each
    # file = one row group here) at ANY SF — sf0.001 has ~33 events/day,
    # sf0.1 has ~3300, the 10x sweep 33000; at cluster scale the same
    # effect comes from 128 MB row groups inside 1 GB files.
    n_week = ev.count()
    stat_cap = max(8, n_week // 35)    # 7 days x ~5 units
    with _max_records_per_file(spark, stat_cap):
        (ev.repartition("day").write.mode("overwrite")
         .partitionBy("day").parquet(scattered))
        # Leading "day" matters: the partitioned writer itself sorts each
        # task by the partition columns, and that sort is not stable — a
        # secondary clustering order survives only if the task data already
        # satisfies the writer's required ordering.
        (ev.repartition("day")
         .sortWithinPartitions("day", "event_type", "ts")
         .write.mode("overwrite")
         .partitionBy("day").parquet(clustered))

    st_total, st_skip = _rowgroup_skip_stats(
        scattered, "event_type", CLUSTER_FILTER_VALUE)
    cl_total, cl_skip = _rowgroup_skip_stats(
        clustered, "event_type", CLUSTER_FILTER_VALUE)
    return spark.createDataFrame(
        [("rowgroups", cl_total, st_total, None),
         ("skippable", cl_skip, st_skip,
          round(cl_skip / cl_total, 6) if cl_total else None)],
        "key string, n long, n2 long, v double")


def _zvalue_n(cols: list, bits: int = 16):
    """N-column Morton/Z-order interleave (r12): bit ``i`` of column
    ``j`` lands at position ``i*n + j`` — pure JVM shift/mask terms,
    all inside whole-stage codegen, no UDF. Caller guarantees
    ``n*bits <= 63`` (the optimize path sizes bits = 63 // n).
    Disjoint bit positions => arithmetic sum == bitwise or (Column `|`
    is the BOOLEAN operator in the DataFrame DSL)."""
    n = len(cols)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            z = z + F.shiftleft(F.shiftrightunsigned(c, i) % 2,
                                i * n + j)
    return z


def _zvalue(x, y, bits: int = 16):
    """Two-column Morton interleave — the original r4 form, now a
    special case of ``_zvalue_n`` (x even bits, y odd: identical
    layout)."""
    return _zvalue_n([x, y], bits)


def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-COLUMN data skipping: single-column clustering (the 'cluster'
    leg) makes one predicate dimension skippable and leaves the other
    scattered; Z-ORDER interleaves the bit patterns of both dimensions so
    row-group min/max stats prune on EITHER — the lakehouse OPTIMIZE
    ZORDER BY semantics, implemented as an expression sort over plain
    parquet. Three layouts of the same week (hash-scattered /
    minute-clustered / z-ordered), point predicates on user_id and on the
    minute measured against each from parquet footer stats alone."""
    import os

    ev = (load_tables(spark, sf_dir, ("events",))["events"]
          .where(F.col("ts") < F.lit("2024-01-08"))
          .select("user_id",
                  (F.unix_timestamp("ts") / 60).cast("long")
                  .alias("minute_idx"),
                  "value"))
    lo = ev.agg(F.min("user_id").alias("ulo"), F.max("user_id").alias("uhi"),
                F.min("minute_idx").alias("mlo"),
                F.max("minute_idx").alias("mhi")).collect()[0]
    uspan = max(1, lo["uhi"] - lo["ulo"])
    mspan = max(1, lo["mhi"] - lo["mlo"])
    nx = ((F.col("user_id") - lo["ulo"]) * 65535 / uspan).cast("long")
    ny = ((F.col("minute_idx") - lo["mlo"]) * 65535 / mspan).cast("long")
    ev = ev.withColumn("z", _zvalue(nx, ny))
    n_week = ev.count()
    stat_cap = max(8, n_week // 32)          # ~32 row-group stat units
    base = _staging_dir(spark, sf_dir, "sink_zorder")
    layouts = {}
    with _max_records_per_file(spark, stat_cap):
        for name, frame in (
                ("scattered", ev.repartition(4)),
                ("minute_clustered",
                 ev.repartition(1).sortWithinPartitions("minute_idx")),
                ("zorder", ev.repartition(1).sortWithinPartitions("z"))):
            path = os.path.join(base, name)
            frame.drop("z").write.mode("overwrite").parquet(path)
            layouts[name] = path
    # probe points: the median user and the median minute
    probe_user = int((lo["ulo"] + lo["uhi"]) // 2)
    probe_minute = int((lo["mlo"] + lo["mhi"]) // 2)
    rows = []
    for name, path in layouts.items():
        for col, val in (("user_id", probe_user),
                         ("minute_idx", probe_minute)):
            total, skip = _rowgroup_skip_stats(path, col, val)
            rows.append((f"{name}:{col}", skip, total,
                         round(skip / total, 6) if total else None))
    return spark.createDataFrame(rows, "key string, n long, n2 long, v double")


# ---------------------------------------------------------------------------
# Format matrix — the engine's file-format surface beyond parquet: CSV,
# JSON-lines, and ORC round-trips of the same minute rollup, content
# checksummed against the parquet write. Parquet stays the at-rest format
# (columnar + statistics: §S10); CSV/JSON are the interchange edges a
# reporting service actually serves, ORC the columnar alternative. Each
# read supplies an explicit schema — schema inference is a full extra pass
# at 100 TB and type-lossy for CSV/JSON.
# ---------------------------------------------------------------------------

ROUNDTRIP_FORMATS = ("parquet", "orc", "json", "csv")


def format_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    base = _staging_dir(spark, sf_dir, "sink_formats")

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    rollup = minute_rollup(
        ev, (F.col("ts") >= "2024-01-01") & (F.col("ts") < "2024-01-08"))
    # CSV/JSON have no native timestamp type worth trusting round-trip;
    # serialize the minute as an ISO string in ALL formats so the content
    # checksum compares like-for-like.
    out = rollup.select(
        "indicator",
        F.date_format("minute", "yyyy-MM-dd HH:mm:ss").alias("minute"),
        "value", "n_points")
    schema = "indicator string, minute string, value double, n_points bigint"

    rows = []
    for fmt in ROUNDTRIP_FORMATS:
        path = os.path.join(base, fmt)
        out.coalesce(1).write.mode("overwrite").format(fmt).save(path)
        back = spark.read.schema(schema).format(fmt).load(path)
        stat = back.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("indicator", "minute").alias("n_keys"),
            F.round(F.sum("value"), 4).alias("sum_v")).collect()[0]
        rows.append((fmt, stat["n"], stat["n_keys"], stat["sum_v"]))
    return spark.createDataFrame(rows, "key string, n long, n2 long, v double")


PARQUET_CODECS = ("snappy", "zstd", "gzip", "lz4")


def compression_codec_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet compression matrix — the first-order at-rest knob at 100 TB
    (snappy trades ~1.5-2x size for decode speed; zstd is the archival
    default; gzip the legacy interchange floor). Writes the same week of
    events under each codec, records on-disk bytes and a content checksum
    (row count + value sum) that must be identical across codecs — codec
    choice may never change data. Returned as labeled rows so the driver
    artifact carries the measured size ratios, not a claim."""
    import os

    base = _staging_dir(spark, sf_dir, "sink_codecs")
    ev = (load_tables(spark, sf_dir, ("events",))["events"]
          .where(F.col("ts") < F.lit("2024-01-08"))
          .select("event_id", "ts", "event_type", "value"))

    def _dir_bytes(path: str) -> int:
        total = 0
        for root, _, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f))
                         for f in files if f.endswith(".parquet"))
        return total

    rows = []
    for codec in PARQUET_CODECS:
        path = os.path.join(base, codec)
        (ev.coalesce(1).write.mode("overwrite")
         .option("compression", codec).parquet(path))
        back = spark.read.parquet(path)
        stat = back.agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_v")).collect()[0]
        rows.append((codec, stat["n"], _dir_bytes(path), stat["sum_v"]))
    return spark.createDataFrame(rows, "key string, n long, n2 long, v double")


# ---------------------------------------------------------------------------
# TxLog leg (r4): the lakehouse table format as RUNNING code — atomic
# commits, optimistic concurrency, snapshot isolation, time travel, MERGE
# with file-stats pruning, checkpoint compaction (sources/txlog.py). This
# leg drives the whole protocol end-to-end and returns verification rows.
# ---------------------------------------------------------------------------

def sink_txlog_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seven per-day appends (one immutable file each, disjoint minute
    ranges) then the same non-day-aligned MERGE window the plain-parquet
    upsert leg uses (Jan 3 12:00 -> Jan 5 12:00) — with a rogue writer
    pre-claiming the merge's version so the optimistic-concurrency retry
    genuinely fires. Verification rows:
      per-indicator  — final-table counts/sums (must equal the one-shot
                       rollup: same keys, same values — pytest-pinned);
      '_merge'       — n = files rewritten (only the 3 overlapping days),
                       n2 = files carried by reference, v = retries (=1);
      '_snapshot'    — n = rows readable at the PRE-merge version AFTER
                       the merge (snapshot isolation: unchanged), n2 = the
                       table's latest version number."""
    import shutil

    from service_level_reporting_spark.sources.txlog import TxLogTable

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    root = _staging_dir(spark, sf_dir, "sink_txlog")
    shutil.rmtree(root, ignore_errors=True)   # deterministic per invocation

    # Rogue-writer injection: between the merge's snapshot resolution and
    # its commit (i.e. while it is writing data files), a second writer
    # claims the version it reserved — the exact interleaving optimistic
    # concurrency exists for. Injected once, deterministically.
    class _RaceInjectedTable(TxLogTable):
        armed = False       # armed just before the merge, not the appends
        injected = False

        def _write_data_files(self, df, **kw):
            adds = super()._write_data_files(df, **kw)
            if self.armed and not self.injected:
                type(self).injected = True
                self.commit([], self.latest_version() + 1)   # rogue claim
            return adds

    t = _RaceInjectedTable(root, key_cols=["indicator", "minute"],
                           stats_col="minute")

    for day in range(1, 8):
        rolled = minute_rollup(
            ev, (F.col("ts") >= f"2024-01-{day:02d}")
            & (F.col("ts") < f"2024-01-{day + 1:02d}"))
        t.append(rolled.coalesce(1))
    pre_merge_version = t.latest_version()
    pre_rows = t.read(spark, pre_merge_version).count()

    shifted = minute_rollup(ev, (F.col("ts") >= "2024-01-03 12:00:00")
                            & (F.col("ts") < "2024-01-05 12:00:00"))
    _RaceInjectedTable.armed = True
    stats = t.merge(shifted)

    final = (
        t.read(spark)
        .groupBy("indicator")
        .agg(F.count(F.lit(1)).alias("n"),
             F.countDistinct("minute").alias("n2"),
             F.round(F.sum("value"), 4).alias("v"))
        .select(F.col("indicator").alias("key"), "n", "n2", "v")
    )
    snapshot_rows_after = t.read(spark, pre_merge_version).count()
    meta = spark.createDataFrame(
        [("_merge", stats["rewritten_files"], stats["carried_files"],
          float(stats["retries"])),
         ("_snapshot",
          snapshot_rows_after if snapshot_rows_after == pre_rows else -1,
          t.latest_version(), None)],
        "key string, n long, n2 long, v double")
    return final.unionByName(meta)


def sink_txlog_rowops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6 row-level lakehouse leg: DELETE / UPDATE / RESTORE / history /
    change-data-feed on a TxLog table, each verified IN-FRAME (no driver
    collects):
      '_convert' — r12 S37/S38: a plain parquet dir CONVERTed in place
                   (n = original rows), MERGE works on it, then a DEEP
                   CLONE of the converted table (n2 = references
                   checked): v = (post-merge content divergence) +
                   (deep-clone read divergence) + foreign refs +
                   missing refs — must be 0;
      '_delete'  — n = files rewritten (stats-pruned to the one touched
                   day), n2 = files carried by reference, v = rows deleted;
      '_update'  — same shape for a scoped UPDATE;
      '_cdf'     — n = CDF insert rows, n2 = delete rows, v = REPLAY
                   MISMATCHES: snapshot(from) ⊎ inserts ∖ deletes compared
                   against snapshot(to) by a groupBy-all-columns full-outer
                   count join — must be 0;
      '_restore' — n = rows diverging from the pre-delete snapshot after
                   RESTORE (must be 0), n2 = latest version;
      '_merge_into' — r7 full MERGE INTO (ordered WHEN clauses): n =
                   rows updated, n2 = rows inserted, v = divergence from
                   the withColumn/when recompute (must be 0);
      '_history' — n = commits in DESCRIBE HISTORY, n2 = distinct op
                   labels, v = rows_added across appends;
      '_dsrc'    — the table read back through the REGISTERED Spark data
                   source (spark.read.format('txlog'), PySpark 4 Python
                   DataSource API): n = rows diverging from the direct
                   snapshot read (must be 0), n2 = files pruned by a
                   pushed stats-column filter at the LOG level before
                   partition planning, v = CDF row count through the
                   source's mode=changes path (must equal changes());
      '_sql'     — r11 SQL/catalog surface: two txlog tables (the
                   rowops table + a shallow clone) registered as
                   views (register_table -> CREATE TEMPORARY VIEW ...
                   USING txlog) and joined in PLAIN spark.sql — n/n2 =
                   SQL-join vs Python-API-join row counts (must be
                   equal), v = (join divergence) + (VERSION-AS-OF
                   view vs read(version=...) divergence) + (r12
                   refresh_table check: a concurrent commit invisible
                   through the pinned view, visible after refresh),
                   must be 0;
      '_widen'   — r11 type widening (Delta typeWidening feature):
                   int files + long files under one widened schema on
                   a side table — n = rows, n2 = its latest version,
                   v = (value/dtype divergence through BOTH APIs
                   against the expected long frame) + (1 iff a
                   narrowing widen_column was NOT refused), must be 0;
      '_colmap'  — r9 column mapping: enable + RENAME COLUMN as a
                   metadata-only commit — n = (rows diverging from the
                   renamed recompute) + (data files changed by the
                   rename, must both be 0), n2 = latest version, v =
                   divergence through the data source (must be 0);
      '_retention' — r9 commit-log retention: n = commit/checkpoint
                   JSONs expired by vacuum(log_retain_versions), n2 =
                   earliest retained version, v = latest-read divergence
                   across the vacuum (must be 0);
      '_protocol' — protocol gate: n/n2 = the table's min reader/
                   writer versions after enabling mapping (r10: the
                   table-features form, 3/7 + columnMapping), v = 0
                   iff a clone stamped minReaderVersion=99 REFUSED to
                   read (ProtocolError);
      '_admission' — r9 streaming admission control: n = latestOffset
                   steps a maxCommitsPerTrigger=2 reader takes to drain
                   the backlog, n2 = the expected ceil(commits/2), v =
                   n - n2 (must be 0);
      '_rowtrack' — r10 row tracking: enable → append → CoW update →
                   OPTIMIZE on the rowops table; n = rows whose
                   _row_id changed across update+optimize (must be 0 —
                   identity survives rewrites), n2 = duplicate-id
                   count (must be 0), v = 0 iff the updated row's
                   _row_commit_version bumped while every other row's
                   held;
      '_generated' — r10 s2 generated columns (Delta generation
                   expressions): declare day GENERATED ALWAYS AS
                   (date_format(minute,...)), append WITHOUT the
                   column, UPDATE a referenced column — n = rows whose
                   stored day mismatches the recomputed expression
                   (must be 0: computed on write, recomputed through
                   rewrites), n2 = the table's generated-column count,
                   v = 0 iff a wrong-valued supply was refused;
      '_replicate' — r10 keyless CDF replication: a row-tracked table
                   (CONTAINING fully-duplicate rows no natural key can
                   address) is bootstrapped into a replica keyed by
                   _src_row_id, then append + CoW update + MoR delete
                   + OPTIMIZE fold through changes(net=True,
                   with_row_ids=True) — n = rows upserted by the fold,
                   n2 = rows deleted, v = source-vs-replica multiset
                   divergence after the mix (must be 0; the pure-carry
                   OPTIMIZE contributes zero feed rows);
      '_dedup_state' — r10 incremental TEXT-dedup state (VERDICT #3):
                   a documents corpus staged as a txlog table, dedup
                   state built at two-thirds, the rest landed via
                   append + delete and FOLDED from the change feed —
                   n = signatures computed by the fold (the DELTA
                   only, proving O(delta)), n2 = the delta's insert
                   row count (n must equal n2), v = fold-vs-rebuild
                   divergence across dedup PAIRS and cluster LABELS
                   (must be 0)."""
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    from service_level_reporting_spark.sources.txlog import (
        SchemaEvolutionError, TxLogTable)
    from service_level_reporting_spark.sources.txlog_datasource import (
        TxLogDataSource)

    root = _staging_dir(spark, sf_dir, "sink_txlog_rowops")
    shutil.rmtree(root, ignore_errors=True)
    # registered up-front (not mid-chain) so pooled legs that read via
    # spark.read.format('txlog') never race the registration
    spark.dataSource.register(TxLogDataSource)

    # r13 (guide §2.6): six legs operate on their OWN side tables and
    # depend on nothing in the main table's commit history — they run as
    # futures while the main rowops chain proceeds on this thread. The
    # main chain itself (appends → delete → update → CDF → restore →
    # merge → dsrc/sql/colmap/retention/protocol/admission) is ORDER-
    # DEPENDENT (reported version numbers ride in the rows) and stays
    # strictly sequential. Each leg's values are unchanged.

    def _leg_widen() -> dict:
        shutil.rmtree(root + "_widen", ignore_errors=True)
        # per-leg finally (ADVICE r13): a failing leg must not leave its
        # temp dir behind
        try:
            return _leg_widen_body()
        finally:
            shutil.rmtree(root + "_widen", ignore_errors=True)

    def _leg_widen_body() -> dict:
        tw = TxLogTable(root + "_widen", key_cols=["k"], stats_col="k")
        tw.append(spark.createDataFrame([("a", 1), ("b", 2)],
                                        "k string, v int").coalesce(1))
        tw.enable_type_widening()
        tw.widen_column("v", "long")
        tw.append(spark.createDataFrame([("c", 2 ** 40)],
                                        "k string, v long").coalesce(1))
        want_w = spark.createDataFrame(
            [("a", 1), ("b", 2), ("c", 2 ** 40)], "k string, v long")
        got_w = tw.read(spark)
        via_w = spark.read.format("txlog").load(root + "_widen")
        widen_div = (got_w.exceptAll(want_w)
                     .unionAll(want_w.exceptAll(got_w)).count()
                     + via_w.exceptAll(want_w)
                     .unionAll(want_w.exceptAll(via_w)).count()
                     + int(dict(got_w.dtypes)["v"] != "bigint")
                     + int(dict(via_w.dtypes)["v"] != "bigint"))
        # narrowing must refuse
        try:
            tw.widen_column("v", "int")
            widen_refused = 0
        except SchemaEvolutionError:
            widen_refused = 1
        return {"rows": got_w.count(), "ver": tw.latest_version(),
                "div": widen_div, "refused": widen_refused}

    def _leg_rowtrack() -> dict:
        # r10 row tracking: identity survives rewrites, allocation never
        # collides, update bumps the row's commit version
        rt_root = root + "_rt"
        shutil.rmtree(rt_root, ignore_errors=True)
        try:
            return _leg_rowtrack_body(rt_root)
        finally:
            shutil.rmtree(rt_root, ignore_errors=True)

    def _leg_rowtrack_body(rt_root: str) -> dict:
        rt = TxLogTable(rt_root, key_cols=["k"], stats_col="k")
        rt.append(spark.createDataFrame(
            [(f"k{i:02d}", i) for i in range(40)],
            "k string, v long").coalesce(2))
        rt.enable_row_tracking()

        def rt_ids():
            return {r["k"]: (r["_row_id"], r["_row_commit_version"])
                    for r in rt.read(spark, with_row_ids=True).collect()}

        rt0 = rt_ids()
        rt.update(F.col("k") == "k05", {"v": "v + 1000"})
        rt.optimize(target_files=1)
        rt1 = rt_ids()
        return {
            "changed": sum(1 for k in rt1 if rt1[k][0] != rt0[k][0]),
            "dups": len(rt1) - len({i for i, _ in rt1.values()}),
            "ver_ok": (rt1["k05"][1] > rt0["k05"][1]
                       and all(rt1[k][1] == rt0[k][1]
                               for k in rt1 if k != "k05"))}

    def _leg_generated() -> dict:
        # r10 s2 generated columns: compute on write, recompute through
        # rewrites, refuse wrong supplies
        from service_level_reporting_spark.sources.txlog import (
            GeneratedColumnViolation)

        gc_root = root + "_gen"
        shutil.rmtree(gc_root, ignore_errors=True)
        try:
            return _leg_generated_body(gc_root)
        finally:
            shutil.rmtree(gc_root, ignore_errors=True)

    def _leg_generated_body(gc_root: str) -> dict:
        from service_level_reporting_spark.sources.txlog import (
            GeneratedColumnViolation)

        gt = TxLogTable(gc_root, key_cols=["k"], stats_col="k")
        gt.add_generated_column("day", "string",
                                "date_format(minute, 'yyyy-MM-dd')")
        gt.append(spark.createDataFrame(
            [(f"k{i}", f"2024-01-0{1 + i % 3} 0{i % 10}:0{i % 6}:00")
             for i in range(30)], "k string, minute string")
            .withColumn("minute", F.to_timestamp("minute")).coalesce(2))
        gt.update(F.col("k") == "k3",
                  {"minute": "minute + interval 2 days"})
        gt.optimize(target_files=1)
        gc_bad = (gt.read(spark)
                  .filter(~F.col("day").eqNullSafe(
                      F.date_format("minute", "yyyy-MM-dd"))).count())
        try:
            gt.append(spark.createDataFrame(
                [("x", "2024-01-01 00:00:00", "wrong")],
                "k string, minute string, day string")
                .withColumn("minute", F.to_timestamp("minute")))
            gc_refused = 0
        except GeneratedColumnViolation:
            gc_refused = 1
        return {"bad": gc_bad, "n": len(gt.generated_columns()),
                "refused": gc_refused}

    def _leg_replicate() -> dict:
        # r10 keyless CDF replication: row ids as the merge key, on a
        # table whose rows include exact duplicates (unaddressable by
        # any natural-key merge)
        from service_level_reporting_spark.operators import (
            replicate as _RP)

        rp_root = root + "_repl"
        shutil.rmtree(rp_root, ignore_errors=True)
        try:
            return _leg_replicate_body(rp_root)
        finally:
            shutil.rmtree(rp_root, ignore_errors=True)

    def _leg_replicate_body(rp_root: str) -> dict:
        from service_level_reporting_spark.operators import (
            replicate as _RP)

        rs = TxLogTable(os.path.join(rp_root, "src"),
                        key_cols=["k"], stats_col="k")
        rs.append(spark.createDataFrame(
            [("dup", 0)] * 3 + [(f"k{i:02d}", i) for i in range(30)],
            "k string, v long").coalesce(2))
        rs.enable_row_tracking()
        _RP.replicate_bootstrap(spark, os.path.join(rp_root, "src"),
                                os.path.join(rp_root, "rep"))
        rs.append(spark.createDataFrame([("k80", 80), ("dup", 0)],
                                        "k string, v long").coalesce(1))
        rs.update(F.col("k") == "k04", {"v": "v + 100"})
        rs.delete(F.col("k") == "k06", mode="mor")
        fold = _RP.replicate_sync(spark, os.path.join(rp_root, "src"),
                                  os.path.join(rp_root, "rep"))
        rs.optimize(target_files=1)      # pure carry: zero feed rows
        fold2 = _RP.replicate_sync(spark, os.path.join(rp_root, "src"),
                                   os.path.join(rp_root, "rep"))
        rp_div = (_RP.replica_divergence(
            spark, os.path.join(rp_root, "src"),
            os.path.join(rp_root, "rep"))
            + fold2["upserted"] + fold2["deleted"])
        return {"upserted": fold["upserted"], "deleted": fold["deleted"],
                "div": rp_div}

    def _leg_dedup_state() -> dict:
        # r10 (VERDICT #3): incremental TEXT-dedup state — fold the
        # corpus change feed, compare decisions against a full rebuild
        from service_level_reporting_spark.operators import (
            dedup_state as _DS)

        docs = (load_tables(spark, sf_dir)["documents"]
                .select("doc_id", "text").where(F.col("doc_id") < 120))
        ds_root = root + "_dstate"
        shutil.rmtree(ds_root, ignore_errors=True)
        try:
            return _leg_dedup_state_body(docs, ds_root)
        finally:
            shutil.rmtree(ds_root, ignore_errors=True)

    def _leg_dedup_state_body(docs: DataFrame, ds_root: str) -> dict:
        from service_level_reporting_spark.operators import (
            dedup_state as _DS)

        dc = TxLogTable(os.path.join(ds_root, "corpus"),
                        key_cols=["doc_id"], stats_col="text")
        dc.append(docs.where(F.col("doc_id") % 3 != 0).coalesce(2))
        _DS.build_dedup_state(spark, os.path.join(ds_root, "corpus"),
                              os.path.join(ds_root, "folded"))
        dc.append(docs.where(F.col("doc_id") % 3 == 0).coalesce(2))
        dc.delete(F.col("doc_id") % 10 == 1)
        delta_ins = docs.where((F.col("doc_id") % 3 == 0)
                               & (F.col("doc_id") % 10 != 1)).count()
        ds_sync = _DS.dedup_state_sync(
            spark, os.path.join(ds_root, "corpus"),
            os.path.join(ds_root, "folded"))
        _DS.build_dedup_state(spark, os.path.join(ds_root, "corpus"),
                              os.path.join(ds_root, "fresh"))
        pf = _DS.dedup_pairs_from_state(
            spark, os.path.join(ds_root, "folded"))
        pr = _DS.dedup_pairs_from_state(
            spark, os.path.join(ds_root, "fresh"))
        lf = _DS.dedup_labels_from_state(
            spark, os.path.join(ds_root, "folded"))
        lr = _DS.dedup_labels_from_state(
            spark, os.path.join(ds_root, "fresh"))
        ds_div = (pf.exceptAll(pr).unionAll(pr.exceptAll(pf)).count()
                  + lf.exceptAll(lr).unionAll(lr.exceptAll(lf)).count())
        return {"signed": ds_sync["signed"], "delta_ins": delta_ins,
                "div": ds_div}

    def _leg_convert() -> dict:
        # r12 (S37/S38): CONVERT TO TXLOG + DEEP CLONE, in-frame
        cv_root = root + "_convert"
        shutil.rmtree(cv_root, ignore_errors=True)
        try:
            return _leg_convert_body(cv_root)
        finally:
            shutil.rmtree(cv_root + "_deep", ignore_errors=True)
            shutil.rmtree(cv_root, ignore_errors=True)

    def _leg_convert_body(cv_root: str) -> dict:
        (spark.createDataFrame([(f"c{i:02d}", i) for i in range(20)],
                               "k string, v long")
         .coalesce(2).write.parquet(cv_root))
        cv_before = {(r["k"], r["v"]) for r in
                     spark.read.parquet(cv_root).collect()}
        ct = TxLogTable.convert(cv_root, key_cols=["k"], stats_col="k")
        ct.merge(spark.createDataFrame([("c05", 500)],
                                       "k string, v long").coalesce(1))
        cv_after = {(r["k"], r["v"]) for r in ct.read(spark).collect()}
        cv_want = ({kv for kv in cv_before if kv[0] != "c05"}
                   | {("c05", 500)})
        # deep clone of the converted table: zero foreign references,
        # read parity with the source snapshot
        dcl = ct.clone(cv_root + "_deep", deep=True)
        dcl_refs = dcl.verify_references()
        dcl_set = {(r["k"], r["v"]) for r in dcl.read(spark).collect()}
        return {"n": len(cv_before), "deep_files": dcl_refs["checked"],
                "div": (len(cv_after ^ cv_want) + len(dcl_set ^ cv_after)
                        + dcl_refs["foreign"]
                        + len(dcl_refs["missing_data"]))}

    # r14: 6 workers — the six side legs are tiny-job/commit-protocol
    # bound, not CPU bound; with 4 workers two legs idled behind the pool
    pool = ThreadPoolExecutor(max_workers=6)
    side = {name: pool.submit(fn) for name, fn in (
        ("widen", _leg_widen), ("rowtrack", _leg_rowtrack),
        ("generated", _leg_generated), ("replicate", _leg_replicate),
        ("dedup_state", _leg_dedup_state), ("convert", _leg_convert))}
    # the pool must outlive the whole main chain: if any step below
    # raises, the finally still joins the side-leg threads instead of
    # leaking non-daemon workers, and the original exception surfaces
    try:
        t = TxLogTable(root, key_cols=["indicator", "minute"],
                       stats_col="minute")
        ev = load_tables(spark, sf_dir, ("events",))["events"]
        for day in (1, 2, 3):
            t.append(minute_rollup(
                ev, (F.col("ts") >= f"2024-01-0{day}")
                & (F.col("ts") < f"2024-01-0{day + 1}")).coalesce(1))
        v_from = t.latest_version()

        d = t.delete(
            (F.col("minute") >= "2024-01-02 06:00:00")
            & (F.col("minute") < "2024-01-02 18:00:00"),
            key_range=("2024-01-02 06:00:00", "2024-01-02 18:00:00"))
        # predicate and key_range agree (r7: update()'s verify_scope probe
        # REJECTS a range narrower than the predicate's true key span — the
        # pre-r7 form "indicator = 'error'" with a day-3 range was exactly
        # the silent-skip footgun ADVICE flagged; day-1/2 error rows were
        # never touched, so the produced table is unchanged by this fix)
        u = t.update((F.col("indicator") == "error")
                     & (F.col("minute") >= "2024-01-03")
                     & (F.col("minute") < "2024-01-04"),
                     {"value": "value * 2"},
                     key_range=("2024-01-03 00:00:00", "2024-01-04 00:00:00"))
        v_to = t.latest_version()

        # CDF replay check, entirely as a Spark plan: multiset(from)+ins-del
        # vs multiset(to) over all data columns
        cdf = t.changes(spark, v_from, v_to)
        data_cols = [c for c in cdf.columns if not c.startswith("_")]
        delta = (cdf.groupBy(*data_cols)
                 .agg(F.sum(F.when(F.col("_change_type") == "insert", 1)
                            .otherwise(-1)).alias("d")))
        frm = (t.read(spark, v_from).groupBy(*data_cols)
               .agg(F.count(F.lit(1)).alias("a")))
        to = (t.read(spark, v_to).groupBy(*data_cols)
              .agg(F.count(F.lit(1)).alias("b")))
        mismatches = (frm.join(delta, data_cols, "full_outer")
                      .join(to, data_cols, "full_outer")
                      .where(F.coalesce("a", F.lit(0)) + F.coalesce("d", F.lit(0))
                             != F.coalesce("b", F.lit(0)))
                      .count())
        # one conditional-count job instead of two filtered count() scans
        # (r14, guide §2.3 — same numbers, half the per-job floor)
        _cdf_counts = cdf.agg(
            F.count(F.when(F.col("_change_type") == "insert", 1))
            .alias("i"),
            F.count(F.when(F.col("_change_type") == "delete", 1))
            .alias("d")).collect()[0]
        n_ins, n_del = _cdf_counts["i"], _cdf_counts["d"]

        # RESTORE back past the delete+update; divergence vs that snapshot
        t.restore(v_from)
        diverged = (t.read(spark).exceptAll(t.read(spark, v_from))
                    .unionAll(t.read(spark, v_from).exceptAll(t.read(spark)))
                    .count())
        hist = t.history()

        # full MERGE INTO (r7): ordered WHEN clauses — update every matched
        # 'error' row to the source's doubled value, insert clause present
        # but vacuous (every source key matches). Verified IN-FRAME against
        # the withColumn/when recompute of the same transformation.
        m_from = t.latest_version()
        pre_mi = t.read(spark, m_from)
        mi_src = (pre_mi.where(F.col("indicator") == "error")
                  .select("indicator", "minute",
                          (F.col("value") * 2).alias("value"), "n_points"))
        mi = t.merge_into(mi_src, [
            ("update", "src_n_points >= 1", {"value": "src_value"}),
            ("insert", None, None)])
        mi_want = pre_mi.withColumn(
            "value", F.when(F.col("indicator") == "error",
                            F.col("value") * 2).otherwise(F.col("value")))
        mi_got = t.read(spark)
        mi_diverged = (mi_got.exceptAll(mi_want)
                       .unionAll(mi_want.exceptAll(mi_got)).count())

        # the table as a first-class Spark source: snapshot equality via the
        # registered format (registered up-front), log-level pushdown pruning,
        # CDF through the source
        from service_level_reporting_spark.sources.txlog_datasource import (
            TxLogBatchReader)
        via_src = spark.read.format("txlog").load(root)
        direct = t.read(spark)
        src_diverged = (via_src.exceptAll(direct)
                        .unionAll(direct.exceptAll(via_src)).count())
        from pyspark.sql.datasource import GreaterThanOrEqual
        probe = TxLogBatchReader(root, {"path": root})
        list(probe.pushFilters([GreaterThanOrEqual(
            ("minute",), datetime.datetime(2024, 1, 3))]))
        probe.partitions()
        src_cdf_rows = (spark.read.format("txlog").option("mode", "changes")
                        .option("startingVersion", str(v_from))
                        .option("endingVersion", str(v_to)).load(root)
                        .count())
        cdf_rows_direct = n_ins + n_del

        # ---- r11 SQL/catalog surface (VERDICT #3): plain spark.sql over
        # registered txlog views — two lakehouse tables joined in SQL must
        # match the Python-API join row-for-row, and a VERSION-AS-OF view
        # must match read(version=...) ---------------------------------------
        from service_level_reporting_spark.sources.txlog_catalog import (
            register_table)
        shutil.rmtree(root + "_sqlclone", ignore_errors=True)
        t.clone(root + "_sqlclone")
        # view names salted per invocation (ADVICE r13): temp views are
        # session-global, and this leg runs inside the sink_suite pool — a
        # fixed name would silently race any future leg using the same one
        # (_run_to_table already salts its memory-sink names the same way)
        import uuid as _uuid
        _salt = _uuid.uuid4().hex[:8]
        v_a, v_b, v_asof = (f"txsql_a_{_salt}", f"txsql_b_{_salt}",
                            f"txsql_asof_{_salt}")
        register_table(spark, v_a, root)
        register_table(spark, v_b, root + "_sqlclone")
        sql_join = spark.sql(
            "SELECT a.indicator, a.minute, a.value, b.value AS value_b "
            f"FROM {v_a} a JOIN {v_b} b "
            "ON a.indicator = b.indicator AND a.minute = b.minute")
        py_join = (t.read(spark)
                   .join(TxLogTable.open(root + "_sqlclone").read(spark)
                         .select("indicator", "minute",
                                 F.col("value").alias("value_b")),
                         ["indicator", "minute"])
                   .select("indicator", "minute", "value", "value_b"))
        sql_n, py_n = sql_join.count(), py_join.count()
        sql_div = (sql_join.exceptAll(py_join)
                   .unionAll(py_join.exceptAll(sql_join)).count())
        asof_sql = register_table(spark, v_asof, root, version=v_from)
        asof_py = t.read(spark, version=v_from)
        asof_div = (asof_sql.exceptAll(asof_py)
                    .unionAll(asof_py.exceptAll(asof_sql)).count())
        # r12 (VERDICT #4): a long-lived SQL consumer must NOT see a
        # concurrent writer's commit through its pinned view, and MUST see
        # it after refresh_table — verified on the self-contained clone.
        from service_level_reporting_spark.sources.txlog_catalog import (
            refresh_table)
        tb = TxLogTable.open(root + "_sqlclone")
        n_pin = spark.sql(f"SELECT count(*) c FROM {v_b}").collect()[0]["c"]
        tb.append(tb.read(spark).limit(1).localCheckpoint(eager=True))
        n_stale = spark.sql(f"SELECT count(*) c FROM {v_b}") \
            .collect()[0]["c"]
        refresh_table(spark, v_b)
        n_fresh = spark.sql(f"SELECT count(*) c FROM {v_b}") \
            .collect()[0]["c"]
        refresh_div = (int(n_stale != n_pin)          # pin must hold
                       + int(n_fresh != n_pin + 1))   # refresh must advance
        for vn in (v_a, v_b, v_asof):
            spark.catalog.dropTempView(vn)
        shutil.rmtree(root + "_sqlclone", ignore_errors=True)

        # ---- r9 legs: column mapping / log retention / protocol gate /
        # streaming admission control, each verified in-frame ----------------
        from service_level_reporting_spark.sources.txlog import ProtocolError
        from service_level_reporting_spark.sources.txlog_datasource import (
            TxLogStreamReader)

        pre_map = t.read(spark).localCheckpoint(eager=True)
        files_before = {a["path"] for a in t._resolve()}
        t.enable_column_mapping()
        t.rename_column("value", "value_x")
        rewrote = len({a["path"] for a in t._resolve()} ^ files_before)
        want_map = pre_map.withColumnRenamed("value", "value_x")
        got_map = t.read(spark)
        map_div = (got_map.exceptAll(want_map)
                   .unionAll(want_map.exceptAll(got_map)).count())
        via_map = spark.read.format("txlog").load(root)
        map_src_div = (via_map.exceptAll(got_map)
                       .unionAll(got_map.exceptAll(via_map)).count())

        pre_vac = t.read(spark).localCheckpoint(eager=True)
        vac = t.vacuum(retain_versions=3, min_age_sec=0,
                       log_retain_versions=5)
        post_vac = t.read(spark)
        vac_div = (post_vac.exceptAll(pre_vac)
                   .unionAll(pre_vac.exceptAll(post_vac)).count())

        proto = t.table_protocol()
        shutil.rmtree(root + "_proto", ignore_errors=True)
        c_pr = t.clone(root + "_proto")
        c_pr.commit([{"protocol": {"minReaderVersion": 99,
                                   "minWriterVersion": 99}}],
                    c_pr.latest_version() + 1, op="upgrade_protocol")
        try:
            c_pr.read(spark)
            proto_refused = 0
        except ProtocolError:
            proto_refused = 1

        rdr = TxLogStreamReader(root, {"startingVersion": "-1",
                                       "maxCommitsPerTrigger": "2"})
        rdr.initialOffset()
        head = t.latest_version()
        cur, steps = -1, 0
        while cur < head and steps <= head + 2:
            cur = rdr.latestOffset()["version"]
            steps += 1
        want_steps = -(-(head + 1) // 2)

        wd = side["widen"].result()
        rt = side["rowtrack"].result()
        gc = side["generated"].result()
        rp = side["replicate"].result()
        ds = side["dedup_state"].result()
        cv = side["convert"].result()
    finally:
        pool.shutdown(wait=True)

    return spark.createDataFrame(
        [("_convert", cv["n"], cv["deep_files"], float(cv["div"])),
         ("_sql", sql_n, py_n, float(sql_div + asof_div + refresh_div)),
         ("_widen", wd["rows"], wd["ver"],
          float(wd["div"] + (1 - wd["refused"]))),
         ("_colmap", map_div + rewrote, t.latest_version(),
          float(map_src_div)),
         ("_retention", vac["removed_log_files"], t.earliest_version(),
          float(vac_div)),
         ("_protocol", proto["minReaderVersion"],
          proto["minWriterVersion"], float(1 - proto_refused)),
         ("_admission", steps, want_steps, float(steps - want_steps)),
         ("_rowtrack", rt["changed"], rt["dups"],
          float(0 if rt["ver_ok"] else 1)),
         ("_generated", gc["bad"], gc["n"], float(1 - gc["refused"])),
         ("_replicate", rp["upserted"], rp["deleted"], float(rp["div"])),
         ("_dedup_state", ds["signed"], ds["delta_ins"],
          float(ds["div"])),
         ("_dsrc", src_diverged, probe.pruned_files,
          float(src_cdf_rows - cdf_rows_direct)),
         ("_delete", d["rewritten_files"], d["carried_files"],
          float(d["matched_rows"])),
         ("_update", u["rewritten_files"], u["carried_files"],
          float(u["matched_rows"])),
         ("_cdf", n_ins, n_del, float(mismatches)),
         ("_restore", diverged, t.latest_version(), None),
         ("_merge_into", mi["updated"], mi["inserted"],
          float(mi_diverged)),
         ("_history", len(hist), len({h["op"] for h in hist}),
          float(sum(h["rows_added"] for h in hist if h["op"] == "append")))],
        "key string, n long, n2 long, v double")


@register("sink_suite")  # rows-only: sink semantics, asserted via re-read
def sink_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled union of the eleven sink legs (consolidated so all land one
    driver CORRECTNESS row):
      'txlog'            — the lakehouse table format as running code
        (sources/txlog.py): per-day appends, a MERGE through an atomic
        O_EXCL-claimed commit with a forced optimistic-concurrency retry,
        file-stats pruning (only overlapping days rewritten), and a
        snapshot-isolation / time-travel re-read at the pre-merge version;
      'txlog_rowops'     — row-level DELETE / UPDATE (stats-pruned
        copy-on-write), RESTORE, DESCRIBE HISTORY, the change-data
        feed with its in-frame multiset replay check, and (r7) full
        MERGE INTO with ordered WHEN clauses verified in-frame against
        the withColumn/when recompute (sink_txlog_rowops);
      'upsert_merge'     — partition-grain overwrite + key-grain MERGE,
        re-read per-indicator counts (idempotence pytest-pinned);
      'bucketed_groupby' — events written bucketed by user_id, then the
        exchange-free bucket-key aggregate (zero-shuffle plan-asserted);
      'incremental'      — delta-processing rollup state: algebraic
        partial-aggregate merge over affected partitions only, verified
        against a one-shot recompute (mismatch row must be 0);
      'hll_incremental'  — distinct-user counting as the SAME kind of
        state: stored HLL register arrays per (indicator, day), delta
        merged by elementwise max, bit-exact vs one-shot recompute
        ('_state_mismatches' row must be 0), read-time cross-day sketch
        rollup within HLL tolerance of exact (rel_err in rows);
      'compact'          — small-file compaction: fragmented day partitions
        rewritten to target-size files, content-preservation accounted
        ('files' row: before/after counts; 'rows' row: counts + abs sum
        drift, which must be 0);
      'cluster'          — data-skipping layout: sortWithinPartitions on
        the hot filter column vs hash-scattered, row-group min/max
        selectivity measured via parquet metadata (clustered skippable
        count must dominate — pytest-pinned);
      'formats'          — CSV / JSON-lines / ORC / parquet round-trips of
        the minute rollup: write each format, re-read with an explicit
        schema, and account rows / distinct keys / value sums (must agree
        across formats);
      'codecs'           — parquet compression matrix (snappy/zstd/gzip/
        lz4): same week written under each codec, on-disk bytes measured,
        content checksum identical across codecs (pytest-pinned);
      'zorder'           — multi-column data skipping: hash-scattered vs
        minute-clustered vs Z-ORDERED layouts, point-predicate row-group
        skipping measured per dimension from footer stats (z-order must
        prune meaningfully on BOTH dims — pytest-pinned)."""
    # r13 (guide §2.6): the legs are INDEPENDENT eager jobs that used to
    # run strictly sequentially, leaving most cores idle through each
    # leg's single-task writes and driver-side staging; a small driver
    # thread pool overlaps them so one leg's tail back-fills the others.
    # r14 (VERDICT #5): compact / cluster / zorder temporarily mutate the
    # SESSION conf spark.sql.files.maxRecordsPerFile — in r13 they ran
    # strictly serial after the pool drained (~5 s of single-leg tail).
    # Each now runs inside the pool under its OWN spark.newSession():
    # same SparkContext, isolated SQLConf, so the scoped conf mutation
    # cannot leak into a concurrently-writing leg. Their few result rows
    # are collected off the isolated session and rebuilt on the caller's
    # session (frames from different sessions must not be unioned).
    # Invariant at each leg's definition site: pooled legs must not set
    # MAIN-session conf — conf-mutating legs get an isolated session here.
    from concurrent.futures import ThreadPoolExecutor

    def _part(tag: str, df: DataFrame, cols=None) -> DataFrame:
        return df.select(F.lit(tag).alias("part"),
                         *(cols or [F.col("key"), F.col("n"),
                                    F.col("n2"), F.col("v")]))

    def _isolated(tag: str, fn):
        """Run a conf-mutating leg on a cloned session; land its (tiny)
        result rows back on the caller's session."""
        def run() -> DataFrame:
            from service_level_reporting_spark.session import configure

            s2 = spark.newSession()
            # runtime confs set AFTER session creation do not propagate to
            # newSession(): re-apply the engine's correctness confs (UTC,
            # nanosAsLong, AQE — configure is idempotent) and carry the one
            # knob that shapes leg plans
            configure(s2)
            s2.conf.set("spark.sql.shuffle.partitions",
                        spark.conf.get("spark.sql.shuffle.partitions"))
            df = fn(s2, sf_dir)
            return _part(tag, spark.createDataFrame(df.collect(), df.schema))
        return run

    # Critical-path scheduling (r14, guide §2.6): txlog_rowops is ~half the
    # suite's serial cost (22 s of 46 s per-leg total at sf0.1) — it must
    # START first, not 8th, or the pool's first wave delays the leg that
    # bounds the suite's wall time. Legs ordered longest-first by measured
    # per-leg time; dict order == submission order.
    pooled = {
        "txlog_rowops": lambda: _part(
            "txlog_rowops", sink_txlog_rowops(spark, sf_dir)),
        "hll_incremental": lambda: _part(
            "hll_incremental", hll_incremental_rollup(spark, sf_dir)),
        "txlog": lambda: _part("txlog", sink_txlog_merge(spark, sf_dir)),
        "upsert_merge": lambda: _part("upsert_merge",
            sink_upsert_merge(spark, sf_dir),
            [F.col("indicator").alias("key"),
             F.col("n_minutes").alias("n"),
             F.col("n_distinct_minutes").alias("n2"),
             F.col("sum_value").alias("v")]),
        "bucketed_groupby": lambda: _part("bucketed_groupby",
            sink_bucketed_user_stats(spark, sf_dir),
            [F.col("user_id").cast("string").alias("key"),
             F.col("n_events").alias("n"),
             F.lit(None).cast("long").alias("n2"),
             F.col("avg_value").alias("v")]),
        "incremental": lambda: _part("incremental",
            incremental_daily_rollup(spark, sf_dir),
            [F.col("indicator").alias("key"),
             F.col("total_points").alias("n"),
             F.col("n_days").alias("n2"),
             F.col("sum_value").alias("v")]),
        "formats": lambda: _part(
            "formats", format_roundtrip_stats(spark, sf_dir)),
        "codecs": lambda: _part(
            "codecs", compression_codec_stats(spark, sf_dir)),
        # conf-mutating legs, isolated-session pooled (r14)
        "zorder": _isolated("zorder", zorder_layout_stats),
        "cluster": _isolated("cluster", clustered_layout_stats),
        "compact": _isolated("compact", compact_small_files),
    }
    with ThreadPoolExecutor(max_workers=6) as pool:
        futs = {name: pool.submit(fn) for name, fn in pooled.items()}
        results = {name: f.result() for name, f in futs.items()}

    order = ("upsert_merge", "bucketed_groupby", "incremental",
             "hll_incremental", "compact", "cluster", "formats", "codecs",
             "zorder", "txlog", "txlog_rowops")
    out = results[order[0]]
    for name in order[1:]:
        out = out.unionByName(results[name])
    return out.orderBy("part", "key")
