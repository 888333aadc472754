"""The txlog Python DataSource: batch snapshot/time-travel reads, log-level
filter pushdown pruning, batch CDF, and the streaming CDC source with
checkpointed exactly-once offsets."""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile
import uuid
from collections import Counter

import pytest

# r14: heavy system suite — builder-loop tier (driver fast tier skips it; run with -m "")
pytestmark = __import__('pytest').mark.slow
from pyspark.sql import functions as F

from service_level_reporting_spark.sources.txlog import (
    LogFormatError, TxLogTable)
from service_level_reporting_spark.sources.txlog_datasource import (
    TxLogBatchReader, TxLogDataSource)
from service_level_reporting_spark.sources.sinks import minute_rollup
from service_level_reporting_spark.tables import load_tables

from .conftest import SF_DIR_001


@pytest.fixture()
def table_path():
    p = os.path.join(tempfile.gettempdir(),
                     f"slr_dsrc_test_{uuid.uuid4().hex[:8]}")
    yield p
    shutil.rmtree(p, ignore_errors=True)
    shutil.rmtree(p + "_ckpt", ignore_errors=True)


def _rollup(spark, lo, hi):
    ev = load_tables(spark, SF_DIR_001, ("events",))["events"]
    return minute_rollup(ev, (F.col("ts") >= lo) & (F.col("ts") < hi))


def _multiset(df):
    cols = sorted(df.columns)
    return Counter(tuple(r[c] for c in cols) for r in df.collect())


def _three_day_table(spark, table_path) -> TxLogTable:
    t = TxLogTable(table_path, key_cols=["indicator", "minute"],
                   stats_col="minute")
    for day in (1, 2, 3):
        t.append(_rollup(spark, f"2024-01-0{day}",
                         f"2024-01-0{day + 1}").coalesce(1))
    return t


def test_batch_snapshot_time_travel_and_schema(spark, table_path):
    spark.dataSource.register(TxLogDataSource)
    t = _three_day_table(spark, table_path)
    t.merge(_rollup(spark, "2024-01-02 06:00:00", "2024-01-02 18:00:00"))

    df = spark.read.format("txlog").load(table_path)
    assert df.schema == t.read(spark).schema
    assert _multiset(df) == _multiset(t.read(spark))
    v0 = spark.read.format("txlog").option("version", "0").load(table_path)
    assert _multiset(v0) == _multiset(t.read(spark, 0))


def test_filter_pushdown_prunes_from_log_stats(spark, table_path):
    """A stats-column predicate must (a) return exactly the filtered rows
    — Spark re-applies every filter, pruning is conservative — and (b)
    plan partitions only for files the log's min/max cannot exclude."""
    spark.dataSource.register(TxLogDataSource)
    t = _three_day_table(spark, table_path)

    df = spark.read.format("txlog").load(table_path)
    got = _multiset(df.filter(F.col("minute") >= "2024-01-03 00:00:00"))
    want = _multiset(t.read(spark).filter(
        F.col("minute") >= "2024-01-03 00:00:00"))
    assert got == want

    # reader-level: the pushed bound keeps 1 of 3 day files
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan
    r = TxLogBatchReader(table_path, {"path": table_path})
    unhandled = list(r.pushFilters(
        [GreaterThanOrEqual(("minute",), datetime.datetime(2024, 1, 3))]))
    assert len(unhandled) == 1          # prune-only: everything re-applied
    assert len(r.partitions()) == 1 and r.pruned_files == 2
    # one-sided upper bound also prunes
    r2 = TxLogBatchReader(table_path, {"path": table_path})
    list(r2.pushFilters([LessThan(("minute",),
                                  datetime.datetime(2024, 1, 2))]))
    assert len(r2.partitions()) == 1 and r2.pruned_files == 2
    # r7: a NON-stats column prunes too, through the typed per-column
    # stats — an impossible bound proves every file irrelevant (the scan
    # plans only the empty sentinel partition)
    r3 = TxLogBatchReader(table_path, {"path": table_path})
    list(r3.pushFilters([GreaterThanOrEqual(("value",), 1e18)]))
    assert len(r3.partitions()) == 1 and r3.pruned_files == 3
    # ...while a satisfiable bound on it keeps every overlapping file
    r4 = TxLogBatchReader(table_path, {"path": table_path})
    list(r4.pushFilters([GreaterThanOrEqual(("value",), 0.0)]))
    assert len(r4.partitions()) == 3 and r4.pruned_files == 0


def test_batch_changes_equals_table_cdf(spark, table_path):
    spark.dataSource.register(TxLogDataSource)
    t = _three_day_table(spark, table_path)
    v_from = t.latest_version()
    t.merge(_rollup(spark, "2024-01-02 06:00:00", "2024-01-02 18:00:00"))
    t.delete("indicator = 'error'")

    ch = (spark.read.format("txlog").option("mode", "changes")
          .option("startingVersion", str(v_from)).load(table_path))
    assert ch.columns[-2:] == ["_change_type", "_commit_version"]
    assert _multiset(ch) == _multiset(t.changes(spark, v_from))


def test_numeric_stats_prune_typed_not_lexicographic(spark, table_path):
    """Numeric pruning must be VALUE-ordered, never string-ordered
    ('10' < '2' lexicographically — r7 ADVICE). With typed per-column
    stats (r7) a numeric bound prunes CORRECTLY: v >= 2 keeps both the
    [9,9] and [10,10] files (the string compare would lose the 10), and
    v >= 10 skips the [9,9] file. Adds from PRE-typed-stats logs carry
    only the string min/max, where numeric pruning stays disabled."""
    import json as _json

    spark.dataSource.register(TxLogDataSource)
    t = TxLogTable(table_path, key_cols=["v"], stats_col="v")
    t.append(spark.createDataFrame([(9, "nine")],
                                   "v long, s string").coalesce(1))
    t.append(spark.createDataFrame([(10, "ten")],
                                   "v long, s string").coalesce(1))

    df = spark.read.format("txlog").load(table_path)
    # the lexicographic trap case: lo='2' would prune the [10,10] file
    got = sorted(r["v"] for r in df.filter(F.col("v") >= 2).collect())
    assert got == [9, 10]

    from pyspark.sql.datasource import GreaterThanOrEqual
    r = TxLogBatchReader(table_path, {"path": table_path})
    list(r.pushFilters([GreaterThanOrEqual(("v",), 2)]))
    assert len(r.partitions()) == 2 and r.pruned_files == 0
    # typed stats DO prune when the numbers prove disjointness
    r2 = TxLogBatchReader(table_path, {"path": table_path})
    list(r2.pushFilters([GreaterThanOrEqual(("v",), 10)]))
    assert len(r2.partitions()) == 1 and r2.pruned_files == 1
    got = sorted(r_["v"] for r_ in spark.read.format("txlog")
                 .load(table_path).filter(F.col("v") >= 10).collect())
    assert got == [10]

    # back-compat: strip the typed stats (simulating a pre-r7 log) —
    # numeric pruning must fall back to DISABLED, not to the string trap
    for f in sorted(os.listdir(t.log_dir)):
        if f.endswith(".json") and f[:20].isdigit():
            p = os.path.join(t.log_dir, f)
            with open(p) as fh:
                rec = _json.load(fh)
            for a in rec.get("actions", rec.get("files", [])):
                (a.get("add") or a).pop("stats", None)
            with open(p, "w") as fh:
                _json.dump(rec, fh)
    r3 = TxLogBatchReader(table_path, {"path": table_path})
    list(r3.pushFilters([GreaterThanOrEqual(("v",), 10)]))
    assert len(r3.partitions()) == 2 and r3.pruned_files == 0


def test_null_count_pruning(spark, table_path):
    """r7: IsNull/IsNotNull pushdowns prune via the recorded per-file
    null counts — an all-null file can't satisfy IS NOT NULL (or any
    bounded comparison), a null-free file can't satisfy IS NULL."""
    from pyspark.sql.datasource import GreaterThan, IsNotNull, IsNull

    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    t.append(spark.createDataFrame([("a", None), ("b", None)],
                                   "k string, s string").coalesce(1))
    t.append(spark.createDataFrame([("c", "x"), ("d", "y")],
                                   "k string, s string").coalesce(1))

    r = TxLogBatchReader(table_path, {"path": table_path})
    list(r.pushFilters([IsNotNull(("s",))]))
    assert len(r.partitions()) == 1 and r.pruned_files == 1
    r2 = TxLogBatchReader(table_path, {"path": table_path})
    list(r2.pushFilters([IsNull(("s",))]))
    assert len(r2.partitions()) == 1 and r2.pruned_files == 1
    # a range bound on an all-null column prunes that file too
    r3 = TxLogBatchReader(table_path, {"path": table_path})
    list(r3.pushFilters([GreaterThan(("s",), "a")]))
    assert len(r3.partitions()) == 1 and r3.pruned_files == 1


def test_snapshot_pinned_at_analysis_time(spark, table_path):
    """r7 (ADVICE): the version is resolved ONCE at analysis — a commit
    landing between .load() and the action must not leak into the scan
    (schema and planned files agree on one snapshot)."""
    spark.dataSource.register(TxLogDataSource)
    t = TxLogTable(table_path, key_cols=["indicator", "minute"],
                   stats_col="minute")
    t.append(_rollup(spark, "2024-01-01", "2024-01-02").coalesce(1))
    df = spark.read.format("txlog").load(table_path)   # analysis pins here
    n0 = t.read(spark).count()
    t.append(_rollup(spark, "2024-01-02", "2024-01-03").coalesce(1))
    assert df.count() == n0                      # pinned snapshot
    assert (spark.read.format("txlog").load(table_path).count()
            == t.read(spark).count())            # fresh read sees latest


def test_schema_evolution_through_datasource(spark, table_path):
    """r7 (VERDICT item 3): an additively-evolved table read through the
    data source either raises the pinned error (default) or, with
    mergeSchema=true, equals TxLogTable.read(merge_schema=True) — old
    files' missing column padded NULL executor-side."""
    spark.dataSource.register(TxLogDataSource)
    t = TxLogTable(table_path, key_cols=["indicator", "minute"],
                   stats_col="minute")
    t.append(_rollup(spark, "2024-01-01", "2024-01-02").coalesce(1))
    t.append(_rollup(spark, "2024-01-02", "2024-01-03")
             .withColumn("source_region", F.lit("eu-central")).coalesce(1))

    with pytest.raises(Exception, match="mergeSchema"):
        spark.read.format("txlog").load(table_path).collect()

    df = (spark.read.format("txlog").option("mergeSchema", "true")
          .load(table_path))
    want = t.read(spark, merge_schema=True)
    assert set(df.columns) == set(want.columns)
    assert _multiset(df) == _multiset(want)
    # the evolved column is NULL exactly for the pre-evolution rows
    assert (df.filter(F.col("source_region").isNull()).count()
            == t.read(spark, 0).count())


def test_stream_incremental_exactly_once(spark, table_path):
    """Offsets are versions: a checkpointed stream delivers each commit's
    rows exactly once across new data arriving mid-stream AND across a
    stop/restart from the same checkpoint."""
    spark.dataSource.register(TxLogDataSource)
    t = TxLogTable(table_path, key_cols=["indicator", "minute"],
                   stats_col="minute")
    t.append(_rollup(spark, "2024-01-01", "2024-01-02").coalesce(1))
    ckpt = table_path + "_ckpt"
    out = os.path.join(table_path + "_ckpt", "out")   # cleaned by fixture

    def start():
        return (spark.readStream.format("txlog")
                .option("startingVersion", "-1").load(table_path)
                .writeStream.format("parquet").option("path", out)
                .option("checkpointLocation", os.path.join(ckpt, "offsets_"))
                .start())

    q = start()
    try:
        q.processAllAvailable()
        assert spark.read.parquet(out).count() == t.read(spark).count()
        t.append(_rollup(spark, "2024-01-02", "2024-01-03").coalesce(1))
        q.processAllAvailable()
        assert spark.read.parquet(out).count() == t.read(spark).count()
    finally:
        q.stop()
    # restart from the same checkpoint: already-delivered versions must
    # NOT replay (no duplicates in the sink); the commit landed while the
    # stream was down must arrive exactly once
    t.append(_rollup(spark, "2024-01-03", "2024-01-04").coalesce(1))
    q2 = start()
    try:
        q2.processAllAvailable()
        sink = spark.read.parquet(out)
        assert _multiset(sink) == _multiset(t.read(spark))
    finally:
        q2.stop()


def _mini(spark, v: int, rows: int = 5):
    return spark.createDataFrame(
        [(f"k{v:03d}_{i}", v * 100 + i) for i in range(rows)],
        "k string, val long").coalesce(1)


def test_stream_admission_control_caps_microbatches(spark, table_path):
    """r9 (VERDICT item 1): maxCommitsPerTrigger=3 drains a 21-commit
    backlog as >= 7 bounded micro-batches — per-batch version spans
    asserted from _commit_version in changes mode, full coverage, no
    version in two batches; maxRowsPerTrigger bounds by the commits'
    add-action row counts; append mode respects the cap too."""
    spark.dataSource.register(TxLogDataSource)
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    for v in range(21):
        t.append(_mini(spark, v))
    ckpt = table_path + "_ckpt"

    # -- changes mode, maxCommitsPerTrigger=3: >= 7 capped batches
    spans: list[tuple] = []

    def fb(df, _bid):
        vs = sorted(r["_commit_version"] for r in
                    df.select("_commit_version").distinct().collect())
        if vs:
            spans.append(tuple(vs))

    q = (spark.readStream.format("txlog").option("mode", "changes")
         .option("startingVersion", "-1")
         .option("maxCommitsPerTrigger", "3").load(table_path)
         .writeStream.foreachBatch(fb)
         .option("checkpointLocation", os.path.join(ckpt, "c1"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(spans) >= 7, spans
    assert all(len(s) <= 3 for s in spans), spans
    covered = [v for s in spans for v in s]
    assert sorted(covered) == list(range(21))     # every commit once

    # -- maxRowsPerTrigger: 5-row commits, cap 12 -> <= 2 commits/batch
    spans2: list[tuple] = []

    def fb2(df, _bid):
        vs = sorted(r["_commit_version"] for r in
                    df.select("_commit_version").distinct().collect())
        if vs:
            spans2.append(tuple(vs))

    q2 = (spark.readStream.format("txlog").option("mode", "changes")
          .option("startingVersion", "-1")
          .option("maxRowsPerTrigger", "12").load(table_path)
          .writeStream.foreachBatch(fb2)
          .option("checkpointLocation", os.path.join(ckpt, "c2"))
          .start())
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert all(len(s) <= 2 for s in spans2), spans2
    assert sorted(v for s in spans2 for v in s) == list(range(21))

    # -- append mode honors the cap: per-batch input rows <= 3 commits
    out = os.path.join(ckpt, "out")
    q3 = (spark.readStream.format("txlog")
          .option("startingVersion", "-1")
          .option("maxCommitsPerTrigger", "3").load(table_path)
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", os.path.join(ckpt, "c3"))
          .start())
    try:
        q3.processAllAvailable()
        progress = [p for p in q3.recentProgress
                    if p["numInputRows"] > 0]
    finally:
        q3.stop()
    assert spark.read.parquet(out).count() == t.read(spark).count()
    assert len(progress) >= 7
    assert all(p["numInputRows"] <= 15 for p in progress)   # 3 x 5 rows


def test_drain_available_full_drain_under_cap(spark, table_path):
    """r10 (VERDICT #5): ONE documented call —
    ``drain_available`` — drains a 21-commit backlog under
    Trigger.AvailableNow with the cap respected per batch, in BOTH
    append and changes modes, and reports its pass count. (A single
    availableNow pass drains only one cap's worth: the Python stream
    protocol has no reportLatestOffset — the measured caveat the
    helper exists for.)"""
    from service_level_reporting_spark.sources.txlog_datasource import (
        committed_offset, drain_available)

    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    for v in range(21):
        t.append(_mini(spark, v))
    ckpt = table_path + "_ckpt"

    # -- changes mode, cap 2: spans bounded, every commit exactly once
    spans: list[tuple] = []

    def fb(df, _bid):
        vs = sorted(r["_commit_version"] for r in
                    df.select("_commit_version").distinct().collect())
        if vs:
            spans.append(tuple(vs))

    res = drain_available(
        spark, table_path, os.path.join(ckpt, "c1"),
        lambda df: df.writeStream.foreachBatch(fb),
        mode="changes", max_commits_per_trigger=2)
    assert res["end_offset"] == res["head"] == 20
    assert res["passes"] >= 10                    # ~ceil(21/2) capped passes
    assert all(len(s) <= 2 for s in spans), spans
    assert sorted(v for s in spans for v in s) == list(range(21))
    assert committed_offset(os.path.join(ckpt, "c1")) == 20

    # -- append mode, cap 3: sink content == snapshot, batches bounded
    out = os.path.join(ckpt, "out")
    res2 = drain_available(
        spark, table_path, os.path.join(ckpt, "c2"),
        lambda df: (df.writeStream.format("parquet")
                    .option("path", out)),
        max_commits_per_trigger=3)
    assert res2["end_offset"] == 20
    sink = spark.read.parquet(out)
    assert sink.count() == t.read(spark).count()

    # idempotent: a re-drain with nothing new is ONE no-op pass
    res3 = drain_available(
        spark, table_path, os.path.join(ckpt, "c2"),
        lambda df: (df.writeStream.format("parquet")
                    .option("path", out)),
        max_commits_per_trigger=3)
    assert res3["passes"] == 1 and res3["end_offset"] == 20
    assert spark.read.parquet(out).count() == t.read(spark).count()


def test_stream_admission_control_exactly_once_across_restart(
        spark, table_path):
    """A capped stream stopped MID-BACKLOG and restarted from its
    checkpoint delivers every commit exactly once and stays capped
    through the restart: the engine replays the offset log's last batch
    through partitions() before its first latestOffset(), which ratchets
    the reader's floor onto the checkpointed offset (traced engine
    behavior this test pins — if it changes, admission control must be
    rethought, not just this assertion)."""
    import time as _time

    spark.dataSource.register(TxLogDataSource)
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    for v in range(24):
        t.append(_mini(spark, v))
    ckpt = table_path + "_ckpt"
    out = os.path.join(ckpt, "out")

    def start():
        return (spark.readStream.format("txlog")
                .option("startingVersion", "-1")
                .option("maxCommitsPerTrigger", "2").load(table_path)
                .writeStream.format("parquet").option("path", out)
                .option("checkpointLocation", os.path.join(ckpt, "c"))
                .start())

    q = start()
    try:
        # stop mid-backlog: wait for the first couple of micro-batches
        deadline = _time.time() + 60
        while _time.time() < deadline:
            done = [p for p in q.recentProgress if p["numInputRows"] > 0]
            if len(done) >= 2:
                break
            _time.sleep(0.1)
        assert done, "stream made no progress before the stop"
    finally:
        q.stop()
    assert spark.read.parquet(out).count() < 24 * 5   # genuinely mid-way

    q2 = start()
    try:
        q2.processAllAvailable()
        progress2 = [p for p in q2.recentProgress
                     if p["numInputRows"] > 0]
    finally:
        q2.stop()
    sink = spark.read.parquet(out)
    assert _multiset(sink) == _multiset(t.read(spark))   # exactly once
    # EVERY post-restart batch respects the cap (2 commits x 5 rows)
    assert all(p["numInputRows"] <= 10 for p in progress2), progress2


def test_stream_append_mode_refuses_rewrites(spark, table_path):
    """Delta's contract: an append-only stream fails loudly on a commit
    that changed existing data; skipChangeCommits=true skips that commit
    wholesale and continues."""
    spark.dataSource.register(TxLogDataSource)
    t = TxLogTable(table_path, key_cols=["indicator", "minute"],
                   stats_col="minute")
    t.append(_rollup(spark, "2024-01-01", "2024-01-02").coalesce(1))
    t.merge(_rollup(spark, "2024-01-01 06:00:00", "2024-01-01 18:00:00"))
    t.append(_rollup(spark, "2024-01-02", "2024-01-03").coalesce(1))

    name = f"txs_{uuid.uuid4().hex[:8]}"
    q = (spark.readStream.format("txlog").option("startingVersion", "-1")
         .load(table_path)
         .writeStream.format("memory").queryName(name).start())
    with pytest.raises(Exception, match="rewrites data"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    name2 = f"txs_{uuid.uuid4().hex[:8]}"
    q2 = (spark.readStream.format("txlog").option("startingVersion", "-1")
          .option("skipChangeCommits", "true").load(table_path)
          .writeStream.format("memory").queryName(name2).start())
    try:
        q2.processAllAvailable()
        # v0 append + v2 append arrive; the v1 merge commit is skipped
        assert (spark.table(name2).count()
                == t.read(spark, 0).count()
                + (t.read(spark, 2).count()
                   - t.read(spark, 1).count()))
    finally:
        q2.stop()


def test_stream_changes_mode_equals_batch_cdf(spark, table_path):
    spark.dataSource.register(TxLogDataSource)
    t = _three_day_table(spark, table_path)
    t.merge(_rollup(spark, "2024-01-02 06:00:00", "2024-01-02 18:00:00"))

    name = f"txs_{uuid.uuid4().hex[:8]}"
    q = (spark.readStream.format("txlog").option("mode", "changes")
         .option("startingVersion", "-1").load(table_path)
         .writeStream.format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
        assert (_multiset(spark.table(name))
                == _multiset(t.changes(spark, -1)))
    finally:
        q.stop()


def test_bloom_pushdown_prunes_point_lookups(spark, table_path):
    """r7 s2: EqualTo/In pushdowns on the table's bloom column probe the
    per-file Bloom filters — a point lookup on a scattered key plans only
    the file(s) that may hold it (range stats alone keep all files, since
    every file spans the whole key space). Conjunct policy: the smallest
    probe set wins; un-canonicalizable probe values disable bloom pruning
    rather than risk a false prune."""
    from pyspark.sql.datasource import EqualTo, In

    t = TxLogTable(table_path, key_cols=["uid"], stats_col="g",
                   bloom_col="uid")
    for f in range(3):
        t.append(spark.createDataFrame(
            [(f"user_{i:04d}", "a", float(i)) for i in range(f, 300, 3)],
            "uid string, g string, v double").coalesce(1))

    spark.dataSource.register(TxLogDataSource)
    # full scan plans all 3 files
    r0 = TxLogBatchReader(table_path, {"path": table_path})
    assert len(r0.partitions()) == 3

    # EqualTo: user_0010 lives in file f=1 only (10 % 3)
    r1 = TxLogBatchReader(table_path, {"path": table_path})
    list(r1.pushFilters([EqualTo(("uid",), "user_0010")]))
    assert len(r1.partitions()) == 1 and r1.pruned_files == 2
    got = (spark.read.format("txlog").load(table_path)
           .filter(F.col("uid") == "user_0010").collect())
    assert [r["v"] for r in got] == [10.0]

    # In over keys from two files keeps exactly those two
    r2 = TxLogBatchReader(table_path, {"path": table_path})
    list(r2.pushFilters([In(("uid",), ("user_0010", "user_0011"))]))
    assert len(r2.partitions()) == 2 and r2.pruned_files == 1

    # a key in NO file prunes everything (empty sentinel partition)
    r3 = TxLogBatchReader(table_path, {"path": table_path})
    list(r3.pushFilters([EqualTo(("uid",), "user_9999")]))
    assert len(r3.partitions()) == 1 and r3.pruned_files == 3
    assert (spark.read.format("txlog").load(table_path)
            .filter(F.col("uid") == "user_9999").count()) == 0

    # a float probe value cannot canonicalize: pruning stays off
    r4 = TxLogBatchReader(table_path, {"path": table_path})
    list(r4.pushFilters([EqualTo(("uid",), 1.5)]))
    assert len(r4.partitions()) == 3 and r4.pruned_files == 0


def test_null_count_prune_skips_dv_carrying_files(spark, table_path):
    """r8 (ADVICE): the IsNotNull 'all-null file' prune compares the
    file's ORIGINAL footer null count against the add's LIVE row count —
    after a MoR delete those can coincide on a file whose non-null rows
    survive, and the file was wrongly skipped. Spark pushes IsNotNull
    alongside nearly every comparison filter, so any predicate on such a
    column silently lost rows through the registered source."""
    from pyspark.sql.datasource import IsNotNull, IsNull

    spark.dataSource.register(TxLogDataSource)
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    # 4 rows, 2 nulls in x; MoR-delete the 2 null rows -> live rows (2)
    # == original null count (2), but both live rows are NON-null
    t.append(spark.createDataFrame(
        [("a", None), ("b", None), ("c", 7), ("d", 8)],
        "k string, x long").coalesce(1))
    t.delete("x IS NULL", mode="mor")

    r = TxLogBatchReader(table_path, {"path": table_path})
    list(r.pushFilters([IsNotNull(("x",))]))
    assert len(r.partitions()) == 1 and r.pruned_files == 0
    # end-to-end: a comparison filter (which pushes IsNotNull too) sees
    # the surviving rows
    got = sorted(x["x"] for x in spark.read.format("txlog")
                 .load(table_path).filter(F.col("x") > 0).collect())
    assert got == [7, 8]
    # the IsNull prune (nulls == 0) is deletion-monotone and still fires
    # on a null-free DV-less file
    t2_path = table_path + "_nf"
    try:
        t2 = TxLogTable(t2_path, key_cols=["k"], stats_col="k")
        t2.append(spark.createDataFrame([("a", 1)],
                                        "k string, x long").coalesce(1))
        r2 = TxLogBatchReader(t2_path, {"path": t2_path})
        list(r2.pushFilters([IsNull(("x",))]))
        assert len(r2.partitions()) == 1 and r2.pruned_files == 1
    finally:
        shutil.rmtree(t2_path, ignore_errors=True)


def _strip_schema_meta(t):
    """Rewrite the log as a PRE-r8 'legacy' log — data files with no
    metaData action: drop metaData actions and checkpoint-carried
    schemas (checkpoints removed wholesale — resolution falls back to
    the full-log walk)."""
    import json as _json

    for f in sorted(os.listdir(t.log_dir)):
        p = os.path.join(t.log_dir, f)
        if f.endswith(".checkpoint.json"):
            os.remove(p)
        elif f.endswith(".json") and f[:20].isdigit():
            with open(p) as fh:
                rec = _json.load(fh)
            rec["actions"] = [a for a in rec["actions"]
                              if "metaData" not in a]
            with open(p, "w") as fh:
                _json.dump(rec, fh)
    # hand-edited log: drop the handle's caches (r10 memoization —
    # published commits are immutable in real life, this helper cheats)
    t._commit_memo.clear()
    t._snap_cache.clear()


def test_schema_from_log_o1_footer_reads(spark, table_path, monkeypatch):
    """r8 (VERDICT item 1): analysis of a many-file, additively-evolved
    table derives its schema from the commit log's metaData actions —
    ZERO driver-side parquet footer opens (the old path opened every
    live file; at 10^5-10^6 files that is an O(n_files) storm per query
    analysis). Values and columns stay identical to
    TxLogTable.read(merge_schema=True); a legacy log (metaData stripped)
    raises LogFormatError instead of falling back to footers."""
    import pyarrow.parquet as pq

    spark.dataSource.register(TxLogDataSource)
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    for i in range(6):
        t.append(spark.createDataFrame(
            [(f"k{i}{j}", float(i + j)) for j in range(3)],
            "k string, v double").coalesce(1))
    t.append(spark.createDataFrame(
        [("z1", 9.0, "eu")], "k string, v double, region string")
        .coalesce(1))                        # additive evolution

    calls = {"n": 0}
    orig = pq.ParquetFile

    def counting(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    # the DataSource's schema() runs _pin_snapshot; count ITS footer
    # opens in-process (the registered source executes user code in a
    # separate Python worker, where a monkeypatch cannot see)
    from service_level_reporting_spark.sources.txlog_datasource import (
        _pin_snapshot)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    pin = _pin_snapshot(table_path, {"mergeSchema": "true"})
    assert calls["n"] == 0, f"{calls['n']} driver-side footer reads"
    assert set(pin["schema"].names) == {"k", "v", "region"}
    df = (spark.read.format("txlog").option("mergeSchema", "true")
          .load(table_path))
    want = t.read(spark, merge_schema=True)
    assert set(df.columns) == set(want.columns)
    assert _multiset(df) == _multiset(want)
    # the pinned evolution contract still raises without the option
    with pytest.raises(Exception, match="mergeSchema"):
        spark.read.format("txlog").load(table_path).collect()

    # legacy log: no footer fallback — the named error, still with zero
    # footer reads
    _strip_schema_meta(t)
    calls["n"] = 0
    with pytest.raises(LogFormatError, match="no metaData schema action"):
        _pin_snapshot(table_path, {"mergeSchema": "true"})
    assert calls["n"] == 0
    with pytest.raises(Exception, match="no metaData schema action"):
        (spark.read.format("txlog").option("mergeSchema", "true")
         .load(table_path).collect())


def test_non_additive_evolution_pinned_errors(spark, table_path):
    """r8 (VERDICT item 6): the pinned non-additive contract — a TYPE
    change raises the same actionable error through the table API (at
    write, nothing staged); omitted recorded columns stay allowed
    (NULL-fill, Delta-with-autoMerge parity). A legacy log (no metaData
    action) raises LogFormatError through both APIs."""
    from service_level_reporting_spark.sources.txlog import (
        SchemaEvolutionError)

    spark.dataSource.register(TxLogDataSource)
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    t.append(spark.createDataFrame([("a", 1)],
                                   "k string, x long").coalesce(1))
    with pytest.raises(SchemaEvolutionError, match="Non-additive"):
        t.append(spark.createDataFrame([("b", "s")],
                                       "k string, x string").coalesce(1))
    with pytest.raises(SchemaEvolutionError, match="'x'"):
        t.append(spark.createDataFrame([("b", 1.5)],
                                       "k string, x double").coalesce(1))
    assert t.latest_version() == 0           # nothing committed

    # omitting a recorded column is the ALLOWED additive case
    t.append(spark.createDataFrame(
        [("c", 2, "eu")], "k string, x long, region string").coalesce(1))
    t.append(spark.createDataFrame([("d", 3)],
                                   "k string, x long").coalesce(1))
    got = {r["k"]: r["region"]
           for r in t.read(spark, merge_schema=True).collect()}
    assert got == {"a": None, "c": "eu", "d": None}

    # legacy log: neither API guesses a schema from footers — a write
    # refuses before staging, the data source refuses at analysis
    _strip_schema_meta(t)
    n_before = t.latest_version()
    with pytest.raises(LogFormatError, match="no metaData schema action"):
        t.append(spark.createDataFrame([("e", "notanum")],
                                       "k string, x string").coalesce(1))
    assert t.latest_version() == n_before    # nothing committed
    with pytest.raises(Exception, match="no metaData schema action"):
        (spark.read.format("txlog").option("mergeSchema", "true")
         .load(table_path).collect())


def test_with_row_ids_batch_parity(spark, table_path):
    """withRowIds=true (r10 s2): the datasource's snapshot and change
    feeds carry the SAME stable identities the table API resolves —
    materialized-else-base+row-index, per Arrow batch executor-side —
    and the feed refuses to start before the enable version (identity
    can't be learned retroactively across micro-batches)."""
    spark.dataSource.register(TxLogDataSource)
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    t.append(spark.createDataFrame(
        [(f"k{i:02d}", i) for i in range(8)],
        "k string, v long").coalesce(1))
    t.enable_row_tracking()
    ev = t.latest_version()
    t.append(spark.createDataFrame([("k90", 90)],
                                   "k string, v long").coalesce(1))
    t.update(F.col("k") == "k03", {"v": "v + 100"})      # CoW rewrite
    t.delete(F.col("k") == "k05", mode="mor")            # sidecar ids
    t.update(F.col("k") == "k06", {"v": "v + 1"}, mode="mor")
    t.optimize(target_files=1)                           # materializes

    ds = (spark.read.format("txlog")
          .option("withRowIds", "true").load(table_path))
    assert sorted(map(tuple, ds.collect())) == sorted(
        map(tuple, t.read(spark, with_row_ids=True)
            .select(*ds.columns).collect()))

    dc = (spark.read.format("txlog").option("mode", "changes")
          .option("startingVersion", str(ev))
          .option("withRowIds", "true").load(table_path))
    assert sorted(map(tuple, dc.collect())) == sorted(
        map(tuple, t.changes(spark, ev, with_row_ids=True)
            .select(*dc.columns).collect()))

    with pytest.raises(Exception, match="enable_row_tracking"):
        (spark.read.format("txlog").option("mode", "changes")
         .option("startingVersion", "-1")
         .option("withRowIds", "true").load(table_path).collect())


def test_with_row_ids_streaming_keyless_replication(spark, table_path):
    """The streaming payoff: a capped CDC stream WITH row ids drains a
    backlog of appends/updates/deletes/compaction, and a keyless
    consumer folding each micro-batch by id (last-writer-wins within a
    batch via _commit_version) reproduces the source snapshot exactly —
    no natural key anywhere, duplicates included."""
    from service_level_reporting_spark.sources.txlog_datasource import (
        drain_available)

    spark.dataSource.register(TxLogDataSource)
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    t.append(spark.createDataFrame(
        [("dup", 0)] * 3 + [(f"k{i}", i) for i in range(6)],
        "k string, v long").coalesce(1))
    t.enable_row_tracking()
    start = t.latest_version()
    t.append(spark.createDataFrame([("k9", 9), ("dup", 0)],
                                   "k string, v long").coalesce(1))
    t.update(F.col("k") == "k2", {"v": "v + 20"})
    t.delete(F.col("k") == "k4", mode="mor")
    t.update(F.col("k") == "k5", {"v": "v + 1"}, mode="mor")
    t.optimize(target_files=1)
    t.append(spark.createDataFrame([("k8", 8)],
                                   "k string, v long").coalesce(1))

    replica: dict = {            # the keyless state: row id -> (k, v)
        r["_row_id"]: (r["k"], r["v"])
        for r in t.read(spark, with_row_ids=True)
        .where(F.lit(False)).collect()}
    # bootstrap = snapshot at `start` (withRowIds), like a real consumer
    boot = (spark.read.format("txlog").option("version", str(start))
            .option("withRowIds", "true").load(table_path))
    for r in boot.collect():
        replica[r["_row_id"]] = (r["k"], r["v"])

    def fb(df, _bid):
        # fold one micro-batch: per id, the LAST change wins (order by
        # commit version; delete-then-insert within one version is an
        # update — net=False feeds both legs)
        rows = sorted(df.collect(),
                      key=lambda r: (r["_commit_version"],
                                     r["_change_type"] == "insert"))
        for r in rows:
            if r["_change_type"] == "insert":
                replica[r["_row_id"]] = (r["k"], r["v"])
            else:
                replica.pop(r["_row_id"], None)

    res = drain_available(
        spark, table_path, table_path + "_ckpt",
        lambda df: df.writeStream.foreachBatch(fb),
        mode="changes", max_commits_per_trigger=2,
        options={"startingVersion": str(start), "withRowIds": "true"})
    assert res["passes"] >= 3          # the cap forced several batches

    want = {r["_row_id"]: (r["k"], r["v"])
            for r in t.read(spark, with_row_ids=True).collect()}
    assert replica == want
