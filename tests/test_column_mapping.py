"""Column mapping (r9, VERDICT item 3): rename/drop without rewrite —
metadata-only commits over frozen physical parquet names, Delta's 'name'
mapping mode — plus the protocol/version gate (item 8) that lets an old
reader fail actionably instead of mis-reading a mapped log."""

from __future__ import annotations

import json
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
    ProtocolError, SchemaEvolutionError, TxLogTable)
from service_level_reporting_spark.sources.txlog_datasource import (
    TxLogDataSource)


@pytest.fixture()
def table_path():
    p = os.path.join(tempfile.gettempdir(),
                     f"slr_cmap_test_{uuid.uuid4().hex[:8]}")
    yield p
    shutil.rmtree(p, ignore_errors=True)
    shutil.rmtree(p + "_clone", ignore_errors=True)


def _ms(df):
    cols = sorted(df.columns)
    return Counter(tuple(r[c] for c in cols) for r in df.collect())


def _frame(spark, rows, ddl="k string, v long, tag string"):
    return spark.createDataFrame(rows, ddl).coalesce(1)


def _data_file_columns(t: TxLogTable) -> set:
    """Union of column names across the table's live parquet files —
    the PHYSICAL truth a rename must not touch."""
    import pyarrow.parquet as pq

    cols = set()
    for a in t._resolve():
        meta = pq.ParquetFile(os.path.join(t.path, a["path"])).metadata
        cols |= {meta.schema.column(i).name
                 for i in range(meta.num_columns)}
    return cols


def test_rename_without_rewrite_both_apis(spark, table_path):
    """Rename is a METADATA-ONLY commit: zero data files change, both
    the table API and the data source read the new name with identical
    values, writes using the new name land in the old physical column,
    and time travel still shows the old name at old versions."""
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    t.append(_frame(spark, [("a", 1, "x"), ("b", 2, "y")]))
    t.enable_column_mapping()
    pre_files = {a["path"] for a in t._resolve()}
    pre_rename_version = t.latest_version()

    t.rename_column("v", "value")
    # metadata-only: the live file set is EXACTLY the same files
    assert {a["path"] for a in t._resolve()} == pre_files
    got = t.read(spark)
    assert sorted(got.columns) == ["k", "tag", "value"]
    assert _ms(got.select("k", "value")) == Counter(
        [("a", 1), ("b", 2)])
    # data source agrees
    spark.dataSource.register(TxLogDataSource)
    via = spark.read.format("txlog").load(table_path)
    assert sorted(via.columns) == ["k", "tag", "value"]
    assert _ms(via) == _ms(got)
    # filters on the RENAMED name work through both APIs
    assert got.where(F.col("value") == 2).count() == 1
    assert via.where(F.col("value") == 2).count() == 1
    # a write using the new logical name lands in the OLD physical col
    t.append(_frame(spark, [("c", 3, "z")], "k string, value long, "
                                            "tag string"))
    assert _ms(t.read(spark).select("k", "value")) == Counter(
        [("a", 1), ("b", 2), ("c", 3)])
    assert "value" not in _data_file_columns(t)   # physical stays "v"
    # time travel: the pre-rename version reads the OLD name
    old = t.read(spark, pre_rename_version)
    assert "v" in old.columns and "value" not in old.columns
    via_old = (spark.read.format("txlog")
               .option("version", str(pre_rename_version))
               .load(table_path))
    assert "v" in via_old.columns
    assert _ms(via_old) == _ms(old)


def test_drop_and_readd_never_alias(spark, table_path):
    """Drop hides the column (old snapshots still show it); a re-added
    column with the same logical name gets a FRESH physical name, so
    old rows read NULL instead of the dropped column's data."""
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    t.append(_frame(spark, [("a", 1, "x"), ("b", 2, "y")]))
    t.enable_column_mapping()
    pre_drop = t.latest_version()
    t.drop_column("tag")
    assert sorted(t.read(spark).columns) == ["k", "v"]
    spark.dataSource.register(TxLogDataSource)
    assert sorted(spark.read.format("txlog").load(table_path).columns) \
        == ["k", "v"]
    # the old snapshot still shows the column with its values
    old = t.read(spark, pre_drop)
    assert _ms(old) == Counter([("a", "x", 1), ("b", "y", 2)])
    # re-add the same logical name: fresh physical, no aliasing
    t.append(_frame(spark, [("c", 3, "NEW")]))
    got = t.read(spark, merge_schema=True)
    by_k = {r["k"]: r["tag"] for r in got.collect()}
    assert by_k == {"a": None, "b": None, "c": "NEW"}
    phys = _data_file_columns(t)
    assert "tag" in phys                      # the dropped physical col
    assert any(c.startswith("col-") for c in phys)   # the fresh one
    via = (spark.read.format("txlog").option("mergeSchema", "true")
           .load(table_path))
    assert {r["k"]: r["tag"] for r in via.collect()} == by_k


def test_config_follows_rename_and_pruning_still_fires(spark, table_path):
    """stats_col / cluster_by / key_cols / bloom_col keyed by a renamed
    column follow the rename (config action rides the same commit), and
    log-stats pruning keeps firing on the NEW name — against add actions
    written BEFORE and AFTER the rename."""
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k",
                   cluster_by=["k"], bloom_col="k")
    for i in range(3):
        t.append(_frame(spark, [(f"k{i}{j}", i * 10 + j, "t")
                                for j in range(4)]))
    t.enable_column_mapping()
    t.rename_column("k", "key")
    assert t.stats_col == "key" and t.key_cols == ["key"]
    assert t.cluster_by == ["key"] and t.bloom_col == "key"
    # a fresh handle sees the effective config too
    t2 = TxLogTable.open(table_path)
    assert t2.stats_col == "key" and t2.key_cols == ["key"]
    # writes + merge on the renamed key still work and still prune
    t.append(_frame(spark, [("k90", 90, "t")],
                    "key string, v long, tag string"))
    stats = t.merge(_frame(spark, [("k00", 1000, "t")],
                           "key string, v long, tag string"))
    assert stats["rewritten_files"] < len(t._resolve())   # pruned
    got = {r["key"]: r["v"] for r in t.read(spark).collect()}
    assert got["k00"] == 1000 and got["k90"] == 90
    # datasource pushdown on the renamed column prunes from the log
    spark.dataSource.register(TxLogDataSource)
    via = (spark.read.format("txlog").load(table_path)
           .where(F.col("key") == "k90"))
    assert via.count() == 1
    # typed-bounds delete scoped by the renamed column
    res = t.delete("key = 'k90'", column_ranges={"key": ("k90", "k90")})
    assert res["rewritten_files"] <= 2
    assert "k90" not in {r["key"] for r in t.read(spark).collect()}


def test_mapping_cdf_clone_restore(spark, table_path):
    """The change feed (batch + streaming) speaks LOGICAL names across a
    rename; a clone carries the mapping; RESTORE across a rename reads
    the OLD names again (schema + mapping + config restored)."""
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    t.append(_frame(spark, [("a", 1, "x"), ("b", 2, "y")]))
    t.enable_column_mapping()
    t.rename_column("v", "value")
    v_renamed = t.latest_version()
    t.append(_frame(spark, [("c", 3, "z")],
                    "k string, value long, tag string"))
    t.delete("k = 'a'", mode="mor")

    # batch CDF after the rename: logical names, MoR sidecar included
    ch = t.changes(spark, v_renamed)
    assert "value" in ch.columns and "v" not in ch.columns
    kinds = {(r["k"], r["_change_type"]) for r in ch.collect()}
    assert ("c", "insert") in kinds and ("a", "delete") in kinds
    # streaming changes mode agrees
    spark.dataSource.register(TxLogDataSource)
    name = f"cm_{uuid.uuid4().hex[:6]}"
    q = (spark.readStream.format("txlog").option("mode", "changes")
         .option("startingVersion", str(v_renamed)).load(table_path)
         .writeStream.format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
        assert _ms(spark.table(name)) == _ms(ch)
    finally:
        q.stop()

    # clone carries mapping + schema: same logical view, zero copies
    c = t.clone(table_path + "_clone")
    got = c.read(spark)
    assert sorted(got.columns) == ["k", "tag", "value"]
    assert _ms(got) == _ms(t.read(spark))

    # restore across the rename: old names come back, handle config too
    t.restore(v_renamed - 2)          # pre-rename, pre-mapping-enable? no:
    # v_renamed-2 is the version right before enable_column_mapping
    back = t.read(spark)
    assert "v" in back.columns and "value" not in back.columns
    assert _ms(back) == Counter([("a", "x", 1), ("b", "y", 2)])
    via = spark.read.format("txlog").load(table_path)
    assert _ms(via) == _ms(back)


def test_mapping_model_based_random_ops(spark, table_path):
    """Model-based property (r9): a seeded random interleaving of
    append / add-column append / rename / drop / overwrite / restore /
    vacuum against a plain dict model — reads through BOTH APIs
    (mergeSchema) must equal the model at every checkpointed step.
    This is the interaction lattice the focused tests can't enumerate:
    rename-after-overwrite, drop-then-restore, mapping identity
    restored across the enable boundary, vacuumed-restore skipped."""
    import random as rnd

    r = rnd.Random(2024)
    spark.dataSource.register(TxLogDataSource)
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    cols = ["v1"]
    state = {"next_col": 2, "next_key": 0}
    model: list[dict] = []
    hist: dict[int, tuple] = {}

    def frame(rows, fields):
        ddl = "k string, " + ", ".join(f"{c} long" for c in fields)
        data = [tuple([row["k"]] + [row.get(c) for c in fields])
                for row in rows]
        return spark.createDataFrame(data, ddl).coalesce(1)

    def fresh_rows(n, fields):
        out = []
        for _ in range(n):
            out.append({"k": f"k{state['next_key']:04d}",
                        **{c: r.randrange(100) for c in fields}})
            state["next_key"] += 1
        return out

    def snap():
        hist[t.latest_version()] = (list(cols),
                                    [dict(x) for x in model])

    def verify():
        want_cols = ["k"] + cols
        wm = Counter(tuple(row.get(c) for c in want_cols)
                     for row in model)
        got = t.read(spark, merge_schema=True)
        assert sorted(got.columns) == sorted(want_cols), got.columns
        gm = Counter(tuple(x[c] for c in want_cols)
                     for x in got.collect())
        assert gm == wm
        via = (spark.read.format("txlog").option("mergeSchema", "true")
               .load(table_path))
        gm2 = Counter(tuple(x[c] for c in want_cols)
                      for x in via.select(*want_cols).collect())
        assert gm2 == wm

    model += fresh_rows(4, cols)
    t.append(frame(model, cols))
    snap()
    t.enable_column_mapping()
    snap()

    for step in range(14):
        op = r.choice(["append", "append", "append_new_col", "rename",
                       "drop", "overwrite", "restore", "vacuum"])
        if op == "append":
            rows = fresh_rows(2, cols)
            t.append(frame(rows, cols))
            model += rows
        elif op == "append_new_col":
            nc = f"c{state['next_col']}"
            state["next_col"] += 1
            rows = fresh_rows(1, cols + [nc])
            t.append(frame(rows, cols + [nc]))
            cols.append(nc)
            model += rows
        elif op == "rename":
            old = r.choice(cols)
            new = f"r{state['next_col']}"
            state["next_col"] += 1
            t.rename_column(old, new)
            cols[cols.index(old)] = new
            for row in model:
                if old in row:
                    row[new] = row.pop(old)
        elif op == "drop":
            if len(cols) < 2:
                continue
            c = r.choice(cols)
            t.drop_column(c)
            cols.remove(c)
            for row in model:
                row.pop(c, None)
        elif op == "overwrite":
            cols = [f"o{state['next_col']}"]
            state["next_col"] += 1
            model = fresh_rows(3, cols)
            t.overwrite(frame(model, cols))
        elif op == "restore":
            if not hist:
                continue
            v = r.choice(sorted(hist))
            try:
                t.restore(v)
            except ValueError:
                continue     # target files vacuumed: refused pre-commit
            vc, vm = hist[v]
            cols = list(vc)
            model = [dict(x) for x in vm]
        else:
            t.vacuum(retain_versions=3, min_age_sec=0)
        snap()
        if step % 3 == 0:
            verify()
    verify()


def test_vacuum_dry_run_and_describe_detail(spark, table_path):
    """r9 polish (Delta parity): vacuum(dry_run=True) reports exactly
    what a real run would reclaim — same counts, candidate paths listed,
    NOTHING deleted, no boundary checkpoint written; describe_detail()
    surfaces the snapshot's metadata (files/rows/DV debt/schema/mapping/
    protocol/constraints/config) without opening a data file."""
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    for v in range(12):
        t.append(_frame(spark, [(f"k{v}", v, "x")]))
    t.overwrite(_frame(spark, [("z", 99, "y")]))   # orphans 12 files
    t.delete("k = 'z' and v < 0", mode="mor")      # no-op MoR (no commit)
    t.add_constraint("k_nn", "k is not null")
    t.enable_column_mapping()
    t.rename_column("v", "val")

    pre_logs = sorted(os.listdir(t.log_dir))
    dry = t.vacuum(retain_versions=3, min_age_sec=0,
                   log_retain_versions=5, dry_run=True)
    assert dry["dry_run"] and dry["removed_files"] > 0
    assert len(dry["would_remove"]) \
        == (dry["removed_files"] + dry["removed_sidecars"]
            + dry["removed_log_files"])
    # NOTHING happened: log untouched, every version still readable
    assert sorted(os.listdir(t.log_dir)) == pre_logs
    assert t.read(spark, 0).count() == 1
    # the real run reclaims exactly what the preview promised
    real = t.vacuum(retain_versions=3, min_age_sec=0,
                    log_retain_versions=5)
    assert real["removed_files"] == dry["removed_files"]
    assert real["removed_sidecars"] == dry["removed_sidecars"]
    # (the real run may expire one more log file than the preview: it
    # writes the boundary checkpoint the preview deliberately doesn't)
    assert real["removed_log_files"] >= dry["removed_log_files"]

    d = t.describe_detail()
    assert d["num_files"] == 1 and d["num_rows"] == 1
    assert d["size_bytes"] > 0 and d["num_dv_files"] == 0
    assert d["column_mapping"] == "name"
    assert d["protocol"]["minReaderVersion"] == 3   # features form (r10)
    assert d["constraints"] == {"k_nn": "k is not null"}
    assert d["config"]["stats_col"] == "k"
    assert "val" in d["schema"] and d["earliest_version"] > 0


def test_unmapped_table_keeps_pinned_raise(spark, table_path):
    """Without enable_column_mapping, rename/drop keep today's pinned
    SchemaEvolutionError — the legacy contract is unchanged."""
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    t.append(_frame(spark, [("a", 1, "x")]))
    with pytest.raises(SchemaEvolutionError,
                       match="column mapping is not enabled"):
        t.rename_column("v", "value")
    with pytest.raises(SchemaEvolutionError,
                       match="column mapping is not enabled"):
        t.drop_column("tag")
    # dropping a config-referenced column is refused even when mapped
    t.enable_column_mapping()
    with pytest.raises(ValueError, match="referenced by the table"):
        t.drop_column("k")


def test_protocol_gate_old_reader_fails_actionably(spark, table_path):
    """r9 (VERDICT item 8): a log stamped with a higher minReaderVersion
    raises the pinned ProtocolError through BOTH APIs (read, changes,
    write) instead of mis-reading a future log; existing logs read
    unchanged; enable_column_mapping upgrades the protocol to the
    table-features form (3,7)+columnMapping (r10, VERDICT #8)."""
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    t.append(_frame(spark, [("a", 1, "x")]))
    assert t.table_protocol() == {"minReaderVersion": 1,
                                  "minWriterVersion": 1}
    t.enable_column_mapping()
    assert t.table_protocol() == {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["columnMapping"],
        "writerFeatures": ["columnMapping"]}   # features form (r10)
    assert t.read(spark).count() == 1    # we speak the feature: unchanged

    # hand-stamp a writer-only bump: reads fine, writes refuse.
    # r10: commit() itself is protocol-gated now, so future stamps are
    # planted by writing the commit file directly (what a NEWER writer
    # would leave behind)
    def plant_protocol(proto):
        v = t.latest_version() + 1
        with open(t._commit_path(v), "w") as fh:
            json.dump({"ts": t._commit_ts(v - 1) + 1e-6, "version": v,
                       "actions": [{"protocol": proto}]}, fh)

    plant_protocol({"minReaderVersion": 2, "minWriterVersion": 99})
    assert t.read(spark).count() == 1
    with pytest.raises(ProtocolError, match="requires writer version"):
        t.append(_frame(spark, [("b", 2, "y")]))
    # metadata-only mutations are gated too (r10, ADVICE): a downlevel
    # writer must not slip a delete/restore/constraint past the gate
    with pytest.raises(ProtocolError, match="requires writer version"):
        t.add_constraint("v_pos", "v >= 0")
    # hand-stamp a FUTURE reader bump (what a newer writer would leave)
    plant_protocol({"minReaderVersion": 99, "minWriterVersion": 99})
    with pytest.raises(ProtocolError, match="requires reader version"):
        t.read(spark)
    with pytest.raises(ProtocolError, match="requires reader version"):
        t.changes(spark, 0)
    with pytest.raises(ProtocolError, match="requires reader version"):
        t.append(_frame(spark, [("b", 2, "y")]))   # can't even read
    spark.dataSource.register(TxLogDataSource)
    # the protocol gates at the PINNED snapshot (Delta's rule): versions
    # before the reader bump stay readable through both APIs
    pre_bump = t.latest_version() - 1
    assert t.read(spark, pre_bump).count() == 1
    assert (spark.read.format("txlog").option("version", str(pre_bump))
            .load(table_path).count()) == 1
    with pytest.raises(Exception, match="requires reader version"):
        spark.read.format("txlog").load(table_path).collect()
    with pytest.raises(Exception, match="requires reader version"):
        (spark.readStream.format("txlog").load(table_path)
         .writeStream.format("memory")
         .queryName(f"p_{uuid.uuid4().hex[:6]}").start())


def test_refresh_schema_action_rename_race_raises(spark, table_path):
    """r10 (ADVICE): with mapping on, a conflict-retried writer whose
    STAGED column was renamed/dropped mid-flight must fail with
    SchemaEvolutionError instead of silently re-adding the logical name
    as a 'new' field — the phantom field has no mapping entry and the
    identity fallback would alias it onto the renamed column's frozen
    physical data (two logical columns, one physical). Genuinely-new
    columns (registered via columnMappingAdd in the same action list)
    stay exempt."""
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    t.append(_frame(spark, [("a", 1, "x")]))
    t.enable_column_mapping()
    staged = [{"metaData": {"schemaString": StructType(
        [StructField("k", StringType()), StructField("v", LongType()),
         StructField("tag", StringType())]).json()}}]
    # no race: the staged action is redundant, refresh drops it cleanly
    assert t._refresh_schema_action(list(staged)) == []

    t.rename_column("v", "value")          # the race
    with pytest.raises(SchemaEvolutionError, match="renamed or dropped"):
        t._refresh_schema_action(list(staged))
    t.drop_column("tag")                   # drop races the same way
    staged2 = [{"metaData": {"schemaString": StructType(
        [StructField("k", StringType()),
         StructField("tag", StringType())]).json()}}]
    with pytest.raises(SchemaEvolutionError, match="renamed or dropped"):
        t._refresh_schema_action(staged2)

    # a genuinely-new column rides its columnMappingAdd: exempt
    m = t.column_mapping()
    staged3 = [
        {"columnMappingAdd": {"fields": [
            {"id": m["maxId"] + 1, "logical": "w",
             "physical": f"col-{m['maxId'] + 1}-beef"}]}},
        {"metaData": {"schemaString": StructType(
            [StructField("k", StringType()),
             StructField("w", LongType())]).json()}}]
    out = t._refresh_schema_action(staged3)
    assert any("columnMappingAdd" in a for a in out)


def test_mapping_post_enable_column_reads_without_merge_schema(
        spark, table_path):
    """r10 (ADVICE): with mapping on, a column added AFTER enable lives
    only in newer files under a col-<id>-<hex> physical name; a
    single-footer inferred schema omitted it and _apply_mapping
    NULL-padded it for ALL rows. The log's evolved flag now forces
    mergeSchema — the new column's data must be visible through a plain
    read()."""
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k",
                   )
    t.append(_frame(spark, [("a", 1, "x"), ("b", 2, "y")]))
    t.enable_column_mapping()
    # post-enable NEW column: only the newer file carries its physical
    t.append(_frame(spark, [("c", 3, "z", 7.5)],
                    "k string, v long, tag string, score double"))
    got = t.read(spark)                     # merge_schema NOT passed
    rows = {r["k"]: r["score"] for r in got.collect()}
    assert rows["c"] == 7.5                 # real data, not a wrong NULL
    assert rows["a"] is None and rows["b"] is None
    # the datasource keeps its PINNED explicit contract for evolved
    # tables (it projects each file against its own footer, so it was
    # never exposed to the single-footer hazard): mergeSchema reads the
    # union, without it the actionable error fires
    spark.dataSource.register(TxLogDataSource)
    via = (spark.read.format("txlog").option("mergeSchema", "true")
           .load(table_path))
    assert {r["k"]: r["score"] for r in via.collect()}["c"] == 7.5
    with pytest.raises(Exception, match="mergeSchema"):
        spark.read.format("txlog").load(table_path).collect()


def test_protocol_table_features(spark, table_path):
    """r10 (VERDICT #8): named table features under (3,7) semantics —
    an UNKNOWN reader feature raises the pinned ProtocolError naming
    the feature; tables whose features we all speak read unchanged;
    legacy plain-version logs (1,1)/(2,2) are untouched; the
    upgrade_protocol API is monotonic/idempotent and refuses features
    this implementation can't maintain."""
    import json as _json

    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    t.append(_frame(spark, [("a", 1, "x")]))
    # legacy (2,2) plain version gate keeps working post-r10
    t.commit([{"protocol": {"minReaderVersion": 2,
                            "minWriterVersion": 2}}],
             t.latest_version() + 1, op="upgrade_protocol")
    assert t.read(spark).count() == 1
    t.append(_frame(spark, [("b", 2, "y")]))

    # upgrade to features form: known features -> everything works
    t.upgrade_protocol(reader_features=["deletionVectors"],
                       writer_features=["checkConstraints"])
    p = t.table_protocol()
    assert p["minReaderVersion"] == 3 and p["minWriterVersion"] == 7
    assert p["readerFeatures"] == ["deletionVectors"]
    assert set(p["writerFeatures"]) == {"deletionVectors",
                                        "checkConstraints"}
    assert t.read(spark).count() == 2
    t.append(_frame(spark, [("c", 3, "z")]))
    # idempotent + monotonic union
    v0 = t.upgrade_protocol(reader_features=["deletionVectors"])
    assert t.upgrade_protocol(reader_features=["deletionVectors"]) == v0
    t.upgrade_protocol(reader_features=["columnMapping"])
    assert set(t.table_protocol()["readerFeatures"]) == {
        "columnMapping", "deletionVectors"}
    # we cannot grant what we cannot maintain
    with pytest.raises(ValueError, match="unsupported feature"):
        t.upgrade_protocol(reader_features=["vectorClocks2049"])

    # plant an UNKNOWN reader feature (what a newer writer would leave):
    # the pinned error names the feature, through both APIs, and writes
    # refuse too
    v = t.latest_version() + 1
    with open(t._commit_path(v), "w") as fh:
        _json.dump({"ts": t._commit_ts(v - 1) + 1e-6, "version": v,
                    "actions": [{"protocol": {
                        "minReaderVersion": 3, "minWriterVersion": 7,
                        "readerFeatures": ["rowTracking9000"],
                        "writerFeatures": ["rowTracking9000"]}}]}, fh)
    with pytest.raises(ProtocolError, match="rowTracking9000"):
        t.read(spark)
    with pytest.raises(ProtocolError, match="requires reader feature"):
        t.changes(spark, 0)
    with pytest.raises(ProtocolError):
        t.append(_frame(spark, [("d", 4, "w")]))
    with pytest.raises(ProtocolError):      # metadata-only gated (r10)
        t.add_constraint("v_pos", "v >= 0")
    # an unknown WRITER-ONLY feature still reads, refuses writes
    with open(t._commit_path(v)) as fh:
        rec = _json.load(fh)
    rec["actions"][0]["protocol"]["readerFeatures"] = []
    with open(t._commit_path(v), "w") as fh:
        _json.dump(rec, fh)
    t._snap_cache.clear()        # hand-edited log: drop handle memos
    t._commit_memo.clear()
    assert t.read(spark).count() == 3
    with pytest.raises(ProtocolError, match="requires writer feature"):
        t.append(_frame(spark, [("d", 4, "w")]))
    # pre-bump snapshots stay readable (Delta's pinned-snapshot rule)
    assert t.read(spark, v - 1).count() == 3


def test_downlevel_checkpoint_raises_after_retention(spark, table_path):
    """After log retention every replay seeds from a checkpoint, so the
    state it carries must be complete: a checkpoint written WITHOUT a
    state key (a downlevel writer's format) raises LogFormatError naming
    the missing keys — never a silent walk that skips expired commits
    and reconstructs WRONG state (lost constraints, a pre-rename
    schema). Also pins the constraint-dependency rule: renaming/dropping
    a column an active CHECK references is refused."""
    from service_level_reporting_spark.sources.txlog import LogFormatError

    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    t.append(_frame(spark, [("a", 1, "x")]))                     # v0
    t.add_constraint("v_pos", "v >= 0")                          # v1
    t.enable_column_mapping()                                    # v2
    # a column referenced by an active CHECK cannot rename/drop
    with pytest.raises(ValueError, match="CHECK constraint"):
        t.rename_column("v", "value")
    with pytest.raises(ValueError, match="CHECK constraint"):
        t.drop_column("v")
    t.drop_constraint("v_pos")                                   # v3
    t.rename_column("v", "value")                                # v4
    t.add_constraint("val_pos", "value >= 0")                    # v5
    for i in range(20):                                          # v6..v25
        t.append(_frame(spark, [(f"b{i}", 10 + i, "y")],
                        "k string, value long, tag string"))
    t.vacuum(retain_versions=3, min_age_sec=0,
             log_retain_versions=10)
    eb = t.earliest_version()
    assert eb > 5                 # the mapping/constraint commits expired

    # the retained checkpoints carry the expired commits' state
    t2 = TxLogTable.open(table_path)
    sch, _ = t2.table_schema_info()
    assert "value" in {f.name for f in sch.fields} \
        and "v" not in {f.name for f in sch.fields}
    assert t2.constraints() == {"val_pos": "value >= 0"}
    assert t2.column_mapping() is not None
    assert t2.table_protocol()["minReaderVersion"] == 3
    assert t2.read(spark).count() == 21

    # strip the r7-r9 keys from the NEWEST checkpoint (downlevel format)
    cks = sorted(f for f in os.listdir(t.log_dir)
                 if f.endswith(".checkpoint.json"))

    def strip(ck):
        with open(os.path.join(t.log_dir, ck)) as fh:
            payload = json.load(fh)
        for key in ("schema", "schema_evolved", "constraints", "txns",
                    "protocol", "columnMapping", "config"):
            payload.pop(key, None)
        with open(os.path.join(t.log_dir, ck), "w") as fh:
            json.dump(payload, fh)

    strip(cks[-1])
    with pytest.raises(LogFormatError, match=r"missing key\(s\)"):
        TxLogTable.open(table_path)   # __init__'s config replay raises

    # strip ALL checkpoints: the full replay's retention-boundary seed
    # raises the named error too, never silently-wrong state
    for ck in cks[:-1]:
        strip(ck)
    with pytest.raises(LogFormatError, match="'constraints'"):
        t.constraints(use_checkpoint=False)


def test_mapping_survives_checkpoints_and_log_retention(spark,
                                                        table_path):
    """The mapping/protocol/config ride checkpoints (r9): after enough
    commits to roll a checkpoint AND a log vacuum that expires the
    commits that carried the mapping actions, a fresh handle still
    resolves the renamed schema, the effective config, and the
    protocol."""
    from service_level_reporting_spark.sources.txlog import (
        CHECKPOINT_EVERY)

    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    t.append(_frame(spark, [("a", 1, "x")]))
    t.enable_column_mapping()
    t.rename_column("v", "value")
    for i in range(2 * CHECKPOINT_EVERY):
        t.append(_frame(spark, [(f"b{i}", 10 + i, "y")],
                        "k string, value long, tag string"))
    t.vacuum(retain_versions=3, min_age_sec=0,
             log_retain_versions=CHECKPOINT_EVERY)
    assert t.earliest_version() > 2   # the mapping commits are EXPIRED
    t2 = TxLogTable.open(table_path)
    assert t2.column_mapping() is not None
    assert t2.table_protocol()["minReaderVersion"] == 3
    got = t2.read(spark)
    assert "value" in got.columns and "v" not in got.columns
    assert got.count() == 1 + 2 * CHECKPOINT_EVERY
    # JSON-serializability of everything the checkpoint carries
    ck = [f for f in os.listdir(t2.log_dir)
          if f.endswith(".checkpoint.json")]
    with open(os.path.join(t2.log_dir, sorted(ck)[-1])) as fh:
        payload = json.load(fh)
    assert payload["columnMapping"]["mode"] == "name"
