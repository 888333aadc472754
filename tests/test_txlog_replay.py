"""Fast-tier pins for the txlog log replay and its one on-disk format.

One table crosses a CHECKPOINT_EVERY boundary while carrying a CHECK
constraint, a streaming txn marker, a generated column, column mapping
and a config action (a rename of the key/stats column). Every state
walker must equal its ``use_checkpoint=False`` replay, and every log shape
no writer produces must raise a ``LogFormatError`` that names it. The
forged shapes are made on copies of the table, so the tests do not
depend on each other."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from service_level_reporting_spark.sources.txlog import (
    CHECKPOINT_EVERY, LogFormatError, TxLogTable)

LAST_KEYS = ("protocol", "config", "columnMapping", "rowTracking")


def _frame(spark, v, key="k"):
    return spark.createDataFrame(
        [(f"k{v:03d}", v)], f"{key} string, v long").coalesce(1)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """The shared table: v0 generated column, v1 first append, v2 CHECK
    constraint, v3 txn marker, v4 column mapping, v5 rename of the key
    and stats column (a config action), then appends and a delete past
    the first checkpoint."""
    path = str(tmp_path_factory.mktemp("replay") / "t")
    t = TxLogTable(path, key_cols=["k"], stats_col="k")
    t.add_generated_column("v2", "bigint", "v * 2")
    t.append(_frame(spark, 0))
    t.add_constraint("v_nonneg", "v >= 0")
    assert t.txn_append(_frame(spark, 1), writer="w", batch_id=7)
    t.enable_column_mapping()
    t.rename_column("k", "key")
    while t.latest_version() < CHECKPOINT_EVERY + 1:
        t.append(_frame(spark, t.latest_version(), key="key"))
    t.delete(F.col("v") == 6)
    assert t.latest_version() == CHECKPOINT_EVERY + 2
    return path


def _copy(built, tmp_path) -> TxLogTable:
    dst = str(tmp_path / "t")
    shutil.copytree(built, dst)
    return TxLogTable.open(dst)


def _ckpt_meta(t, v=CHECKPOINT_EVERY):
    return os.path.join(t.log_dir, f"{v:020d}.checkpoint.json")


def _edit(p, fn):
    """Apply ``fn`` to the parsed JSON file in place and write it back."""
    with open(p) as fh:
        obj = json.load(fh)
    fn(obj)
    with open(p, "w") as fh:
        json.dump(obj, fh)


def test_walkers_equal_full_replay(spark, built):
    t = TxLogTable.open(built)
    assert os.path.exists(_ckpt_meta(t))
    assert t.key_cols == ["key"] and t.stats_col == "key"
    assert t.constraints() == {"v_nonneg": "v >= 0"}
    assert t._txn_map() == {"w": 7}
    assert set(t.generated_columns()) == {"v2"}
    assert t.column_mapping() is not None
    sch, _ = t.table_schema_info()
    assert [f.name for f in sch.fields] == ["key", "v", "v2"]
    for v in (3, CHECKPOINT_EVERY - 1, CHECKPOINT_EVERY,
              t.latest_version()):
        assert t._resolve(v) == t._resolve(v, use_checkpoint=False), v
        assert t._txn_map(v) == t._txn_map(v, use_checkpoint=False), v
        assert t.constraints(v) == t.constraints(
            v, use_checkpoint=False), v
        assert t.table_schema_info(v) == t.table_schema_info(
            v, use_checkpoint=False), v
        assert t.generated_columns(v) == t.generated_columns(
            v, use_checkpoint=False), v
        for key in LAST_KEYS:
            assert t._replay_last(key, v) == t._replay_last(
                key, v, use_checkpoint=False), (v, key)
    assert {r["v"] for r in t.read(spark).collect()} == {
        0, 1, *range(5, CHECKPOINT_EVERY + 1)} - {6}


def test_inline_files_checkpoint_raises(built, tmp_path):
    t = _copy(built, tmp_path)
    files = t._resolve(CHECKPOINT_EVERY)

    def inline(meta):
        meta.pop("parts_format")
        meta["files"] = files
    _edit(_ckpt_meta(t), inline)
    with pytest.raises(LogFormatError, match="inline 'files'"):
        TxLogTable.open(t.path)


def test_json_part_checkpoint_raises(built, tmp_path):
    t = _copy(built, tmp_path)
    files = t._resolve(CHECKPOINT_EVERY)
    pp = t._part_path(CHECKPOINT_EVERY, 0)
    os.remove(pp)
    with open(pp, "w") as fh:
        json.dump(files, fh)
    _edit(_ckpt_meta(t), lambda m: m.pop("parts_format"))
    with pytest.raises(LogFormatError, match="JSON checkpoint parts"):
        TxLogTable.open(t.path)


@pytest.mark.parametrize("key", ["constraints", "schema", "txns"])
def test_checkpoint_missing_key_raises(built, tmp_path, key):
    t = _copy(built, tmp_path)
    _edit(_ckpt_meta(t), lambda m: m.pop(key))
    with pytest.raises(LogFormatError, match=rf"missing key\(s\) \['{key}'\]"):
        TxLogTable.open(t.path)


def test_data_without_metadata_raises(built, tmp_path):
    t = _copy(built, tmp_path)
    for f in os.listdir(t.log_dir):
        p = os.path.join(t.log_dir, f)
        if ".checkpoint." in f or f == "_last_checkpoint":
            os.remove(p)
        elif f.endswith(".json") and f[:20].isdigit():
            _edit(p, lambda r: r.update(actions=[
                a for a in r["actions"] if "metaData" not in a]))
    t2 = TxLogTable.open(t.path)
    with pytest.raises(LogFormatError, match="no metaData schema action"):
        t2.table_schema_info()
    # before the first data commit the table has no schema — legitimately
    assert t2.table_schema_info(0) == (None, False)


def test_mid_log_hole_raises(built, tmp_path):
    t = _copy(built, tmp_path)
    hole = CHECKPOINT_EVERY + 1
    os.remove(t._commit_path(hole))
    with pytest.raises(LogFormatError, match="hole mid-log"):
        TxLogTable.open(t.path)          # the checkpointed config replay
    for walk in (t._resolve, t._txn_map, t.constraints,
                 t.table_schema_info, t.generated_columns):
        with pytest.raises(LogFormatError, match=f"missing version {hole}"):
            walk(use_checkpoint=False)


def test_commit_without_leading_ts_raises(built, tmp_path):
    t = _copy(built, tmp_path)
    with open(t._commit_path(2)) as fh:
        rec = json.load(fh)
    with open(t._commit_path(2), "w") as fh:
        json.dump({"version": rec["version"], "actions": rec["actions"],
                   "ts": rec["ts"]}, fh)
    with pytest.raises(LogFormatError, match='does not start with a "ts"'):
        t._commit_ts(2)
    assert t._commit_ts(99) is None          # a missing file stays None
