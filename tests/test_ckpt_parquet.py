"""Parquet checkpoint parts (r11, VERDICT #2): the add-list payload is
columnar — typed scalar columns, stats/bloom as their own skippable JSON
columns — read column-selectively by planning-only walkers (vacuum);
JSON-part and inline-``files`` checkpoints raise LogFormatError.
Counted-column proof at a planted large checkpoint."""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid

import pytest

# r14: heavy system suite — builder-loop tier (driver fast tier skips it; run with -m "")
pytestmark = __import__('pytest').mark.slow
from pyspark.sql import functions as F

from service_level_reporting_spark.sources.txlog import (
    LogFormatError, TxLogTable)


@pytest.fixture()
def table_path():
    p = os.path.join(tempfile.gettempdir(),
                     f"slr_ckptpq_{uuid.uuid4().hex[:8]}")
    yield p
    shutil.rmtree(p, ignore_errors=True)


def _frame(spark, v):
    return spark.createDataFrame(
        [(f"k{v:03d}", v)], "k string, v long").coalesce(1)


def test_parquet_parts_roundtrip_and_dv_stats_survive(spark, table_path):
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    for v in range(10):
        t.append(_frame(spark, v))
    # 2-row file, MoR-delete one row -> a LIVE DV chain pre-checkpoint
    t.append(spark.createDataFrame(
        [("k900", 900), ("k901", 901)], "k string, v long").coalesce(1))
    t.delete(F.col("k") == "k901", mode="mor")
    for v in range(12, 21):
        t.append(_frame(spark, 100 + v))         # checkpoint at v20
    meta = json.load(open(os.path.join(
        t.log_dir, "00000000000000000020.checkpoint.json")))
    assert meta["parts_format"] == "parquet"
    t2 = TxLogTable.open(table_path)
    files = t2._resolve(20)
    # typed fields, stats payloads, and the DV chain all round-trip
    assert all("stats" in a and a["rows"] >= 1 for a in files)
    assert any(a.get("dv") for a in files)
    assert {r["k"] for r in t2.read(spark, version=20).collect()} \
        == {f"k{v:03d}" for v in range(10)} | {"k900"} \
        | {f"k{100 + v:03d}" for v in range(12, 21)}
    # checkpointed resolve == raw log replay, dict-for-dict
    assert t2._resolve(20) == t2._resolve(20, use_checkpoint=False)


def test_legacy_checkpoint_formats_raise(spark, table_path):
    """The parquet checkpoint resolves exactly like the raw replay; a
    checkpoint in the r10 shape (JSON shards, no parts_format) or the
    pre-r10 shape (inline ``files``) is a format no writer produces and
    raises LogFormatError naming the shape."""
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    for v in range(12):
        t.append(_frame(spark, v))
    files = t._resolve(10, use_checkpoint=False)
    t1 = TxLogTable.open(table_path)
    assert t1._resolve(10) == files
    assert len(t1._resolve()) == 12
    cp = os.path.join(t.log_dir, "00000000000000000010.checkpoint.json")
    meta = json.load(open(cp))
    # rewrite shards as r10 JSON, strip the format marker
    for i in range(int(meta["files_parts"])):
        pp = t._part_path(10, i)
        os.remove(pp)
    with open(t._part_path(10, 0), "w") as fh:
        json.dump(files, fh)
    meta.pop("parts_format")
    meta["files_parts"] = 1
    with open(cp, "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(LogFormatError, match="JSON checkpoint parts"):
        TxLogTable.open(table_path)

    # legacy INLINE single-JSON checkpoints (pre-r10) too
    meta["files_parts"] = None
    meta.pop("n_files", None)
    meta["files"] = files
    with open(cp, "w") as fh:
        json.dump(meta, fh)
    os.remove(t._part_path(10, 0))
    with pytest.raises(LogFormatError, match="inline 'files'"):
        TxLogTable.open(table_path)


def test_column_selective_reads_counted(spark, table_path, monkeypatch):
    """Counted-column proof: vacuum's live-path walk requests ONLY the
    path/dv columns of a planted 100k-add checkpoint — the stats/bloom
    JSON chunks (the bulk of the bytes) are never requested — while a
    full resolve reads every column. The planted checkpoint is
    fabricated driver-side (100k real files would take minutes to
    write; the shard writer/reader don't care)."""
    import pyarrow.parquet as _pq

    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    for v in range(11):
        t.append(_frame(spark, v))          # real checkpoint at v10
    # fabricate a 100k-add shard set OVER the real checkpoint's meta:
    # every add carries a realistic typed-stats payload
    n = 100_000
    fake = [{"path": f"data/fake/{i:06d}.parquet", "rows": 1000,
             "min": f"k{i:06d}", "max": f"k{i + 1:06d}",
             "stats": {"k": [f"k{i:06d}", f"k{i + 1:06d}"],
                       "v": [i, i + 1000]}}
            for i in range(n)]
    cp = os.path.join(t.log_dir, "00000000000000000010.checkpoint.json")
    meta = json.load(open(cp))
    psz = 25_000
    parts = [fake[i:i + psz] for i in range(0, n, psz)]
    for i, part in enumerate(parts):
        t._write_ckpt_part(t._part_path(10, i), part)
    meta["files_parts"] = len(parts)
    meta["n_files"] = n
    with open(cp, "w") as fh:
        json.dump(meta, fh)

    t2 = TxLogTable.open(table_path)
    requested: list = []
    real = _pq.read_table

    def spying(path, *a, columns=None, **k):
        if "_txlog" in str(path):
            requested.append(columns)
        return real(path, *a, columns=columns, **k)

    monkeypatch.setattr(_pq, "read_table", spying)
    live = t2._resolve(10, columns=("dv",))
    assert len(live) == n
    assert requested and all(
        set(c) <= {"path", "dv"} for c in requested), requested
    assert all(set(a) <= {"path", "dv"} for a in live[:100])
    # full resolve: every column (fresh handle — selective results must
    # not have poisoned the snapshot cache)
    requested.clear()
    full = t2._resolve(10)
    assert requested and all(c is None for c in requested)
    assert all("stats" in a for a in full)
    monkeypatch.setattr(_pq, "read_table", real)
