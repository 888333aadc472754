"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size parameters: the
same seed gives byte-identical Arrow content, recorded as a SHA-256 of the
table's IPC stream in the input's MANIFEST.json. Inputs are written once per
(kind, seed, parameters) into the cache directory and reused by later runs;
the engine under test only ever receives the generated paths.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when a generator's output changes, so stale cache entries are ignored.
GEN_VERSION = 2

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
MINUTE_US = 60_000_000
HOUR_US = 60 * MINUTE_US
DAY_US = 24 * HOUR_US

VOCAB = tuple(
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark window line sort order group join filter data column query "
    "stream small big vector customer index shard token model corpus "
    "page node graph cache lake log commit snapshot metric trace span "
    "alert budget burn error ratio rate minute hour day week target "
    "series point late restate report".split())
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.44, 0.14, 0.13, 0.15, 0.14)
EMB_DIM = 64


def content_hash(table: pa.Table) -> str:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def _write(table: pa.Table, path: Path, row_groups: int = 1) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    rg = max(1, -(-table.num_rows // row_groups))
    pq.write_table(table, path, row_group_size=rg)
    return content_hash(table)


def cached(cache_root: Path, kind: str, seed: int, params: dict,
           build) -> tuple[Path, dict]:
    """Return (dir, manifest) for the input ``kind`` at ``seed``/``params``,
    building it with ``build(dir, seed, **params) -> manifest`` on a miss.
    The build goes to a private temp dir that is renamed into place, so an
    interrupted build never leaves a half-written entry behind."""
    tag = hashlib.sha1(json.dumps([GEN_VERSION, params], sort_keys=True)
                       .encode()).hexdigest()[:10]
    final = cache_root / f"{kind}-s{seed}-{tag}"
    manifest = final / "MANIFEST.json"
    if manifest.exists():
        return final, json.loads(manifest.read_text())
    tmp = cache_root / f".{final.name}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    try:
        meta = build(tmp, seed, **params)
        meta.update(kind=kind, seed=seed, params=params,
                    gen_version=GEN_VERSION)
        (tmp / "MANIFEST.json").write_text(json.dumps(meta, sort_keys=True))
        try:
            tmp.rename(final)
        except OSError:
            if not manifest.exists():   # lost a race to nothing: re-raise
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final, json.loads(manifest.read_text())


def _decode(codes: np.ndarray, values) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(codes.astype(np.int32)), pa.array(list(values))
    ).dictionary_decode()


# ---- slo_report: one events table -----------------------------------------

def events_table(n: int, seed: int, days: int = 30) -> pa.Table:
    """The testdata ``events`` schema: 30 days of January 2024, 5 event
    types, values in [0, 100] (so the 5/95 SLO bounds bite), and one user
    per ~67 events as in the testdata scale factors.

    Values carry full double precision. With 2-decimal values, averages of
    a few points land exactly on a decimal tie at the 7th place (e.g.
    153.21125 / 4), where Spark's and DuckDB's summation orders put the
    double on opposite sides of the tie and round(x, 6) differs between the
    engines; a measured value has no such ties."""
    rng = np.random.default_rng([seed, 1])
    offs = np.sort(rng.integers(0, days * DAY_US, n))
    users = max(n // 67, 1)
    props = [f'{{"k": {k}}}' for k in range(100)]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(EPOCH + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": _decode(rng.integers(0, len(EVENT_TYPES), n),
                              EVENT_TYPES),
        "value": pa.array(rng.random(n) * 100.0),
        "props": _decode(rng.integers(0, 100, n), props),
    })


def build_events(out: Path, seed: int, rows: int) -> dict:
    h = _write(events_table(rows, seed), out / "events.parquet",
               row_groups=8)
    return {"rows": rows, "hashes": {"events": h}}


# ---- sli_ingest: hourly raw datapoint batches plus late data ---------------

def _raw_points(rng, hour: int, series: int, per_minute: int) -> pa.Table:
    n = series * 60 * per_minute
    sid = np.repeat(np.arange(series), 60 * per_minute)
    minute = np.tile(np.repeat(np.arange(60), per_minute), series)
    offs = (hour * HOUR_US + minute * MINUTE_US
            + rng.integers(0, MINUTE_US, n))
    names = [f"sli-{i:04d}" for i in range(series)]
    return pa.table({
        "ts": pa.array(EPOCH + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "event_type": _decode(sid, names),
        "value": pa.array(rng.random(n) * 100.0),
    })


def build_sli(out: Path, seed: int, batches: int, series: int,
              per_minute: int) -> dict:
    """``batches`` consecutive hours of per-minute datapoints for ``series``
    indicators (``per_minute`` points each per minute), one parquet file per
    hour, plus a late-data file per hour: one extra point per minute for a
    tenth of the series, arriving after the hour was first rolled up."""
    hashes = {}
    rows = late_rows = 0
    for b in range(batches):
        rng = np.random.default_rng([seed, 2, b])
        raw = _raw_points(rng, b, series, per_minute)
        late = _raw_points(rng, b, max(series // 10, 1), 1)
        hashes[f"raw/{b:04d}"] = _write(raw, out / "raw" / f"{b:04d}.parquet")
        hashes[f"late/{b:04d}"] = _write(late,
                                         out / "late" / f"{b:04d}.parquet")
        rows += raw.num_rows
        late_rows += late.num_rows
    return {"rows_per_batch": rows // batches, "late_rows_per_batch":
            late_rows // batches, "batches": batches, "hashes": hashes}


# ---- corpus_curation / multimodal_ingest: document + embedding shards ------

def corpus_shard(n_docs: int, n_vecs: int, seed: int):
    """Documents and 64-d embeddings with planted duplicates.

    Returns (documents, embeddings, plants) where ``plants`` lists the
    exact-duplicate groups (doc ids sharing one text), the near-duplicate
    document pairs (one word substituted in a long document) and the
    near-duplicate vector pairs (a copy plus small noise)."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(VOCAB)
    lens = rng.integers(20, 90, n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    order = rng.permutation(n_docs)
    pos = 0
    exact_groups = []
    for _ in range(max(n_docs // 100, 1)):
        size = int(rng.integers(2, 5))
        ids = sorted(int(i) for i in order[pos:pos + size])
        pos += size
        for i in ids[1:]:
            texts[i] = texts[ids[0]]
        exact_groups.append(ids)
    near_pairs = []
    for i, j in order[pos:pos + 2 * max(n_docs // 50, 1)].reshape(-1, 2):
        i, j = int(i), int(j)
        words = texts[i].split(" ")
        if len(words) < 40:
            continue
        k = int(rng.integers(0, len(words)))
        words[k] = next(w for w in vocab[rng.permutation(len(vocab))]
                        if w != words[k])
        texts[j] = " ".join(words)
        near_pairs.append(sorted((i, j)))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _decode(rng.choice(len(LANGS), n_docs, p=LANG_P), LANGS),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })

    emb = rng.standard_normal((n_vecs, EMB_DIM))
    vpairs = []
    vorder = rng.permutation(n_vecs)
    for i, j in vorder[:2 * max(n_vecs // 50, 1)].reshape(-1, 2):
        emb[j] = emb[i] + 0.05 * rng.standard_normal(EMB_DIM)
        vpairs.append(sorted((int(i), int(j))))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    embs = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    })
    plants = {"exact_groups": exact_groups, "near_dup_pairs": near_pairs,
              "near_dup_vectors": vpairs}
    return docs, embs, plants


def build_shards(out: Path, seed: int, shards: int, docs: int,
                 vecs: int) -> dict:
    """``shards`` independent corpus shards, each a directory with
    documents.parquet and embeddings.parquet, seeded by (seed, shard)."""
    hashes, plants = {}, []
    for s in range(shards):
        d, e, p = corpus_shard(docs, vecs, seed * 1000 + s)
        hashes[f"{s:03d}/documents"] = _write(
            d, out / f"{s:03d}" / "documents.parquet")
        hashes[f"{s:03d}/embeddings"] = _write(
            e, out / f"{s:03d}" / "embeddings.parquet")
        plants.append(p)
    return {"docs": docs, "vecs": vecs, "shards": shards, "plants": plants,
            "hashes": hashes}
