"""The benchmark workloads.

Each workload generates its inputs from the seed (``prepare``, before Spark
starts), warms the session up on inputs of its own (``warm_up``), yields
its ops one round at a time (``rounds``), checks every output it kept once
the timed section is over (``check``) and contributes its per-layer figures
(``layer_metrics``). A round is a fixed mix of ops; the harness runs the
ops in order until the measuring time is spent. All engine access goes
through public calls: the query registry, ``session.get_spark``,
``sources.sinks.minute_rollup`` and ``TxLogTable``.
"""

from __future__ import annotations

import hashlib
import random
import shutil
import statistics
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import gen

# ---- sizes (see README.md: chosen so one run fits a 4-core box) -----------

EVENTS_ROWS = 30_000
SLI_BATCHES = 16
SLI_SERIES = 200
SLI_PER_MINUTE = 2
SLI_ROUND = ("append", "append", "merge", "append", "append")
SHARD_DOCS = 500
SHARD_VECS = 250
SHARDS = 8            # timed shards per seed; a run takes them in order
WARM_DOCS = 100       # the warm-up shards: first-run costs, not data, count
WARM_VECS = 50

SLO_QUERIES = (
    "slo_daily_health", "resample_minute_avg", "agg_weighted_average",
    "agg_cross_group", "agg_time_weighted", "agg_percentile",
    "latest_value_per_key", "window_suite_daily",
    "slo_burn_rate_multiwindow", "anomaly_seasonal_baseline",
)
CURATION_OPS = (
    ("text_profile_suite", "text.profile_s"),
    ("dedup_exact", "dedup.exact_s"),
    ("dedup_near_dup_signatures", "dedup.near_dup_s"),
    ("dedup_embedding_cosine", "similarity.cosine_dedup_s"),
    ("similarity_topk_pairs", "similarity.topk_s"),
    ("bpe_tokenizer_suite", "bpe.suite_s"),
)
CURATION_ORACLED = ("dedup_exact", "dedup_embedding_cosine",
                    "similarity_topk_pairs")


@dataclass
class Op:
    """One timed operation: ``run()`` does the work; ``rows`` is the input
    it completes, counted by ``rows_per_s``."""
    kind: str
    rows: float
    run: Callable[[], object]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx

    def prepare(self) -> None: ...
    def warm_up(self) -> None: ...
    def rounds(self): ...
    def finish(self) -> None: ...
    def traced_only(self) -> None: ...
    def check(self) -> list[str]: return []
    def layer_metrics(self) -> dict: return {}

    def warm_concurrently(self, ops) -> None:
        """Run warm-up ops from one thread per core. Their first-run costs
        (class loading, code generation, JIT, Python worker start) overlap,
        which halves the set-up time of a run; every result is read, so a
        failing warm-up op fails the run."""
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(self.ctx.cpus) as pool:
            for f in [pool.submit(op.run) for op in ops]:
                f.result()

    def registered(self, name: str):
        from service_level_reporting_spark import registry
        return registry.aux_queries()[name]

    def query_op(self, kind: str, sf_dir: Path, rows: float) -> Op:
        """Build the registered query's DataFrame, then collect it; the two
        halves are separate spans so eager driver work shows on its own."""
        fn, tr, spark = self.registered(kind), self.ctx.tracer, self.ctx.spark

        def run():
            with tr.span("operators.build"):
                df = fn(spark, str(sf_dir))
            with tr.span("operators.collect"):
                return df.toPandas()
        return Op(kind, rows, run)


def oracle_rows(sf_dir: Path, tables, name: str) -> list:
    """Query ``name``'s registered DuckDB oracle over the given parquet
    tables of ``sf_dir``, canonicalized the way tests/differential.py
    compares results (``canon(pdf)`` must equal it)."""
    import duckdb
    from service_level_reporting_spark import registry

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        sql = precise_oracle(registry.aux_oracles()[name])
        return canon(con.execute(sql).fetchdf())
    finally:
        con.close()


def canon(pdf) -> list:
    """tests/differential.py's canonical rows, with -0.0 read as 0.0: they
    are one value, and round() of a tiny negative number gives -0.0 in
    DuckDB but 0.0 in Spark (seen: anomaly_seasonal_baseline's z when an
    hour's mean sits just below its baseline)."""
    from tests.differential import _canon
    return sorted((tuple("0.0" if c == "-0.0" else c for c in row)
                   for row in _canon(pdf)), key=repr)


# agg_time_weighted's registered oracle takes durations as
# epoch(lead) - epoch(ts): two doubles near 1.7e9 s whose difference keeps
# only ~2e-7 s, which moves the time-weighted average in its 6th decimal on
# about 1% of generated days. The engine subtracts exact microseconds
# (unix_micros), as does this rewrite, which then hash-matches on every seed
# tried. The rewrite applies only while the registered oracle has that form.
_EPOCH_DIFF = (("epoch(coalesce(", "(epoch_us(coalesce("),
               (")) - epoch(ts)", ")) - epoch_us(ts)) / 1000000.0"))


def precise_oracle(sql: str) -> str:
    if all(a in sql for a, _ in _EPOCH_DIFF):
        for a, b in _EPOCH_DIFF:
            sql = sql.replace(a, b)
    return sql


# ---- slo_report -------------------------------------------------------------

class SloReport(Workload):
    """Report queries over one events table, each collected to pandas."""
    name = "slo_report"

    def prepare(self):
        c = self.ctx
        self.dir, man = gen.cached(c.cache, "events", c.seed,
                                   {"rows": EVENTS_ROWS}, gen.build_events)
        self.rows = man["rows"]
        self.warm_dir, _ = gen.cached(c.cache, "warm-events", 0,
                                      {"rows": EVENTS_ROWS},
                                      gen.build_events)
        self.order_rng = random.Random(c.seed)
        self.outputs: dict[str, list] = {q: [] for q in SLO_QUERIES}
        c.inputs = {"events": man["hashes"]["events"], "rows": self.rows}

    def warm_up(self):
        self.warm_concurrently(
            [self.query_op(q, self.warm_dir, 0) for q in SLO_QUERIES])

    def rounds(self):
        while True:
            order = list(SLO_QUERIES)
            self.order_rng.shuffle(order)
            yield [self._op(q) for q in order]

    def _op(self, q):
        op = self.query_op(q, self.dir, self.rows)
        inner = op.run

        def run():
            pdf = inner()
            self.outputs[q].append(pdf)
        op.run = run
        return op

    def check(self):
        bad = []
        for q, outs in self.outputs.items():
            want = oracle_rows(self.dir, ("events",), q) if outs else None
            for i, pdf in enumerate(outs):
                if canon(pdf) != want:
                    bad.append(f"{q} run {i}: does not match its DuckDB "
                               f"oracle ({len(pdf)} vs {len(want)} rows)")
        return bad


# ---- sli_ingest -------------------------------------------------------------

class SliIngest(Workload):
    """SLR's updater loop: roll up an hour of raw datapoints, commit it to a
    transaction-log table, restate late data by MERGE, read after every
    commit; one merge-on-read delete closes the run."""
    name = "sli_ingest"
    DELETED = "sli-0007"

    def prepare(self):
        c = self.ctx
        params = {"batches": SLI_BATCHES, "series": SLI_SERIES,
                  "per_minute": SLI_PER_MINUTE}
        self.dir, man = gen.cached(c.cache, "sli", c.seed, params,
                                   gen.build_sli)
        self.warm_dir, _ = gen.cached(
            c.cache, "warm-sli", 0,
            {**params, "batches": 1},
            gen.build_sli)
        self.batch_rows = man["rows_per_batch"]
        self.late_rows = man["late_rows_per_batch"]
        self.table_dir = c.scratch / "sli_table"
        self.commits = 0
        self.appended: list[int] = []
        self.restated: list[int] = []
        self.deleted = False
        self.merge_stats: list[dict] = []
        self.read_s: list[float] = []
        c.inputs = {"sli": hashlib.sha256("".join(
            v for _, v in sorted(man["hashes"].items())).encode()
        ).hexdigest(), "rows_per_batch": self.batch_rows}

    # -- the ops --
    def _raw(self, d: Path, b: int, late: bool = False):
        spark = self.ctx.spark
        paths = [str(d / "raw" / f"{b:04d}.parquet")]
        if late:
            paths.append(str(d / "late" / f"{b:04d}.parquet"))
        return spark.read.parquet(*paths)

    def _rollup(self, d, b, late=False):
        from service_level_reporting_spark.sources.sinks import minute_rollup
        with self.ctx.tracer.span("sinks.minute_rollup"):
            return minute_rollup(self._raw(d, b, late))

    def _append(self, t, d, b):
        rolled = self._rollup(d, b)
        with self.ctx.tracer.span("txlog.append"):
            t.append(rolled)

    def _merge(self, t, d, b):
        rolled = self._rollup(d, b, late=True)
        with self.ctx.tracer.span("txlog.merge"):
            return t.merge(rolled)

    def _delete(self, t):
        from pyspark.sql import functions as F
        with self.ctx.tracer.span("txlog.delete"):
            return t.delete(F.col("indicator") == self.DELETED, mode="mor")

    def _report(self, t):
        """The read-after-write day report over the table's latest snapshot."""
        from pyspark.sql import functions as F
        spark = self.ctx.spark
        with self.ctx.tracer.span("txlog.read"):
            snap = t.read(spark)
        rows = (snap.groupBy("indicator", F.to_date("minute").alias("day"))
                .agg(F.count(F.lit(1)).alias("minutes"),
                     F.sum("n_points").alias("points"),
                     F.round(F.avg("value"), 6).alias("avg_value"),
                     F.count(F.when((F.col("value") < 5)
                                    | (F.col("value") > 95), 1))
                     .alias("breaches"))
                .collect())
        return len(rows)

    def _table(self, path: Path):
        from service_level_reporting_spark.sources.txlog import TxLogTable
        return TxLogTable(str(path), key_cols=["indicator", "minute"],
                          stats_col="minute")

    def warm_chains(self):
        """Warm-up chains on throwaway tables: append, merge, read on one;
        append, delete, read on the other. Run side by side, their cold
        first appends (rollup and parquet-writer first-run costs) overlap."""
        def chain(name, step):
            def run():
                path = self.ctx.scratch / name
                t = self._table(path)
                self._append(t, self.warm_dir, 0)
                step(t)
                self._report(t)
                shutil.rmtree(path, ignore_errors=True)
            return Op("warm", 0, run)
        return [chain("sli_warm_merge",
                      lambda t: self._merge(t, self.warm_dir, 0)),
                chain("sli_warm_delete", self._delete)]

    def warm_up(self):
        self.warm_concurrently(self.warm_chains())

    def _commit_op(self, kind, rows, fn):
        def run():
            out = fn()
            self.commits += 1
            t0 = time.perf_counter()
            self._report(self.t)
            self.read_s.append(time.perf_counter() - t0)
            return out
        return Op(kind, rows, run)

    def rounds(self):
        """Each round appends the next hours in order; a ``merge`` restates
        the hour before the latest one with its late data."""
        self.t = self._table(self.table_dir)
        b = 0
        while b + SLI_ROUND.count("append") <= SLI_BATCHES:
            ops = []
            for kind in SLI_ROUND:
                if kind == "append":
                    ops.append(self._commit_op(
                        kind, self.batch_rows,
                        lambda b=b: (self._append(self.t, self.dir, b),
                                     self.appended.append(b))))
                    b += 1
                else:
                    ops.append(self._commit_op(
                        kind, self.batch_rows + self.late_rows,
                        lambda p=b - 2: (self.merge_stats.append(
                            self._merge(self.t, self.dir, p)),
                            self.restated.append(p))))
            yield ops

    def finish(self):
        """The closing merge-on-read delete, timed as one more commit."""
        op = self._commit_op("delete", 0, lambda: self._delete(self.t))
        self.ctx.run_op(op)
        self.deleted = True

    def check(self):
        from pyspark.sql import functions as F
        from service_level_reporting_spark.sources.sinks import minute_rollup
        spark = self.ctx.spark
        bad = []
        if self.t.latest_version() != self.commits - 1:
            bad.append(f"latest_version {self.t.latest_version()} after "
                       f"{self.commits} commits")
        paths = [str(self.dir / "raw" / f"{b:04d}.parquet")
                 for b in self.appended]
        paths += [str(self.dir / "late" / f"{b:04d}.parquet")
                  for b in sorted(set(self.restated))]
        want = minute_rollup(spark.read.parquet(*paths))
        if self.deleted:
            want = want.where(F.col("indicator") != self.DELETED)
        cols = ["indicator", "minute", "value", "n_points"]
        got = self.t.read(spark).select(*cols)
        want = want.select(*cols)
        diff = (got.exceptAll(want).withColumn("side", F.lit("extra"))
                .unionByName(want.exceptAll(got)
                             .withColumn("side", F.lit("missing")))
                .groupBy("side").count().collect())
        if diff:
            bad.append("final snapshot differs from the one-shot rollup: "
                       + ", ".join(f"{r['count']} {r['side']} rows"
                                   for r in diff))
        return bad

    def layer_metrics(self):
        tr = self.ctx.tracer
        log_dir = self.table_dir / "_txlog"
        names = [p.name for p in log_dir.iterdir()] if log_dir.exists() else []
        data = [p for p in (self.table_dir / "data").rglob("*.parquet")]
        raw_bytes = sum((self.dir / "raw" / f"{b:04d}.parquet").stat().st_size
                        for b in self.appended)
        raw_bytes += sum((self.dir / "late" / f"{b:04d}.parquet")
                         .stat().st_size for b in set(self.restated))
        med = lambda n: _median([s["end"] - s["start"] for s in tr.named(n)
                                 if s["op"] is not None])
        return {
            "txlog.append_s": med("txlog.append"),
            "txlog.merge_s": med("txlog.merge"),
            "txlog.delete_s": med("txlog.delete"),
            "txlog.read_s": med("txlog.read"),
            "txlog.fresh_read_p50_s": _median(self.read_s),
            "txlog.commits": self.commits,
            "txlog.checkpoints": sum(1 for n in names
                                     if "checkpoint" in n
                                     and not n.startswith("_")),
            "txlog.log_files": len(names),
            "txlog.merge_rewritten_files": sum(
                m["rewritten_files"] for m in self.merge_stats),
            "txlog.merge_carried_files": sum(
                m["carried_files"] for m in self.merge_stats),
            "txlog.data_files": len(data),
            "txlog.bytes_per_input_byte": (
                sum(p.stat().st_size for p in data) / raw_bytes
                if raw_bytes else 0.0),
        }


# ---- slr_service ------------------------------------------------------------

class SlrService(Workload):
    """The SLR service in one process: ``slo_report``'s report queries and
    ``sli_ingest``'s updater commits interleaved in one round (each commit,
    then two report queries), as the paper's service runs its report API
    beside its updater. The two halves keep their own inputs, gates and
    per-layer figures."""
    name = "slr_service"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.report, self.ingest = SloReport(ctx), SliIngest(ctx)

    def prepare(self):
        self.report.prepare()
        inputs = self.ctx.inputs
        self.ingest.prepare()
        self.ctx.inputs = {**inputs, **self.ctx.inputs}

    def warm_up(self):
        # the commit chains first: they are the longest
        self.warm_concurrently(
            self.ingest.warm_chains()
            + [self.query_op(q, self.report.warm_dir, 0)
               for q in SLO_QUERIES])

    def rounds(self):
        for queries, commits in zip(self.report.rounds(),
                                    self.ingest.rounds()):
            per = -(-len(queries) // len(commits))
            ops = []
            for i, commit in enumerate(commits):
                ops += [commit, *queries[i * per:(i + 1) * per]]
            yield ops

    def finish(self):
        self.ingest.finish()

    def check(self):
        return self.report.check() + self.ingest.check()

    def layer_metrics(self):
        return self.ingest.layer_metrics()


# ---- corpus_curation --------------------------------------------------------

class CorpusCuration(Workload):
    """One op is one fresh shard through the six curation operators, as a
    curation pipeline sees each shard once: every op takes a shard no
    earlier op used, so the engine's per-source-path memos never serve a
    repeat.

    ``multimodal_pipeline`` (media assets derived from a shard's documents)
    costs ~10-20 s per call at any shard size, more than the timed section
    of a run, so it runs in traced runs only: once, after the timed
    section, on a shard of its own. Its figures are per-layer
    (``multimodal.*``)."""
    name = "corpus_curation"

    def prepare(self):
        c = self.ctx
        self.dir, self.man = gen.cached(
            c.cache, "shards", c.seed,
            {"shards": SHARDS + 1, "docs": SHARD_DOCS, "vecs": SHARD_VECS},
            gen.build_shards)
        # one warm-up shard per curation op: concurrent warm-up ops never
        # share a source path (and so never a staging directory)
        self.warm_dir, _ = gen.cached(
            c.cache, "warm-shards", 0,
            {"shards": len(CURATION_OPS), "docs": WARM_DOCS,
             "vecs": WARM_VECS}, gen.build_shards)
        self.outputs: list[dict] = []
        self.op_s: dict[str, list[float]] = {q: [] for q, _ in CURATION_OPS}
        self.mm_out = None
        self.mm_s = 0.0
        c.inputs = {"shard0_documents": self.man["hashes"]["000/documents"],
                    "docs": SHARD_DOCS}

    def shard(self, i: int) -> Path:
        return self.dir / f"{i:03d}"

    def warm_up(self):
        self.warm_concurrently(
            [self.query_op(q, self.warm_dir / f"{i:03d}", 0)
             for i, (q, _) in enumerate(CURATION_OPS)])

    def rounds(self):
        for i in range(SHARDS):
            yield [Op("shard", SHARD_DOCS, lambda i=i: self._shard(i))]

    def _shard(self, i):
        kept = {}
        self.outputs.append(kept)
        for q, _ in CURATION_OPS:
            t0 = time.perf_counter()
            kept[q] = self.query_op(q, self.shard(i), 0).run()
            self.op_s[q].append(time.perf_counter() - t0)

    def traced_only(self):
        mm = self.query_op("multimodal_pipeline", self.shard(SHARDS), 0)
        with self.ctx.tracer.span("multimodal.pipeline") as sp:
            self.mm_out = mm.run()
        self.mm_s = sp["end"] - sp["start"]

    def check(self):
        bad = []
        first = self.outputs[0] if self.outputs else {}
        for q in CURATION_ORACLED:
            if q in first:
                want = oracle_rows(self.shard(0),
                                   ("documents", "embeddings"), q)
                if canon(first[q]) != want:
                    bad.append(f"{q}: shard 0 does not match its DuckDB "
                               f"oracle ({len(first[q])} vs {len(want)} "
                               "rows)")
        for i, kept in enumerate(self.outputs):
            if "dedup_exact" in kept:
                found = {(int(r.keeper_doc_id), int(r.n_copies))
                         for r in kept["dedup_exact"].itertuples()
                         if r.text_hash != "ALL"}
                for g in self.man["plants"][i]["exact_groups"]:
                    if (g[0], len(g)) not in found:
                        bad.append(f"shard {i}: planted exact group {g} "
                                   "missed")
        if self.mm_out is not None:
            bad += [f"multimodal_pipeline: {e}"
                    for e in multimodal_mismatches(self.mm_out)]
        return bad

    def layer_metrics(self):
        groups = planted = found = 0
        for i, kept in enumerate(self.outputs):
            if "dedup_exact" in kept:
                ex = kept["dedup_exact"]
                groups += int((ex["text_hash"] != "ALL").sum())
            if "dedup_near_dup_signatures" in kept:
                nd = kept["dedup_near_dup_signatures"]
                mh = nd[nd["method"] == "minhash"]
                got = set(zip(mh["doc_a"].astype(int),
                              mh["doc_b"].astype(int)))
                want = {tuple(p)
                        for p in self.man["plants"][i]["near_dup_pairs"]}
                planted += len(want)
                found += len(want & got)
        return {**{m: _median(self.op_s[q]) for q, m in CURATION_OPS},
                "multimodal.pipeline_s": self.mm_s,
                "dedup.exact_groups_found": groups,
                "dedup.near_dup_recall": found / planted if planted else 0.0,
                "multimodal.assets_out": (
                    0 if self.mm_out is None else int(self.mm_out.loc[
                        self.mm_out["stage"] == "features", "n"].sum()))}


def multimodal_mismatches(pdf) -> list[str]:
    """The pipeline's own accounting: resized images decode at width 64 and
    each near-dup leg finds every pair it planted."""
    bad = []
    resize = pdf[pdf["stage"] == "resize"]
    if resize.empty or not (resize["metric"] == 64).all():
        bad.append(f"resize avg decoded width {list(resize['metric'])}, "
                   "want 64")
    nd = pdf[pdf["stage"].isin(("phash_dedup", "video_near_dup",
                                "audio_near_dup"))
             & (pdf["key"] == "planted_found")]
    if len(nd) != 3 or not (nd["n"] == nd["total_bytes"]).all():
        bad.append("planted near-dups found/planted "
                   f"{nd[['stage', 'n', 'total_bytes']].values.tolist()}")
    return bad


WORKLOADS = {w.name: w for w in (SlrService, CorpusCuration, SloReport,
                                 SliIngest)}
