"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload slr_service --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. The last line of stdout
is one JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end ones (tracing off); with
``--trace 1`` Spark's event log is switched on through a startup conf and
the metrics are the per-layer ones (see README.md). Inputs are generated
from the seed into ``.perfbench/cache`` and reused; everything else a run
writes lives under ``.perfbench/run-<pid>`` and is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"

E2E_UNITS = {"setup_s": "s", "latency_p50_s": "s", "rows_per_s": "1/s"}

# Per-layer metric -> unit; every traced run reports all of them (0 where a
# workload bypasses the layer).
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "driver.peak_rss_mb": "MB",
    "operators.build_s": "s",
    "operators.collect_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.driver_self_s": "s",
    "scan.bytes_read": "B/op",
    "scan.records_read": "count/op",
    "shuffle.bytes_written": "B/op",
    "shuffle.fetch_wait_s": "s/op",
    "executor.run_s": "s/op",
    "executor.cpu_s": "s/op",
    "jvm.gc_s": "s/op",
    "spill.disk_bytes": "B/op",
    "python.worker_run_s": "s/op",
    "python.worker_start_s": "s/op",
    "python.bytes_sent": "B/op",
    "python.bytes_returned": "B/op",
    "txlog.append_s": "s",
    "txlog.merge_s": "s",
    "txlog.delete_s": "s",
    "txlog.read_s": "s",
    "txlog.fresh_read_p50_s": "s",
    "txlog.commits": "count",
    "txlog.checkpoints": "count",
    "txlog.log_files": "count",
    "txlog.merge_rewritten_files": "count",
    "txlog.merge_carried_files": "count",
    "txlog.data_files": "count",
    "txlog.bytes_per_input_byte": "ratio",
    "dedup.exact_s": "s",
    "dedup.near_dup_s": "s",
    "similarity.cosine_dedup_s": "s",
    "similarity.topk_s": "s",
    "text.profile_s": "s",
    "bpe.suite_s": "s",
    "dedup.exact_groups_found": "count",
    "dedup.near_dup_recall": "ratio",
    "multimodal.pipeline_s": "s",
    "multimodal.assets_out": "count",
    "trace.setup_s": "s",
    "trace.latency_p50_s": "s",
    "trace.rows_per_s": "1/s",
}


def process_start_time() -> float:
    """Wall-clock time this process started, from /proc (10 ms ticks)."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return time.time()


T0 = process_start_time()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> float:
    """VmHWM of this (driver) Python process plus the driver JVM."""
    pids = [os.getpid()] + [p for p in descendants(os.getpid())
                            if _comm(p) == "java"]
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def configure_env(run_dir: Path, trace: bool) -> None:
    """Size the session for the CPUs this process may use and keep every
    file it writes inside the run directory. Startup confs go through PYSPARK_SUBMIT_ARGS, so the
    engine's own session factory stays untouched."""
    cpus = len(os.sched_getaffinity(0))
    tmp = run_dir / "tmp"
    for d in (tmp, run_dir / "local", run_dir / "eventlog"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["TMPDIR"] = str(tmp)
    # Python workers import the package whatever the working directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}",
            "--conf", f"spark.sql.warehouse.dir={run_dir / 'warehouse'}"]
    if trace:
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{run_dir / 'eventlog'}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    import tempfile
    tempfile.tempdir = str(tmp)


class Context:
    def __init__(self, args, run_dir: Path):
        from tracing import Tracer
        self.seed = args.seed
        self.workload = args.workload
        self.cache = STATE / "cache"
        self.scratch = run_dir
        self.tracer = Tracer(bool(args.trace))
        self.trace = bool(args.trace)
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.inputs: dict = {}
        self.lat: list[float] = []
        self.lat_by_kind: dict[str, list[float]] = {}
        self.rows = 0.0
        self.attempted = 0
        self.failures: list[str] = []
        self.op_spans: list[dict] = []

    def run_op(self, op) -> None:
        """Run one timed op under its job tag; a raising op is counted as
        failed (missing every latency) and recorded with its cause."""
        n = self.attempted
        self.attempted += 1
        tag = f"{self.workload}:{op.kind}:{n}"
        if self.trace:
            self.spark.addTag(tag)
        try:
            with self.tracer.span("op", op=str(n)) as sp:
                t0 = time.perf_counter()
                op.run()
                dt = time.perf_counter() - t0
        except Exception as e:                        # noqa: BLE001
            self.failures.append(f"{op.kind}#{n}: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            return
        finally:
            if self.trace:
                self.spark.removeTag(tag)
        if sp is not None:
            self.op_spans.append({"op": str(n), "tag": tag, "kind": op.kind,
                                  "start": sp["start"], "end": sp["end"]})
        self.lat.append(dt)
        self.lat_by_kind.setdefault(op.kind, []).append(dt)
        self.rows += op.rows


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until every process the run
    started (JVM, Python workers) has exited."""
    from pyspark import SparkContext
    kids = descendants(os.getpid())
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:                             # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 60
    while time.time() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")
                 and _state(p) != "Z"]
        if not alive:
            return
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return "Z"


def layer_table(ctx, wl, event_log: Path | None, setup_s, p50, rps) -> dict:
    """The per-layer metrics of a traced run."""
    from tracing import EventLog, union_length
    tr = ctx.tracer
    med = statistics.median
    m = {k: 0.0 for k in LAYER_UNITS}
    m["session.get_spark_s"] = sum(s["end"] - s["start"]
                                   for s in tr.named("session.get_spark"))
    for name in ("operators.build", "operators.collect"):
        spans = [s for s in tr.named(name) if s["op"] is not None]
        if spans:
            m[name + "_s"] = med(s["end"] - s["start"] for s in spans)
    ops = ctx.op_spans
    if event_log is not None and ops:
        per_op = EventLog(event_log).attribute(ops)
        n = len(ops)
        fig: dict = {}
        jobs = stages = 0
        self_s = []
        for op in ops:
            a = per_op[op["op"]]
            jobs += len(a["jobs"])
            stages += a["stages"]
            for k, v in a["fig"].items():
                fig[k] = fig.get(k, 0) + v
            self_s.append((op["end"] - op["start"])
                          - union_length(a["jobs"], op["start"], op["end"]))
        m["spark.jobs_per_op"] = jobs / n
        m["spark.stages_per_op"] = stages / n
        m["spark.tasks_per_op"] = fig.get("tasks", 0) / n
        m["spark.driver_self_s"] = med(self_s)
        per = lambda k, scale=1.0: fig.get(k, 0) * scale / n
        m["scan.bytes_read"] = per("input_b")
        m["scan.records_read"] = per("input_rec")
        m["shuffle.bytes_written"] = per("shuffle_w_b")
        m["shuffle.fetch_wait_s"] = per("fetch_wait_ms", 1e-3)
        m["executor.run_s"] = per("run_ms", 1e-3)
        m["executor.cpu_s"] = per("cpu_ns", 1e-9)
        m["jvm.gc_s"] = per("gc_ms", 1e-3)
        m["spill.disk_bytes"] = per("spill_b")
        m["python.worker_run_s"] = per("python_run_ms", 1e-3)
        m["python.worker_start_s"] = per("python_start_ms", 1e-3)
        m["python.bytes_sent"] = per("python_sent_b")
        m["python.bytes_returned"] = per("python_returned_b")
    m.update(wl.layer_metrics())
    m["trace.setup_s"] = setup_s
    m["trace.latency_p50_s"] = p50
    m["trace.rows_per_s"] = rps
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in ("service_level_reporting_spark/__init__.py",
                           "tests/differential.py")
               if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: not a checkout of the engine (missing "
              f"{', '.join(missing)})", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    for stale in STATE.glob("run-*"):
        # left behind by a run that was killed before its cleanup ran
        if not os.path.exists(f"/proc/{stale.name[4:]}"):
            shutil.rmtree(stale, ignore_errors=True)
    run_dir = STATE / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    spark = None
    try:
        configure_env(run_dir, bool(args.trace))
        ctx = Context(args, run_dir)
        wl = WORKLOADS[args.workload](ctx)
        g0 = time.time()
        wl.prepare()
        gen_s = time.time() - g0

        from service_level_reporting_spark.session import get_spark
        with ctx.tracer.span("session.get_spark"):
            spark = ctx.spark = get_spark(app_name=f"perfbench-{wl.name}")
        spark.sparkContext.setLogLevel("ERROR")
        with ctx.tracer.span("warm_up"):
            wl.warm_up()
        t_start = time.time()
        setup_s = t_start - T0 - gen_s

        for batch in wl.rounds():
            for op in batch:
                ctx.run_op(op)
                if time.time() - t_start >= args.seconds:
                    break
            else:
                continue
            break
        wl.finish()
        wall = time.time() - t_start
        if args.trace:
            wl.traced_only()
        rss = peak_rss_mb()

        bad = wl.check()
        if not ctx.lat:
            bad.append("no op completed")
        p50 = statistics.median(ctx.lat) if ctx.lat else 0.0
        rps = ctx.rows / wall
        metrics = {"setup_s": setup_s, "latency_p50_s": p50,
                   "rows_per_s": rps}
        layers = None
        stop_spark(spark)
        spark = None
        if args.trace:
            logs = list((run_dir / "eventlog").glob("local-*"))
            layers = layer_table(ctx, wl, logs[0] if logs else None,
                                 setup_s, p50, rps)
            layers["driver.peak_rss_mb"] = rss
            out_dir = STATE / "traces"
            out_dir.mkdir(parents=True, exist_ok=True)
            stem = f"{wl.name}-s{args.seed}"
            ctx.tracer.dump(out_dir / f"{stem}.spans.jsonl")
            (out_dir / f"{stem}.layers.json").write_text(json.dumps(
                {"metrics": layers, "ops": len(ctx.op_spans),
                 "span_self_s": ctx.tracer.self_times()},
                indent=1, sort_keys=True))

        summary = {
            "workload": wl.name, "seed": args.seed, "inputs": ctx.inputs,
            "generation_s": round(gen_s, 3), "timed_wall_s": round(wall, 3),
            "peak_rss_mb": round(rss, 1),
            "ops": len(ctx.lat), "failures": ctx.failures,
            "op_latency_s": [round(x, 4) for x in ctx.lat],
            "per_kind_p50_s": {k: round(statistics.median(v), 4)
                               for k, v in sorted(ctx.lat_by_kind.items())},
            "per_kind_n": {k: len(v)
                           for k, v in sorted(ctx.lat_by_kind.items())},
            "check_failures": bad,
        }
        print("# " + json.dumps(summary, sort_keys=True))
        chosen, units = ((layers, LAYER_UNITS) if args.trace
                         else (metrics, E2E_UNITS))
        for k in units:
            print(f"# {k:32s} {chosen[k]:.6g} {units[k]}")
        print(json.dumps({
            "correct": not bad,
            "attempted": ctx.attempted,
            "failed": len(ctx.failures),
            "metrics": {k: {"value": chosen[k], "unit": u}
                        for k, u in units.items()},
        }))
        return 0 if not bad else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
