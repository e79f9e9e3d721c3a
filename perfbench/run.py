"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_dense --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics; with ``--trace 1`` they are the
per-layer metrics of a traced run, and the runner first makes an untraced
run of the same seed and size in a child process to report the tracing
overhead. The line before it (``perfbench report: {...}``) holds the host,
the commit, the workload-specific figures, the exact-repeat counters and
every output check. Everything the run writes stays under
``perfbench/.runs/``. The exit code is non-zero when an output check fails.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
#: end-to-end metrics (BENCHMARK.json "end_to_end"), all lower-is-better
END_TO_END = (("setup_s", "s"), ("work_s", "s"), ("op_p50_s", "s"), ("peak_rss_mb", "MiB"))


# -- host -------------------------------------------------------------------


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def cpu_stat() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants: this process, the driver JVM
    and the Python workers."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, changed = {root_pid}, True
    while changed:
        changed = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                changed = True
    return sorted(tree)


def cpu_seconds(pids: list[int]) -> float:
    """User plus system CPU seconds the processes have used."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def reset_peak_rss(pids: list[int]) -> None:
    """Reset each process's resident-set high-water mark (VmHWM)."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' VmHWM, in MiB."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return total / 1024


def jvm_seconds(jvm) -> tuple[float, float]:
    """(JIT compile, garbage collection) seconds the driver JVM has spent."""
    mf = jvm.java.lang.management.ManagementFactory
    gc = sum(max(b.getCollectionTime(), 0) for b in mf.getGarbageCollectorMXBeans())
    return mf.getCompilationMXBean().getTotalCompilationTime() / 1000, gc / 1000


class Window:
    """The timed window: wall time, hypervisor steal, CPU, JIT and GC
    seconds, and peak RSS."""

    def __init__(self, jvm):
        self.jvm = jvm
        self.jit_s = self.gc_s = 0.0
        self.start = self.end = 0.0
        self.seconds = 0.0
        self.steal_pct = 0.0
        self.peak_rss_mb = 0.0
        self.cpu_s = 0.0

    def __enter__(self):
        pids = process_tree(os.getpid())
        reset_peak_rss(pids)
        self._cpu_s = cpu_seconds(pids)
        self._jvm_s = jvm_seconds(self.jvm)
        self._cpu = cpu_stat()
        self.start = time.time()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.seconds = time.perf_counter() - self._t0
        self.end = time.time()
        total, steal = cpu_stat()
        self.steal_pct = 100.0 * (steal - self._cpu[1]) / max(total - self._cpu[0], 1)
        pids = process_tree(os.getpid())
        self.peak_rss_mb = peak_rss_mb(pids)
        self.cpu_s = cpu_seconds(pids) - self._cpu_s
        jit, gc = jvm_seconds(self.jvm)
        self.jit_s, self.gc_s = jit - self._jvm_s[0], gc - self._jvm_s[1]
        return False


# -- the run ------------------------------------------------------------------


class Context:
    """What a workload sees: the session, its seed and size, its directories,
    and the hooks that mark the end of set-up and the timed window."""

    def __init__(self, spark, args, run_dir: str, traced: bool, excluded_s: float = 0.0):
        from perfbench.trace import Tracer

        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.work_dir = os.path.join(run_dir, "work")
        self.traced = traced
        self.tracer = Tracer(spark.sparkContext if traced else None)
        self.window = Window(spark._jvm)
        self.wrappers_removed = None
        #: time spent before set-up on the untraced run a traced run compares to
        self.excluded_s = excluded_s

    def setup_done(self) -> float:
        self.log("set-up done")
        return time.perf_counter() - T_START - self.excluded_s

    @staticmethod
    def log(msg: str) -> None:
        print(f"perfbench: {time.perf_counter() - T_START:7.2f}s {msg}", file=sys.stderr, flush=True)

    @contextlib.contextmanager
    def timed(self):
        install_wrappers(self.tracer, full=self.traced)
        try:
            with self.window:
                yield self.window
        finally:
            self.tracer.close_pending()
            self.wrappers_removed = self.tracer.remove()

    def batch_seconds(self) -> list[float]:
        return [
            sp.end - sp.start for sp in self.tracer.spans if sp.name == "pipeline.run_batch"
        ]


def install_wrappers(tracer, full: bool) -> None:
    """Untraced runs time only ``CdcPipeline.run_batch``; traced runs wrap
    every layer boundary the benchmark reports."""
    from kafka_connect_gcs_spark.icebox import changes, maintenance
    from kafka_connect_gcs_spark.icebox.table import IceboxTable
    from kafka_connect_gcs_spark.operators import merge
    from kafka_connect_gcs_spark.streaming import pipeline

    tracer.wrap(
        pipeline.CdcPipeline, "run_batch", "pipeline.run_batch",
        tag=lambda self, segs, *a, **k: {"batch": f"{segs[0]}..{segs[-1]}" if segs else None},
    )
    if not full:
        return
    batch_tag = lambda table, changes_df, batch_id, *a, **k: {"batch": batch_id}  # noqa: E731
    written = lambda entries: {  # noqa: E731
        "files": len(entries), "bytes": sum(e.num_bytes for e in entries),
    }
    # the pipeline imports merge_into by name: patch both module attributes
    tracer.wrap(pipeline, "merge_into", "merge.merge_into", tag=batch_tag)
    tracer.wrap(merge, "merge_into", "merge.merge_into", tag=batch_tag)
    tracer.wrap(IceboxTable, "write_data_files", "table.write_data_files", result_tag=written)
    tracer.wrap(IceboxTable, "write_delete_files", "table.write_delete_files", result_tag=written)
    tracer.wrap(IceboxTable, "commit", "table.commit")
    tracer.wrap(IceboxTable, "read", "table.read", lazy=True)
    tracer.wrap(IceboxTable, "point_lookup", "table.point_lookup", lazy=True)
    # imported at call time by the pipeline, so the module attribute is used
    tracer.wrap(maintenance, "compact", "maint.compact")
    tracer.wrap(maintenance, "fold_deletes", "maint.fold_deletes")
    tracer.wrap(changes, "table_changes", "changes.table_changes", lazy=True)


def build_spark(run_dir: str, traced: bool):
    """A fresh local session sized to the host: one task slot per core and
    driver memory at 40% of RAM. Every file Spark writes stays in the run
    directory."""
    n = cores()
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from pyspark.sql import SparkSession

    mem = max(mem_total_mb() * 2 // 5, 1024)
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{mem}m")
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            f" -XX:ParallelGCThreads={n} -XX:ConcGCThreads={max(n // 4, 1)}"
            # a fixed young generation: G1's adaptive young sizing otherwise
            # moves peak RSS by hundreds of MiB from run to run
            f" -Xmn{mem // 4}m"
            # no hsperfdata file outside the run directory
            " -XX:-UsePerfData",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if traced:
        logs = os.path.join(run_dir, "eventlog")
        os.makedirs(logs, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", logs)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the driver JVM the session ran in and wait until it has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def end_to_end(outcome, window) -> dict:
    """The workload's unit of work is a micro-batch (ingest_dense), a
    write-then-read step (sparse_upsert_read) or a query (curation_queries)."""
    unit = outcome.ops.get("step") or outcome.ops.get("batch") or outcome.ops.get("query") or []
    return {
        "setup_s": outcome.setup_s,
        "work_s": outcome.work_s,
        "op_p50_s": statistics.median(unit) if unit else 0.0,
        "peak_rss_mb": window.peak_rss_mb,
    }


def untraced_baseline(args) -> dict | None:
    """End-to-end metrics of an untraced run of the same workload, seed and
    size, made in a child process before the traced run starts."""
    cmd = [
        sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None
    return {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS, Outcome

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = args.trace == 1

    t_child = time.perf_counter()
    baseline = untraced_baseline(args) if traced else None
    t_child = time.perf_counter() - t_child
    run_dir = os.path.join(
        BENCH_DIR, ".runs",
        f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}",
    )
    os.makedirs(run_dir, exist_ok=True)
    spark = build_spark(run_dir, traced)
    ctx = Context(spark, args, run_dir, traced, excluded_s=t_child)
    ctx.log("session started")
    outcome, crashed = Outcome(), False
    try:
        outcome = WORKLOADS[args.workload](ctx)
    except Exception:  # report the failure as a failed run, then exit non-zero
        traceback.print_exc()
        crashed = True
        outcome.errors += 1
        outcome.attempted = max(outcome.attempted, 1)
    finally:
        app_id = spark.sparkContext.applicationId
        spark.stop()
        stop_jvm()

    e2e = end_to_end(outcome, ctx.window)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {
            "cores": cores(),
            "mem_total_mb": mem_total_mb(),
            "steal_pct": ctx.window.steal_pct,
            "work_cpu_s": ctx.window.cpu_s,
            "work_jit_s": ctx.window.jit_s,
            "work_gc_s": ctx.window.gc_s,
            "commit": git_commit(),
        },
        "end_to_end": e2e,
        "named": outcome.named,
        "ops": outcome.ops,
        "counters": outcome.counters,
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in outcome.checks],
        "wrappers_removed": ctx.wrappers_removed,
    }
    if traced:
        from perfbench import layers
        from perfbench.trace import read_event_log

        units = dict(layers.catalog())
    if traced and not crashed:
        ctx.tracer.dump(os.path.join(run_dir, "spans.jsonl"))
        jobs = read_event_log(os.path.join(run_dir, "eventlog", app_id), ctx.tracer.spans)
        metrics = layers.per_layer(ctx.tracer.spans, jobs, outcome, ctx.window)
        for m, _ in layers.OVERHEAD:
            metrics[f"overhead.{m}"] = e2e[m] - baseline[m] if baseline else 0.0
        splits = layers.batch_split(ctx.tracer.spans)
        outcome.counters["jobs_per_batch"] = layers.jobs_per_batch(ctx.tracer.spans, jobs)
        outcome.counters["jobs"] = metrics["count.jobs"]
        report["batch_split"] = [
            {k: v for k, v in r.items() if k not in ("id", "merge_start", "merge_end")}
            for r in splits
        ]
        report["untraced"] = baseline
    elif traced:
        metrics = {name: 0.0 for name in units}
    else:
        metrics, units = e2e, dict(END_TO_END)
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({**report, "metrics": metrics}, f, indent=1, default=str)
    # keep the result, spans and event log; drop the tables, feeds and temp
    for d in ("work", "tmp", "local", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    ok = not crashed and outcome.failed == 0 and (baseline is not None or not traced)
    print("perfbench report: " + json.dumps(report, default=str))
    print(json.dumps({
        "correct": ok,
        "attempted": outcome.attempted,
        "failed": outcome.failed or (0 if ok else 1),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    if not (
        os.path.isdir(os.path.join(ROOT, "kafka_connect_gcs_spark"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print("perfbench: the package is not in this checkout; nothing to run", file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, ROOT)
    sys.exit(main())
