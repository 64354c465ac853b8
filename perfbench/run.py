"""Layered benchmark of the fences_spark validation engine.

    python3 perfbench/run.py --workload files_full --seed 1 --seconds 10 --trace 0

Run from the root of a checkout: the package is imported from the
working directory and every file the run makes goes under
``.perfbench_work/`` there and is removed at exit.  One driver process
at ``local[nproc]`` issues one call at a time (a closed loop) for
``--seconds`` seconds after set-up; every call's outputs are then
checked against computations made outside Spark.  The last line of
standard output is one JSON object: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

END_TO_END = {
    "rows_per_s": "rows/s",
    "append_to_verdict_s": "s",
    "peak_mem_mb": "MB",
    "setup_s": "s",
}
PER_LAYER = {
    "sources.scan_ns_per_row": "ns/row",
    "sources.snaplog.append_s": "s",
    "compiler.ruleset.apply_ms": "ms",
    "compiler.typed.eval_ns_per_row": "ns/row",
    "compiler.variant.eval_ns_per_row": "ns/row",
    "compiler.arrow.eval_ns_per_row": "ns/row",
    "compiler.arrow.python_nodes": "count",
    "compiler.arrow.python_workers_peak": "count",
    "compiler.pointers.ns_per_violation": "ns/violation",
    "run.runner.input_rows_read_ratio": "ratio",
    "run.runner.violations_ns_per_row": "ns/row",
    "run.runner.aggregate_ns_per_row": "ns/row",
    "run.runner.sinks_ns_per_row": "ns/row",
    "run.runner.jobs": "count",
    "run.runner.executor_s": "s",
    "run.runner.shuffle_write_mb": "MB",
    "run.runner.resume_lookup_ms": "ms",
    "run.runner.incremental.jobs": "count",
    "operators.curate.ns_per_doc": "ns/doc",
    "operators.sampling.quality_band_ns_per_doc": "ns/doc",
    "operators.dedup.near_dup_ns_per_doc": "ns/doc",
    "operators.text.pack_ns_per_doc": "ns/doc",
    "operators.sampling.shard_ns_per_doc": "ns/doc",
    "run.pipeline.jobs": "count",
    "run.pipeline.input_rows_read_ratio": "ratio",
    "run.pipeline.executor_s": "s",
    "run.pipeline.shuffle_write_mb": "MB",
    "run.pipeline.spill_mb": "MB",
    "trace.append_to_verdict_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap() -> str:
    """2 GiB, or a quarter of host RAM if that is less."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{min(2048, total_kb // 4096)}m"


def start_session(work: str, cores: int, event_log: str | None = None):
    from fences_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = os.environ["SPARK_DRIVER_MEM"]
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": tmp,
        # a fixed-size heap: a growing one made peak PSS vary by a third
        # from run to run
        "spark.driver.extraJavaOptions": f"-Xms{heap}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            # the digest reads plain JSON lines: Python's standard
            # library has no zstd decoder for a compressed log
            "spark.eventLog.compress": "false",
        })
    return get_spark(app="perfbench", cores=cores, shuffle_partitions=cores, extra=extra)


def shutdown() -> None:
    """Stop the context, then the gateway JVM, and wait for it: the JVM
    exits when its stdin closes."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.correct = True

    def rounds(self, one_round, seconds: float) -> list:
        """Closed loop: whole rounds of calls until ``seconds`` have
        passed (at least one round)."""
        ops = []
        deadline = time.perf_counter() + seconds
        while True:
            try:
                done = one_round()
                ops.extend(done)
                self.attempted += len(done)
            except Exception:
                self.attempted += 1
                self.failed += 1
                log("operation failed:\n" + traceback.format_exc())
            if time.perf_counter() >= deadline:
                return ops

    def check(self, w, ops: list) -> None:
        for op in ops:
            try:
                w.check(op)
            except Exception:
                self.failed += 1
                self.correct = False
                log(f"output check failed for {op.out_dir}:\n" + traceback.format_exc())


def end_to_end(ops: list, mem, setup_s: float) -> dict[str, float]:
    return {
        "rows_per_s": sum(o.rows for o in ops) / sum(o.wall_s for o in ops),
        "append_to_verdict_s": statistics.median(o.verdict_s for o in ops if o.verdict_s is not None),
        "peak_mem_mb": mem.peak_pss_kb / 1024.0,
        "setup_s": setup_s,
    }


def per_layer(w, ops: list, mem, event_log: str, since_ms: float) -> dict[str, float]:
    from perfbench.trace import digest_event_log

    metrics = {k: 0.0 for k in PER_LAYER}
    metrics.update(w.probes(ops))
    metrics["compiler.arrow.python_workers_peak"] = float(mem.peak_python)
    metrics["sources.snaplog.append_s"] = statistics.median(w.appends)
    metrics["trace.append_to_verdict_s"] = statistics.median(
        o.verdict_s for o in ops if o.verdict_s is not None)
    w.spark.stop()  # closes the event log
    digest = digest_event_log(event_log, since_ms)
    for entry in {o.entry for o in ops}:
        mine = [o for o in ops if o.entry == entry]
        d = digest.get(entry, {})
        layer = {"runner": "run.runner", "incremental": "run.runner.incremental",
                 "pipeline": "run.pipeline"}[entry]
        metrics[f"{layer}.jobs"] = d.get("jobs", 0.0) / len(mine)
        if entry == "incremental":
            continue
        metrics[f"{layer}.executor_s"] = d.get("executor_s", 0.0) / len(mine)
        metrics[f"{layer}.shuffle_write_mb"] = d.get("shuffle_write_bytes", 0.0) / len(mine) / 2**20
        metrics[f"{layer}.input_rows_read_ratio"] = (
            d.get("records_read", 0.0) / sum(o.rows for o in mine))
        if entry == "pipeline":
            metrics["run.pipeline.spill_mb"] = d.get("spill_bytes", 0.0) / len(mine) / 2**20
    return metrics


def run(args, work: str) -> dict:
    from perfbench.trace import ProcessSampler
    from perfbench.workloads import WORKLOADS

    cores = host_cores()
    # the traced run writes Spark's event log from the start, so that its
    # calls run in the same state as the untraced run's
    event_log = os.path.join(work, "eventlog") if args.trace else None
    t0 = time.perf_counter()
    spark = start_session(work, cores, event_log)
    w = WORKLOADS[args.workload](spark, work, args.seed, cores)
    tally = Tally()
    try:
        w.setup()
        setup_s = time.perf_counter() - t0
        log(f"set-up {setup_s:.1f}s")
        rounds_ms = time.time() * 1e3  # set-up's calls stay out of the digest
        with ProcessSampler() as mem:
            ops = tally.rounds(w.traced_round if args.trace else w.round, args.seconds)
        log(f"{len(ops)} timed calls: " + ", ".join(f"{o.wall_s:.2f}s" for o in ops))
        if args.trace:
            metrics, units = per_layer(w, ops, mem, event_log, rounds_ms), PER_LAYER
        else:
            metrics, units = end_to_end(ops, mem, setup_s), END_TO_END
        tally.check(w, ops)
    finally:
        w.con.close()
    return {
        "correct": tally.correct,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main() -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        import fences_spark  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the package under test from {ROOT}: {exc}")
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["SPARK_DRIVER_MEM"] = driver_heap()
    # Python workers import the package (Arrow-tier UDFs) from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"]
    # every JVM, the spark-submit launcher's too, keeps its files in the run
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    try:
        result = run(args, work)
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
