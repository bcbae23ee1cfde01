"""Benchmark of the rollup engine's jobs — see README.md in this directory.

    python3 perfbench/run.py --workload full_build --seed 1 --seconds 4 --trace 0

Run from the root of a checkout. Prints one JSON line as the last line of
standard output: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics of one timed primary op with ``--trace 0``, the
per-layer metrics of a traced run with ``--trace 1``: its ops, then tier
reads for ``--seconds`` (spans and their Spark counters are then also
written to ``.perfbench_out/``). Everything the run writes stays inside the
checkout; its scratch directory is removed before it exits.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

DEFAULT_ROWS = 100_000

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "points_per_s": "1/s",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cpu_count() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def start_spark(work: str, cores: int, trace: bool):
    from preprocessor_spark import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", extra_conf=conf, batch_committer_v2=True
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None  # the next session starts a new JVM


def bytes_per_value(spark, target: str) -> float:
    """Compressed bytes per stored value of the 5m blocks (a timestamp, a
    count and four float statistics per non-empty bucket)."""
    from pyspark.sql import functions as F

    blobs = ["ts_blob", "n_points_blob", "sum_v_blob", "sum_sq_blob", "min_v_blob", "max_v_blob"]
    row = (
        spark.read.parquet(os.path.join(target, "blocks_5m"))
        .agg(sum(F.sum(F.length(c)) for c in blobs).alias("b"), F.sum("n").alias("n"))
        .collect()[0]
    )
    return row["b"] / (row["n"] * len(blobs))


def settle(spark) -> None:
    """Collect garbage in python and the JVM, and flush the files written so
    far to disk, before a timed phase, so the garbage and the dirty pages
    left by set-up or by the previous op are not billed to it."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    os.sync()


class Loop:
    """Closed-loop op counters and latencies of one phase."""

    def __init__(self):
        self.ms: list[float] = []  # ops that passed their check
        self.all_ms: list[float] = []
        self.attempted = self.failed = 0

    def record(self, ok: bool, seconds: float) -> None:
        self.attempted += 1
        self.all_ms.append(seconds * 1000)
        if ok:
            self.ms.append(seconds * 1000)
        else:
            self.failed += 1


def timed(tracer, kind: str, i: int, traced: bool, attrs: dict, fn):
    """Run one op; returns (result or None, seconds, error or None, op span
    or None)."""
    ctx = tracer.span(f"op.{kind}", op=f"{kind}{i}") if tracer else nullcontext()
    if traced:
        tracer.install()
    t0 = time.perf_counter()
    try:
        with ctx as s:
            if s is not None:
                s.attrs.update(attrs, traced=traced, ok=False)
            out = fn()
        return out, time.perf_counter() - t0, None, s
    except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
        return None, time.perf_counter() - t0, traceback.format_exc(), None
    finally:
        if traced:
            tracer.uninstall()


def run(args, root: str, work: str) -> dict:
    from workloads import WORKLOADS, TierReader, corrupt_tier

    cores = cpu_count()
    trace = bool(args.trace)
    t_setup = time.perf_counter()
    spark = start_spark(work, cores, trace)
    log(f"session started: {time.perf_counter() - t_setup:.1f} s")
    try:
        wl = WORKLOADS[args.workload](
            spark, os.path.join(work, "data"), f"local[{cores}]", args.seed, args.rows,
            os.path.join(root, ".perfbench_cache"),
        )
        if wl.prebuild():
            # the prebuild's jobs warmed this JVM; a new one keeps the timed
            # op the first job of its process, as in every other run
            stop_spark(spark)
            shutil.rmtree(os.path.join(work, "eventlog"))
            os.makedirs(os.path.join(work, "eventlog"))
            spark = wl.spark = start_spark(work, cores, trace)
            log(f"session restarted: {time.perf_counter() - t_setup:.1f} s")
        wl.setup()
        setup_s = time.perf_counter() - t_setup
        log(f"{args.workload}: set-up {setup_s:.1f} s on local[{cores}]")

        tracer = None
        if trace:
            from spans import Tracer

            tracer = Tracer(spark.sparkContext)
        ops = Loop()
        points, target = 0, None
        # the timed op is the first primary op of the process, as in every
        # spark-submit of the job; a traced run goes on with a traced and an
        # untraced op, so that the tracing overhead compares two ops that
        # both follow the first one
        for i in range(3 if trace else 1):
            out = os.path.join(work, f"op{i}")
            wl.prepare(out)
            settle(spark)
            got, dt, err, s = timed(
                tracer, "primary", i, trace and i == 1, {"i": i}, lambda: wl.run(out)
            )
            if err is None and i == args.corrupt_op:
                corrupt_tier(spark, out)
            problems = [err] if err else wl.check(out)
            for p in problems:
                log(f"op {i} failed: {p}")
            ops.record(not problems, dt)
            log(f"op {i}: {dt * 1000:.0f} ms")
            if s is not None:
                s.attrs["ok"] = not problems
            points = got or points
            if i == 0 and trace:
                # the first op's output is the target of the read phase
                target = out if err is None else wl.fallback_target()
            else:
                shutil.rmtree(out, ignore_errors=True)

        # when every op failed, the figures come from the failed ops' times,
        # so the result line still prints (with correct: false)
        op_p50 = statistics.median(ops.ms or ops.all_ms)
        log(f"{len(ops.ms)} of {ops.attempted} ops ok, median {op_p50:.0f} ms")
        if not trace:
            values = {
                "setup_s": setup_s,
                "op_p50_ms": op_p50,
                "points_per_s": points / (op_p50 / 1000),
            }
            return {
                "correct": ops.failed == 0,
                "attempted": ops.attempted,
                "failed": ops.failed,
                "metrics": {k: {"value": values[k], "unit": END_TO_END[k]} for k in END_TO_END},
            }

        reads = Loop()
        reader = TierReader(spark, target, args.seed)
        for _ in TierReader.KINDS:  # one untimed warm cycle of the kind pattern
            _, q, _c = reader.next_query()
            q(lambda _name: nullcontext())
        reader.restart()
        settle(spark)
        t_reads, j = time.perf_counter(), 0
        cycle = len(TierReader.KINDS)
        # three whole kind cycles, the middle one traced, so that each query
        # position is timed both ways
        while j < 3 * cycle or time.perf_counter() - t_reads < args.seconds:
            kind, query, check = reader.next_query()
            traced = (j // cycle) % 2 == 1
            got, dt, err, s = timed(
                tracer, "query", j, traced, {"kind": kind, "cycle": j // cycle, "pos": j % cycle},
                lambda: query(tracer.span if traced else (lambda _name: nullcontext())),
            )
            problems = [err] if err else check(got)
            for p in problems:
                log(f"query {j} ({kind}) failed: {p}")
            reads.record(not problems, dt)
            log(f"query {j} ({kind}): {dt * 1000:.0f} ms")
            if s is not None:
                s.attrs["ok"] = not problems
            j += 1
        result = {
            "correct": ops.failed == 0 and reads.failed == 0,
            "attempted": ops.attempted + reads.attempted,
            "failed": ops.failed + reads.failed,
        }
        bpv = bytes_per_value(spark, target)
    finally:
        stop_spark(spark)

    from layers import PER_LAYER, layer_metrics
    from spans import jobs_by_span, read_event_log

    jobs = read_event_log(os.path.join(work, "eventlog"))
    values = layer_metrics(tracer.spans, jobs, bpv)
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    spans_path = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
    tracer.dump(spans_path, jobs_by_span(jobs))
    log(f"spans written to {os.path.relpath(spans_path, root)}")
    result["metrics"] = {k: {"value": values[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    return result


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["full_build", "daily_refresh"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--rows", type=int, default=DEFAULT_ROWS, help="corpus size")
    p.add_argument(
        "--corrupt-op", type=int, default=-1,
        help="corrupt the output of this primary op before its check (self-test)",
    )
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "preprocessor_spark", "plans", "rollup_job.py")):
        log("run from the root of a checkout of the engine (preprocessor_spark/ not found)")
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # everything Spark, the JVM and the python workers write stays in `work`
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(1, root)
    try:
        result = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
