"""Spans around the engine's public functions, and Spark task counters
attributed to them.

The tracer wraps public functions of the engine's modules from outside
(nothing in the engine is edited). Each wrapper records a span — name,
start, end, parent, op id — and tags the Spark jobs it submits with its own
job group, so the task counters in the Spark event log can be attributed to
the span that caused them. Spans stay in memory and are written out once,
after the session has stopped and its event log is complete.

Lazy plan-building functions (``Unbiaser.transform``, ``encode_tier_blocks``,
``merge_partials`` ...) show near-zero self time: their work runs under the
span of the action that executes the plan. Where the engine labels its own
jobs (``rollup_job`` sets the job description to ``prepare``, ``bounds``,
``tier0_5m``, ``coarse`` and ``compress``), those labels attribute the work
of its inline actions.
"""

from __future__ import annotations

import inspect
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-"


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "op", "attrs")

    def __init__(self, sid, name, start, parent, op):
        self.sid, self.name, self.start, self.parent, self.op = (
            sid, name, start, parent, op,
        )
        self.end = start
        self.attrs: dict = {}

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = None
        self._installed: list[tuple] = []

    @contextmanager
    def span(self, name: str, op=None):
        parent = self._stack[-1] if self._stack else None
        if op is not None:
            self._op = op
        s = Span(len(self.spans), name, 0.0, parent.sid if parent else None, self._op)
        self.spans.append(s)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{s.sid}")
        if parent is None:
            # a job description left on the thread by an earlier job would
            # otherwise label every later job of the op
            self.sc.setLocalProperty("spark.job.description", None)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)

    # -- wrapping the engine's public functions ---------------------------

    def _wrap(self, owner, attr: str, name: str, after=None, name_of=None):
        orig = owner.__dict__[attr]
        sig = inspect.signature(orig)
        tracer = self

        def wrapper(*args, **kwargs):
            span_name = name_of(args) if name_of else name
            with tracer.span(span_name) as s:
                out = orig(*args, **kwargs)
            if after is not None:
                # bookkeeping outside the span: it is the tracer's cost
                after(s, sig.bind(*args, **kwargs).arguments, out)
            return out

        wrapper.__wrapped__ = orig
        self._installed.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        from preprocessor_spark.operators.normalizer import Normalizer
        from preprocessor_spark.operators.splitter import TemporalSplitter
        from preprocessor_spark.operators.unbiaser import Unbiaser
        from preprocessor_spark.rollup import checkpoint, compression, incremental
        from preprocessor_spark.rollup.tiers import RollupTree

        w = self._wrap
        w(TemporalSplitter, "fit_time_boundaries", "operators.splitter.fit")
        w(Normalizer, "fit", "operators.normalizer.fit")
        w(Unbiaser, "transform", "operators.unbiaser.transform")
        w(RollupTree, "base_aggregate_with_spine_epoch", "rollup.tiers.plan")
        w(RollupTree, "reaggregate_epoch", "rollup.tiers.plan")
        w(checkpoint, "run_resumable_observed", "rollup.checkpoint.write",
          after=_count_written("out_path"))
        w(checkpoint, "run_resumable_observed_tiers", "rollup.checkpoint.write",
          after=_count_written("out_root"))
        w(checkpoint.Manifest, "mark", "rollup.checkpoint.mark")
        w(compression, "encode_tier_blocks", "rollup.compression.encode_plan",
          after=_tag_encoded)
        w(compression, "decode_tier_blocks", "rollup.compression.decode_plan")
        w(incremental.IncrementalRollup, "delta_partials",
          "rollup.incremental.partials_plan")
        w(incremental.IncrementalRollup, "refresh", "rollup.incremental.refresh",
          after=_refresh_counts)
        w(incremental, "read_touched_partitions", "rollup.incremental.read_touched",
          after=_touched_counts)
        w(incremental, "merge_partials", "rollup.incremental.merge_plan")
        w(DataFrameReader, "parquet", "sources.scan", after=_files_listed)
        w(DataFrameWriter, "parquet", "sources.write", name_of=_write_layer)

    def uninstall(self) -> None:
        while self._installed:
            owner, attr, orig = self._installed.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str, jobs_by_group: dict) -> None:
        """One JSON line per span: timing, self time and the counters of
        the Spark jobs submitted directly under it."""
        children = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        with open(path, "w") as f:
            for s in self.spans:
                rec = {
                    "id": s.sid, "name": s.name, "parent": s.parent, "op": s.op,
                    "start_s": round(s.start, 6), "end_s": round(s.end, 6),
                    "dur_s": round(s.dur, 6),
                    "self_s": round(self_time(s, children[s.sid]), 6),
                    "attrs": s.attrs,
                    "counters": sum_counters(jobs_by_group.get(s.sid, [])),
                }
                f.write(json.dumps(rec, default=str) + "\n")


def self_time(span: Span, kids: list[Span]) -> float:
    """Duration minus the part of it that child spans cover."""
    covered, cur_end = 0.0, span.start
    for k in sorted(kids, key=lambda k: k.start):
        a, b = max(k.start, cur_end), min(k.end, span.end)
        if b > a:
            covered += b - a
            cur_end = b
    return span.dur - covered


# -- post-call bookkeeping of the wrappers (runs outside the span) ----------


def _parquet_files_since(root: str, t0_epoch: float) -> int:
    n = 0
    for dp, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                try:
                    if os.path.getmtime(os.path.join(dp, f)) >= t0_epoch:
                        n += 1
                except OSError:
                    pass
    return n


def _count_written(arg: str):
    def after(span, args, _out):
        started = time.time() - (time.perf_counter() - span.start)
        root = args[arg]
        if arg == "out_root":
            n = sum(
                _parquet_files_since(os.path.join(root, f"tier_{t}"), started - 1)
                for t in args["tier_names"]
            )
        else:
            n = _parquet_files_since(root, started - 1)
        span.attrs["files_written"] = n

    return after


def _tag_encoded(_span, _args, df) -> None:
    # the write of this DataFrame is the action that runs the encoder
    df.__dict__["_perfbench_layer"] = "rollup.compression.encode"


def _write_layer(args) -> str:
    return args[0]._df.__dict__.get("_perfbench_layer", "sources.write")


def _files_listed(span, _args, df) -> None:
    span.attrs["files_listed"] = len(df.inputFiles())


def _touched_counts(span, args, _out) -> None:
    tier_path, cols = args["tier_path"], args["partition_cols"]
    span.attrs["partitions_read"] = sum(
        os.path.isdir(os.path.join(tier_path, *[f"{c}={v}" for c, v in zip(cols, t)]))
        for t in args["tuples"]
    )


def _refresh_counts(span, args, out) -> None:
    inc = args["self"]
    span.attrs["partitions_rewritten"] = sum(
        m["partitions_rewritten"] for m in out.values() if isinstance(m, dict)
    )
    depth = len(inc.partition_cols)
    total = 0
    for tier in inc.tree.tiers:
        level = [inc.tier_path(tier)]
        for _ in range(depth):
            level = [
                os.path.join(p, c)
                for p in level
                if os.path.isdir(p)
                for c in os.listdir(p)
                if "=" in c
            ]
        total += len(level)
    span.attrs["partitions_total"] = total


# -- Spark event log --------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs of the (single) application logged under ``log_dir``, each with
    its properties, times and per-task metrics. Parsed from the JSON-lines
    event log the way tools/stage_probe.py reads it, uncompressed and not
    rolled (the session is started with both switched off)."""
    files = [os.path.join(log_dir, f) for f in sorted(os.listdir(log_dir))]
    if len(files) != 1 or os.path.isdir(files[0]):
        raise RuntimeError(f"expected one plain event log in {log_dir}: {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(files[0], encoding="utf-8", errors="replace") as f:
        for line in f:
            ev = json.loads(line)
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id") or "",
                    "desc": props.get("spark.job.description") or "",
                    "start_ms": ev.get("Submission Time") or 0,
                    "end_ms": None,
                    "stages": set(),
                    "tasks": [],
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif et == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end_ms"] = ev.get("Completion Time")
            elif et == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_job:
                    jobs[stage_job[sid]]["stages"].add(sid)
            elif et == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                if sid in stage_job:
                    jobs[stage_job[sid]]["tasks"].append(_task(ev))
    return [jobs[j] for j in sorted(jobs)]


def _task(ev: dict) -> dict:
    ti = ev.get("Task Info") or {}
    tm = ev.get("Task Metrics") or {}
    srm = tm.get("Shuffle Read Metrics") or {}
    swm = tm.get("Shuffle Write Metrics") or {}
    im = tm.get("Input Metrics") or {}
    om = tm.get("Output Metrics") or {}
    dur = max(0, (ti.get("Finish Time") or 0) - (ti.get("Launch Time") or 0))
    run = tm.get("Executor Run Time", 0)
    overhead = tm.get("Executor Deserialize Time", 0) + tm.get(
        "Result Serialization Time", 0
    )
    return {
        "stage": ev.get("Stage ID"),
        "failed": (ev.get("Task End Reason") or {}).get("Reason") != "Success",
        "dur_ms": dur,
        "run_ms": run,
        "gc_ms": tm.get("JVM GC Time", 0),
        "sched_gap_ms": max(0, dur - run - overhead),
        "fetch_wait_ms": srm.get("Fetch Wait Time", 0),
        "shuffle_read_records": srm.get("Total Records Read", 0),
        "shuffle_write_bytes": swm.get("Shuffle Bytes Written", 0),
        "spill_bytes": tm.get("Disk Bytes Spilled", 0),
        "input_bytes": im.get("Bytes Read", 0),
        "input_records": im.get("Records Read", 0),
        "output_records": om.get("Records Written", 0),
    }


def sum_counters(jobs: list[dict]) -> dict:
    tasks = [t for j in jobs for t in j["tasks"]]
    out = {
        "jobs": len(jobs),
        "stages": sum(len(j["stages"]) for j in jobs),
        "tasks": len(tasks),
        "failed_tasks": sum(t["failed"] for t in tasks),
    }
    for k in ("gc_ms", "fetch_wait_ms", "sched_gap_ms", "shuffle_read_records",
              "shuffle_write_bytes", "spill_bytes", "input_bytes",
              "input_records", "output_records", "run_ms"):
        out[k] = sum(t[k] for t in tasks)
    return out


def jobs_by_span(jobs: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = defaultdict(list)
    for j in jobs:
        if j["group"].startswith(GROUP_PREFIX):
            out[int(j["group"][len(GROUP_PREFIX):])].append(j)
    return out


def phase_wall_s(jobs: list[dict]) -> float:
    """First submission to last completion of a set of jobs."""
    spans = [(j["start_ms"], j["end_ms"]) for j in jobs if j["end_ms"]]
    if not spans:
        return 0.0
    return (max(e for _, e in spans) - min(s for s, _ in spans)) / 1000


def task_skew(jobs: list[dict]) -> float:
    """max / median task time in the stage of ``jobs`` that ran longest."""
    by_stage: dict[int, list[int]] = defaultdict(list)
    for j in jobs:
        for t in j["tasks"]:
            by_stage[t["stage"]].append(t["dur_ms"])
    if not by_stage:
        return 0.0
    durs = max(by_stage.values(), key=sum)
    med = statistics.median(durs)
    return max(durs) / med if med else 0.0
