"""Per-layer metrics of a traced run, computed from its spans and the Spark
jobs attributed to them. Layer timings and counts are per traced primary op
(a build or a refresh), the read-side ones per traced query. README.md maps
each to the end-to-end metric it should move."""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import jobs_by_span, phase_wall_s, sum_counters, task_skew

# name -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "operators.splitter.fit_s": "s",
    "operators.normalizer.fit_s": "s",
    "operators.unbiaser.prepare_s": "s",
    "operators.unbiaser.shuffle_bytes": "bytes",
    "operators.unbiaser.spill_bytes": "bytes",
    "rollup.tiers.bounds_s": "s",
    "rollup.tiers.tier0_s": "s",
    "rollup.tiers.coarse_s": "s",
    "rollup.tiers.in_rows": "count",
    "rollup.tiers.out_rows": "count",
    "rollup.tiers.shuffle_bytes": "bytes",
    "rollup.tiers.task_skew": "ratio",
    "rollup.checkpoint.write_s": "s",
    "rollup.checkpoint.files_written": "count",
    "rollup.compression.encode_s": "s",
    "rollup.compression.encode_rows": "count",
    "rollup.compression.decode_s": "s",
    "rollup.compression.bytes_per_value": "bytes",
    "rollup.incremental.partials_s": "s",
    "rollup.incremental.merge_write_s": "s",
    "rollup.incremental.partitions_read": "count",
    "rollup.incremental.partitions_rewritten": "count",
    "rollup.incremental.rewrite_ratio": "ratio",
    "sources.scan_s": "s",
    "sources.bytes_read": "bytes",
    "sources.files_listed": "count",
    "sources.query_scan_s": "s",
    "sources.query_bytes_read": "bytes",
    "sources.query_files_listed": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.gc_s": "s",
    "spark.fetch_wait_s": "s",
    "spark.sched_gap_s": "s",
    "spark.query_jobs": "count",
    "spark.query_stages": "count",
    "spark.query_tasks": "count",
    "spark.query_sched_gap_s": "s",
    "bench.op_traced_ms": "ms",
    "bench.op_untraced_ms": "ms",
    "bench.op_trace_overhead_ms": "ms",
    "bench.query_traced_ms": "ms",
    "bench.query_untraced_ms": "ms",
    "bench.query_trace_overhead_ms": "ms",
}

# the counts that must repeat exactly between two traced runs of one seed
EXACT_COUNTS = (
    "spark.jobs", "spark.stages", "spark.tasks",
    "spark.query_jobs", "spark.query_stages", "spark.query_tasks",
    "rollup.incremental.partitions_rewritten",
)
# query counters come from the first traced kind cycle only (cycle 1; cycle
# 0 is untraced), which every traced run completes, so that the same seed
# (the same query sequence) gives the same counts however many queries a run
# completes
COUNTED_CYCLE = 1
TIER0 = "tier0_5m"


def layer_metrics(spans, jobs: list[dict], bytes_per_value: float) -> dict[str, float]:
    direct = jobs_by_span(jobs)
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)

    def subtree(root):
        out, stack = [], [root]
        while stack:
            s = stack.pop()
            out.append(s)
            stack.extend(kids[s.sid])
        return out

    def under(op, name=None):
        return [s for s in subtree(op) if name is None or s.name == name]

    def op_jobs(op):
        return [j for s in subtree(op) for j in direct.get(s.sid, [])]

    def phase(op, *descs):
        return [j for j in op_jobs(op) if j["desc"] in descs]

    def dur(op, name):
        return sum(s.dur for s in under(op, name))

    def attr(op, name, key):
        return sum(s.attrs.get(key, 0) for s in under(op, name))

    def counters(op):
        return sum_counters(op_jobs(op))

    roots = [s for s in spans if s.parent is None]
    prim = [s for s in roots if s.name == "op.primary" and s.attrs["traced"]]
    queries = [s for s in roots if s.name == "op.query" and s.attrs["traced"]]
    q5m = [s for s in queries if s.attrs["kind"] == "5m"]

    def mean(ops, fn):
        return statistics.fmean(fn(o) for o in ops) if ops else 0.0

    def ckpt_s(op):
        return sum(
            s.dur for s in under(op)
            if s.name.startswith("rollup.checkpoint.")
            and not spans[s.parent].name.startswith("rollup.checkpoint.")
        )

    def encode_rows(op):
        return sum(
            sum_counters(op_jobs(s))["shuffle_read_records"]
            for s in under(op, "rollup.compression.encode")
        )

    def incremental_split(op):
        partials = merge = 0.0
        for r in under(op, "rollup.incremental.refresh"):
            writes = [s.start for s in subtree(r) if s.name == "sources.write"]
            w0 = min(writes, default=r.end)
            partials += w0 - r.start
            merge += r.end - w0
        return partials, merge

    def ratio(op):
        total = attr(op, "rollup.incremental.refresh", "partitions_total")
        rewritten = attr(op, "rollup.incremental.refresh", "partitions_rewritten")
        return rewritten / total if total else 0.0

    m = {
        "operators.splitter.fit_s": mean(prim, lambda o: dur(o, "operators.splitter.fit")),
        "operators.normalizer.fit_s": mean(prim, lambda o: dur(o, "operators.normalizer.fit")),
        "operators.unbiaser.prepare_s": mean(prim, lambda o: phase_wall_s(phase(o, "prepare"))),
        "operators.unbiaser.shuffle_bytes": mean(
            prim, lambda o: sum_counters(phase(o, "prepare"))["shuffle_write_bytes"]),
        "operators.unbiaser.spill_bytes": mean(
            prim, lambda o: sum_counters(phase(o, "prepare"))["spill_bytes"]),
        "rollup.tiers.bounds_s": mean(prim, lambda o: phase_wall_s(phase(o, "bounds"))),
        "rollup.tiers.tier0_s": mean(prim, lambda o: phase_wall_s(phase(o, TIER0))),
        "rollup.tiers.coarse_s": mean(prim, lambda o: phase_wall_s(phase(o, "coarse"))),
        "rollup.tiers.in_rows": mean(
            prim, lambda o: sum_counters(phase(o, TIER0))["input_records"]),
        "rollup.tiers.out_rows": mean(
            prim, lambda o: sum_counters(phase(o, TIER0, "coarse"))["output_records"]),
        "rollup.tiers.shuffle_bytes": mean(
            prim, lambda o: sum_counters(phase(o, "bounds", TIER0, "coarse"))["shuffle_write_bytes"]),
        "rollup.tiers.task_skew": mean(prim, lambda o: task_skew(phase(o, TIER0))),
        "rollup.checkpoint.write_s": mean(prim, ckpt_s),
        "rollup.checkpoint.files_written": mean(
            prim, lambda o: attr(o, "rollup.checkpoint.write", "files_written")),
        "rollup.compression.encode_s": mean(prim, lambda o: dur(o, "rollup.compression.encode")),
        "rollup.compression.encode_rows": mean(prim, encode_rows),
        "rollup.compression.decode_s": mean(q5m, lambda o: dur(o, "rollup.compression.decode")),
        "rollup.compression.bytes_per_value": bytes_per_value,
        "rollup.incremental.partials_s": mean(prim, lambda o: incremental_split(o)[0]),
        "rollup.incremental.merge_write_s": mean(prim, lambda o: incremental_split(o)[1]),
        "rollup.incremental.partitions_read": mean(
            prim, lambda o: attr(o, "rollup.incremental.read_touched", "partitions_read")),
        "rollup.incremental.partitions_rewritten": mean(
            prim, lambda o: attr(o, "rollup.incremental.refresh", "partitions_rewritten")),
        "rollup.incremental.rewrite_ratio": mean(prim, ratio),
        "sources.scan_s": mean(prim, lambda o: dur(o, "sources.scan")),
        "sources.bytes_read": mean(prim, lambda o: counters(o)["input_bytes"]),
        "sources.files_listed": mean(prim, lambda o: attr(o, "sources.scan", "files_listed")),
        "sources.query_scan_s": mean(queries, lambda o: dur(o, "sources.scan")),
        "sources.query_bytes_read": mean(queries, lambda o: counters(o)["input_bytes"]),
        "sources.query_files_listed": mean(
            queries, lambda o: attr(o, "sources.scan", "files_listed")),
    }
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"spark.{k}"] = mean(prim, lambda o: counters(o)[k])
    for k in ("gc", "fetch_wait", "sched_gap"):
        m[f"spark.{k}_s"] = mean(prim, lambda o: counters(o)[f"{k}_ms"] / 1000)
    counted = [q for q in queries if q.attrs["cycle"] == COUNTED_CYCLE]
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.query_{k}"] = mean(counted, lambda o: counters(o)[k])
    m["spark.query_sched_gap_s"] = mean(counted, lambda o: counters(o)["sched_gap_ms"] / 1000)

    # tracing overhead: traced against untraced ops of the same kind. Primary
    # ops run untraced (the process's first, cold op), traced, untraced: the
    # traced op is compared with the untraced op after it, both following
    # the cold one. Queries are compared per position in the kind cycle (the
    # same kind), then averaged over the positions.
    def medians(ops):
        t = [s.dur * 1000 for s in ops if s.attrs["traced"]]
        u = [s.dur * 1000 for s in ops if not s.attrs["traced"]]
        return (statistics.median(t), statistics.median(u)) if t and u else None

    ok = [s for s in roots if s.attrs["ok"]]
    by_pos = defaultdict(list)
    for s in ok:
        if s.name == "op.query":
            by_pos[s.attrs["pos"]].append(s)
    pairs = {
        "op": [medians([s for s in ok if s.name == "op.primary" and s.attrs["i"] > 0])],
        "query": [medians(qs) for qs in by_pos.values()],
    }
    for prefix, got in pairs.items():
        got = [tu for tu in got if tu is not None]
        t = statistics.fmean(t for t, _ in got) if got else 0.0
        u = statistics.fmean(u for _, u in got) if got else 0.0
        m[f"bench.{prefix}_traced_ms"] = t
        m[f"bench.{prefix}_untraced_ms"] = u
        m[f"bench.{prefix}_trace_overhead_ms"] = t - u
    return m
