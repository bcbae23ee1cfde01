"""The benchmark's `--trace 1` runs wrap engine functions from outside
(perfbench/spans.py) and read some of their arguments by name. A rename in
the engine must fail here, not in a traced benchmark run."""

import importlib.util
import inspect
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spans_module():
    spec = importlib.util.spec_from_file_location(
        "perfbench_spans", os.path.join(ROOT, "perfbench", "spans.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_tracer_wraps_the_engine_and_finds_the_arguments_it_reads(spark):
    from preprocessor_spark.rollup import checkpoint, incremental

    read_by_hooks = {
        (checkpoint, "run_resumable_observed"): {"out_path"},
        (checkpoint, "run_resumable_observed_tiers"): {"out_root", "tier_names"},
        (incremental, "read_touched_partitions"): {
            "tier_path",
            "partition_cols",
            "tuples",
        },
    }
    originals = {k: getattr(*k) for k in read_by_hooks}
    for (owner, name), params in read_by_hooks.items():
        assert params <= set(inspect.signature(getattr(owner, name)).parameters), name

    tracer = _spans_module().Tracer(spark.sparkContext)
    tracer.install()
    try:
        for key, orig in originals.items():
            assert getattr(*key) is not orig
            assert getattr(*key).__wrapped__ is orig
    finally:
        tracer.uninstall()
    for key, orig in originals.items():
        assert getattr(*key) is orig


def test_refresh_hooks_read_the_refresh_and_its_block_units(tmp_path):
    """The refresh's after-hooks read ``IncrementalRollup.partition_cols``,
    ``tree.tiers`` and ``tier_path``, and the reader's ``tier_path``,
    ``partition_cols`` and ``tuples``: run both on a tree of (source,
    block) unit dirs, with the arguments the engine's signatures bind."""
    from preprocessor_spark.rollup.incremental import (
        IncrementalRollup,
        read_touched_partitions,
    )
    from preprocessor_spark.rollup.tiers import RollupTree

    spans = _spans_module()
    inc = IncrementalRollup(RollupTree(), str(tmp_path))
    assert inc.partition_cols == ["source", "block"]
    for tier in inc.tree.tiers:
        for unit in ("source=s0/block=1", "source=s0/block=2", "source=s1/block=1"):
            os.makedirs(os.path.join(inc.tier_path(tier), unit))
    params = inspect.signature(read_touched_partitions).parameters
    assert list(params)[:3] == ["tier_path", "partition_cols", "tuples"]
    assert "spark" not in params

    span = spans.Span(0, "rollup.incremental.read_touched", 0.0, None, None)
    tier_path = inc.tier_path(inc.tree.tiers[0])
    spans._touched_counts(
        span,
        {"tier_path": tier_path, "partition_cols": inc.partition_cols,
         "tuples": [("s0", 2), ("s1", 2)]},
        None,
    )
    assert span.attrs["partitions_read"] == 1

    span = spans.Span(1, "rollup.incremental.refresh", 0.0, None, None)
    out = {t.name: {"partitions_rewritten": 2} for t in inc.tree.tiers}
    out.update(blocks_written=1, encode_rows=3, total_seconds=0.1)
    spans._refresh_counts(span, {"self": inc}, out)
    assert span.attrs == {
        "partitions_rewritten": 2 * len(inc.tree.tiers),
        "partitions_total": 3 * len(inc.tree.tiers),
    }
