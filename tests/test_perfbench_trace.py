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
