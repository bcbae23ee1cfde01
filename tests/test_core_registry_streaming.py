"""PreprocessorCore facade (EP3 parity) and stage registry (§2.10)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from preprocessor_spark.core import PreprocessorCore
from preprocessor_spark.registry import StageRegistry

RNG = np.random.default_rng(42)


@pytest.fixture(scope="module")
def raw_pdf():
    n = 600
    return pd.DataFrame(
        {
            "ts": pd.date_range("2020-01-01", periods=n, freq="min"),
            "open": RNG.normal(100, 5, n),
            "close": RNG.normal(100, 5, n),
            "label": [f"r{i}" for i in range(n)],
        }
    )


def test_core_end_to_end(spark, raw_pdf, tmp_path):
    core = PreprocessorCore(
        spark,
        config={"normalization_columns": ["open", "close"], "tiebreak_cols": ["label"]},
        feature_stages=[
            lambda df: df.withColumn("spread", F.col("close") - F.col("open"))
        ],
        post_stages=[lambda df: df.withColumn("quality_flag", F.lit(1))],
    )
    out = core.load(spark.createDataFrame(raw_pdf)).process()
    assert out.count() == 600
    assert {"split_id", "spread", "quality_flag"} <= set(out.columns)
    # train splits normalized: mean≈0 on d1+d2
    train = out.filter(F.col("split_id").isin("d1", "d2"))
    mu = train.agg(F.mean("open")).collect()[0][0]
    assert abs(mu) < 0.1
    core.export(str(tmp_path))
    back = spark.read.parquet(str(tmp_path / "splits"))
    assert back.count() == 600
    status = core.get_processing_status()
    assert status["status"] == "processed" and status["normalization_fitted"]
    assert len(core.get_processing_history()) == 2  # one FE + one PP stage


def test_core_reuses_loaded_params(spark, raw_pdf, tmp_path):
    core1 = PreprocessorCore(spark, config={"normalization_columns": ["open"]})
    core1.load(spark.createDataFrame(raw_pdf)).process()
    core1.export(str(tmp_path))
    # second run with persisted params: fit skipped (reference :456-466)
    core2 = PreprocessorCore(spark, config={"normalization_columns": ["open"]})
    core2.load_normalization_params(str(tmp_path / "norm_params.json"))
    core2.load(spark.createDataFrame(raw_pdf)).process()
    assert (
        core2._norm_params.params["per_column"]
        == core1._norm_params.params["per_column"]
    )


def test_core_failure_isolation(spark, raw_pdf):
    def bad_stage(df):
        raise RuntimeError("boom")

    core = PreprocessorCore(
        spark,
        config={"normalization_columns": ["open"]},
        feature_stages=[bad_stage],
    )
    out = core.load(spark.createDataFrame(raw_pdf)).process()
    assert out.count() == 600  # bad stage skipped, pipeline continued
    hist = core.get_processing_history()
    assert any(m["error"] for m in hist)


def test_registry_topological_order_and_cycles():
    reg = StageRegistry()
    reg.register("c", lambda df: df, depends_on=["b"])
    reg.register("b", lambda df: df, depends_on=["a"])
    reg.register("a", lambda df: df)
    reg.register("z", lambda df: df)
    order = [s.name for s in reg.load_order(["c", "z"])]
    assert order.index("a") < order.index("b") < order.index("c")
    assert "z" in order
    with pytest.raises(ValueError):
        reg.register("c", lambda df: df)  # duplicate
    reg2 = StageRegistry()
    reg2.register("x", lambda df: df, depends_on=["y"])
    reg2.register("y", lambda df: df, depends_on=["x"])
    with pytest.raises(ValueError, match="cycle"):
        reg2.load_order()


def test_validation_rules_gate_load(spark):
    """Reference rule set (data_handler.py:492-539): missing-%, duplicate-%,
    dtype whitelist and min_rows enforced at load, all violations listed."""
    from preprocessor_spark.operators.metadata import validate_dataset

    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2020-01-01", periods=20, freq="min"),
            "v": [None] * 15 + [1.0] * 5,  # 37.5% of all cells missing > 30%
        }
    )
    df = spark.createDataFrame(pdf)
    errs = validate_dataset(df, {"max_missing_percentage": 30.0, "min_rows": 10})
    assert any("missing" in e.lower() for e in errs)
    # duplicate gate
    dup = spark.createDataFrame(pd.DataFrame({"v": [1.0] * 9 + [2.0]}))
    errs = validate_dataset(dup, {"min_rows": 1, "max_duplicate_percentage": 25.0})
    assert any("duplicate" in e.lower() for e in errs)
    # dtype whitelist
    errs = validate_dataset(
        df, {"min_rows": 1, "allowed_data_types": ["double"]}
    )
    assert any("ts" in e for e in errs)
    # clean data passes defaults
    clean = spark.createDataFrame(
        pd.DataFrame({"v": [float(i) for i in range(30)]})
    )
    assert validate_dataset(clean) == []


def test_core_load_records_validation_like_reference(spark):
    """Reference load_data records validation errors and still returns the
    data (data_handler.py:157-166); only min_rows is fatal by default, and
    strict_validation=True upgrades every violation to a raise."""
    dup = spark.createDataFrame(pd.DataFrame({"v": [1.0] * 19 + [2.0]}))
    core = PreprocessorCore(spark, config={"min_rows": 5})
    core.load(dup)  # >25% duplicate rows: recorded, NOT fatal
    assert core.validation_errors
    assert core.validation_status == "invalid"
    assert core.get_processing_status()["status"] == "loaded"

    strict = PreprocessorCore(
        spark, config={"min_rows": 5, "strict_validation": True}
    )
    with pytest.raises(ValueError, match="duplicate"):
        strict.load(dup)

    # min_rows floor stays fatal regardless of strictness
    tiny = spark.createDataFrame(pd.DataFrame({"v": [1.0, 2.0]}))
    with pytest.raises(ValueError, match="Insufficient rows"):
        PreprocessorCore(spark, config={"min_rows": 5}).load(tiny)

    # explicit None disables the data-pass gates
    core2 = PreprocessorCore(
        spark, config={"min_rows": 5, "validation_rules": None}
    )
    core2.load(dup)
    assert core2.validation_errors == []
    assert core2.validation_status == "valid"


def test_pipeline_output_contracts(spark, raw_pdf):
    """FE contract (feature_engineering_plugin_base.py:227-266): stages must
    preserve rows and keep a column superset; violations isolate like
    failures."""
    from preprocessor_spark.pipeline import Pipeline

    df = spark.createDataFrame(raw_pdf)
    ok = lambda d: d.withColumn("extra", F.col("open") * 2)  # noqa: E731
    drops_col = lambda d: d.drop("close")  # noqa: E731
    drops_rows = lambda d: d.filter(F.col("open") > 100)  # noqa: E731

    strict = Pipeline(enforce_contracts=True)
    strict.stages = [ok]
    out = strict.run(df)
    assert out.count() == len(raw_pdf) and "extra" in out.columns

    for bad, msg in ((drops_col, "column-superset"), (drops_rows, "row-preservation")):
        p = Pipeline(enforce_contracts=True)
        p.stages = [bad]
        with pytest.raises((ValueError, TypeError), match=msg):
            p.run(df)

    # isolate_failures: violating stage is skipped, input passes through
    iso = Pipeline(enforce_contracts=True, isolate_failures=True)
    iso.stages = [drops_col, ok]
    out = iso.run(df)
    assert "close" in out.columns and "extra" in out.columns
    assert iso.metrics[0].error and "column-superset" in iso.metrics[0].error


def test_content_format_sniffing(spark, tmp_path):
    """S2 content sniffing (data_handler.py:212-244): unknown/ambiguous
    extensions resolve by examining the first lines."""
    from preprocessor_spark.sources.io import detect_format, load_data

    j = tmp_path / "data.dat"
    j.write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n')
    assert detect_format(str(j)) == "json"
    assert load_data(spark, str(j)).count() == 2

    c = tmp_path / "table.unknownext"
    c.write_text("a,b\n1,x\n2,y\n")
    assert detect_format(str(c)) == "csv"
    assert load_data(spark, str(c)).count() == 2

    p = tmp_path / "weird.dat2"
    spark.range(3).toPandas().to_parquet(tmp_path / "inner.parquet")
    import shutil as _sh

    _sh.copy(tmp_path / "inner.parquet", p)
    assert detect_format(str(p)) == "parquet"

    bad = tmp_path / "noise.xyz"
    bad.write_text("no separators here\njust words\n")
    with pytest.raises(ValueError, match="unsupported extension"):
        detect_format(str(bad))


def test_duplicate_depends_on_is_not_a_cycle():
    """A duplicate name in depends_on must not inflate the topo-sort
    in-degree into a spurious 'dependency cycle' error."""
    from preprocessor_spark.registry import StageRegistry

    reg = StageRegistry()
    reg.register("a", lambda df: df)
    reg.register("b", lambda df: df, depends_on=["a", "a"])
    assert [s.name for s in reg.load_order()] == ["a", "b"]


def test_core_none_normalization_is_a_passthrough(spark, raw_pdf, tmp_path):
    """--normalization-method none (CLI-advertised) must skip the fit AND
    the transform — previously it crashed the modern pipeline (Normalizer
    rejects 'none') and silently applied zscore in legacy plugin mode."""
    core = PreprocessorCore(
        spark,
        config={
            "normalization_method": "none",
            "normalization_columns": ["open"],
            "tiebreak_cols": ["label"],
        },
    )
    out = core.load(spark.createDataFrame(raw_pdf)).process()
    src = spark.createDataFrame(raw_pdf)
    assert (
        out.agg(F.round(F.sum("open"), 6)).collect()[0][0]
        == src.agg(F.round(F.sum("open"), 6)).collect()[0][0]
    )
    assert core.get_processing_status()["normalization_fitted"] is False
    core.export(str(tmp_path / "none_out"))  # must not require norm params
    import os

    assert not os.path.exists(str(tmp_path / "none_out" / "norm_params.json"))

    # loaded params + method 'none': the transform still never runs, so
    # export must NOT publish a params artifact implying it did
    fitted = PreprocessorCore(
        spark,
        config={
            "normalization_method": "zscore",
            "normalization_columns": ["open"],
            "tiebreak_cols": ["label"],
        },
    )
    fitted.load(spark.createDataFrame(raw_pdf)).process()
    fitted.export(str(tmp_path / "zs_out"))
    loaded_none = PreprocessorCore(
        spark,
        config={
            "normalization_method": "none",
            "normalization_columns": ["open"],
            "tiebreak_cols": ["label"],
        },
    )
    loaded_none.load_normalization_params(
        str(tmp_path / "zs_out" / "norm_params.json")
    )
    out2 = loaded_none.load(spark.createDataFrame(raw_pdf)).process()
    assert (
        out2.agg(F.round(F.sum("open"), 6)).collect()[0][0]
        == src.agg(F.round(F.sum("open"), 6)).collect()[0][0]
    )
    loaded_none.export(str(tmp_path / "none_loaded_out"))
    assert not os.path.exists(
        str(tmp_path / "none_loaded_out" / "norm_params.json")
    )


def test_core_reload_invalidates_fitted_params(spark, raw_pdf):
    """process() after loading NEW data must re-fit: reusing the previous
    load's fitted means/stds would silently normalize the new table with
    the old table's statistics. Explicitly user-loaded params survive."""
    core = PreprocessorCore(
        spark, config={"normalization_columns": ["open"], "tiebreak_cols": ["label"]}
    )
    core.load(spark.createDataFrame(raw_pdf)).process()
    first = core._norm_params
    shifted = raw_pdf.copy()
    shifted["open"] = shifted["open"] + 1000.0
    out2 = core.load(spark.createDataFrame(shifted)).process()
    assert core._norm_params is not first  # re-fitted on the new data
    mu = (
        out2.filter(F.col("split_id").isin("d1", "d2"))
        .agg(F.mean("open"))
        .collect()[0][0]
    )
    assert abs(mu) < 0.1  # normalized with the NEW stats, not the old


def test_registry_empty_wanted_is_empty_plan_and_unknown_names_are_clear():
    """load_order([]) must be an EMPTY plan (a dynamically filtered list
    that ends up empty must not expand to every registered stage), None
    means all stages, and an unknown requested name gets a clear error,
    not a bare KeyError."""
    import pytest as pt

    from preprocessor_spark.registry import StageRegistry

    reg = StageRegistry()
    reg.register("a")(lambda df: df)
    reg.register("b", depends_on=["a"])(lambda df: df)
    assert reg.load_order([]) == []
    assert [s.name for s in reg.load_order()] == ["a", "b"]
    with pt.raises(ValueError, match="unknown stage"):
        reg.load_order(["typo"])
