"""CLI contract — reference EP1 (pipeline) and EP2 (legacy single-plugin)
flows through ``python -m preprocessor_spark`` / ``cli.main``."""

import json
import os

import pandas as pd
import pytest

from preprocessor_spark import cli


@pytest.fixture(scope="module")
def csv_input(spark, tmp_path_factory):
    # legacy-shaped CSV: first column a dayfirst timestamp (S1 convention)
    work = tmp_path_factory.mktemp("cli")
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=400, freq="min").strftime(
                "%Y-%m-%d %H:%M:%S"
            ),
            "open": 1.0 + pd.Series(range(400)) * 0.01,
            "close": 2.0 + pd.Series(range(400)) * 0.01,
        }
    )
    path = work / "input.csv"
    pdf.to_csv(path, index=False)
    return str(path)


def test_dry_run_validates_config(capsys, csv_input):
    rc = cli.main([csv_input, "--dry-run", "--split-ratios", "0.5,0.1,0.1,0.1,0.1,0.1"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert out["status"] == "config-valid"
    assert out["config"]["split_ratios"]["d1"] == 0.5


def test_bad_ratios_rejected(csv_input):
    with pytest.raises(SystemExit):
        cli.main([csv_input, "--dry-run", "--split-ratios", "0.5,0.5"])


def test_validate_only(capsys, csv_input, spark):
    rc = cli.main([csv_input, "--validate-only"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert out["status"] == "input-valid" and out["rows"] == 400


def test_pipeline_mode_end_to_end(capsys, csv_input, tmp_path, spark):
    outdir = str(tmp_path / "out")
    rc = cli.main(
        [
            csv_input,
            "--output-dir",
            outdir,
            "--time-col",
            "ts",
            "--normalization-method",
            "zscore",
            "--output-format",
            "parquet",
        ]
    )
    assert rc == 0
    res = json.loads(capsys.readouterr().out)
    assert res["status"] == "done" and res["mode"] == "pipeline"
    assert os.path.exists(os.path.join(outdir, "norm_params.json"))
    assert os.path.exists(os.path.join(outdir, "split_params.json"))
    splits = spark.read.parquet(os.path.join(outdir, "splits"))
    assert splits.count() == 400
    assert "split_id" in splits.columns


def test_legacy_plugin_mode_unbiaser(capsys, csv_input, tmp_path, spark):
    outdir = str(tmp_path / "leg")
    rc = cli.main(
        [
            csv_input,
            "--plugin",
            "unbiaser",
            "--unbias-method",
            "ma",
            "--window-size",
            "3",
            "--time-col",
            "ts",
            "--output-dir",
            outdir,
            "--output-format",
            "parquet",
        ]
    )
    assert rc == 0
    res = json.loads(capsys.readouterr().out)
    assert res["mode"] == "legacy" and res["plugin"] == "unbiaser"
    out = spark.read.parquet(os.path.join(outdir, "output")).toPandas()
    # MA residual of a linear ramp: after warmup the residual is constant
    # (x_t - mean(x_{t-2..t}) = slope for window 3 on an arithmetic series)
    vals = out.sort_values("ts")["close"].to_numpy()
    assert abs(vals[-1] - 0.01) < 1e-9


def test_legacy_normalizer_none_writes_passthrough_params(
    capsys, csv_input, tmp_path, spark
):
    """--normalization-method none leaves the data untouched AND still
    writes the per-plugin params artifact: a passthrough record (method
    'none', no stats) that chained legacy workflows can load."""
    from preprocessor_spark.params import load_params

    outdir = str(tmp_path / "none")
    rc = cli.main(
        [
            csv_input,
            "--plugin",
            "normalizer",
            "--normalization-method",
            "none",
            "--output-dir",
            outdir,
            "--output-format",
            "parquet",
        ]
    )
    assert rc == 0
    assert json.loads(capsys.readouterr().out)["plugin"] == "normalizer"
    params = load_params(os.path.join(outdir, "normalizer_params.json"))
    assert params.method == "none"
    assert params.params["per_column"] == {}
    out = spark.read.parquet(os.path.join(outdir, "output")).toPandas()
    assert abs(out.sort_values("ts")["close"].iloc[-1] - 5.99) < 1e-9


def test_save_config_writes_merged(tmp_path, csv_input):
    cfg_path = str(tmp_path / "cfg.json")
    cli.main(
        [
            csv_input,
            "--dry-run",
            "--save-config",
            cfg_path,
            "--normalization-method",
            "minmax",
        ]
    )
    saved = json.load(open(cfg_path))
    assert saved["normalization_method"] == "minmax"


def test_config_file_split_method_not_clobbered(tmp_path, csv_input):
    """Config-file values survive when the flag is not explicitly given
    (reference precedence: defaults < file < explicit CLI flags)."""
    cfgf = tmp_path / "cfg.json"
    cfgf.write_text(json.dumps({"split_method": "shuffle", "seed": 7}))
    args = cli.build_parser().parse_args([csv_input, "--config", str(cfgf)])
    cfg = cli.merge_config(args)
    assert cfg["split_method"] == "shuffle"
    assert cfg["seed"] == 7
    # explicit flag still wins over the file
    args2 = cli.build_parser().parse_args(
        [csv_input, "--config", str(cfgf), "--split-method", "temporal", "--seed", "9"]
    )
    cfg2 = cli.merge_config(args2)
    assert cfg2["split_method"] == "temporal" and cfg2["seed"] == 9


def test_split_method_shuffle_reaches_splitter(spark):
    """--split-method shuffle must actually produce a shuffled (non-temporal)
    split in the pipeline core, with exact counts preserved."""
    from preprocessor_spark.core import PreprocessorCore
    from preprocessor_spark.operators.splitter import split_counts

    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=500, freq="min"),
            "v": [float(i) for i in range(500)],
        }
    )
    df = spark.createDataFrame(pdf)
    core = PreprocessorCore(
        spark,
        config={"split_method": "shuffle", "seed": 3, "time_col": "ts"},
    )
    core.load(df)
    labeled = core.process()
    got = {
        r["split_id"]: r["count"]
        for r in labeled.groupBy("split_id").count().collect()
    }
    assert got == split_counts(500, core.config["split_ratios"])
    # shuffled: d1 is NOT the temporally-first contiguous half
    d1_max = labeled.filter("split_id = 'd1'").agg({"ts": "max"}).collect()[0][0]
    not_d1_min = labeled.filter("split_id != 'd1'").agg({"ts": "min"}).collect()[0][0]
    assert d1_max > not_d1_min, "shuffle flag silently produced a temporal split"
