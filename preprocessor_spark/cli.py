"""Command-line interface — reference EP1 (modern pipeline CLI,
app/cli.py:52-252,343-436) and EP2 (legacy single-plugin CLI,
app/data_processor.py:3-24) re-expressed over the Spark engine.

Config precedence matches the reference's merger
(app/config_merger.py:18-57), lowest → highest:
  engine defaults → --config JSON file → explicit CLI flags.

Modern mode (default): load → [plugins] → split → normalize(train-only
fit) → [post-plugins] → export splits + params + metadata.

Legacy mode (--plugin NAME): load → ONE operator → write, with
per-operator params from the remaining flags — mirroring
``run_preprocessor_pipeline`` (one operator per invocation, chained via
saved params).

Run: ``python -m preprocessor_spark <input> [flags]`` or programmatically
``cli.main([...])``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from typing import Any

SPLIT_KEYS = ["d1", "d2", "d3", "d4", "d5", "d6"]

# builtin single-plugin registry — mirrors the reference's entry-point set
# (setup.py:11-18: default_plugin, normalizer, unbiaser, trimmer,
# feature_selector, cleaner)
LEGACY_PLUGINS = (
    "normalizer",
    "unbiaser",
    "trimmer",
    "feature_selector",
    "cleaner",
)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="preprocessor_spark",
        description="PySpark-native time-series preprocessing + rollup engine",
    )
    p.add_argument("input", help="input path (csv/tsv/parquet/json/jsonl dir or file)")
    p.add_argument("--config", help="JSON config file (merged below CLI flags)")
    p.add_argument("--output-dir", default="processed_out")
    p.add_argument(
        "--output-format", choices=["csv", "parquet", "json"], default=None
    )
    p.add_argument("--master", default=None, help="Spark master (default local[$SPARK_GRAFT_CPUS])")
    # split
    p.add_argument(
        "--split-ratios",
        default=None,
        help="six comma-separated ratios for d1..d6 (sum to 1.0)",
    )
    # None sentinels: only explicit flags override config-file values
    # (reference precedence, app/config_merger.py:18-57)
    p.add_argument(
        "--split-method", choices=["temporal", "shuffle"], default=None
    )
    p.add_argument("--time-col", default=None)
    p.add_argument("--tiebreak-cols", default=None, help="comma-separated")
    p.add_argument("--seed", type=int, default=None)
    # normalization
    p.add_argument(
        "--normalization-method",
        choices=["zscore", "minmax", "none"],
        default=None,
    )
    p.add_argument("--normalization-columns", default=None, help="comma-separated")
    p.add_argument("--exclude-features", default=None, help="comma-separated")
    p.add_argument("--training-datasets", default=None, help="e.g. d1,d2")
    p.add_argument("--load-normalization-params", default=None)
    # validation / introspection
    p.add_argument("--dry-run", action="store_true", help="validate config, do nothing")
    p.add_argument(
        "--validate-only", action="store_true", help="load + validate input, no processing"
    )
    p.add_argument("--save-config", default=None, help="write the merged config as JSON")
    # S8 remote HTTP config/log (reference app/main.py:18-67). The remote
    # config takes the FILE layer's place in the precedence chain when both
    # are given (defaults < remote < CLI flags), mirroring the reference.
    p.add_argument(
        "--remote-load-config", default=None, help="GET the config JSON from this URL"
    )
    p.add_argument(
        "--remote-save-config",
        default=None,
        help="POST the merged (non-default) config to this URL after the run",
    )
    p.add_argument(
        "--remote-log", default=None, help="POST config + run status to this URL"
    )
    p.add_argument("--remote-username", default=None)
    p.add_argument("--remote-password", default=None)
    # legacy single-plugin mode (EP2)
    p.add_argument("--plugin", choices=LEGACY_PLUGINS, default=None)
    p.add_argument("--window-size", type=int, default=5)
    p.add_argument("--ema-alpha", type=float, default=0.1)
    p.add_argument("--unbias-method", choices=["ma", "ema"], default="ma")
    p.add_argument("--trim-columns", default=None, help="comma-separated column indices")
    p.add_argument("--trim-rows", default=None, help="comma-separated row positions")
    p.add_argument("--select-columns", default=None, help="comma-separated names/indices")
    p.add_argument(
        "--cleaner-method", choices=["interpolate", "drop"], default="interpolate"
    )
    p.add_argument("--outlier-threshold", type=float, default=3.0)
    p.add_argument("--period-minutes", type=int, default=None)
    return p


def _csv_list(s: str | None) -> list[str] | None:
    return [x.strip() for x in s.split(",") if x.strip()] if s else None


def merge_config(args: argparse.Namespace) -> dict[str, Any]:
    """defaults < file < CLI (reference app/config_merger.py:18-57)."""
    from preprocessor_spark.core import DEFAULT_CONFIG

    cfg = dict(DEFAULT_CONFIG)
    if getattr(args, "remote_load_config", None):
        from preprocessor_spark.sources.remote import remote_load_config

        remote = remote_load_config(
            args.remote_load_config, args.remote_username, args.remote_password
        )
        if remote is not None:
            cfg.update(remote)
    elif args.config:
        with open(args.config) as f:
            cfg.update(json.load(f))
    if args.split_ratios:
        vals = [float(x) for x in args.split_ratios.split(",")]
        if len(vals) != 6:
            raise SystemExit("--split-ratios needs exactly six values")
        cfg["split_ratios"] = dict(zip(SPLIT_KEYS, vals))
    if args.time_col:
        cfg["time_col"] = args.time_col
    if args.tiebreak_cols:
        cfg["tiebreak_cols"] = _csv_list(args.tiebreak_cols)
    if args.normalization_method:
        cfg["normalization_method"] = args.normalization_method
    if args.normalization_columns:
        cfg["normalization_columns"] = _csv_list(args.normalization_columns)
    if args.exclude_features:
        cfg["exclude_features"] = _csv_list(args.exclude_features)
    if args.training_datasets:
        cfg["training_datasets"] = _csv_list(args.training_datasets)
    if args.output_format:
        cfg["output_format"] = args.output_format
    if args.split_method is not None:
        cfg["split_method"] = args.split_method
    if args.seed is not None:
        cfg["seed"] = args.seed
    return cfg


def _legacy_operator(args: argparse.Namespace, cfg: dict):
    """EP2: one configured operator per invocation."""
    from preprocessor_spark.operators import (
        Cleaner,
        FeatureSelector,
        Normalizer,
        Trimmer,
        Unbiaser,
    )

    name = args.plugin
    tc = cfg["time_col"]
    if name == "normalizer":
        if cfg["normalization_method"] == "none":
            # 'none' means DON'T normalize — mapping it to zscore (the old
            # behavior) silently transformed data the user asked to leave
            # untouched. It still "fits" a passthrough params record, so
            # the run writes normalizer_params.json like every other method
            # and chained legacy workflows find their params artifact.
            from preprocessor_spark.params import StageParams

            class _Identity:
                def fit(self, df):
                    return StageParams(
                        stage="normalizer",
                        method="none",
                        params={"columns": [], "per_column": {}},
                    )

                def transform(self, df, params=None):
                    return df

            return _Identity()
        return Normalizer(
            method=cfg["normalization_method"],
            columns=cfg["normalization_columns"],
            exclude=cfg["exclude_features"],
        )
    if name == "unbiaser":
        return Unbiaser(
            method=args.unbias_method,
            window_size=args.window_size,
            ema_alpha=args.ema_alpha,
            time_col=tc,
            tiebreak_cols=cfg["tiebreak_cols"],
        )
    if name == "trimmer":
        return Trimmer(
            columns=[int(i) for i in _csv_list(args.trim_columns) or []],
            rows=[int(i) for i in _csv_list(args.trim_rows) or []],
            order_col=tc,
            tiebreak_cols=cfg["tiebreak_cols"],
        )
    if name == "feature_selector":
        sel = _csv_list(args.select_columns) or []
        idx = [int(s) for s in sel if s.isdigit()]
        names = [s for s in sel if not s.isdigit()]
        return FeatureSelector(indices=idx, names=names, keep_cols=[tc])
    if name == "cleaner":
        return Cleaner(
            method=args.cleaner_method,
            outlier_threshold=args.outlier_threshold,
            period_minutes=args.period_minutes,
            time_col=tc,
            tiebreak_cols=cfg["tiebreak_cols"],
        )
    raise SystemExit(f"unknown plugin {name}")


def _remote_post(args: argparse.Namespace, cfg: dict, result: dict) -> None:
    """S8 post-run side channel (reference app/main.py:57-67): push the
    merged config and the run result to the configured HTTP endpoints.
    Failures print to stderr and never fail the job."""
    if not (
        getattr(args, "remote_save_config", None) or getattr(args, "remote_log", None)
    ):
        return
    from preprocessor_spark.sources.remote import remote_log, remote_save_config

    if args.remote_save_config:
        remote_save_config(
            cfg, args.remote_save_config, args.remote_username, args.remote_password
        )
    if args.remote_log:
        remote_log(
            cfg, result, args.remote_log, args.remote_username, args.remote_password
        )


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    cfg = merge_config(args)

    if args.save_config:
        with open(args.save_config, "w") as f:
            json.dump(cfg, f, indent=2, default=str)
    if args.dry_run:
        print(json.dumps({"status": "config-valid", "config": cfg}, default=str))
        return 0

    from preprocessor_spark import get_spark
    from preprocessor_spark.sources.io import load_data, write_data

    spark = get_spark("preprocessor_cli", master=args.master)
    df = load_data(spark, args.input)
    if args.validate_only:
        print(
            json.dumps(
                {
                    "status": "input-valid",
                    "rows": df.count(),
                    "columns": df.columns,
                }
            )
        )
        return 0

    os.makedirs(args.output_dir, exist_ok=True)
    if args.plugin:  # EP2 legacy single-plugin run
        op = _legacy_operator(args, cfg)
        if hasattr(op, "fit"):  # two-phase operators fit on the whole input
            params = op.fit(df)
            out = op.transform(df, params)
            from preprocessor_spark.params import save_params

            save_params(
                os.path.join(args.output_dir, f"{args.plugin}_params.json"), params
            )
        else:
            out = op.transform(df)
        write_data(
            out,
            os.path.join(args.output_dir, "output"),
            cfg["output_format"],
        )
        result = {"status": "done", "mode": "legacy", "plugin": args.plugin}
        print(json.dumps(result))
        _remote_post(args, cfg, result)
        return 0

    # EP1 modern pipeline
    from preprocessor_spark.core import PreprocessorCore

    core = PreprocessorCore(spark, config=cfg)
    core.load(df)
    if args.load_normalization_params:
        core.load_normalization_params(args.load_normalization_params)
    core.process()
    core.export(args.output_dir)
    result = {
        **{f"core_{k}": v for k, v in core.get_processing_status().items()},
        "status": "done",
        "mode": "pipeline",
        "output_dir": args.output_dir,
    }
    print(json.dumps(result, default=str))
    _remote_post(args, cfg, result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
