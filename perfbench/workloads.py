"""The benchmark's workloads: set-up, the timed op, and the output check.

Each workload is a closed loop with one client: the next op is issued only
after the previous one returned and its output was checked. A run has up
to two phases, one after the other in the same process:

  * the primary op — ``rollup_job.main`` (full_build) or
    ``refresh_job.main`` (daily_refresh) — on a fresh copy of its input;
  * in a traced run, tier reads — a seeded query mix against the output of
    the first primary op (the fresh build, or the refreshed tree): 5m
    ranges decoded from the compressed blocks, 1h ranges with derived
    mean/std, and the 1d full history through ``RetentionPolicy.enforce``.
    Reads write nothing, so a codec or layout change that speeds writes at
    the cost of reads shows in the read-side layer metrics.

A failed check is returned as a list of problems; the caller counts the op
as failed and goes on.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import io
import os
import random
import shutil
import sys
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

ROWS_PER_MINUTE = 5  # 100k corpus rows span ~14 days: several blocks and days
LEN_CAP = 8  # the jobs read only n_tok; short token arrays keep set-up cheap
TIER_COLS = ["source", "bucket_start", "n_points", "sum_v", "sum_sq", "min_v", "max_v"]
FLOAT_STATS = ["sum_v", "sum_sq", "min_v", "max_v"]
# rollup_job encodes blocks of 4096 five-minute buckets; a block overlapping
# [a, b) starts after a - BLOCK_SPAN_S whenever blocks are at most this long
BLOCK_SPAN_S = 4096 * 300
REFRESH_RTOL = 1e-9


@contextlib.contextmanager
def step(what: str):
    """Log how long a set-up step took (progress, on standard error)."""
    t0 = time.perf_counter()
    yield
    print(f"perfbench:   {what}: {time.perf_counter() - t0:.1f} s", file=sys.stderr, flush=True)


def quiet(main, argv: list[str]) -> dict:
    """Call a job's ``main`` with its one-line JSON report silenced."""
    with contextlib.redirect_stdout(io.StringIO()):
        return main(argv)


def tier_frame(spark, root: str, tier: str) -> pd.DataFrame:
    pdf = spark.read.parquet(os.path.join(root, f"tier_{tier}")).select(TIER_COLS).toPandas()
    return pdf.sort_values(["source", "bucket_start"]).reset_index(drop=True)


def frame_problems(
    what: str, got: pd.DataFrame, want: pd.DataFrame, keys: list[str],
    exact: list[str], approx: list[str], rtol: float,
) -> list[str]:
    """Row-for-row comparison: ``exact`` columns must be equal, ``approx``
    columns equal within ``rtol`` relative (absolute below 1), with nulls in
    the same places."""
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, expected {len(want)}"]
    got = got.sort_values(keys).reset_index(drop=True)
    want = want.sort_values(keys).reset_index(drop=True)
    out = []
    for c in [*keys, *exact]:
        if not (got[c].to_numpy() == want[c].to_numpy()).all():
            out.append(f"{what}: column {c} differs")
    for c in approx:
        a = got[c].to_numpy(dtype=float, na_value=np.nan)
        b = want[c].to_numpy(dtype=float, na_value=np.nan)
        if (np.isnan(a) != np.isnan(b)).any():
            out.append(f"{what}: nulls of {c} differ")
            continue
        m = ~np.isnan(b)
        if (np.abs(a[m] - b[m]) > rtol * np.maximum(1.0, np.abs(b[m]))).any():
            out.append(f"{what}: values of {c} differ")
    return out


MA_WINDOW = 5  # rollup_job / refresh_job unbias with a 5-row moving average
TIERS_S = {"5m": 300, "1h": 3600, "1d": 86400}


def reference_tiers(facts: pd.DataFrame, norm_params_path: str) -> dict[str, pd.DataFrame]:
    """The tiers a full rebuild must produce, computed in pandas from the raw
    facts (source, ts, doc_id, n_tok) under the run's persisted z-score
    params: z-score n_tok, subtract each source's trailing 5-row moving
    average in (ts, doc_id) order, then aggregate every tier over the
    gap-filled bucket spine of each source."""
    from preprocessor_spark.params import load_params

    p = load_params(norm_params_path).params["per_column"]["n_tok_z"]
    f = facts.assign(tss=facts["ts"].astype("datetime64[s]").astype("int64"))
    f = f.sort_values(["source", "tss", "doc_id"], kind="stable")
    z = (f["n_tok"].astype("float64") - p["mean"]) / p["std"]
    ma = z.groupby(f["source"]).transform(lambda x: x.rolling(MA_WINDOW, min_periods=1).mean())
    v = (z - ma).rename("v")
    out = {}
    for name, step in TIERS_S.items():
        g = pd.DataFrame({"source": f["source"], "b": f["tss"] - f["tss"] % step, "v": v})
        agg = g.assign(sq=g["v"] * g["v"]).groupby(["source", "b"]).agg(
            n_points=("v", "size"), sum_v=("v", "sum"), sum_sq=("sq", "sum"),
            min_v=("v", "min"), max_v=("v", "max"),
        )
        spine = pd.MultiIndex.from_tuples(
            [(s, b) for s, bs in agg.reset_index().groupby("source")["b"]
             for b in range(bs.min(), bs.max() + step, step)],
            names=["source", "b"],
        )
        t = agg.reindex(spine).reset_index()
        t["n_points"] = t["n_points"].fillna(0).astype("int64")
        t["bucket_start"] = pd.to_datetime(t["b"], unit="s")
        out[name] = t[TIER_COLS]
    return out


def tiers_problems(spark, out: str, want: dict[str, pd.DataFrame]) -> list[str]:
    """An output's tiers equal the reference: keys and counts exactly,
    float statistics within a relative 1e-9."""
    problems = []
    for name, ref in want.items():
        problems += frame_problems(
            f"tier {name}", tier_frame(spark, out, name), ref,
            ["source", "bucket_start"], ["n_points"], FLOAT_STATS, REFRESH_RTOL,
        )
    return problems


def corrupt_tier(spark, out: str, tier: str = "1h") -> None:
    """Replace a tier of an op's output by a copy whose counts are off by
    one — the self-test's way of proving that checks count failures."""
    path = os.path.join(out, f"tier_{tier}")
    tmp = path + ".corrupt"
    spark.read.parquet(path).withColumn("n_points", F.col("n_points") + 1).write.partitionBy(
        "source"
    ).parquet(tmp)
    shutil.rmtree(path)
    os.replace(tmp, path)


class Workload:
    """``prebuild`` and set-up once, then ``prepare`` (untimed), ``run``
    (timed) and ``check`` (untimed) per op. The reads of a traced run query
    the output of the first op, or ``fallback_target()`` when that op
    raised."""

    name = ""

    def __init__(self, spark, work: str, master: str, seed: int, rows: int, cache: str):
        self.spark, self.work, self.master = spark, work, master
        self.seed, self.rows, self.cache = seed, rows, cache

    def corpus(self, seed: int | None = None):
        from preprocessor_spark.synth import token_sequences

        return token_sequences(
            self.spark, self.rows, seed=self.seed if seed is None else seed,
            len_cap=LEN_CAP, rows_per_minute=ROWS_PER_MINUTE,
        )

    def prebuild(self) -> bool:
        """Build what is kept between runs, when missing; True when that ran
        Spark jobs in this session."""
        return False

    def prepare(self, out: str) -> None:
        pass


class FullBuild(Workload):
    """``rollup_job.main`` on a fresh output dir over the seeded corpus. The
    timed build is the first job of the process, as in every spark-submit
    of the job, so it carries the JVM's warm-up."""

    name = "full_build"

    def setup(self) -> None:
        from preprocessor_spark.synth import write_corpus

        self.input = os.path.join(self.work, "corpus")
        with step("corpus"):
            write_corpus(
                self.spark, self.input, self.rows, seed=self.seed, len_cap=LEN_CAP,
                rows_per_minute=ROWS_PER_MINUTE,
            )
            self.facts = (
                self.spark.read.parquet(self.input)
                .select("source", "ts", "doc_id", "n_tok").toPandas()
            )
        self.points = len(self.facts)

    def fallback_target(self) -> str:
        """A build for the reads when the first op raised (untimed)."""
        target = os.path.join(self.work, "target")
        self.run(target)
        return target

    def run(self, out: str) -> int:
        from preprocessor_spark.plans import rollup_job

        quiet(rollup_job.main, ["--input", self.input, "--output", out, "--master", self.master])
        return self.points

    def check(self, out: str) -> list[str]:
        """The tiers equal a pandas rebuild from the input under the op's
        own fitted z-score params (so each is its gap-filled spine and
        carries every input row), and the compressed blocks decode to the
        non-empty 5m rows exactly."""
        from preprocessor_spark.rollup import compression
        from preprocessor_spark.rollup.tiers import DEFAULT_TIERS

        spark = self.spark
        problems = tiers_problems(
            spark, out, reference_tiers(self.facts, os.path.join(out, "norm_params.json"))
        )
        base = DEFAULT_TIERS[0].name
        decoded = compression.decode_tier_blocks(
            spark.read.parquet(os.path.join(out, f"blocks_{base}")), ["source"]
        ).toPandas()
        nonempty = (
            spark.read.parquet(os.path.join(out, f"tier_{base}"))
            .filter(F.col("n_points") > 0)
            .select(TIER_COLS)
            .toPandas()
        )
        problems += frame_problems(
            "decoded blocks", decoded[TIER_COLS], nonempty, ["source", "bucket_start"],
            ["n_points"], FLOAT_STATS, 0.0,
        )
        return problems


class DailyRefresh(Workload):
    """``refresh_job.main`` absorbing a 1% append-only suffix delta into a
    prebuilt tree. Each op restores the tree untimed, so every op measures
    steady-state daily ingest; the timed refresh is the first job of the
    process, as in every spark-submit of the job.

    The tree is built by ``rollup_job.main`` over the first 99% of the time
    range of a corpus of fixed seed ``BASE_SEED``, and its unbias carry-tail
    sidecar is seeded with ``refresh_job.source_tails`` (what the one-time
    ``--input`` bootstrap of a first refresh writes). It does not depend on
    the run's seed, so it is built once per checkout and engine version and
    kept under ``.perfbench_cache/`` (the build is what full_build times).
    The run's seed makes the delta: the last 1% of the time range of its
    own corpus."""

    name = "daily_refresh"
    BASE_SEED = 0

    def _cut(self):
        """The predicate of the base rows: every row before the last 1% of
        the minutes. The delta is every row after."""
        from preprocessor_spark.synth import EPOCH_START

        minutes = (self.rows - 1) // ROWS_PER_MINUTE + 1
        cut = minutes - max(1, minutes // 100)
        minute = (F.unix_timestamp("ts") - F.unix_timestamp(F.lit(EPOCH_START))) / 60
        return minute < cut

    def _key(self) -> str:
        """The engine's sources, this file and the size: a base tree built
        by other code or at another size is not reused."""
        root = os.path.dirname(self.cache)
        h = hashlib.sha256(f"{self.rows} {self.BASE_SEED}".encode())
        files = glob.glob(os.path.join(root, "preprocessor_spark", "**", "*.py"), recursive=True)
        for path in [*sorted(files), os.path.abspath(__file__)]:
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
        return h.hexdigest()[:16]

    def _build_base(self, dest: str) -> None:
        from preprocessor_spark.plans import refresh_job, rollup_job

        tmp = f"{dest}.tmp-{os.getpid()}"
        corpus, tree = os.path.join(tmp, "corpus"), os.path.join(tmp, "tree")
        try:
            with step("base corpus"):
                self.corpus(self.BASE_SEED).filter(self._cut()).write.partitionBy(
                    "source"
                ).parquet(corpus)
            with step("base build"):
                quiet(rollup_job.main, ["--input", corpus, "--output", tree, "--master", self.master])
            with step("carry tail"):
                refresh_job.source_tails(
                    self.spark.read.parquet(corpus).select("source", "ts", "doc_id", "n_tok"),
                    ["source"], "ts", ["doc_id"], k=MA_WINDOW - 1,
                ).coalesce(1).write.parquet(os.path.join(tree, refresh_job.TAIL_NAME))
            # a tree of older engine code at this size is not used again
            for old in glob.glob(os.path.join(self.cache, f"{self.name}-{self.rows}-*")):
                if ".tmp-" not in old:
                    shutil.rmtree(old, ignore_errors=True)
            os.replace(tmp, dest)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def prebuild(self) -> bool:
        self.base = os.path.join(self.cache, f"{self.name}-{self.rows}-{self._key()}")
        if os.path.isdir(self.base):
            return False
        os.makedirs(self.cache, exist_ok=True)
        self._build_base(self.base)
        return True

    def setup(self) -> None:
        base = self.base
        self.snapshot = os.path.join(base, "tree")
        self.delta = os.path.join(self.work, "delta")
        with step("delta"):
            self.corpus().filter(~self._cut()).write.partitionBy("source").parquet(self.delta)
        # truth: a full rebuild over base ∪ delta under the tree's persisted
        # normalization params
        with step("reference"):
            cols = ["source", "ts", "doc_id", "n_tok"]
            facts = pd.concat([
                self.spark.read.parquet(p).select(cols).toPandas()
                for p in (os.path.join(base, "corpus"), self.delta)
            ], ignore_index=True)
            self.truth = reference_tiers(facts, os.path.join(self.snapshot, "norm_params.json"))

    def fallback_target(self) -> str:
        """The base tree serves the reads when the first op raised."""
        return self.snapshot

    def prepare(self, out: str) -> None:
        shutil.copytree(self.snapshot, out)

    def run(self, out: str) -> int:
        from preprocessor_spark.plans import refresh_job

        res = quiet(
            refresh_job.main,
            ["--output", out, "--delta-input", self.delta, "--master", self.master],
        )
        return res["delta_rows"]

    def check(self, out: str) -> list[str]:
        """The refreshed tiers equal the full rebuild."""
        return tiers_problems(self.spark, out, self.truth)


WORKLOADS = {w.name: w for w in (FullBuild, DailyRefresh)}


class TierReader:
    """Seeded query mix over a rollup output. Each query runs through Spark
    against the stored tiers and is checked against the same query answered
    from the uncompressed tier parquet, loaded into pandas once."""

    # kinds cycle in this fixed order, so any prefix of the sequence keeps
    # about two thirds 5m decodes and the median read stays a 5m decode
    # whatever number of queries a run completes
    KINDS = ("5m", "5m", "1h", "5m", "5m", "1d")
    RECENT_SHARE = 0.8

    def __init__(self, spark, target: str, seed: int):
        from preprocessor_spark.rollup.tiers import RetentionPolicy

        self.spark, self.target = spark, target
        self.seed = seed
        self.restart()
        self.policy = RetentionPolicy({"5m": "2 days", "1h": "30 days", "1d": None})
        self.ref = {t: tier_frame(spark, target, t) for t in ("5m", "1h", "1d")}
        for pdf in self.ref.values():
            pdf["epoch"] = pdf["bucket_start"].astype("datetime64[s]").astype("int64")
        t5 = self.ref["5m"]
        self.bounds = {
            s: (int(g["epoch"].min()), int(g["epoch"].max()))
            for s, g in t5.groupby("source")
        }
        self.sources = sorted(self.bounds)
        self.now = max(t1 for _, t1 in self.bounds.values()) + 300

    def restart(self) -> None:
        """Start the query sequence of the seed again."""
        self.rng = random.Random(self.seed)
        self.n = 0

    def next_query(self):
        """(kind, run, check): ``run`` is the timed query, ``check`` takes its
        result and returns a list of problems."""
        kind = self.KINDS[self.n % len(self.KINDS)]
        self.n += 1
        s = self.rng.choice(self.sources)
        t0, t1 = self.bounds[s]
        length = self.rng.randint(6 * 3600, 2 * 86400)
        if self.rng.random() < self.RECENT_SHARE:
            b = t1 + 1
            a = b - length
        else:
            a = self.rng.randint(t0, max(t0, t1 - 3 * 86400 - length))
            b = a + length
        if kind == "5m":
            return kind, lambda span: self.q5m(s, a, b, span), lambda got: self.c5m(s, a, b, got)
        if kind == "1h":
            return kind, lambda span: self.q1h(s, a, b), lambda got: self.c1h(s, a, b, got)
        return kind, lambda span: self.q1d(span), self.c1d

    def _in(self, a: int, b: int, col: str = "bucket_start"):
        return (F.col(col) >= F.timestamp_seconds(F.lit(a))) & (
            F.col(col) < F.timestamp_seconds(F.lit(b))
        )

    def _ref(self, tier: str, s: str, a: int, b: int) -> pd.DataFrame:
        t = self.ref[tier]
        return t[(t["source"] == s) & (t["epoch"] >= a) & (t["epoch"] < b)]

    def q5m(self, s: str, a: int, b: int, span) -> pd.DataFrame:
        from preprocessor_spark.rollup import compression

        blocks = self.spark.read.parquet(os.path.join(self.target, "blocks_5m")).filter(
            (F.col("source") == s)
            & (F.col("block_start") > F.timestamp_seconds(F.lit(a - BLOCK_SPAN_S)))
            & (F.col("block_start") < F.timestamp_seconds(F.lit(b)))
        )
        with span("rollup.compression.decode"):
            return (
                compression.decode_tier_blocks(blocks, ["source"])
                .filter(self._in(a, b))
                .toPandas()
            )

    def c5m(self, s, a, b, got) -> list[str]:
        want = self._ref("5m", s, a, b)
        want = want[want["n_points"] > 0][TIER_COLS]
        return frame_problems(
            "5m decode query", got[TIER_COLS], want, ["bucket_start"], ["n_points"],
            FLOAT_STATS, 0.0,
        )

    def q1h(self, s: str, a: int, b: int) -> pd.DataFrame:
        n, sv, ss = F.col("n_points"), F.col("sum_v"), F.col("sum_sq")
        return (
            self.spark.read.parquet(os.path.join(self.target, "tier_1h"))
            .filter((F.col("source") == s) & self._in(a, b))
            .select(
                "bucket_start",
                "n_points",
                (sv / n).alias("mean_v"),
                F.when(n > 1, F.sqrt(F.greatest((ss - sv * sv / n) / (n - 1), F.lit(0.0))))
                .alias("std_v"),
            )
            .toPandas()
        )

    def c1h(self, s, a, b, got) -> list[str]:
        w = self._ref("1h", s, a, b)
        n, sv, ss = w["n_points"], w["sum_v"], w["sum_sq"]
        var = ((ss - sv * sv / n) / (n - 1)).clip(lower=0.0)
        want = pd.DataFrame({
            "bucket_start": w["bucket_start"],
            "n_points": n,
            "mean_v": sv / n,
            "std_v": np.sqrt(var).where(n > 1),
        })
        return frame_problems(
            "1h range query", got, want, ["bucket_start"], ["n_points"],
            ["mean_v", "std_v"], 1e-12,
        )

    def q1d(self, span) -> pd.DataFrame:
        tier = self.spark.read.parquet(os.path.join(self.target, "tier_1d"))
        with span("rollup.tiers.enforce"):
            return self.policy.enforce(tier, "1d", self.now).select(TIER_COLS).toPandas()

    def c1d(self, got) -> list[str]:
        return frame_problems(
            "1d history query", got, self.ref["1d"][TIER_COLS], ["source", "bucket_start"],
            ["n_points"], FLOAT_STATS, 0.0,
        )
