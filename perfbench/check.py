"""Checks of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/check.py selftest
        Tiny-size runs of every workload: every metric of BENCHMARK.json
        prints with its unit, and a deliberately corrupted tier copy is
        counted as a failed op without aborting the run.

    python3 perfbench/check.py spread --workload full_build --runs 10
        Runs on seeds seed0 .. seed0+runs-1 and reports, per end-to-end
        metric, the median and the spread between the quartiles as a share
        of the median, against the metric's bound.

    python3 perfbench/check.py heldout --seed-a 1 --seed-b 2 --runs 3
        Two traced runs of seed A must give the same exact counts; the
        end-to-end medians of seed B must stay within the bounds of seed A's.

Each exits non-zero when its check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.getcwd()
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")
HERE = os.path.dirname(os.path.abspath(__file__))


def spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


def bench(workload: str, seed: int, seconds: float, trace: int, *extra: str) -> dict:
    cmd = [
        *spec()["command"], "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), *extra,
    ]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited with {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def selftest(_args) -> bool:
    s, ok = spec(), True
    kinds = {0: s["end_to_end"], 1: s["per_layer"]}

    def units_ok(res, metrics) -> bool:
        want = {m["name"]: m["unit"] for m in metrics}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want:
            print(f"  names/units differ: {sorted(set(got.items()) ^ set(want.items()))}")
        return got == want

    for w in (w["name"] for w in s["workloads"]):
        for trace, metrics in kinds.items():
            res = bench(w, 1, 2, trace, "--rows", "20000")
            good = units_ok(res, metrics) and res["correct"] and res["failed"] == 0
            print(f"{w} trace={trace}: {len(res['metrics'])} metrics, attempted "
                  f"{res['attempted']}, failed {res['failed']}: {'ok' if good else 'FAIL'}")
            ok &= good
        # the run's only primary op is corrupted: it must count as failed,
        # and the run must still end with every metric printed
        res = bench(w, 1, 2, 0, "--rows", "20000", "--corrupt-op", "0")
        good = units_ok(res, s["end_to_end"]) and res["failed"] == 1 and not res["correct"]
        print(f"{w} corrupted tier: attempted {res['attempted']}, failed {res['failed']}: "
              f"{'ok' if good else 'FAIL'}")
        ok &= good
    return ok


def medians(runs: list[dict]) -> dict[str, float]:
    return {k: statistics.median(r["metrics"][k]["value"] for r in runs) for k in runs[0]["metrics"]}


def spread(args) -> bool:
    s, ok = spec(), True
    runs = []
    for i in range(args.runs):
        runs.append(bench(args.workload, args.seed0 + i, s["run_seconds"], 0))
        print(f"seed {args.seed0 + i}: " + ", ".join(
            f"{k} {v['value']:.1f}" for k, v in runs[-1]["metrics"].items()), flush=True)
    if args.save:
        with open(args.save, "w") as f:
            json.dump(runs, f)
    print(f"{args.workload}: {args.runs} runs, failed ops {sum(r['failed'] for r in runs)}")
    for m in s["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        iqr = (q3 - q1) / med
        good = iqr <= m["bound"]
        print(f"  {m['name']:<14} median {med:12.2f} {m['unit']:<4} spread {iqr:6.3f} "
              f"(bound {m['bound']}, a third {m['bound'] / 3:.3f}) {'ok' if good else 'FAIL'}")
        ok &= good
    return ok


def worse(m: dict, base: float, new: float) -> float:
    """How much worse ``new`` is than ``base``, as a share of ``base``."""
    d = (new - base) / base
    return d if m["better"] == "lower" else -d


def heldout(args) -> bool:
    s, ok = spec(), True
    from layers import EXACT_COUNTS

    for w in (w["name"] for w in s["workloads"]):
        a, b = (bench(w, args.seed_a, s["run_seconds"], 1) for _ in range(2))
        for k in EXACT_COUNTS:
            va, vb = a["metrics"][k]["value"], b["metrics"][k]["value"]
            print(f"{w} {k}: {va} / {vb} {'ok' if va == vb else 'FAIL'}")
            ok &= va == vb
        ma = medians([bench(w, args.seed_a, s["run_seconds"], 0) for _ in range(args.runs)])
        mb = medians([bench(w, args.seed_b, s["run_seconds"], 0) for _ in range(args.runs)])
        for m in s["end_to_end"]:
            d = worse(m, ma[m["name"]], mb[m["name"]])
            good = d <= m["bound"]
            print(f"{w} {m['name']}: seed {args.seed_a} {ma[m['name']]:.2f}, seed {args.seed_b} "
                  f"{mb[m['name']]:.2f}, worse by {d:+.3f} (bound {m['bound']}) "
                  f"{'ok' if good else 'FAIL'}")
            ok &= good
    return ok


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("selftest")
    sp = sub.add_parser("spread")
    sp.add_argument("--workload", required=True)
    sp.add_argument("--runs", type=int, default=10)
    sp.add_argument("--seed0", type=int, default=1)
    sp.add_argument("--save", help="write the runs' results to this JSON file")
    hp = sub.add_parser("heldout")
    hp.add_argument("--seed-a", type=int, default=1)
    hp.add_argument("--seed-b", type=int, default=2)
    hp.add_argument("--runs", type=int, default=3)
    args = p.parse_args()
    sys.path.insert(0, HERE)
    ok = {"selftest": selftest, "spread": spread, "heldout": heldout}[args.cmd](args)
    print("OK" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
