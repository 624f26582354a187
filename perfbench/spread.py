"""Run one workload over several seeds and report, per end-to-end
metric, the median and the inter-quartile distance as a share of the
median.

    python3 perfbench/spread.py --workload lakehouse_mixed --seeds 1-10

Each run is a separate ``run.py`` process, as the benchmark is meant to
be run. ``--out`` keeps every run's result line in a JSON file, and
``--compare`` reads two such files and reports how far the second
median moved from the first, as a share of the first.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True,
        timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-1])


def load(path: str) -> list[dict]:
    with open(path) as f:
        return json.load(f)


def table(results: list[dict]) -> dict[str, dict]:
    out = {}
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(values)
        out[name] = {"median": med,
                     "spread": stats.spread(values) if med else 0.0,
                     "values": values}
    return out


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int)
    p.add_argument("--out")
    p.add_argument("--compare", nargs=2, metavar="FILE")
    args = p.parse_args()
    if args.compare:
        first, second = (table(load(f)) for f in args.compare)
        for name, a in first.items():
            b = second[name]
            moved = (b["median"] - a["median"]) / a["median"] \
                if a["median"] else 0.0
            print(f"{name:32s} {a['median']:12.4f} {b['median']:12.4f} "
                  f"{moved:+8.3f}")
        return
    if args.seconds is None:
        with open(os.path.join(os.path.dirname(HERE),
                               "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]
    results = []
    for seed in seeds(args.seeds):
        results.append(run(args.workload, seed, args.seconds))
        r = results[-1]
        print(f"seed {seed}: correct={r['correct']} "
              f"failed={r['failed']}/{r['attempted']}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f)
    for name, row in table(results).items():
        print(f"{name:32s} median {row['median']:12.4f} "
              f"spread {row['spread']:.3f}")


if __name__ == "__main__":
    main()
