"""The repository benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload catalog_interactive --seed 1 \\
        --seconds 6 --trace 0

Run from the repository root. The run generates its inputs from
``--seed``, starts the product's Spark session, sets the workload up
``SETUP_REPS`` times, warms up, measures for at least ``--seconds``
seconds (each workload also has a minimum of operations) and then
checks every answer. With ``--trace 0`` the last line of standard output
carries the end-to-end metrics; with ``--trace 1`` every other operation
is traced and the last line carries the per-layer metrics instead. The
line before it (``perfbench-detail ...``) describes the run: cpus, seed,
versions, sample counts, tail percentiles, robustness samples and every
failure by statement. Spans and the detail record are also written
under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import stats  # noqa: E402
from harness import ROOT, Env  # noqa: E402

SETUP_REPS = 3
CPUS = 4
END_TO_END = {"setup_s": "s", "latency_ms": "ms", "tail_ms": "ms",
              "throughput_per_s": "1/s"}


def workloads():
    from catalog_interactive import CatalogInteractive
    from corpus_pipeline import CorpusPipeline
    from lakehouse_mixed import LakehouseMixed

    return {w.name: w for w in (CatalogInteractive, LakehouseMixed,
                                CorpusPipeline)}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["catalog_interactive", "lakehouse_mixed",
                            "corpus_pipeline"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", type=float, default=1.0,
                   help="input size relative to the standard workload "
                        "(the benchmark's own tests run tiny sizes)")
    return p.parse_args(argv)


def overhead_share(ops, kinds) -> float:
    """Traced over untraced latency, minus one: the geometric mean,
    over the operation keys of ``kinds`` both halves ran, of the ratio
    of their medians (0 when no key ran in both)."""
    halves = ({}, {})
    for o in ops:
        if o.kind in kinds:
            halves[o.rid is None].setdefault(o.key, []).append(o.ms)
    common = [k for k in halves[0] if k in halves[1]]
    if not common:
        return 0.0
    return stats.geomean([statistics.median(halves[0][k])
                          / statistics.median(halves[1][k])
                          for k in common]) - 1.0


def per_layer(env, wl, report) -> dict:
    measured = env.measured()
    traced = [o.rid for o in measured if o.rid]
    out = {name: 0.0 for name in layers.LAYER_MAP}
    out.update(layers.layer_metrics(env.tracer, traced, env.extras))
    out.update(report["layers"])
    curate = [o.ms for o in measured if o.kind == "curate" and o.rid]
    if curate:
        out["operators.curate_ms"] = statistics.mean(curate)
    out["trace.overhead_share"] = overhead_share(measured, wl.kinds)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import lightning_metastore_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the product package is not importable from "
              f"{ROOT}: {e}", file=sys.stderr)
        return 2
    env = Env(args.workload, args.seed, min(CPUS, os.cpu_count() or 1))
    wl = workloads()[args.workload](env, args.size)
    phases = {}

    def timed(phase, fn, *a):
        t0 = time.perf_counter()
        fn(*a)
        phases[phase] = phases.get(phase, 0.0) + time.perf_counter() - t0

    try:
        timed("prepare", wl.prepare)
        session_s = env.start_session()
        if args.trace:
            from spans import Tracer

            env.tracer = Tracer()
            layers.install(env.tracer)
        setups = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(rep)
            setups.append(time.perf_counter() - t0)
        timed("run", wl.run, args.seconds)
        timed("verify", wl.verify)
        report = wl.report()
        summary = report["summary"]
        figures = {"setup_s": session_s + statistics.median(setups),
                   "latency_ms": summary["latency_ms"],
                   "tail_ms": summary["tail_ms"],
                   "throughput_per_s": summary["throughput_per_s"],
                   "peak_rss_mb": env.peak_rss_mb()}
        if args.trace:
            values = per_layer(env, wl, report)
            units = {k: v[0] for k, v in layers.LAYER_MAP.items()}
        else:
            values = {k: figures[k] for k in END_TO_END}
            units = END_TO_END
    finally:
        wl.close()
        if env.tracer is not None:
            env.tracer.uninstall()
        env.stop()

    ops = [o for o in env.ops if not o.kind.startswith("check:")]
    failures = [{"kind": o.kind, "statement": o.info.get("sql", o.kind),
                 "error": o.error} for o in env.ops if o.error is not None]
    named = {
        "setup_s": {"value": figures["setup_s"], "unit": "s"},
        **report["named"],
        "failed_share": {"value": len(failures) / max(1, len(ops)),
                         "unit": "ratio"},
        "peak_rss_mb": {"value": figures["peak_rss_mb"], "unit": "MB"},
    }
    detail = {
        **env.describe(), "trace": bool(args.trace),
        "seconds": args.seconds, "metrics": named, "figures": figures,
        "session_start_s": session_s, "setup_reps_s": setups,
        "phase_s": phases, "summary": summary["detail"],
        "failures": failures, "samples": env.samples,
        "ops": [[o.kind, round(o.t0 - ops[0].t0, 4), round(o.ms, 2),
                 o.rid is not None, o.warmup] for o in ops],
    }
    if args.trace:
        detail["per_layer"] = values
    os.makedirs(env.out_dir, exist_ok=True)
    stem = os.path.join(env.out_dir, f"{args.workload}-{args.seed}-"
                                     f"trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(detail, f, indent=1, default=str)
    if env.tracer is not None:
        env.tracer.dump(stem + ".spans.jsonl")
    for name, m in named.items():
        extra = "".join(f" {k}={m[k]}" for k in ("percentile", "samples")
                        if k in m)
        print(f"perfbench: {args.workload} {name} = {m['value']:.6g} "
              f"{m['unit']}{extra}", file=sys.stderr)
    for fail in failures:
        print(f"perfbench: FAILED {fail['kind']}: {fail['error']}\n"
              f"    statement: {fail['statement'][:300]}", file=sys.stderr)
    print("perfbench-detail " + json.dumps(detail, default=str))
    print(json.dumps({
        "correct": not failures, "attempted": len(ops),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()}}))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
