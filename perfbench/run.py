#!/usr/bin/env python3
"""Benchmark of libpdf_spark: one command, two workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run is a closed loop: this driver
process submits one Spark job at a time on ``local[nproc]``.

1. Build (or reuse from the keyed cache) the inputs of NAME for seed N.
2. Set up three times: a fresh SparkSession, load the inputs, the
   workload's untimed warm-up. ``setup_s`` is the median.
3. Time passes for about S seconds (at least one). ``wall_s`` is the
   median pass; ``peak_rss_mb`` the peak summed RSS of the JVM and the
   Python workers during those passes.
4. Check the outputs against the generator's ground truth.
5. With ``--trace 1``, measure the per-layer metrics (``layers.py``).

Every line but the last is a human-readable report. The last line is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer ones), each metric as ``{"value", "unit"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path[0] = ROOT  # import this package as ``perfbench``, the program beside it

from perfbench.workloads import SIZES, WORKLOADS  # noqa: E402

SETUP_REPEATS = 3
TRACE_PASSES = 2

END_TO_END_UNITS = {
    "wall_s": "s",
    "turns_per_s": "1/s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the smoke test")
    p.add_argument("--corrupt-expected", type=int, default=0, metavar="N",
                   help="corrupt N ground-truth entries (proves the check can fail)")
    return p.parse_args(argv)


def timed_passes(spark, wl, seconds: float):
    """Passes until the next one would end after ``seconds``; at least
    one."""
    from perfbench.host import RssSampler

    walls: list[float] = []
    per_query: list[dict] = []
    deadline = time.perf_counter() + seconds
    with RssSampler() as rss:
        while not walls or time.perf_counter() + statistics.median(walls) <= deadline:
            t0 = time.perf_counter()
            wl.run_pass(spark)
            walls.append(time.perf_counter() - t0)
            per_query.append(dict(getattr(wl, "last_pass", {})))
    return walls, rss, per_query


def report_line(name: str, values: list[float], unit: str) -> str:
    med = statistics.median(values)
    return (
        f"# {name:<14} median={med:.6g} {unit:<5} n={len(values)} "
        f"min={min(values):.6g} max={max(values):.6g}"
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "libpdf_spark")) or not os.path.isfile(
        os.path.join(ROOT, "bench.py")
    ):
        print(f"perfbench: {ROOT} holds no libpdf_spark checkout", file=sys.stderr)
        return 2
    from perfbench import host, inputs

    host.prepare_env(WORK)
    cpus = host.nproc()
    size = SIZES[args.scale][args.workload]

    manifest = inputs.ensure_inputs(WORK, args.workload, args.seed, size, cpus)
    wl = WORKLOADS[args.workload](manifest, WORK)
    spark = host.make_session(WORK, cpus)
    try:
        setup_times = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            spark.stop()
            spark = host.make_session(WORK, cpus)
            wl.load(spark)
            wl.warm_up(spark)
            setup_times.append(time.perf_counter() - t0)
        info = wl.input_info(spark)
        ctx = host.context(spark, size.get("sf"), args.seed)
        walls, rss, per_query = timed_passes(spark, wl, args.seconds)
        check = wl.check(spark, corrupt=args.corrupt_expected)

        wall_s = statistics.median(walls)
        end_to_end = {
            "wall_s": wall_s,
            "turns_per_s": wl.work_units() / wall_s,
            "peak_rss_mb": rss.peak_mb,
            "setup_s": statistics.median(setup_times),
        }
        layer_metrics, layer_info = {}, {}
        if args.trace:
            from perfbench import layers

            spark, layer_metrics, layer_info = layers.measure(
                spark, wl, WORK, cpus, wall_s, TRACE_PASSES
            )
    finally:
        host.shutdown(spark)

    attempted, failed = check["attempted"], check["failed"]
    print(json.dumps({
        "context": ctx,
        "workload": args.workload,
        "input": info,
        "cache": {"dir": os.path.relpath(manifest["dir"], ROOT),
                  "built_s": round(manifest["built_s"], 3)},
        "rss_peak_mb_by_process": {k: round(v, 1) for k, v in rss.peak_by_comm.items()},
        "setup_samples_s": [round(x, 4) for x in setup_times],
        "pass_samples_s": [round(x, 4) for x in walls],
        "query_samples_s": per_query if args.workload == "query_suite" else None,
        "check": check,
        "failed_ratio": failed / attempted,
        "layers": layer_info or None,
    }, sort_keys=True))
    print(f"# workload={args.workload} seed={args.seed} nproc={cpus} "
          f"failed_ratio={failed / attempted:.6g} ({failed}/{attempted})")
    print(report_line("wall_s", walls, "s"))
    print(report_line("turns_per_s", [wl.work_units() / w for w in walls], "1/s"))
    print(report_line("peak_rss_mb", [rss.peak_mb], "MB"))
    print(report_line("setup_s", setup_times, "s"))
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer_metrics.items()}
    else:
        metrics = {
            k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in end_to_end.items()
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
