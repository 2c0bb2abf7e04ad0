"""Sharing-plane benchmark entry point.

    python3 sharebench/run.py --workload metadata_serve --seed 1 \\
        --seconds 15 --trace 0

Runs one workload against the ``delta_sharing_spark`` package of the
checkout this file sits in, checks every answer, and prints one JSON
object as the last line of standard output. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` wraps the program's layers and reports
the per-layer metrics instead. Exits non-zero when the program is missing
or an answer is wrong.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import common  # noqa: E402

WORKLOADS = ("metadata_serve", "recipient_read")
UNITS = {"setup_s": "s", "mem_mb": "MB", "light_ms": "ms", "heavy_ms": "ms"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    import delta_sharing_spark  # noqa: F401  fails fast without the program

    workload = importlib.import_module(args.workload)
    wd = common.make_workdir(args.workload)
    probe = common.HostProbe()
    probe.sample()
    spark = None
    tracer = None
    try:
        spark = common.start_spark(wd, workload.CPUS)
        if args.trace:
            import tracing

            tracer = tracing.Tracer(spark)
        res = workload.run(spark, wd, args.seed, args.seconds, probe, tracer)
        layers = tracer.report() if tracer is not None else None
    finally:
        if tracer is not None:
            tracer.restore()
        if spark is not None:
            common.stop_spark(spark)
        shutil.rmtree(wd, ignore_errors=True)
    attempted = sum(r.attempted for r in res["runners"])
    failed = sum(r.failed for r in res["runners"])
    for r in res["runners"]:
        for e in r.errors:
            print(f"# error: {e}", file=sys.stderr)
    host = probe.summary()
    e2e = {k: res[k] for k in UNITS}
    fail_ratio = failed / attempted
    print(f"# {args.workload} " + " ".join(
        f"{res['names'].get(k, k)}={v:.4g}{UNITS[k]}"
        for k, v in e2e.items()) + f" fail_ratio={fail_ratio:.4g}")
    print("# samples (count, median ms, p90 ms) " + " ".join(
        f"{k}={len(v)},{common.median(v):.1f},{common.percentile(v, 90):.1f}"
        for k, v in sorted(res["samples"].items())))
    print("# host " + json.dumps(host))
    for k, v in sorted(res["samples"].items()):
        common.log(f"{k} ms: " + " ".join(f"{x:.1f}" for x in v))
    if args.trace:
        metrics = dict(layers)
        metrics.update(host)
        metrics["fail_ratio"] = fail_ratio
        units = tracing.UNITS
    else:
        metrics = e2e
        units = UNITS
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": units[k]}
                       for k, v in metrics.items()}}
    print(json.dumps(out), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main()
    print(f"# wall {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    sys.exit(code)
