"""probe-spark benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload {build,serve} --seed N \\
        --seconds S --trace {0,1} [--scale {full,tiny}]

Run from the root of a checkout.  Everything the run writes goes under
``.bench_work/`` in that checkout and is removed at the end.  The last
line of standard output is the result; progress and the run's details
(host conditions, per-operation times) go to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# turns per seeded corpus: build's timed corpus, its oracle-checked
# warm-up corpus, and serve's corpus; "tiny" is the self-test's size
SCALES = {
    "full": {"build": 48_000, "check": 4_000, "serve": 8_000},
    "tiny": {"build": 3_000, "check": 1_500, "serve": 1_500},
}


def _isolate(work: str) -> None:
    """Point every temporary path of Python, Spark and the JVM into
    ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    try:
        import bench  # noqa: F401  (HostSampler)
        import probe_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout ({e})", file=sys.stderr)
        return 2

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    _isolate(work)
    ctx = workloads.Ctx(
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        work=work,
        turns=SCALES[args.scale],
    )
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        import lanes

        lanes.Spark.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    import metrics

    wanted = metrics.per_layer() if args.trace else metrics.end_to_end()
    got = res.per_layer if args.trace else res.end_to_end
    missing = sorted(set(wanted) - set(got))
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    print(json.dumps({"workload": args.workload, "seed": args.seed, **res.notes}), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": res.correct,
                "attempted": int(res.attempted),
                "failed": int(res.failed),
                "metrics": {
                    name: {"value": float(got[name]), "unit": unit}
                    for name, unit in wanted.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
