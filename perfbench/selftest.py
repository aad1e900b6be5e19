"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py        # from the checkout root, ~5 min

Checks that the input generators are deterministic per seed, that every
workload prints exactly the metrics BENCHMARK.json names (with their
units) in both modes and reports no failed operation, that the replica
loop runs no Spark job, and that the benchmark refuses to run in a
directory without the program.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import corpus  # noqa: E402
from probe_spark.fixtures import REFERENCE_QUERIES  # noqa: E402
import metrics  # noqa: E402
import stream  # noqa: E402


def check_generators() -> None:
    a, b, c = corpus.generate(800, 3), corpus.generate(800, 3), corpus.generate(800, 4)
    assert a.equals(b), "corpus differs for one seed"
    assert not a.equals(c), "corpus ignores the seed"
    assert a.num_rows == c.num_rows == 800
    assert sorted(corpus.turn_shapes(800)[1]) == sorted(corpus.turn_shapes(800)[1])
    assert stream.generate(500, 3) == stream.generate(500, 3), "stream differs for one seed"
    assert stream.generate(500, 3) != stream.generate(500, 4), "stream ignores the seed"
    # each block of 23 stream queries is the reference suite, words redrawn
    suite = sorted(k for _qid, _q, k in REFERENCE_QUERIES)
    assert sorted(k for _q, k in stream.generate(23, 3)) == suite
    assert len(set(corpus.vocabulary())) == corpus.VOCAB_SIZE


def run(workload: str, trace: int, cwd: str = ROOT) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "5", "--seconds", "2",
         "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, p.stdout


def check_workload(workload: str, trace: int) -> None:
    rc, out = run(workload, trace)
    assert rc == 0, f"{workload} trace={trace} exited {rc}"
    res = json.loads(out.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, res
    want = metrics.per_layer() if trace else metrics.end_to_end()
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"{workload} trace={trace}: {sorted(set(got) ^ set(want))}"
    if trace:
        assert res["metrics"]["search.replicas.spark_jobs"]["value"] == 0
    else:
        assert all(v["value"] > 0 for v in res["metrics"].values()), res["metrics"]


def check_without_program() -> None:
    bare = os.path.join(ROOT, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        rc, out = run("build", 0, cwd=bare)
        assert rc != 0 and not out.strip(), (rc, out)
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> None:
    check_generators()
    check_without_program()
    for workload in ("build", "serve"):
        for trace in (0, 1):
            check_workload(workload, trace)
            print(f"ok {workload} trace={trace}", flush=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
