"""North-rule scaling evidence, QUERY side: the SAME warm BM25 query
service at two parallelism levels (N and 4N cores — the sandbox substitute
for N vs 4N executors) over the SAME pre-built index, reporting suite
throughput (queries/sec) at both plus scaling efficiency.

The north-rule metric names BOTH halves — "index-build turns/sec + BM25
top-k query p95 latency ... scaling efficiency >= 0.8 from N to 4N" —
and scripts/scaling_bench.py evidences only the build.  This harness
evidences the query half the way a real 4N cluster would see it: a query
SERVICE serves proportionally more concurrent queries, so in-flight
concurrency = cores, and the scaling quantity is sustained throughput of
the reference suite (probe_spark.fixtures.REFERENCE_QUERIES), warm (the
service's steady state; session startup/codegen is not query latency).

Same sandbox caveats and normalization as scaling_bench.py: this VM's
vcpus are overcommitted (a pure-CPU burn scales well under 4x for 4x the
cores) and its memory system saturates near 8 streams, so every sample is
burn-gated and raw efficiency is reported alongside cpu- and bw-normalized
efficiencies.  Measured samples run in fresh subprocesses (a session that
has run big jobs measurably degrades later jobs on this VM).

Usage: python scripts/query_scaling_bench.py [lo hi [rounds]] (default 2 8 3)
Writes SCALING_QUERY.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scaling_bench import bw_capacity, hw_capacity, pregen_corpus  # noqa: E402

# measured passes of the 23-query suite per sample; the warm pass that
# precedes them is unmeasured (cache fill + first-touch codegen = session
# startup, not query latency)
PASSES = int(os.environ.get("SPARK_GRAFT_QUERY_PASSES", "3"))

# SPARK_GRAFT_QUERY_SERVICE=1: clients submit through the micro-batching
# QueryService (search/service.py) instead of calling search() directly —
# the serving architecture a throughput-oriented deployment runs (requests
# in flight coalesce into one shared search_batch job, paying the
# per-query driver/scheduler floor once per batch).  Writes
# SCALING_QUERY_SERVICE.json so both serving modes keep their artifact.
SERVICE = os.environ.get("SPARK_GRAFT_QUERY_SERVICE", "") == "1"


def pregen_index(corpus_dir: str, n_convs: int) -> str:
    """Build the index ONCE at full parallelism; every measured sample
    queries it (index build scaling is scaling_bench.py's job)."""
    import tempfile

    out = os.path.join(tempfile.gettempdir(), f"scaling_query_idx_{n_convs}")
    marker = os.path.join(out, "_QUERY_SCALING_READY")
    if os.path.exists(marker):
        return out
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "import bench\n"
        "from probe_spark.index.build import BuildConfig, IndexBuilder\n"
        "spark = bench.build_spark(32)\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "IndexBuilder(spark, BuildConfig()).build(%r, %r)\n"
        "spark.stop()\n" % (REPO, corpus_dir, out)
    )
    subprocess.run([sys.executable, "-c", code], check=True, timeout=3600)
    with open(marker, "w"):
        pass
    return out


WORKER_CODE = r"""
import json, os, sys, time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, {repo!r})
import bench
from probe_spark.fixtures import REFERENCE_QUERIES
from probe_spark.search.engine import SearchEngine

cpus = {cpus}
spark = bench.build_spark(cpus)
spark.sparkContext.setLogLevel("ERROR")
eng = SearchEngine(spark, {index_dir!r})

# warm pass (unmeasured): fills per-term df and segment metadata,
# repair bundles, and first-touch codegen — the service's steady state
for _qid, qtext, k in REFERENCE_QUERIES:
    eng.search(qtext, k=k).collect()

service = {service}
if service:
    from probe_spark.search.service import QueryService

    svc = QueryService(eng, max_batch=max(cpus * 4, 16))
    replicas_active = svc._replicas is not None
    # warm the serving tier itself: with local routing active (round 5)
    # each forked replica keeps its own postings/repair caches, so one
    # sequential suite pass would leave most replicas cold — submit
    # cpus concurrent passes so every replica sees the vocabulary
    futs = [
        svc.submit(qtext, k)
        for _ in range(cpus)
        for _qid, qtext, k in REFERENCE_QUERIES
    ]
    for f in futs:
        f.result()

    def one(args):
        _qid, qtext, k = args
        t0 = time.time()
        svc.search(qtext, k=k)
        return time.time() - t0
else:
    def one(args):
        _qid, qtext, k = args
        t0 = time.time()
        eng.search(qtext, k=k).collect()
        return time.time() - t0

work = [q for _ in range({passes})
          for q in REFERENCE_QUERIES]


def _proc_cpu():
    # driver python + child cpu-seconds (user+sys).  RUSAGE_CHILDREN only
    # counts REAPED children — the JVM and (in replica mode) the forked
    # LocalSearcher pool are still alive during measurement — so also sum
    # live descendants' /proc/<pid>/stat utime+stime.
    import os, resource
    a = resource.getrusage(resource.RUSAGE_SELF)
    b = resource.getrusage(resource.RUSAGE_CHILDREN)
    total = a.ru_utime + a.ru_stime + b.ru_utime + b.ru_stime
    try:
        tick = os.sysconf("SC_CLK_TCK")
        me, seen = str(os.getpid()), dict()
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open("/proc/" + pid + "/stat") as f:
                    parts = f.read().rsplit(") ", 1)[1].split()
                seen[pid] = (parts[1], int(parts[11]) + int(parts[12]))
            except OSError:
                continue
        live = set([me])
        grew = True
        while grew:
            grew = False
            for pid, (ppid, _cpu) in seen.items():
                if pid not in live and ppid in live:
                    live.add(pid)
                    grew = True
        total += sum(
            cpu for pid, (_pp, cpu) in seen.items() if pid in live and pid != me
        ) / tick
    except Exception:
        pass
    return total


# CONTROL 1: single-flight — the same warm suite one query at a time.
# Fixes per-query work attribution: core-seconds/query with NO
# concurrency on this guest.  (One pass: the suite is warm already.)
sf_cpu0 = _proc_cpu()
sf_t0 = time.time()
for q in REFERENCE_QUERIES:
    one(q)
single_flight_sec = time.time() - sf_t0
single_flight_cpu = _proc_cpu() - sf_cpu0

with bench.HostSampler() as sampler:
    cpu0 = _proc_cpu()
    t0 = time.time()
    # in-flight concurrency = cores: a 4N service serves 4N the clients
    with ThreadPoolExecutor(max_workers=cpus) as pool:
        lat = list(pool.map(one, work))
    wall = time.time() - t0
    conc_cpu = _proc_cpu() - cpu0
lat.sort()
print(json.dumps({{
    "single_flight_suite_sec": round(single_flight_sec, 3),
    "replicas_active": (service and replicas_active),
    "single_flight_coresec_per_query": round(
        single_flight_cpu / len(REFERENCE_QUERIES), 3),
    "concurrent_coresec_per_query": round(conc_cpu / len(work), 3),
    "qps": round(len(work) / wall, 3),
    "wall_sec": round(wall, 3),
    "n_queries": len(work),
    "p50_sec": round(lat[len(lat) // 2], 3),
    "p95_sec": round(lat[int(0.95 * (len(lat) - 1))], 3),
    **sampler.summary(),
}}))
spark.stop()
"""


def run_once(cpus: int, index_dir: str) -> dict:
    code = WORKER_CODE.format(
        repo=REPO, cpus=cpus, index_dir=index_dir, passes=PASSES,
        service=SERVICE,
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=3600,
    )
    for line in out.stdout.splitlines():
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(
        f"no JSON from query worker at {cpus} cpus:\n{out.stderr[-2000:]}"
    )


def main() -> None:
    lo = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    hi = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    n_convs = int(os.environ.get("SPARK_GRAFT_N_CONVS", "200000"))
    corpus = pregen_corpus(n_convs)
    index_dir = pregen_index(corpus, n_convs)

    job: dict[int, list[float]] = {lo: [], hi: []}
    last_replicas_active = False
    p95s: dict[int, list[float]] = {lo: [], hi: []}
    controls: dict[int, list[dict]] = {lo: [], hi: []}
    best_burn: dict[int, float] = {lo: 0.0, hi: 0.0}
    best_bw: dict[int, float] = {lo: 0.0, hi: 0.0}
    n_queries = None
    for r in range(rounds):
        for cpus in (lo, hi):
            # clean-window gate + post-run validation: same methodology as
            # scaling_bench.py (gate on the register burn only; the triad
            # instrument itself fluctuates too much to threshold)
            burn = hw_capacity(cpus)
            bwx = bw_capacity(cpus)
            best_burn[cpus] = max(best_burn[cpus], burn)
            best_bw[cpus] = max(best_bw[cpus], bwx)
            for _ in range(6):
                if burn >= 0.85 * best_burn[cpus]:
                    break
                print(
                    f"  [contended window: burn {burn:.2f}/"
                    f"{best_burn[cpus]:.2f}; waiting 45s]", flush=True,
                )
                time.sleep(45)
                burn = hw_capacity(cpus)
                best_burn[cpus] = max(best_burn[cpus], burn)
            for attempt in range(3):
                res = run_once(cpus, index_dir)
                post = hw_capacity(cpus)
                post_bw = bw_capacity(cpus)
                best_burn[cpus] = max(best_burn[cpus], post)
                best_bw[cpus] = max(best_bw[cpus], post_bw)
                ok = post >= 0.85 * best_burn[cpus]
                n_queries = res["n_queries"]
                last_replicas_active = res.get("replicas_active", False)
                job[cpus].append(res["qps"])
                p95s[cpus].append(res["p95_sec"])
                controls[cpus].append(
                    {
                        k: res[k]
                        for k in (
                            "single_flight_suite_sec",
                            "single_flight_coresec_per_query",
                            "concurrent_coresec_per_query",
                        )
                        if k in res
                    }
                )
                print(
                    f"round {r} local[{cpus}]"
                    f"{'' if ok else f' [dirty window, attempt {attempt}]'}: "
                    f"{res['qps']} q/s (wall {res['wall_sec']}s, "
                    f"p50 {res['p50_sec']}s p95 {res['p95_sec']}s) | "
                    f"burn pre {burn:.2f} post {post:.2f} | host busy "
                    f"{res.get('host_busy_mean')}% "
                    f"steal {res.get('host_steal_mean')}%",
                    flush=True,
                )
                if ok:
                    break
    best_lo, best_hi = max(job[lo]), max(job[hi])
    best_hw_lo = max(best_burn[lo], 0.001)
    best_hw_hi = max(best_burn[hi], 0.001)
    ratio = hi / lo
    raw = (best_hi / best_lo) / ratio
    hw_eff = (best_hw_hi / best_hw_lo) / ratio
    normalized = raw / hw_eff if hw_eff > 0 else 0.0
    bw_eff = (best_bw[hi] / best_bw[lo]) / ratio if best_bw[lo] else 0.0
    normalized_bw = raw / bw_eff if bw_eff > 0 else 0.0
    result = {
        "job": "bm25_query_service_batched" if SERVICE
        else "bm25_query_service",
        "serving_mode": (
            (
                "QueryService, driver-local replica tier (forked "
                "LocalSearcher processes, zero Spark jobs per request)"
                if last_replicas_active
                else "micro-batched (QueryService over search_batch)"
            )
            if SERVICE
            else "per-request search()"
        ),
        "n_turns_indexed": n_convs and None,  # filled below
        "n_queries_per_sample": n_queries,
        "suite": "REFERENCE_QUERIES x %d passes, warm, in-flight = cores"
        % PASSES,
        "cpus_lo": lo,
        "cpus_hi": hi,
        "rounds": rounds,
        "qps_lo": best_lo,
        "qps_hi": best_hi,
        "samples_lo": job[lo],
        "samples_hi": job[hi],
        "p95_sec_lo": min(p95s[lo]),
        "p95_sec_hi": min(p95s[hi]),
        # single-flight / core-second controls: per-query work measured
        # with NO concurrency at each width, plus process cpu-seconds per
        # query under load — pins whether a qps gap is per-query work
        # inflating under this guest's contention (core-sec/query grows)
        # or the engine serializing (single-flight suite time grows with
        # width).
        "controls_lo": controls[lo],
        "controls_hi": controls[hi],
        "hw_units_per_sec_lo": round(best_hw_lo, 3),
        "hw_units_per_sec_hi": round(best_hw_hi, 3),
        "hw_efficiency": round(hw_eff, 3),
        "bw_units_per_sec_lo": round(best_bw[lo], 3),
        "bw_units_per_sec_hi": round(best_bw[hi], 3),
        "bw_efficiency": round(bw_eff, 3),
        "raw_efficiency": round(raw, 3),
        "normalized_efficiency": round(normalized, 3),
        "normalized_bw_efficiency": round(normalized_bw, 3),
        "target": 0.8,
        "pass_raw": raw >= 0.8,
        "pass_normalized": normalized >= 0.8,
        "pass_normalized_bw": normalized_bw >= 0.8,
        "note": (
            "Query-service scaling: sustained warm throughput of the "
            "reference suite with in-flight concurrency = cores, over one "
            "pre-built index.  Normalizations as in scaling_bench.py: "
            "this guest's vcpus are overcommitted and its memory system "
            "saturates near 8 streams; a real 4N-executor cluster adds 4x "
            "of both."
        ),
    }
    # corpus size for the record
    try:
        import pyarrow.dataset as ds

        result["n_turns_indexed"] = ds.dataset(corpus).count_rows()
    except Exception:
        result["n_turns_indexed"] = None
    print(json.dumps(result))
    out = os.environ.get("SPARK_GRAFT_SCALING_OUT") or (
        "SCALING_QUERY_SERVICE.json" if SERVICE else "SCALING_QUERY.json"
    )
    with open(os.path.join(REPO, out), "w") as f:
        json.dump(result, f, indent=2)


if __name__ == "__main__":
    main()
