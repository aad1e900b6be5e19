"""The two workloads: ``build`` (the write path) and ``serve`` (the read
path over the forked replica pool).

Each returns a ``Result``.  The end-to-end numbers come from the timed
loop, which runs once per run.  With ``trace`` each timed build is also
wrapped in a Spark job group (the counting calls stay outside the build's
timing), and the layer probes of ``layers.py`` run after the loop.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import corpus
import lanes
import layers
import procfs
import stream
from lanes import mean, median, percentile
from sparkstat import SparkCounter

# a setup cycle is repeated this many times per run and its median
# reported; the first cycle also launches the JVM
SETUP_CYCLES = 3
# stream positions whose served rows are checked against the Spark lane
CHECK_SAMPLE = 8
# the loop wraps around the stream if it runs out
STREAM_LEN = 5_000
# timed builds per run, at least; at local[2] on 4 vCPUs a 48k-turn build
# takes 8-11 s, so a run stops at MAX_BUILDS builds, clean or not
MIN_TIMED_BUILDS = 2
MAX_BUILDS = 3
# a build spans about 10 s, over which this VM shows 2-3% steal for minutes at
# a time; the serve loop's 2% limit for 1 s slices would drop most builds
BUILD_STEAL_LIMIT_PCT = 5.0
# reference queries that tests/test_local_search.py pins against the
# oracle; ``build`` checks them on its oracle-checked index
ORACLE_QIDS = (1, 4, 5, 11, 13, 18)
# scores equal the oracle's to this (the tests' tolerance)
ORACLE_ABS_TOL = 1e-9


@dataclass
class Result:
    end_to_end: dict
    per_layer: dict
    attempted: int
    failed: int
    correct: bool
    notes: dict


@dataclass
class Ctx:
    seed: int
    seconds: float
    trace: bool
    work: str
    turns: dict  # corpus sizes by use: "build", "check", "serve"

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


def _build_cfg():
    from probe_spark.index.build import BuildConfig

    # with the default 32 buckets, most bucket files of an index under
    # 100k turns would hold a handful of terms
    return BuildConfig(n_buckets=8)


def _host(sampler) -> dict:
    s = sampler.summary()
    return {
        "host.busy_pct": s.get("host_busy_mean", 0.0),
        "host.steal_pct": s.get("host_steal_mean", 0.0),
        "host.psi_cpu_stall_s_per_s": s.get("host_psi_cpu_stall_s_per_s", 0.0),
    }


def _compare(got: list, want: list) -> int:
    """Number of queries whose (doc_id, score) rows differ."""
    return sum(1 for g, w in zip(got, want) if g is None or w is None or g != w)


# -- build ------------------------------------------------------------------


def _oracle_mismatches(table, index: str) -> int:
    """Reference queries ``ORACLE_QIDS`` on ``index`` (``LocalSearcher``)
    against ``oracle.search`` over the texts of ``table``, the corpus the
    index was built from: doc ids exact, scores within ``ORACLE_ABS_TOL``.
    The oracle numbers docs by list position, so the texts are listed in
    the index's doc_id order, matched to the corpus by (conv_id,
    turn_idx); an index that does not hold each corpus turn exactly once
    fails every query."""
    import pyarrow.dataset as ds

    from probe_spark import oracle
    from probe_spark.fixtures import REFERENCE_QUERIES
    from probe_spark.search.local import LocalSearcher

    qk = [(q, k) for qid, q, k in REFERENCE_QUERIES if qid in ORACLE_QIDS]
    docs = ds.dataset(
        os.path.join(index, "docs"), format="parquet", partitioning="hive"
    ).to_table(columns=["doc_id", "conv_id", "turn_idx"]).sort_by("doc_id")
    text = {
        (c, t): x
        for c, t, x in zip(
            table["conv_id"].to_pylist(), table["turn_idx"].to_pylist(), table["text"].to_pylist()
        )
    }
    keys = list(zip(docs["conv_id"].to_pylist(), docs["turn_idx"].to_pylist()))
    if docs["doc_id"].to_pylist() != list(range(len(text))) or set(keys) != set(text):
        return len(qk)
    texts = [text[key] for key in keys]
    ls = LocalSearcher(index)
    bad = 0
    for q, k in qk:
        want = oracle.search(texts, q, k=k)
        got = ls.search(q, k=k, with_metadata=False)
        bad += len(got) != len(want) or any(
            g["doc_id"] != w.doc_id or abs(g["score"] - w.score) > ORACLE_ABS_TOL
            for g, w in zip(got, want)
        )
    return bad


def _build_loop(builder, src: str, ctx: Ctx, counter, check_qk):
    """Timed builds into fresh directories until ``ctx.seconds`` of build
    time and ``MIN_TIMED_BUILDS`` builds are clean of steal.  Each index is
    queried (outside the timing) with ``LocalSearcher`` on ``check_qk``.
    With ``counter``, each build runs in a Spark job group, and the time of
    the counting calls around it is kept apart as ``trace_s``."""
    from probe_spark.search.local import LocalSearcher

    ops = []

    def short(ops):
        clean = [o["wall_s"] for o in ops if o["clean"]]
        return sum(clean) < ctx.seconds or len(clean) < MIN_TIMED_BUILDS

    while short(ops) and len(ops) < MAX_BUILDS:
        out = ctx.path(f"idx-{len(ops) % 2}")
        shutil.rmtree(out, ignore_errors=True)
        t = time.perf_counter()
        tok = counter.start(f"build-{len(ops)}") if counter else None
        trace_s = time.perf_counter() - t
        s0 = lanes.cpu_snap()
        t0 = time.perf_counter()
        info = builder.build(src, out)
        wall = time.perf_counter() - t0
        op = {
            "wall_s": wall,
            "elapsed_s": info["elapsed_sec"],
            "n_docs": info["n_docs"],
            # a build during a steal window is checked but not timed
            "clean": lanes.steal_pct(s0, lanes.cpu_snap()) <= BUILD_STEAL_LIMIT_PCT,
        }
        if counter:
            t = time.perf_counter()
            op["spark"] = counter.finish(tok)
            op["trace_s"] = trace_s + time.perf_counter() - t
        ls = LocalSearcher(out)
        op["rows"] = [lanes.rowkey(ls.search(q, k=k, with_metadata=False)) for q, k in check_qk]
        op["index"] = out
        ops.append(op)
    return ops


def build(ctx: Ctx):
    from bench import HostSampler
    from probe_spark.index.build import IndexBuilder
    from probe_spark.search.engine import SearchEngine

    n_turns = ctx.turns["build"]
    phases = lanes.Phases()
    spark = lanes.Spark(ctx.work)
    cycles = []
    t = time.perf_counter()
    builder = IndexBuilder(spark.start(), _build_cfg())
    cycles.append(time.perf_counter() - t)
    src = ctx.path("corpus")
    text_bytes, sample = corpus.write(src, n_turns, ctx.seed)
    check_src = ctx.path("corpus-check")
    check_table = corpus.generate(ctx.turns["check"], ctx.seed + 1)
    corpus.write_table(check_src, check_table)
    for _ in range(SETUP_CYCLES - 1):
        t = time.perf_counter()
        builder = IndexBuilder(spark.restart(), _build_cfg())
        cycles.append(time.perf_counter() - t)
    phases.mark("setup")

    # warm-up: the first build in fresh Python workers pays their imports
    # and word memos.  It builds the small check corpus, whose index is
    # then checked against the oracle.  The first timed build after it
    # still runs 1-4 s slower than the second; a full-size warm-up build
    # removes that but adds 10 s to every run.
    check_idx = ctx.path("idx-check")
    builder.build(check_src, check_idx)
    phases.mark("warmup_build")
    oracle_bad = _oracle_mismatches(check_table, check_idx)
    # the reference queries that search_batch answers in its one shared
    # job: the Spark lane checks them all in one job after the loop
    check_engine = SearchEngine(spark.session, check_idx)
    check_qk = [(q, k) for q, k in lanes.REFERENCE_QK if check_engine.batchable(q)]
    phases.mark("oracle")

    counter = SparkCounter(spark.session) if ctx.trace else None
    with HostSampler() as sampler:
        ops = _build_loop(builder, src, ctx, counter, check_qk)
    phases.mark("timed")

    ref = ops[-1]["index"]
    want = lanes.engine_rows(SearchEngine(spark.session, ref), check_qk)
    phases.mark("check")
    failed = oracle_bad
    for op in ops:
        bad = op["n_docs"] != n_turns or _compare(op["rows"], want) > 0
        failed += int(bad)
    attempted = len(ops) + len(ORACLE_QIDS)

    walls = [o["wall_s"] for o in ops if o["clean"]] or [o["wall_s"] for o in ops]
    e2e = {
        "setup_s": median(cycles),
        "latency_mean_ms": mean(walls) * 1e3,
        "latency_p99_ms": percentile(walls, 99) * 1e3,
        # n_turns / mean build: the same measurement as latency_mean_ms
        "throughput_per_s": n_turns * len(walls) / sum(walls),
        "index_bytes_per_text_byte": lanes.dir_bytes(ref) / text_bytes,
        "peak_rss_mb": procfs.peak_rss_mb(),
    }
    per_layer = {}
    notes = {
        "build_wall_s": [o["wall_s"] for o in ops],
        "latency_p50_ms": median(walls) * 1e3,
        "build_clean": [o["clean"] for o in ops],
        "oracle_mismatches": oracle_bad,
        "setup_cycles_s": cycles,
        "phases_s": phases,
        **_host(sampler),
    }
    if ctx.trace:
        per_layer.update(_build_layers(ops))
        per_layer["trace.overhead_pct"] = (
            100.0 * median([o["trace_s"] for o in ops]) / mean([o["wall_s"] for o in ops])
        )
        per_layer.update(_host(sampler))
        # the read-path probes run on the small check index, the size of
        # serve's index; the index layout is the timed build's
        per_layer.update(
            layers.probe_all(
                ctx, spark.session, sample, build_index=ref,
                engine=check_engine, read_index=check_idx, serve_loop=None,
            )
        )
        phases.mark("probes")
    return Result(e2e, per_layer, attempted, failed, failed == 0, notes)


def _build_layers(ops) -> dict:
    sp = [o["spark"] for o in ops]
    return {
        "index.build.spark_jobs": median([s["jobs"] for s in sp]),
        "index.build.spark_stages": median([s["stages"] for s in sp]),
        "index.build.spark_tasks": median([s["tasks"] for s in sp]),
        "index.build.failed_tasks": max(s["failed_tasks"] for s in sp),
        "index.build.driver_gap_s": median([o["wall_s"] - o["elapsed_s"] for o in ops]),
    }


# -- serve ------------------------------------------------------------------


def serve_lane(session, index: str, warm: list):
    """Engine, replica-backed QueryService, and a warm-up pass through it."""
    from probe_spark.search.engine import SearchEngine
    from probe_spark.search.service import QueryService

    engine = SearchEngine(session, index)
    svc = QueryService(engine, local_workers=lanes.REPLICAS)
    lanes.closed_loop(lambda q, k: svc.submit(q, k).result(), warm)
    return engine, svc


def replica_loop(svc, queries, seconds, counter, keep=0):
    """The timed closed loop over ``svc`` in one Spark job group, with the
    Spark jobs it ran and the share of its time spent in the counting
    calls (percent)."""
    t = time.perf_counter()
    tok = counter.start("serve-loop")
    t0 = time.perf_counter()
    res = lanes.closed_loop(
        lambda q, k: svc.submit(q, k).result(), queries, seconds=seconds, keep=keep
    )
    t1 = time.perf_counter()
    jobs = counter.finish(tok)["jobs"]
    count_s = (t0 - t) + (time.perf_counter() - t1)
    return res, jobs, 100.0 * count_s / (t1 - t0)


def replica_pids() -> list[int]:
    me = os.getpid()
    out = []
    for p in procfs.descendants():
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        if ppid == me and "java" not in procfs.cmdline(p):
            out.append(p)
    return out


def serve(ctx: Ctx):
    from bench import HostSampler
    from probe_spark.index.build import IndexBuilder

    n_turns = ctx.turns["serve"]
    phases = lanes.Phases()
    spark = lanes.Spark(ctx.work)
    session = spark.start()
    src = ctx.path("corpus")
    text_bytes, sample = corpus.write(src, n_turns, ctx.seed)
    index = ctx.path("idx")
    counter = SparkCounter(session)
    builder = IndexBuilder(session, _build_cfg())
    tok = counter.start("setup-build") if ctx.trace else None
    t = time.perf_counter()
    info = builder.build(src, index)
    build_wall = time.perf_counter() - t
    build_spark = counter.finish(tok) if ctx.trace else None

    queries = stream.generate(STREAM_LEN, ctx.seed)
    warm = stream.generate(stream.WARM_LEN, ctx.seed, salt=1)
    phases.mark("index")
    # a serve set-up cycle starts the lane on the running session; the JVM
    # and the Python workers were started and warmed for the index build
    cycles = []
    svc = None
    for _ in range(SETUP_CYCLES):
        if svc is not None:
            svc.close()
        t = time.perf_counter()
        engine, svc = serve_lane(session, index, warm)
        cycles.append(time.perf_counter() - t)

    phases.mark("setup")
    with HostSampler() as sampler:
        loop, jobs, count_pct = replica_loop(svc, queries, ctx.seconds, counter, keep=CHECK_SAMPLE)
    lats, kept = loop.lats, loop.kept
    phases.mark("timed")
    replicas = replica_pids()
    rss_replica = [procfs.rss_mb(p) for p in replicas]
    # the serving process tree: driver and replica forks (the idle Spark
    # JVM is the build's and the check's, not the replicas')
    peak = procfs.peak_rss_mb([os.getpid(), *replicas])

    # outside the timing: served rows against the Spark lane
    ref_rows = [lanes.rowkey(svc.submit(q, k).result()) for q, k in lanes.REFERENCE_QK]
    sample_qk = [queries[i] for i in sorted(kept)]
    want = lanes.engine_rows(engine, lanes.REFERENCE_QK + sample_qk)
    got = ref_rows + [lanes.rowkey(kept[i]) for i in sorted(kept)]
    failed = loop.errors + _compare(got, want)
    attempted = loop.n_ops + len(lanes.REFERENCE_QK)
    svc.close()
    phases.mark("check")

    e2e = {
        "setup_s": median(cycles),
        "latency_mean_ms": mean(lats) * 1e3,
        "latency_p99_ms": percentile(lats, 99) * 1e3,
        "throughput_per_s": len(lats) / loop.clean_s,
        "index_bytes_per_text_byte": lanes.dir_bytes(index) / text_bytes,
        "peak_rss_mb": peak,
    }
    notes = {
        "setup_cycles_s": cycles,
        "queries": len(lats),
        "latency_p50_ms": median(lats) * 1e3,
        "dropped_steal_slices": loop.dropped_slices,
        "spark_jobs_in_loop": jobs,
        "setup_build_wall_s": build_wall,
        "phases_s": phases,
        **_host(sampler),
    }
    per_layer = {}
    if ctx.trace:
        per_layer.update(
            _build_layers(
                [{"spark": build_spark, "wall_s": build_wall, "elapsed_s": info["elapsed_sec"]}]
            )
        )
        # the loop is counted in every run (the 0-job check); this is the
        # counting's share of the loop's time
        per_layer["trace.overhead_pct"] = count_pct
        per_layer.update(_host(sampler))
        per_layer.update(
            layers.probe_all(
                ctx, spark.session, sample, build_index=index,
                engine=engine, read_index=index,
                serve_loop={
                    "p50_ms": median(lats) * 1e3,
                    "spark_jobs": jobs,
                    "rss_mb": rss_replica,
                },
            )
        )
        phases.mark("probes")
    # the replica route must not touch Spark
    return Result(e2e, per_layer, attempted, failed, failed == 0 and jobs == 0, notes)


WORKLOADS = {"build": build, "serve": serve}
