"""Shared pieces of the workloads: the Spark session, the closed-loop
client, the reference-row check and small statistics."""

from __future__ import annotations

import bisect
import itertools
import math
import os
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass

from probe_spark.fixtures import REFERENCE_QUERIES

import procfs

REPLICAS = 2
CLIENTS = 2
# Spark task slots (local[N]).  On a 4-vCPU VM, 96k-turn builds at
# local[4] took 6.7-8.5 s in one JVM and 8.7-10.8 s in the next; at
# local[2] they took 12.5-13.3 s and 13.2-15.4 s.  Two free vCPUs absorb
# a slow or contended one.
SPARK_CORES = 2


def percentile(values, p: float) -> float:
    """Nearest-rank percentile of ``values`` (p in 0..100)."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def mean(values) -> float:
    return sum(values) / len(values)


def median(values) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


class Phases(dict):
    """Wall seconds per named phase of a run, for the run's notes."""

    def __init__(self):
        super().__init__()
        self._t = time.perf_counter()

    def mark(self, name: str) -> None:
        now = time.perf_counter()
        self[name] = round(self.get(name, 0.0) + now - self._t, 3)
        self._t = now


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(path)
        for f in files
    )


class Spark:
    """One local Spark JVM for the whole run; ``restart`` replaces the
    SparkContext inside it (a new application, so the program's
    per-application set-up runs again)."""

    def __init__(self, work: str):
        self.work = work
        self.session = None

    def start(self):
        from pyspark.sql import SparkSession

        tmp = os.path.join(self.work, "tmp")
        self.session = (
            SparkSession.builder.master(f"local[{SPARK_CORES}]")
            .appName("perfbench")
            .config("spark.driver.memory", "1g")
            .config("spark.sql.shuffle.partitions", str(2 * SPARK_CORES))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            .config("spark.local.dir", os.path.join(self.work, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config(
                "spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            )
            .getOrCreate()
        )
        self.session.sparkContext.setLogLevel("ERROR")
        return self.session

    def restart(self):
        self.session.stop()
        return self.start()

    @staticmethod
    def shutdown() -> None:
        """Stop the context and the JVM, and wait for every process the
        run started to end."""
        from pyspark import SparkContext

        kids = procfs.descendants()
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            from py4j.protocol import Py4JError

            try:
                gw.shutdown()
            except Py4JError:
                pass
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        procfs.reap(kids)


# The timed loop is cut into slices; a slice in which the hypervisor stole
# more than STEAL_LIMIT_PCT of the CPU is dropped with the operations that
# completed in it, and the loop runs on (up to MAX_STRETCH x its length)
# until it has its clean seconds.  On a 4-vCPU VM, steal windows of 10-20%
# halved serve throughput for a whole run, in 2 of 10 runs.
SLICE_S = 1.0
STEAL_LIMIT_PCT = 2.0
MAX_STRETCH = 1.5


@dataclass
class Loop:
    lats: list  # seconds, operations that completed in clean slices
    clean_s: float
    kept: dict  # rows by stream position, for the first ``keep`` positions
    errors: int
    n_ops: int  # every operation the loop ran
    dropped_slices: int


def cpu_snap() -> tuple:
    """(total, idle, steal, psi) from ``bench.HostSampler``'s reading."""
    from bench import HostSampler

    return HostSampler._snap()


def steal_pct(before: tuple, after: tuple) -> float:
    return 100.0 * (after[2] - before[2]) / max(1, after[0] - before[0])


def closed_loop(call, queries, clients=CLIENTS, seconds=None, keep=0) -> Loop:
    """``clients`` threads each send the next (query, k) of ``queries``
    after the previous reply.  Runs until ``seconds`` of clean slices are
    collected, or over the whole list once when ``seconds`` is None."""
    counter = itertools.count()
    done: list[list[tuple[float, float]]] = [[] for _ in range(clients)]
    kept: dict[int, list] = {}
    errors = [0]
    stop = threading.Event()

    def client(c: int) -> None:
        while not stop.is_set():
            i = next(counter)
            if seconds is None and i >= len(queries):
                return
            t0 = time.perf_counter()
            try:
                rows = call(*queries[i % len(queries)])
            except Exception:  # a failed query is counted, not fatal
                rows = None
                if not errors[0]:
                    traceback.print_exc(file=sys.stderr)
                errors[0] += 1
            t1 = time.perf_counter()
            done[c].append((t1, t1 - t0))
            if i < keep:
                kept[i] = rows

    threads = [threading.Thread(target=client, args=(c,)) for c in range(clients)]
    t_start = time.perf_counter()
    for t in threads:
        t.start()
    slices: list[tuple[float, float, bool]] = []
    if seconds is not None:
        t_prev, prev = t_start, cpu_snap()
        clean = 0.0
        while clean < seconds and t_prev - t_start < MAX_STRETCH * seconds:
            time.sleep(SLICE_S)
            t, cur = time.perf_counter(), cpu_snap()
            ok = steal_pct(prev, cur) <= STEAL_LIMIT_PCT
            slices.append((t_prev, t, ok))
            clean += (t - t_prev) if ok else 0.0
            t_prev, prev = t, cur
        stop.set()
    for t in threads:
        t.join()
    ops = [x for d in done for x in d]
    if seconds is None:
        return Loop([lat for _t, lat in ops], time.perf_counter() - t_start, kept, errors[0], len(ops), 0)
    if not any(ok for _a, _b, ok in slices):  # never clean: keep them all
        slices = [(a, b, True) for a, b, _ok in slices]
    ends = [b for _a, b, _ok in slices]
    lats = []
    for t1, lat in ops:
        j = bisect.bisect_left(ends, t1)
        if j < len(slices) and slices[j][2]:
            lats.append(lat)
    clean_s = sum(b - a for a, b, ok in slices if ok)
    dropped = sum(1 for _a, _b, ok in slices if not ok)
    return Loop(lats, clean_s, kept, errors[0], len(ops), dropped)


def rowkey(rows) -> "list[tuple[int, float]] | None":
    if rows is None:
        return None
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def engine_rows(engine, queries_k) -> list:
    """(doc_id, score) rows per query from the Spark lane: a QueryService
    with the replica route off, so batchable queries share one
    ``search_batch`` job and the rest run as concurrent ``search`` jobs."""
    from probe_spark.search.service import QueryService

    svc = QueryService(engine, with_metadata=False, local_route=False)
    try:
        futs = [svc.submit(q, k) for q, k in queries_k]
        out = []
        for f in futs:
            try:
                out.append(rowkey(f.result()))
            except Exception:  # a failed query is a mismatch, not fatal
                traceback.print_exc(file=sys.stderr)
                out.append(None)
        return out
    finally:
        svc.close()


REFERENCE_QK = [(q, k) for _qid, q, k in REFERENCE_QUERIES]
