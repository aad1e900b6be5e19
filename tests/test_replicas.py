"""The forked replica pool (search/replicas.py): rows identical to an
in-process LocalSearcher, a ``submit`` that never blocks, replica
exceptions delivered with their type, a SIGKILLed replica that fails its
request by name and is replaced (one killed while idle fails none),
replicas that exit with a killed driver, and a ``close`` that returns in
bounded time and leaves no child behind.  Every wait has a timeout, so a
regression fails instead of hanging the suite."""

from __future__ import annotations

import multiprocessing as mp
import os
import shutil
import signal
import sys
import threading
import time

import pytest

from probe_spark.fixtures import REFERENCE_QUERIES
from probe_spark.search import replicas
from probe_spark.search.local import LocalSearcher
from probe_spark.search.replicas import LocalReplicaPool, ReplicaDiedError

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench")
if PERFBENCH not in sys.path:
    sys.path.append(PERFBENCH)

import corpus  # noqa: E402  (perfbench's seeded corpus)
import stream  # noqa: E402  (perfbench's seeded query stream)

N_TURNS = 2000
SEED = 23
WAIT_S = 120
HANG = "__hang__"


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    from probe_spark.index.build import BuildConfig, IndexBuilder

    root = tmp_path_factory.mktemp("replicas")
    src, idx = str(root / "corpus"), str(root / "idx")
    corpus.write(src, N_TURNS, SEED)
    IndexBuilder(spark, BuildConfig(n_buckets=8)).build(src, idx)
    return idx


@pytest.fixture
def hang_marker(tmp_path, monkeypatch):
    """Makes the query ``HANG`` block for a minute in whichever replica
    serves it, after touching the returned path.  Patched before the
    pool forks, so the replicas inherit it."""
    marker = str(tmp_path / "in-search")
    search = LocalSearcher.search

    def patched(self, query, *a, **kw):
        if query == HANG:
            open(marker, "w").close()
            time.sleep(60)
        return search(self, query, *a, **kw)

    monkeypatch.setattr(LocalSearcher, "search", patched)
    return marker


def _wait_for(path: str) -> None:
    t = time.monotonic()
    while not os.path.exists(path):
        assert time.monotonic() - t < WAIT_S, "replica never started the request"
        time.sleep(0.01)


def _own_children(before: set) -> set:
    return {p for p in mp.active_children() if p not in before}


def _close_within(pool, limit: float) -> None:
    """``pool.close()``, failing (not hanging) if it takes over
    ``limit`` seconds."""
    t = threading.Thread(target=pool.close, daemon=True)
    t.start()
    t.join(timeout=limit)
    assert not t.is_alive(), f"close() took over {limit} s"


def test_rows_identical_to_in_process(index):
    qk = [(q, k) for _qid, q, k in REFERENCE_QUERIES] + stream.generate(300, SEED)
    ls = LocalSearcher(index)
    want = [repr(ls.search(q, k=k, with_metadata=True)) for q, k in qk]
    pool = LocalReplicaPool(index, 2)
    try:
        futs = [pool.submit(q, k) for q, k in qk]
        got = [repr(f.result(timeout=WAIT_S)) for f in futs]
    finally:
        pool.close()
    assert got == want
    assert any("'text'" in g for g in got)  # metadata was attached


def test_submit_never_blocks(index):
    pool = LocalReplicaPool(index, 2)
    futs: list = []
    try:
        # 3 x N requests from one thread before any result(): a submit
        # that waited for a free replica would never return here
        t = threading.Thread(
            target=lambda: futs.extend(
                pool.submit("error OR handling", k=10) for _ in range(3 * 2)
            )
        )
        t.start()
        t.join(timeout=WAIT_S)
        assert not t.is_alive() and len(futs) == 6
        rows = [f.result(timeout=WAIT_S) for f in futs]
        assert all(r == rows[0] for r in rows)
    finally:
        pool.close()


def test_submit_and_close_race(index):
    """8 client threads (more than this suite's 4 cores) submit while the
    pool serves and then closes, with a 1 us switch interval: every
    request either answers its in-process rows or fails as closed, none
    is lost, and every submit after close raises."""
    qk = stream.generate(40, SEED + 1)
    ls = LocalSearcher(index)
    want = {(q, k): repr(ls.search(q, k=k)) for q, k in qk}
    pool = LocalReplicaPool(index, 2)
    futs: list = [[] for _ in range(8)]
    refused = [0] * 8

    def client(c: int) -> None:
        for q, k in qk:
            try:
                futs[c].append(((q, k), pool.submit(q, k)))
            except RuntimeError:
                refused[c] += 1

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        ts = [threading.Thread(target=client, args=(c,)) for c in range(8)]
        for t in ts:
            t.start()
        deadline = time.monotonic() + WAIT_S
        while not any(f.done() for fl in futs for _qk, f in list(fl)):
            assert time.monotonic() < deadline, "no request was answered"
            time.sleep(0.001)
        _close_within(pool, replicas._CLOSE_GRACE_S + 5)
        for t in ts:
            t.join(timeout=WAIT_S)
        assert not any(t.is_alive() for t in ts)
    finally:
        sys.setswitchinterval(interval)
    answered = closed = 0
    for (q, k), fut in (x for f in futs for x in f):
        try:
            rows = fut.result(timeout=WAIT_S)
        except RuntimeError as e:
            assert "closed" in str(e)
            closed += 1
        else:
            assert repr(rows) == want[(q, k)]
            answered += 1
    assert answered + closed + sum(refused) == 8 * len(qk)
    assert answered


def _same_bucket_terms(index: str) -> tuple[str, str, str]:
    """Two query words whose only keyword is a term of the same postings
    bucket file, and that file."""
    import pyarrow.parquet as pq

    from probe_spark.query import ast
    from probe_spark.query.parser import parse_query

    root = os.path.join(index, "postings", "kind=tok")
    for b in sorted(os.listdir(root)):
        files = [
            os.path.join(root, b, f)
            for f in sorted(os.listdir(os.path.join(root, b)))
            if f.endswith(".parquet")
        ]
        if len(files) != 1:
            continue
        terms = [
            t for t in dict.fromkeys(pq.read_table(files[0], columns=["term"])
                                     .column("term").to_pylist())
            if t.isalpha() and ast.extract_query_terms(parse_query(t)[0]) == {t}
        ]
        if len(terms) >= 2:
            return terms[0], terms[1], files[0]
    raise AssertionError("no bucket with two plain terms")


def test_replica_exception_reaches_future_with_type(index, tmp_path):
    import pyarrow.parquet as pq

    from probe_spark.index.codec import IndexChangedError

    copy = str(tmp_path / "idx")
    shutil.copytree(index, copy)
    first, second, path = _same_bucket_terms(copy)
    pool = LocalReplicaPool(copy, 1)
    try:
        # lists the bucket and caches its footers in the replica
        assert pool.submit(first, k=5).result(timeout=WAIT_S)
        # same rows, a new file: what vacuum / merge / compact leave behind
        t = pq.read_table(path)
        pq.write_table(t, path + ".tmp", row_group_size=3)
        os.replace(path + ".tmp", path)
        with pytest.raises(IndexChangedError, match="changed under the searcher") as e:
            pool.submit(second, k=5).result(timeout=WAIT_S)
        assert any("in replica pid" in n for n in e.value.__notes__)
        # the replica lives on: a cached term still answers
        assert pool.submit(first, k=5).result(timeout=WAIT_S)
    finally:
        pool.close()


def test_sigkilled_replica_fails_its_request_and_is_replaced(index, hang_marker):
    before = set(mp.active_children())
    want = LocalSearcher(index).search("error OR handling", k=10)
    pool = LocalReplicaPool(index, 1)
    try:
        fut = pool.submit(HANG, k=10)
        _wait_for(hang_marker)
        (replica,) = _own_children(before)
        pid = replica.pid
        os.kill(pid, signal.SIGKILL)
        with pytest.raises(ReplicaDiedError, match=f"replica 0 \\(pid {pid}\\)"):
            fut.result(timeout=WAIT_S)
        # the dispatcher forked a successor for the requests after it
        got = pool.submit("error OR handling", k=10).result(timeout=WAIT_S)
        assert repr(got) == repr(want)
        assert [p.pid != pid for p in _own_children(before)] == [True]
    finally:
        _close_within(pool, replicas._CLOSE_GRACE_S + 5)
    assert _own_children(before) == set()


def test_sigkilled_idle_replica_is_replaced_without_failing_a_request(index):
    """A replica killed between requests never got the next one: its
    dispatcher forks a successor and the request answers there."""
    before = set(mp.active_children())
    want = LocalSearcher(index).search("error OR handling", k=10)
    pool = LocalReplicaPool(index, 2)
    try:
        assert pool.submit("error", k=5).result(timeout=WAIT_S) is not None
        dead = _own_children(before)
        for p in dead:
            os.kill(p.pid, signal.SIGKILL)
        for p in dead:
            p.join(timeout=WAIT_S)
            assert p.exitcode == -signal.SIGKILL
        futs = [pool.submit("error OR handling", k=10) for _ in range(4)]
        assert [repr(f.result(timeout=WAIT_S)) for f in futs] == [repr(want)] * 4
        assert len(_own_children(before)) == 2
        assert not {p.pid for p in dead} & {p.pid for p in _own_children(before)}
    finally:
        _close_within(pool, replicas._CLOSE_GRACE_S + 5)
    assert _own_children(before) == set()


def _gone(pid: int) -> bool:
    """No such process, or only its zombie is left."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except FileNotFoundError:
        return True


@pytest.mark.skipif(not os.path.isdir("/proc/self"), reason="needs procfs")
def test_replicas_exit_when_the_driver_is_killed(tmp_path):
    """A driver killed without running its exit handlers leaves no
    replica behind: each one's pipe reaches EOF, since no replica holds
    a driver end of the pool's pipes."""
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import os, signal, sys\n"
        "from probe_spark.search.replicas import LocalReplicaPool\n"
        "pool = LocalReplicaPool(sys.argv[1], 3)\n"
        "print(*(p.pid for p in pool._procs), flush=True)\n"
        "os.kill(os.getpid(), signal.SIGKILL)\n"
    )
    # a file, not a pipe: replicas that outlive the driver would hold a
    # pipe open
    log = tmp_path / "pids"
    with open(log, "w") as f:
        rc = subprocess.run(
            [sys.executable, "-c", code, str(tmp_path)],
            stdout=f, stderr=subprocess.STDOUT, timeout=WAIT_S,
            env={**os.environ, "PYTHONPATH": root},
        ).returncode
    assert rc == -signal.SIGKILL, log.read_text()
    pids = [int(p) for p in log.read_text().split()]
    assert len(pids) == 3
    deadline = time.monotonic() + 30
    while not all(_gone(p) for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                if not _gone(p):
                    os.kill(p, signal.SIGKILL)
            raise AssertionError("a replica outlived its killed driver")
        time.sleep(0.05)


def test_close_is_bounded_and_final(index, hang_marker):
    before = set(mp.active_children())
    pool = LocalReplicaPool(index, 1)
    busy = pool.submit(HANG, k=10)
    _wait_for(hang_marker)
    queued = pool.submit("error", k=10)  # behind the busy replica
    _close_within(pool, replicas._CLOSE_GRACE_S + 5)
    for fut in (busy, queued):
        with pytest.raises(RuntimeError, match="closed"):
            fut.result(timeout=WAIT_S)
    assert _own_children(before) == set()
    with pytest.raises(RuntimeError, match="closed"):
        pool.submit("error", k=10)
    pool.close()  # idempotent
