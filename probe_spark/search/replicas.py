"""Process-replica pool over the driver-local query front-end.

``search/local.py`` answers rank-identically to the distributed engine
with zero Spark jobs, but a single process is GIL-bound: measured on the
sf0.1 index, 2 -> 8 THREADS moved 8.7 -> 10.4 q/s (1.2x for 4x the
workers).  A query tier that scales with cores therefore runs N
independent front-end PROCESSES over the same index files — the
standard stateless-replica serving shape (each replica has its own
postings cache; the index directory is the shared, immutable state).
Measured process-pool scaling replaces that thread ceiling with
near-linear growth (see SCALING_QUERY_SERVICE.json).

Transport: each replica is a forked process holding one end of a duplex
``multiprocessing.Pipe``; the driver holds the other end and one
dispatcher thread per replica.  A dispatcher takes the next request from
the pool's shared queue, sends it down its pipe, blocks on the reply and
resolves the caller's Future — one thread hop each way per request, and
no handler threads shared by all replicas (a ``multiprocessing.Pool``
routes every task and every result through one task-handler and one
result-handler thread, which capped the tier below its replicas'
throughput).

A dispatcher waits for the reply on the pipe and on the replica's
process sentinel together, so a replica that dies mid-request (SIGKILL,
the OOM killer) is seen even if another forked child still holds a copy
of its pipe: the request's Future fails with :class:`ReplicaDiedError`
naming the replica, its pid and exit code, and the dispatcher forks a
fresh replica (cold caches) for the requests after it.  A replica that
died while idle never got the request: the ``send`` fails, and the
dispatcher forks its successor and sends the request there.  A replica
closes the driver ends of its pool's pipes, its own included, so it sees
EOF and exits when the driver goes away (once no other forked child of
the driver holds a copy of its driver end).  ``close`` stops
idle replicas through their pipes and terminates busy ones after a
bounded grace period.

At 10^12-turn scale the local front-end is the wrong tool (a hot term's
postings exceed one node), so ``QueryService`` routes here only under
``LOCAL_ROUTE_NDOCS_CAP``; past it every query keeps the distributed
path.  On a real cluster the analog is a fleet of query-tier nodes in
front of the Spark engine — replica count scales with the tier, which
is exactly the N -> 4N scaling axis the north rule measures.
"""

from __future__ import annotations

import os
import queue
import threading
import time
from concurrent.futures import Future
from multiprocessing.connection import wait

# above this corpus size queries stay on the distributed engine: a
# replica decodes whole per-term posting lists into process memory, so
# the cap is a single-node memory budget, not a magic number.  Measured
# at 26.4M turns (the dedup-tier corpus): one warm replica holds ~9 GB
# RSS over the full reference suite (decoded hot-term postings + the
# fragment-LRU metadata plane + repair bundles), i.e. ~350 B/doc — a
# 64-128 GB query-tier node serves a 50M-doc shard comfortably, which is
# also the shard size class Lucene/Elasticsearch deployments run per
# node.  The postings part of that is two caches per replica: decoded
# arrays, bounded at 512 terms (~512 MB at ~1 MB per term, but a hot
# term's list grows with the corpus at 8 B per posting), and resident
# varint-encoded row groups, bounded at 128 MB whatever the corpus size
# (``codec.RESIDENT_BYTES``).  A cached metadata fragment holds its
# columns as read (Arrow); from its second query on, its six small
# columns are Python lists instead (~250 B per row on the `serve` corpus,
# ~2 MB per 8k-row fragment) and its text stays Arrow.  Past the
# cap (the 10^12-turn corpus) a term's postings exceed one node and
# every query keeps the distributed engine.
LOCAL_ROUTE_NDOCS_CAP = int(
    os.environ.get("PROBE_SPARK_LOCAL_ROUTE_CAP", 50_000_000)
)

# seconds ``close`` waits for an in-flight request before terminating
# its replica
_CLOSE_GRACE_S = 5.0

# held across pipe creation, fork and closing the child's end, by every
# pool in the process: no replica is forked holding another replica's
# child end (that copy would keep the other replica's pipe open after
# it dies)
_FORK_LOCK = threading.Lock()


class ReplicaDiedError(RuntimeError):
    """A replica process exited while it held a request."""


def _replica_main(conn, index_path: str, inherited: list) -> None:
    """A replica's serve loop: one request in, one reply out, until the
    driver sends ``None`` or its end of the pipe closes.  Builds its
    LocalSearcher lazily on first use so fork stays cheap and caches are
    per-replica."""
    import traceback  # noqa: PLC0415

    # the driver ends of this pool's pipes, this replica's own included:
    # holding them would keep the replicas from seeing EOF when the driver
    # goes away
    for c in inherited:
        c.close()
    searcher = None
    while True:
        try:
            req = conn.recv()
        except EOFError:
            return
        if req is None:
            return
        query, k, with_metadata = req
        try:
            if searcher is None:
                from probe_spark.search.local import LocalSearcher  # noqa: PLC0415

                searcher = LocalSearcher(index_path)
            reply = (True, searcher.search(query, k=k, with_metadata=with_metadata))
        except Exception as e:  # noqa: BLE001 - the caller's Future gets it
            e.add_note("in replica pid %d:\n%s" % (os.getpid(), traceback.format_exc()))
            reply = (False, e)
        try:
            conn.send(reply)
        except OSError:  # the driver went away
            return
        except Exception as e:  # noqa: BLE001 - an unpicklable reply
            conn.send((False, RuntimeError(f"replica reply not sendable: {e!r}")))


class LocalReplicaPool:
    """N forked LocalSearcher replicas over one index directory.

    ``submit`` never blocks and returns a Future (same contract as
    QueryService requests); rows are plain dicts, value-identical to
    ``LocalSearcher.search`` and therefore to ``SearchEngine.search``
    (rank-identity pinned by tests/test_local_search.py and
    tests/test_replicas.py).
    """

    def __init__(self, index_path: str, n_replicas: "int | None" = None):
        import multiprocessing as mp  # noqa: PLC0415

        if "fork" not in mp.get_all_start_methods():  # pragma: no cover
            raise OSError("fork unavailable; no replica pool")
        self.index_path = index_path.removeprefix("file://")
        self.n_replicas = n_replicas or min(16, os.cpu_count() or 4)
        # fork, not spawn: a replica starts from the driver's imported
        # modules at once, where spawn re-imports numpy and pyarrow in
        # every replica and every re-fork
        self._ctx = mp.get_context("fork")
        self._requests: queue.SimpleQueue = queue.SimpleQueue()
        self._lock = threading.Lock()
        self._closed = False
        self._procs: list = [None] * self.n_replicas
        self._conns: list = [None] * self.n_replicas
        for i in range(self.n_replicas):
            self._fork(i)
        self._threads = [
            threading.Thread(
                target=self._dispatch, args=(i,),
                name=f"replica-dispatch-{i}", daemon=True,
            )
            for i in range(self.n_replicas)
        ]
        for t in self._threads:
            t.start()

    def _fork(self, i: int) -> None:
        with _FORK_LOCK:
            driver_end, replica_end = self._ctx.Pipe(duplex=True)
            inherited = [c for c in self._conns if c is not None] + [driver_end]
            proc = self._ctx.Process(
                target=_replica_main,
                args=(replica_end, self.index_path, inherited),
                name=f"replica-{i}",
                daemon=True,
            )
            proc.start()
            replica_end.close()
            self._procs[i], self._conns[i] = proc, driver_end

    def _replace(self, i: int) -> str:
        """Reaps replica ``i`` after it died, forks its successor unless
        the pool is closing, and describes the dead replica."""
        proc = self._procs[i]
        with _FORK_LOCK:  # no fork may copy a half-closed handle
            self._conns[i].close()
            self._conns[i] = None
        proc.join(timeout=_CLOSE_GRACE_S)
        dead = f"replica {i} (pid {proc.pid}) exited with code {proc.exitcode}"
        if not self._closed:
            self._fork(i)
        return dead

    def _call(self, i: int, req: tuple) -> tuple:
        """One request to replica ``i``; returns its ``(ok, value)``
        reply.  Raises :class:`ReplicaDiedError` if the replica dies
        holding the request."""
        if self._conns[i] is None:  # an earlier re-fork failed
            self._fork(i)
        try:
            self._conns[i].send(req)
        except ConnectionError:  # it died idle: the request never got there
            self._replace(i)
            if self._closed:
                raise RuntimeError("replica pool is closed") from None
            self._conns[i].send(req)
        conn, proc = self._conns[i], self._procs[i]
        # the sentinel too: a copy of the replica's end in another forked
        # child would keep the pipe from reaching EOF
        if conn in wait([conn, proc.sentinel]):
            try:
                return conn.recv()
            except (EOFError, ConnectionError):  # it died before replying
                pass
        dead = self._replace(i)
        if self._closed:  # close() terminated it
            raise RuntimeError("replica pool is closed")
        raise ReplicaDiedError(f"{dead} while serving {req[0]!r}")

    def _dispatch(self, i: int) -> None:
        """Dispatcher thread of replica ``i``: one request at a time from
        the shared queue, down the pipe and back."""
        while True:
            item = self._requests.get()
            if item is None:
                break
            fut, req = item
            if not fut.set_running_or_notify_cancel():
                continue
            try:
                if self._closed:
                    raise RuntimeError("replica pool is closed")
                ok, value = self._call(i, req)
            except Exception as e:  # noqa: BLE001 - the caller's Future gets it
                fut.set_exception(e)
                continue
            if ok:
                fut.set_result(value)
            else:
                fut.set_exception(value)
        conn = self._conns[i]
        if conn is not None:
            try:
                conn.send(None)
            except OSError:
                pass

    def submit(
        self, query: str, k: "int | None" = 10, with_metadata: bool = True
    ) -> "Future":
        """Enqueue a query; returns a Future resolving to its row list.
        Raises ``RuntimeError`` once the pool is closed."""
        fut: Future = Future()
        with self._lock:
            if self._closed:
                raise RuntimeError("replica pool is closed")
            self._requests.put((fut, (query, k, with_metadata)))
        return fut

    def search(
        self, query: str, k: "int | None" = 10, with_metadata: bool = True
    ) -> list:
        return self.submit(query, k, with_metadata).result()

    def close(self) -> None:
        """Fails queued requests, lets in-flight ones finish for up to
        ``_CLOSE_GRACE_S``, then stops every replica; returns within a
        bounded time."""
        with self._lock:
            if self._closed:
                return
            self._closed = True
            # behind every request already queued, so each is taken and
            # failed before a dispatcher exits
            for _ in self._threads:
                self._requests.put(None)
        deadline = time.monotonic() + _CLOSE_GRACE_S
        for t in self._threads:
            t.join(timeout=max(0.0, deadline - time.monotonic()))
        for proc in self._procs:
            proc.join(timeout=max(0.0, deadline - time.monotonic()))
            if proc.is_alive():
                # busy past the grace period: its dispatcher sees EOF
                proc.terminate()
                proc.join(timeout=1.0)
            if proc.is_alive():  # pragma: no cover - ignored SIGTERM
                proc.kill()
                proc.join()
        for t, conn in zip(self._threads, self._conns):
            t.join(timeout=1.0)
            if conn is not None and not t.is_alive():
                conn.close()
