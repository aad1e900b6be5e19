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

At 10^12-turn scale the local front-end is the wrong tool (a hot term's
postings exceed one node), so ``QueryService`` routes here only under
``LOCAL_ROUTE_NDOCS_CAP``; past it every query keeps the distributed
path.  On a real cluster the analog is a fleet of query-tier nodes in
front of the Spark engine — replica count scales with the tier, which
is exactly the N -> 4N scaling axis the north rule measures.
"""

from __future__ import annotations

import os
from concurrent.futures import Future

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
# (``codec.RESIDENT_BYTES``).  Past the cap (the 10^12-turn corpus) a
# term's postings exceed one node and every query keeps the distributed
# engine.
LOCAL_ROUTE_NDOCS_CAP = int(
    os.environ.get("PROBE_SPARK_LOCAL_ROUTE_CAP", 50_000_000)
)

_WORKER_SEARCHER = None
_WORKER_INDEX = None


def _worker_init(index_path: str) -> None:
    global _WORKER_INDEX
    _WORKER_INDEX = index_path


def _worker_search(query: str, k: "int | None", with_metadata: bool):
    """Runs in a replica process; builds its LocalSearcher lazily on
    first use so fork stays cheap and caches are per-replica."""
    global _WORKER_SEARCHER
    if _WORKER_SEARCHER is None:
        from probe_spark.search.local import LocalSearcher  # noqa: PLC0415

        _WORKER_SEARCHER = LocalSearcher(_WORKER_INDEX)
    return _WORKER_SEARCHER.search(query, k=k, with_metadata=with_metadata)


class LocalReplicaPool:
    """N forked LocalSearcher replicas over one index directory.

    ``submit`` returns a Future (same contract as QueryService requests);
    rows are plain dicts, value-identical to ``LocalSearcher.search`` and
    therefore to ``SearchEngine.search`` (rank-identity pinned by
    tests/test_local_search.py).
    """

    def __init__(self, index_path: str, n_replicas: "int | None" = None):
        import multiprocessing as mp  # noqa: PLC0415

        if "fork" not in mp.get_all_start_methods():  # pragma: no cover
            raise OSError("fork unavailable; no replica pool")
        self.index_path = index_path.removeprefix("file://")
        self.n_replicas = n_replicas or min(16, os.cpu_count() or 4)
        ctx = mp.get_context("fork")
        self._pool = ctx.Pool(
            self.n_replicas,
            initializer=_worker_init,
            initargs=(self.index_path,),
        )
        self._closed = False

    def submit(
        self, query: str, k: "int | None" = 10, with_metadata: bool = True
    ) -> "Future":
        fut: Future = Future()
        if self._closed:
            fut.set_exception(RuntimeError("replica pool is closed"))
            return fut

        def _done(rows, fut=fut):
            fut.set_result(rows)

        def _err(exc, fut=fut):
            fut.set_exception(exc)

        self._pool.apply_async(
            _worker_search,
            (query, k, with_metadata),
            callback=_done,
            error_callback=_err,
        )
        return fut

    def search(
        self, query: str, k: "int | None" = 10, with_metadata: bool = True
    ) -> list:
        return self.submit(query, k, with_metadata).result()

    def close(self) -> None:
        if not self._closed:
            self._closed = True
            self._pool.terminate()
            self._pool.join()
