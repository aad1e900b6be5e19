"""Special-term repair overlay construction — driver-side fast path and
the persistent ``_repairs/`` index sidecar.

The reference registers quoted/excluded query words as GLOBAL special
terms that mutate tokenizer state (``/root/reference/src/search/
tokenization.rs:839-851``): every doc containing such a word tokenizes
differently for that query.  The engine reproduces this with a per-query
repair overlay: re-tokenize the affected docs under the query's special
set G and score them driver-side with their repaired presence/dl
(``engine._repair_overlay``).

Round 4 built that overlay with a full Spark job (docs scan ⋈ affected
ids → mapInPandas retokenize → toPandas), ~1.2-1.6s of every COLD
special-term query (BENCH q17/q21/q22).  This module gives the overlay
the same treatment ``codec.PostingsDirectory.raw_doc_ids`` gave the
affected-id resolution: when the index is POSIX-visible and the affected
set is driver-sized, read the affected texts with pyarrow (row-group pruned)
and retokenize them on a forked process pool — no Spark job at all.
Measured at sf0.1 (61k affected docs): 0.15s read + ~0.2s pooled
retokenize vs 1.2-1.6s for the distributed join.  Past
``DRIVER_RETOK_CAP`` the caller keeps the distributed path — at
10^12-turn scale a hot special term's affected set does not fit a
driver, and the Spark join is the right shape there.

The computed arrays are also persisted to ``<index>/_repairs/`` keyed by
(G, lookup tuple, docs-layout fingerprint): a fresh engine process (query
service restart, spark-submit rerun) re-loads the overlay in
milliseconds instead of re-tokenizing.  The fingerprint covers the
``docs/`` file listing (name, size), so any maintenance op that rewrites
docs (vacuum / merge / compact) orphans old sidecar entries — they
simply never match again; ``maintenance`` additionally clears the
directory outright.
"""

from __future__ import annotations

import hashlib
import os
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    import numpy as np

# past this many affected docs the driver neither reads the texts nor
# retokenizes locally; the caller's distributed repair join takes over
# (~64 MB of transient text at typical turn sizes)
DRIVER_RETOK_CAP = 262_144

# affected docs per retokenize worker: smaller sets stay in the driver,
# where a fork and two pickles would cost more than the tokenizing
_DOCS_PER_PROC = 4096

_POOL = None
_POOL_PROCS = 0


def _local_path(index_path: str) -> "str | None":
    p = index_path.removeprefix("file://")
    return p if os.path.isdir(os.path.join(p, "docs")) else None


def docs_fingerprint(index_path: str) -> "str | None":
    """Stable fingerprint of the docs/ layout: sha1 over the sorted
    (relative name, size) listing.  Any rewrite of docs (vacuum, merge,
    compact, re-build) changes it; tombstone-only deletes do not — a
    repair overlay retokenizes stored text, which deletes don't touch
    (tombstones are applied at query time, after the overlay)."""
    base = _local_path(index_path)
    if base is None:
        return None
    h = hashlib.sha1()
    root = os.path.join(base, "docs")
    try:
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames.sort()
            rel = os.path.relpath(dirpath, root)
            for fn in sorted(filenames):
                if fn.startswith(("_", ".")) and fn != "_SUCCESS":
                    continue
                st = os.stat(os.path.join(dirpath, fn))
                h.update(f"{rel}/{fn}:{st.st_size};".encode())
    except OSError:
        return None
    return h.hexdigest()


def _sidecar_file(
    index_path: str, g_set: frozenset, lookups: tuple, fingerprint: str
) -> str:
    key = hashlib.sha1()
    for w in sorted(g_set):
        key.update(w.encode() + b"\x00")
    key.update(b"\x01")
    for t in lookups:
        key.update(t.encode() + b"\x00")
    key.update(fingerprint.encode())
    base = _local_path(index_path)
    return os.path.join(base, "_repairs", f"g-{key.hexdigest()}.npz")


def load_sidecar(
    index_path: str, g_set: frozenset, lookups: tuple
) -> "dict | None":
    """(ids, hits_mask, old_mask, dl, dl_delta) arrays from a prior run of
    the same (G, lookups) against the same docs layout, or None."""
    import numpy as np  # noqa: PLC0415

    fp = docs_fingerprint(index_path)
    if fp is None:
        return None
    path = _sidecar_file(index_path, g_set, lookups, fp)
    if not os.path.exists(path):
        return None
    try:
        with np.load(path, allow_pickle=False) as z:
            return {k: z[k] for k in ("ids", "hits", "olds", "dl", "dl_delta")}
    except Exception:
        return None


def store_sidecar(
    index_path: str, g_set: frozenset, lookups: tuple, arrays: dict
) -> None:
    """Best-effort atomic write; failures never surface to the query."""
    import numpy as np  # noqa: PLC0415

    fp = docs_fingerprint(index_path)
    if fp is None:
        return
    path = _sidecar_file(index_path, g_set, lookups, fp)
    try:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "wb") as f:
            np.savez_compressed(f, **arrays)
        os.replace(tmp, path)
    except OSError:
        pass


def retok_chunk(
    texts: list, dls: "np.ndarray", lookups: tuple, g_set: frozenset
):
    """Retokenize one chunk under G and base state, returning the same
    per-doc quantities as the distributed repair join's ``retokenize``
    (engine.py): presence bitmasks over ``lookups`` for the repaired and
    the base tokenization, the repaired dl, and dl - stored dl.  The two
    paths MUST stay value-identical — pinned by
    tests/test_ranged_repair.py's driver-vs-spark parity test."""
    import numpy as np  # noqa: PLC0415

    from probe_spark.functions import tokenizer as tok  # noqa: PLC0415

    n = len(texts)
    hits = np.zeros(n, np.int64)
    olds = np.zeros(n, np.int64)
    dl_new = np.zeros(n, np.int64)
    delta = np.zeros(n, np.int64)
    jdx = {t: j for j, t in enumerate(lookups)}
    for i, text in enumerate(texts):
        toks = tok.tokenize(text, g_set) if text else []
        base = tok.tokenize(text) if text else []
        m = 0
        for t in set(toks):
            j = jdx.get(t)
            if j is not None:
                m |= 1 << j
        hits[i] = m
        m = 0
        for t in set(base):
            j = jdx.get(t)
            if j is not None:
                m |= 1 << j
        olds[i] = m
        dl_new[i] = len(toks)
        delta[i] = len(toks) - int(dls[i])
    return hits, olds, dl_new, delta


def _pool(n_procs: int):
    """Lazy forked worker pool, kept across queries (a query service hits
    this path per cold special-term shape).  Fork is cheap and the workers
    only run pure-Python tokenization over pickled chunks — they never
    touch the JVM gateway.  Resized only upward; a worker that dies breaks
    the pool (``BrokenProcessPool``) instead of hanging its map, and
    ``driver_retok`` then drops it.  Workers exit with the interpreter."""
    global _POOL, _POOL_PROCS
    if _POOL is not None and _POOL_PROCS >= n_procs:
        return _POOL
    import multiprocessing as mp  # noqa: PLC0415
    from concurrent.futures import ProcessPoolExecutor  # noqa: PLC0415

    if "fork" not in mp.get_all_start_methods():  # pragma: no cover
        return None
    if _POOL is not None:
        _POOL.shutdown(wait=False, cancel_futures=True)
    _POOL = ProcessPoolExecutor(n_procs, mp_context=mp.get_context("fork"))
    _POOL_PROCS = n_procs
    return _POOL


def driver_retok(
    index_path: str,
    ids: "np.ndarray",
    g_set: frozenset,
    lookups: tuple,
) -> "dict | None":
    """The full driver-side overlay computation: pyarrow-read the affected
    (doc_id, text, dl) rows from docs/ (row-group pruned on the sorted
    doc_id column) and retokenize them on the pool.  Returns the sidecar
    array dict, or None when the index is not POSIX-visible (caller falls
    back to the distributed join)."""
    global _POOL
    base = _local_path(index_path)
    if base is None:
        return None
    import numpy as np  # noqa: PLC0415
    import pyarrow.dataset as ds  # noqa: PLC0415

    dataset = ds.dataset(os.path.join(base, "docs"), format="parquet")
    tbl = dataset.to_table(
        columns=["doc_id", "text", "dl"],
        filter=ds.field("doc_id").isin(ids),
    )
    order = np.argsort(tbl["doc_id"].to_numpy(), kind="stable")
    doc_ids = tbl["doc_id"].to_numpy()[order].astype(np.int64)
    dls = tbl["dl"].to_numpy()[order].astype(np.int64)
    texts = tbl["text"].to_pylist()
    texts = [texts[i] for i in order]

    n = len(texts)
    n_procs = min(16, os.cpu_count() or 4, max(1, n // _DOCS_PER_PROC))
    pool = _pool(n_procs) if n_procs > 1 else None
    parts = None
    if pool is not None:
        from concurrent.futures.process import BrokenProcessPool  # noqa: PLC0415

        step = (n + n_procs - 1) // n_procs
        starts = range(0, n, step)
        try:
            parts = list(pool.map(
                retok_chunk,
                [texts[i : i + step] for i in starts],
                [dls[i : i + step] for i in starts],
                [lookups] * len(starts),
                [g_set] * len(starts),
            ))
        except BrokenProcessPool:  # a worker died: next call forks anew
            _POOL = None
    if parts is None:
        parts = [retok_chunk(texts, dls, lookups, g_set)]
    return {
        "ids": doc_ids,
        "hits": np.concatenate([p[0] for p in parts]) if parts else doc_ids,
        "olds": np.concatenate([p[1] for p in parts]) if parts else doc_ids,
        "dl": np.concatenate([p[2] for p in parts]) if parts else doc_ids,
        "dl_delta": (
            np.concatenate([p[3] for p in parts]) if parts else doc_ids
        ),
    }
