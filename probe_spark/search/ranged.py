"""Doc-range-partitioned boolean evaluation — the document-partitioned
query architecture of a distributed search engine, expressed as one Spark
exchange plus a vectorized Arrow stage.

The full path's per-doc grouping (`decoded.groupBy(doc_id).agg(
collect_set(term))`) shuffles one 16-byte-plus-string row PER POSTING —
for hot-term boolean queries at 26M+ turns that is a tens-of-millions-row
hash aggregation per query, and it is exactly the byte-moving that kept
the warm query service bandwidth-bound (q1/q3/q19/q20 class, 30-44s warm
at 26.4M turns).  It is also the route of every multi-term pure OR
query (PLANS.md, route table).

This path instead ships the COMPRESSED varint segments to doc-range
partitions and evaluates the query locally per range, mirroring how a
document-sharded search cluster fans a query out to shards:

  1. postings rows (term, min_doc, max_doc, varint blobs, block offsets)
     for the query's lookup terms — the same pruned scan the other paths
     use (bucket partition pruning + term pushdown);
  2. each row explodes to the fixed-width doc ranges it overlaps
     (``explode(sequence(min_doc div W, max_doc div W))``) and one
     exchange hash-partitions on range_id — the only shuffle, sized by
     the COMPRESSED postings bytes (~1.2 B/posting), not decoded rows;
  3. an Arrow worker per range decodes only the blocks overlapping its
     range (the per-block doc offsets double as a range index), clips to
     the range, and evaluates the compiled AST in numpy: presence masks via
     searchsorted, the exact `_compile_score`/`_compile_eval` float
     association order, then emits ONLY its per-range top-k;
  4. ``orderBy(score desc, doc_id asc).limit(k)`` merges n_ranges*k rows.

Scores are bit-identical to the Column-compiled path: the numpy recursion
below mirrors engine._compile_score / _compile_eval operation-for-
operation (same float64 association order, same null semantics).

At 10^12 turns the shape holds: the exchange moves each query's index
slice once (segments are df-capped, so a segment overlaps O(1) ranges),
range workers are embarrassingly parallel, and the merge is k rows per
range.  Reference semantics: ranking.rs:226-274 (scoring recursion),
elastic_query.rs:148-292 (boolean evaluation).
"""

from __future__ import annotations

import math
from typing import TYPE_CHECKING, Callable, Iterator

import pyarrow as pa

from probe_spark.query import ast

if TYPE_CHECKING:
    from probe_spark.query.plan import QueryPlan

# BM25 parameters (ranking.rs:361-362), shared by every lane; oracle.py
# keeps its own pair as the independent reference
K1 = 1.5
B = 0.5


def bm25_idf(n_docs: int, df: int) -> float:
    """BM25 idf of a term with document frequency ``df`` in ``n_docs``
    docs: ln(1 + (N - df + .5)/(df + .5)) (ranking.rs:129-143).  Every
    lane computes idf through this one float expression, so scores stay
    bit-identical across lanes."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def tf_norm(dls, avgdl: float):
    """BM25 tf normalization with binary tf over a numpy dl array:
    (k1+1)/(1 + k1*((1 - b) + b*dl/avgdl)) (ranking.rs:186-208), in the
    float association of engine._tf_norm_col, so every lane's scores are
    bit-identical."""
    return (K1 + 1.0) / (
        1.0 + K1 * ((1.0 - B) + B * (dls.astype("float64") / avgdl))
    )


def repaired_avgdl(avgdl: float, n_docs: int, dl_delta: int) -> float:
    """avgdl after the special-term repair changed the affected docs'
    lengths by ``dl_delta`` in total (0.0 on an empty corpus)."""
    return (avgdl * n_docs + dl_delta) / n_docs if n_docs else 0.0


# target decoded postings per range: small enough that a range's numpy
# working set stays cache-friendly and every core gets work even for
# mid-sized queries, large enough that per-task overhead stays noise
TARGET_POSTINGS_PER_RANGE = 1_000_000


def _score_eval_numpy(
    expr: ast.Expr,
    idfs: dict[str, float],
    present: dict[str, "object"],
    tf_norm: "object",
    np,
):
    """Mirror of engine._compile_score + _compile_eval over numpy arrays.

    Returns (score float64 array, isnull bool array, ok bool array).
    Nullable doubles are carried as (value, isnull) pairs; the float
    association order is identical to the Column expressions so scores
    are bit-identical to the full path.
    """
    n = len(tf_norm)
    zeros = np.zeros(n, dtype=np.float64)
    false = np.zeros(n, dtype=bool)

    def kw_score(kw: str):
        idf = idfs.get(kw, 0.0)
        if idf == 0.0 or kw not in present:
            return zeros
        return np.where(present[kw], idf * tf_norm, 0.0)

    def rec_score(e: ast.Expr):
        if isinstance(e, ast.Term):
            s = zeros
            for kw in e.keywords:
                s = s + kw_score(kw)
            if e.excluded:
                return np.where(s > 0.0, 0.0, 0.0), s > 0.0
            if e.required:
                return np.where(s > 0.0, s, 0.0), ~(s > 0.0)
            return s, false
        ln, lnull = rec_score(e.left)
        rn, rnull = rec_score(e.right)
        if isinstance(e, ast.And):
            return np.where(lnull | rnull, 0.0, ln + rn), lnull | rnull
        # Or: null only when both null; null operand coalesces to 0.0
        lv = np.where(lnull, 0.0, ln)
        rv = np.where(rnull, 0.0, rn)
        return np.where(lnull & rnull, 0.0, lv + rv), lnull & rnull

    def pres(kw: str):
        return present.get(kw, false)

    has_req = ast.has_required_term(expr)

    def rec_eval(e: ast.Expr):
        if isinstance(e, ast.Term):
            if not e.keywords:
                return np.full(n, e.excluded, dtype=bool)
            all_p = np.ones(n, dtype=bool)
            any_p = np.zeros(n, dtype=bool)
            for kw in e.keywords:
                all_p = all_p & pres(kw)
                any_p = any_p | pres(kw)
            if e.excluded:
                return ~any_p
            if e.required:
                return all_p
            if has_req:
                return np.ones(n, dtype=bool)
            return any_p & all_p
        if isinstance(e, ast.And):
            return rec_eval(e.left) & rec_eval(e.right)
        return rec_eval(e.left) | rec_eval(e.right)

    ok = rec_eval(expr)
    # the any-keyword gate (ast.gate_keywords).  Vacuous over a query's
    # OWN candidates (every candidate holds >=1 keyword by construction)
    # but LOAD-BEARING on the batch path, where the shared candidate set is
    # the union over all queries in the batch: without it, a shape like
    # '"a" AND "a" OR -"b"' accepts other queries' candidates at score 0
    # (Or(false, excluded-not-present)).
    gate = ast.gate_keywords(expr)
    if gate is not None:
        any_kw = np.zeros(n, dtype=bool)
        for kw in gate:
            any_kw = any_kw | pres(kw)
        ok = ok & any_kw
    if has_req:
        req = np.ones(n, dtype=bool)
        for t in ast.walk_terms(expr):
            if t.required and not t.excluded:
                for kw in t.keywords:
                    req = req & pres(kw)
        ok = req & ok

    score, isnull = rec_score(expr)
    return score, isnull, ok


def _collect_range_postings(
    batches: Iterator[pa.RecordBatch], width: int, np
) -> dict:
    """Accumulate a range worker's input batches into
    ``range_id -> term -> list[(ids, dls)]``, decoding ONLY the varint
    blocks that overlap each range (the per-block doc offsets double as
    the range index) and clipping decoded ids to the range."""
    from probe_spark.index.codec import decode_blocks

    acc: dict[int, dict[str, list]] = {}
    for batch in batches:
        rids = batch.column("range_id").to_pylist()
        terms = batch.column("term").to_pylist()
        min_docs = batch.column("min_doc").to_pylist()
        docs_bins = batch.column("docs_bin").to_pylist()
        dl_bins = batch.column("dl_bin").to_pylist()
        lasts = batch.column("block_last_doc").to_pylist()
        doc_offs = batch.column("block_doc_off").to_pylist()
        dl_offs = batch.column("block_dl_off").to_pylist()
        for rid, t, md, db, lb, bl, boff, loff in zip(
            rids, terms, min_docs, docs_bins, dl_bins, lasts, doc_offs,
            dl_offs,
        ):
            a = rid * width
            b = a + width
            last = np.asarray(bl, dtype=np.int64)
            if not len(last):
                continue
            starts = np.empty_like(last)
            starts[0] = md
            starts[1:] = last[:-1] + 1
            keep = np.nonzero((last >= a) & (starts < b))[0]
            if len(keep) == 0:
                continue
            ids, dls = decode_blocks(db, lb, bl, boff, loff, keep)
            m = (ids >= a) & (ids < b)
            if not m.all():
                ids, dls = ids[m], dls[m]
            if len(ids):
                acc.setdefault(rid, {}).setdefault(t, []).append(
                    (ids, dls)
                )
    return acc


def make_range_eval(
    plan: "QueryPlan",
    idfs: dict[str, float],
    avgdl: float,
    width: int,
    k: int,
    with_matched: bool,
    exclude_ids=None,
    allow_ids=None,
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """Build the mapInArrow generator: decode blocks overlapping each
    range, evaluate, emit the per-range top-k (score desc, doc_id asc).

    ``exclude_ids`` (sorted int64 numpy array, or a pyspark Broadcast of
    one): doc_ids whose candidacy is handled elsewhere — the special-term
    repair overlay scores affected docs on the driver with their REPAIRED
    presence/dl, so the ranges must not emit them with stale token-index
    state.  The overlay hands this in as a Broadcast (serialized once per
    query shape, executor-cached); session seen-sets are small arrays in
    the closure.  Capped driver-side (engine.REPAIR_OVERLAY_CAP).

    ``allow_ids`` (sorted int64 numpy array): metadata-scoped search
    (engine ``where=``) — ONLY these doc_ids may qualify.  Filter context:
    candidacy is restricted BEFORE the per-range top-k, scores/idf/avgdl
    stay corpus-global.  The driver additionally prunes whole ranges that
    contain no allowed id (see engine._search_ranged), so this mask is
    the within-range cut."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np

        ex_ids = (
            exclude_ids.value
            if hasattr(exclude_ids, "value")
            else exclude_ids
        )
        acc = _collect_range_postings(batches, width, np)

        expr, kw_to_match = plan.expr, plan.kw_to_match
        out_ids: list = []
        out_scores: list = []
        out_matched: list[list[str]] = []
        for rid, by_term in acc.items():
            term_ids: dict[str, "np.ndarray"] = {}
            chunks_i: list = []
            chunks_d: list = []
            for t, parts in by_term.items():
                tid = np.concatenate([p[0] for p in parts])
                order = np.argsort(tid, kind="stable")
                term_ids[t] = tid[order]
                chunks_i.append(tid)
                chunks_d.append(np.concatenate([p[1] for p in parts]))
            all_ids = np.concatenate(chunks_i)
            all_dls = np.concatenate(chunks_d)
            uids, first = np.unique(all_ids, return_index=True)
            udls = all_dls[first]
            present: dict[str, "np.ndarray"] = {}
            for kw in plan.keywords:
                lookup = kw_to_match.get(kw)
                tid = term_ids.get(lookup) if lookup is not None else None
                if tid is None or not len(tid):
                    present[kw] = np.zeros(len(uids), dtype=bool)
                else:
                    pos = np.searchsorted(tid, uids)
                    pos[pos == len(tid)] = len(tid) - 1
                    present[kw] = tid[pos] == uids
            score, isnull, ok = _score_eval_numpy(
                expr, idfs, present, tf_norm(udls, avgdl), np
            )
            if ex_ids is not None and len(ex_ids):
                a = rid * width
                lo = np.searchsorted(ex_ids, a)
                hi = np.searchsorted(ex_ids, a + width)
                if hi > lo:
                    ok = ok & ~np.isin(uids, ex_ids[lo:hi])
            if allow_ids is not None:
                a = rid * width
                lo = np.searchsorted(allow_ids, a)
                hi = np.searchsorted(allow_ids, a + width)
                if hi > lo:
                    ok = ok & np.isin(uids, allow_ids[lo:hi])
                else:  # no allowed doc in this range at all
                    continue
            sel = np.nonzero(ok & ~isnull)[0]
            if not len(sel):
                continue
            if len(sel) > k:
                # per-range top-k by the global ordering key
                order = np.lexsort((uids[sel], -score[sel]))[:k]
                sel = sel[order]
            for i in sel.tolist():
                out_ids.append(int(uids[i]))
                out_scores.append(float(score[i]))
                if with_matched:
                    out_matched.append(
                        [kw for kw in plan.keywords if present[kw][i]]
                    )

        arrays = [
            pa.array(out_ids, pa.int64()),
            pa.array(out_scores, pa.float64()),
        ]
        names = ["doc_id", "score"]
        if with_matched:
            arrays.append(pa.array(out_matched, pa.list_(pa.string())))
            names.append("matched_terms")
        yield pa.RecordBatch.from_arrays(arrays, names=names)

    return gen


def make_batch_range_eval(
    queries: "list[tuple[QueryPlan, dict[str, float]]]",
    avgdl: float,
    width: int,
    k: int,
    with_matched: bool,
    exclude_ids=None,
    allow_ids=None,
    ks: "list[int] | None" = None,
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """Batched variant of ``make_range_eval``: evaluate MANY compiled
    queries over ONE shared postings exchange — the offline bulk-retrieval
    shape (training-data mining, nightly eval suites, percolation
    backfills) where thousands of queries hit the same index and the
    dominant cost is reading/decoding segments, not scoring.

    ``queries`` is ``[(plan, idfs), ...]``; the exchange
    carries the UNION of all queries' lookup terms, each range decodes a
    term's blocks ONCE, builds the candidate (uids, dls) arrays and one
    presence mask per lookup term ONCE, and then scores every query over
    those shared arrays with the same numpy recursion as the single-query
    path — so per-query scores are bit-identical to ``engine.search``.
    Candidates are the union over ALL queries' terms: a doc carrying none
    of query i's terms simply evaluates to ok=False for i (the dispatch
    precondition — no zero-included queries — makes the superset exact).

    Emits per-(query, range) top-k rows ``(query_idx, doc_id, score
    [, matched_terms])``; the driver takes the global per-query top-k with
    one small window over n_ranges*k*n_queries rows.

    ``exclude_ids`` applies to every query (tombstones — deleted docs are
    masked index-wide).  ``allow_ids`` (sorted int64 array) scopes the
    whole batch to a metadata predicate (engine ``where=``): one scope,
    all queries — the mining-job shape ("these 100k queries, last 30
    days").  Filter context, same as the single-query path: candidacy is
    cut before the per-range top-k, scores stay corpus-global.  ``ks``
    gives each query its own per-range emission cap (defaults to ``k``
    for all)."""
    per_k = ks if ks is not None else [k] * len(queries)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np

        ex_ids = (
            exclude_ids.value
            if hasattr(exclude_ids, "value")
            else exclude_ids
        )
        acc = _collect_range_postings(batches, width, np)

        out_qidx: list = []
        out_ids: list = []
        out_scores: list = []
        out_matched: list[list[str]] = []
        for rid, by_term in acc.items():
            term_ids: dict[str, "np.ndarray"] = {}
            chunks_i: list = []
            chunks_d: list = []
            for t, parts in by_term.items():
                tid = np.concatenate([p[0] for p in parts])
                order = np.argsort(tid, kind="stable")
                term_ids[t] = tid[order]
                chunks_i.append(tid)
                chunks_d.append(np.concatenate([p[1] for p in parts]))
            all_ids = np.concatenate(chunks_i)
            all_dls = np.concatenate(chunks_d)
            uids, first = np.unique(all_ids, return_index=True)
            udls = all_dls[first]
            n = len(uids)
            # presence per LOOKUP term, shared across queries
            pres_by_lookup: dict[str, "np.ndarray"] = {}

            def lookup_present(lookup: str) -> "np.ndarray":
                got = pres_by_lookup.get(lookup)
                if got is not None:
                    return got
                tid = term_ids.get(lookup)
                if tid is None or not len(tid):
                    got = np.zeros(n, dtype=bool)
                else:
                    pos = np.searchsorted(tid, uids)
                    pos[pos == len(tid)] = len(tid) - 1
                    got = tid[pos] == uids
                pres_by_lookup[lookup] = got
                return got

            tfn = tf_norm(udls, avgdl)
            excl_mask = None
            if ex_ids is not None and len(ex_ids):
                a = rid * width
                lo = np.searchsorted(ex_ids, a)
                hi = np.searchsorted(ex_ids, a + width)
                if hi > lo:
                    excl_mask = ~np.isin(uids, ex_ids[lo:hi])
            if allow_ids is not None:
                a = rid * width
                lo = np.searchsorted(allow_ids, a)
                hi = np.searchsorted(allow_ids, a + width)
                if hi <= lo:
                    continue  # no allowed doc in this range at all
                allow_mask = np.isin(uids, allow_ids[lo:hi])
                excl_mask = (
                    allow_mask
                    if excl_mask is None
                    else excl_mask & allow_mask
                )
            zeros_b = np.zeros(n, dtype=bool)
            for qi, (plan, idfs) in enumerate(queries):
                present = {}
                for kw in plan.keywords:
                    lookup = plan.kw_to_match.get(kw)
                    present[kw] = (
                        lookup_present(lookup)
                        if lookup is not None
                        else zeros_b
                    )
                score, isnull, ok = _score_eval_numpy(
                    plan.expr, idfs, present, tfn, np
                )
                if excl_mask is not None:
                    ok = ok & excl_mask
                sel = np.nonzero(ok & ~isnull)[0]
                if not len(sel):
                    continue
                kq = per_k[qi]
                if len(sel) > kq:
                    order = np.lexsort((uids[sel], -score[sel]))[:kq]
                    sel = sel[order]
                for i in sel.tolist():
                    out_qidx.append(qi)
                    out_ids.append(int(uids[i]))
                    out_scores.append(float(score[i]))
                    if with_matched:
                        out_matched.append(
                            [kw for kw in plan.keywords if present[kw][i]]
                        )

        arrays = [
            pa.array(out_qidx, pa.int32()),
            pa.array(out_ids, pa.int64()),
            pa.array(out_scores, pa.float64()),
        ]
        names = ["query_idx", "doc_id", "score"]
        if with_matched:
            arrays.append(pa.array(out_matched, pa.list_(pa.string())))
            names.append("matched_terms")
        yield pa.RecordBatch.from_arrays(arrays, names=names)

    return gen
