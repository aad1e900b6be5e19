"""Driver-local low-latency query path over the persisted index.

The distributed engine (probe_spark.search.engine) answers every query
through Spark jobs — correct at any scale, but each job costs ~0.3-1s of
scheduling, so point-query p95 is seconds.  The reference (a single-node
in-process engine, result1.txt:5 "Search completed in 34ms") is the
latency bar for SMALL corpora, and this module is the apples-to-apples
answer: a query front-end that reads the SAME segment files through a
cached postings term directory (``codec.PostingsDirectory``: bucket-dir
pruning + row-group pruning on the footer's term statistics, the pruning
the Spark plan gets), decodes with the SAME varint codec, and scores with
numpy using the SAME parser/AST semantics — no Spark session involved.

Deployment story at 10^12-turn scale: the index layout is bucket-
partitioned parquet, so a query tier mounts (or caches on local SSD) the
term dictionary + hot buckets and serves point queries at memory speed,
while analytic/bulk queries run through the Spark engine.  Rank-identity
between the two paths is pinned by tests/test_local_search.py.

Semantics parity map (same references as engine.py):
  - BM25: idf = ln(1+(N-df+.5)/(df+.5)), k1=1.5, b=0.5, binary tf
    (ranking.rs:129-143, 186-208, 361-362)
  - AST eval/scoring incl. required/excluded gates (elastic_query.rs:
    148-292, ranking.rs:226-274) — vectorized numpy mirror of the
    engine's Column compiler
  - special (exact/excluded) keywords via engine.special_plan, including
    the raw-word repair retokenization for G-set-affected docs
  - tie-break: score desc, doc_id asc (ranking.rs:406-418)
"""

from __future__ import annotations

import bisect
import os

import numpy as np

from probe_spark.functions import tokenizer as tok
from probe_spark.index.codec import PostingsDirectory
from probe_spark.query import ast
from probe_spark.query.parser import ParseError, parse_query
from probe_spark.search.engine import (
    MAX_QUERY_TERMS,
    _single_keyword_or,
    special_plan,
)
from probe_spark.search.ranged import B, K1, bm25_idf

RESULT_COLUMNS = [
    "doc_id", "score", "conv_id", "turn_idx", "role", "tool", "ts", "text",
]


def _narrowable(e: ast.Expr) -> bool:
    """True iff AST-driven candidate narrowing can shrink the candidate
    set below the all-postings union: an And node, a required term, or a
    multi-keyword (all-of) term introduces an intersection somewhere.
    Pure disjunctions of single-keyword optional terms return False —
    their candidate set IS the union."""
    if isinstance(e, ast.Term):
        return e.required or len(e.keywords) > 1
    if isinstance(e, ast.And):
        return True
    return _narrowable(e.left) or _narrowable(e.right)


def _listed(col):
    """Arrow column ``col`` as the list ``col.to_pylist()`` gives, built
    through numpy where that yields the same Python objects about 10x
    faster: strings (null -> None), null-free integers, and naive
    microsecond timestamps (datetime; null -> None).  Any other column
    (a tz-aware ``ts``, whose ``to_pylist()`` is ~15x slower than numpy)
    is returned as it is, to be converted a cell at a time."""
    import pyarrow as pa

    t = col.type
    if (
        pa.types.is_string(t)
        or (pa.types.is_integer(t) and col.null_count == 0)
        or (pa.types.is_timestamp(t) and t.unit == "us" and t.tz is None)
    ):
        return col.to_numpy(zero_copy_only=False).tolist()
    return col


class LocalSearcher:
    """In-process top-k BM25 search over an index directory (posix paths).

    Postings are cached at two levels:
      - decoded: ``(doc_ids, dls)`` arrays per term, FIFO-bounded at 512
        entries, so a long-lived service over a hot vocabulary stays
        within ~512 MB of decoded arrays (512 terms x ~1 MB);
      - encoded: a miss reads through one ``codec.PostingsDirectory``,
        which keeps the row groups it has read resident, still
        varint-encoded, in an LRU bounded at ``codec.RESIDENT_BYTES``
        (128 MB), so a miss decodes from memory.
    At ~1 MB per decoded term a searcher's postings caches hold at most
    ~640 MB (a hot term's decoded list grows with the corpus).  Each
    postings bucket directory is listed and each file's footer parsed
    once per searcher, so the searcher serves the postings files it first
    saw — rewriting one under it (``vacuum``, ``merge``, a rebuild)
    raises ``codec.IndexChangedError`` on the next miss that touches it,
    resident or not.
    """

    def __init__(self, index_path: str):
        import pyarrow.parquet as pq

        self.index_path = index_path.removeprefix("file://")
        stats = pq.read_table(os.path.join(self.index_path, "stats")).to_pylist()[0]
        from probe_spark.search.engine import _check_format_version

        _check_format_version(stats, self.index_path)
        self.n_docs = int(stats["n_docs"])
        self.avgdl = float(stats["avgdl"])
        self.n_buckets = int(stats["n_buckets"])
        # FIFO-bounded: a long-lived service over a hot vocabulary would
        # otherwise grow this without limit (decoded arrays are the big
        # entries; 512 terms x ~1MB is the intended ceiling)
        self._postings_cache: dict[tuple[str, str], tuple] = {}
        self._postings_cache_cap = 512
        self._postings_dir = PostingsDirectory(self.index_path, self.n_buckets)
        self._repair_cache: dict[frozenset, tuple] = {}
        self._docs_ds = None
        # winner-metadata plane: fragment range map (footer stats) + a
        # FIFO-bounded cache of decompressed fragments, the doc-store cache
        # a serving replica holds.  A fragment keeps ``text`` as one Arrow
        # array (~1 MB); from its second query on, its six small columns
        # are Python lists (~250 B per row); 64 fragments ≈ 64-256 MB per
        # replica plus the lists
        self._docs_map = None
        # (doc_id, dl) over EVERY doc, loaded once on first zero-included
        # query (only-excluded shapes rank the whole corpus)
        self._universe: "tuple[np.ndarray, np.ndarray] | None" = None
        self._meta_frag_cache: dict[int, tuple] = {}  # see _meta_fragment
        # at least one: a winner's row is read from its cached fragment
        self._meta_frag_cap = max(1, int(
            os.environ.get("PROBE_SPARK_LOCAL_META_FRAGS", "64")
        ))
        # tombstoned docs (index/maintenance.delete_where) are masked
        # before top-k; stats stay as built until vacuum — same
        # deleted-docs semantics as the Spark engine
        from probe_spark.index.maintenance import tombstone_ids

        t = tombstone_ids(self.index_path)
        if isinstance(t, str):
            raise RuntimeError(
                "tombstone backlog exceeds the local front-end cap — "
                "run probe_spark.index.maintenance.vacuum first"
            )
        self._tomb = t

    # -- index access --------------------------------------------------------
    def _postings(self, kind: str, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids, dls) for one term through the FIFO decoded-postings
        cache; a miss reads the term's segments through the postings
        term directory (``codec.PostingsDirectory.postings``)."""
        key = (kind, term)
        if key in self._postings_cache:
            return self._postings_cache[key]
        ids, dls = self._postings_dir.postings(kind, term)
        while len(self._postings_cache) >= self._postings_cache_cap:
            self._postings_cache.pop(next(iter(self._postings_cache)))
        self._postings_cache[key] = (ids, dls)
        return ids, dls

    def _docs_dataset(self):
        import pyarrow.dataset as ds

        if self._docs_ds is None:
            self._docs_ds = ds.dataset(
                os.path.join(self.index_path, "docs"), format="parquet"
            )
        return self._docs_ds

    # -- scoring -------------------------------------------------------------
    def _score_eval(
        self,
        expr: ast.Expr,
        present: dict[str, np.ndarray],
        idfs: dict[str, float],
        tf_norm: np.ndarray,
        n: int,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Vectorized mirror of engine._compile_score/_compile_eval:
        returns (score, ok) arrays; excluded-doc scores arrive as NaN."""
        false = np.zeros(n, dtype=bool)

        def pres(kw: str) -> np.ndarray:
            return present.get(kw, false)

        def score_rec(e: ast.Expr) -> "tuple[np.ndarray, bool]":
            """(scores, may_hold_nan) — tracking whether a subtree can
            produce NaN lets the common all-optional shapes combine with
            plain adds instead of nan_to_num (whose isposinf/isneginf
            scans cost seconds at multi-M candidate sets)."""
            if isinstance(e, ast.Term):
                s = np.zeros(n)
                for kw in e.keywords:
                    idf = idfs.get(kw, 0.0)
                    if idf:
                        s = s + np.where(pres(kw), idf * tf_norm, 0.0)
                if e.excluded:
                    return np.where(s > 0.0, np.nan, 0.0), True
                if e.required:
                    return np.where(s > 0.0, s, np.nan), True
                return s, False
            (l, ln), (r, rn) = score_rec(e.left), score_rec(e.right)
            if isinstance(e, ast.And):
                return l + r, ln or rn  # NaN propagates: either null -> null
            if not ln and not rn:
                return l + r, False
            if ln and rn:
                both_nan = np.isnan(l) & np.isnan(r)
                s = np.where(np.isnan(l), 0.0, l) + np.where(
                    np.isnan(r), 0.0, r
                )
                return np.where(both_nan, np.nan, s), True
            if ln:
                return np.where(np.isnan(l), 0.0, l) + r, False
            return l + np.where(np.isnan(r), 0.0, r), False

        has_req = ast.has_required_term(expr)

        def eval_rec(e: ast.Expr) -> np.ndarray:
            if isinstance(e, ast.Term):
                if not e.keywords:
                    return np.full(n, e.excluded)
                all_p = np.ones(n, dtype=bool)
                any_p = np.zeros(n, dtype=bool)
                for kw in e.keywords:
                    p = pres(kw)
                    all_p &= p
                    any_p |= p
                if e.excluded:
                    return ~any_p
                if e.required:
                    return all_p
                if has_req:
                    return np.ones(n, dtype=bool)
                return any_p & all_p
            if isinstance(e, ast.And):
                return eval_rec(e.left) & eval_rec(e.right)
            return eval_rec(e.left) | eval_rec(e.right)

        ok = eval_rec(expr)
        # the any-keyword gate (ast.gate_keywords).  Vacuous over the
        # postings-union candidates (every one holds >=1 keyword by
        # construction) but LOAD-BEARING on the repair-widened set: an
        # affected doc whose retokenization holds none of the query's
        # keywords must not qualify at score 0 through an excluded-term
        # branch.
        gate = ast.gate_keywords(expr)
        if gate is not None:
            any_kw = np.zeros(n, dtype=bool)
            for kw in gate:
                any_kw |= pres(kw)
            ok &= any_kw
        if has_req:
            for t in ast.walk_terms(expr):
                if t.required and not t.excluded:
                    for kw in t.keywords:
                        ok &= pres(kw)
        return score_rec(expr)[0], ok

    # -- candidate narrowing --------------------------------------------------
    @staticmethod
    def _isect(a: "np.ndarray | None", b: "np.ndarray | None"):
        """Intersection of two sorted-unique id arrays (None = universe)."""
        if a is None:
            return b
        if b is None:
            return a
        if min(a.size, b.size) == 0:
            return a[:0]
        small, large = (a, b) if a.size <= b.size else (b, a)
        pos = np.searchsorted(large, small)
        pos[pos == large.size] = large.size - 1
        return small[large[pos] == small]

    def _cand_set(self, expr, per_term: dict, kw_to_match: dict):
        """Sorted-unique doc-id superset of every doc the boolean
        evaluation can accept (None = no narrowing possible).

        Mirrors _score_eval's semantics structurally: a non-excluded Term
        qualifies only docs holding ALL its keywords (all_p), And
        intersects, Or unions, excluded terms qualify complements (no
        narrowing).  With required terms anywhere, the engine's
        required-anywhere rule (ok &= presence of every required keyword,
        regardless of AST position — elastic_query.rs:365-443 semantics)
        makes the intersection of the required keywords' postings a
        superset on its own.  Only the CANDIDATE set narrows; presence/
        score/df math is unchanged, so ranks are identical — docs outside
        the set are exactly those _score_eval would reject or score as
        strictly-below-zero-candidates anyway (pinned by
        tests/test_local_search.py parity)."""
        empty = np.empty(0, dtype=np.int64)

        def get(kw):
            m = kw_to_match.get(kw)
            return per_term[m][0] if m is not None else empty

        from probe_spark.query import ast as _ast

        if _ast.has_required_term(expr):
            s = None
            for t in _ast.walk_terms(expr):
                if t.required and not t.excluded:
                    for kw in t.keywords:
                        s = self._isect(s, get(kw))
            return s

        def rec(e):
            if isinstance(e, _ast.Term):
                if e.excluded:
                    return None
                if not e.keywords:
                    return empty
                s = None
                for kw in e.keywords:
                    s = self._isect(s, get(kw))
                return s
            left, right = rec(e.left), rec(e.right)
            if isinstance(e, _ast.And):
                return self._isect(left, right)
            if left is None or right is None:
                return None
            return np.union1d(left, right)

        return rec(expr)

    def _search_disjunctive_dense(
        self, expr, per_term: dict, k: int, with_metadata: bool
    ) -> "list[dict] | None":
        """Pure-disjunction top-k by dense score accumulation: one
        float64 array over the doc-id space, each term's postings
        scatter-add idf*tf_norm — no candidate union, no presence masks,
        no per-term where() allocations.  Bit-identical to the generic
        path on left-spine OR trees (every Or's right child a Term — how
        the parser folds an unparenthesised chain): ast.walk_terms yields
        terms in-order, so accumulating term contributions in walk order
        reproduces the recursion's exact float addition sequence
        (((s1+s2)+s3)+...), and 0.0+x == x.  Any other tree, such as
        "a OR (b OR c)" (generic sum s_a+(s_b+s_c), which can differ in
        the last ulp), returns None (fallback), as do doc ids too sparse
        for a dense array.  Eligibility otherwise mirrors
        engine._single_keyword_or (single-keyword optional terms only) plus
        no tombstones/specials; search() answers k <= 0 before any
        route, so k >= 1 here."""
        from probe_spark.query import ast as _ast

        e = expr
        while isinstance(e, _ast.Or):
            if not isinstance(e.right, _ast.Term):
                return None  # not a left-spine OR chain
            e = e.left
        if len(per_term) < 2:
            # single term: the posting list IS the candidate set and the
            # generic path's identity shortcut beats a doc-space-sized
            # dense array (measured at 26.4M: 0.9s vs 1.75s)
            return None
        sizes = [int(v[0][-1]) + 1 for v in per_term.values() if v[0].size]
        if not sizes:
            return []
        size = max(sizes)
        if size > max(2 * self.n_docs, 1 << 22):
            return None
        idfs = {
            t: bm25_idf(self.n_docs, v[0].size)
            for t, v in per_term.items()
            if v[0].size
        }
        if not idfs:
            return []
        scores = np.zeros(size)
        for t in (tm.keywords[0] for tm in _ast.walk_terms(expr)):
            idf = idfs.get(t, 0.0)
            if not idf:
                continue
            ids, dls = per_term[t]
            tfn = (K1 + 1.0) / (
                1.0
                + K1
                * ((1.0 - B) + B * (dls.astype(np.float64) / self.avgdl))
            )
            scores[ids] += idf * tfn
        n = scores.size
        kth = np.partition(scores, n - k)[n - k] if n > k else 0.0
        sel = np.flatnonzero(
            scores > 0.0 if kth <= 0.0 else scores >= kth
        )
        order = np.lexsort((sel, -scores[sel]))[:k]
        ids_k = sel[order]
        sc_k = scores[ids_k]
        results = [
            {"doc_id": int(i), "score": float(s)}
            for i, s in zip(ids_k, sc_k)
        ]
        if with_metadata and results:
            kws = sorted(per_term)
            matched = []
            for r in results:
                d = r["doc_id"]
                mt = []
                for t in kws:
                    ids = per_term[t][0]
                    p = int(np.searchsorted(ids, d))
                    if p < ids.size and int(ids[p]) == d:
                        mt.append(t)
                matched.append(mt)
            self._attach_meta(results, matched)
        return results

    def _universe_arrays(self):
        """(doc_id, dl) for every doc, doc-sorted, cached (zero-included
        queries rank the whole corpus; one load per replica)."""
        if self._universe is None:
            table = self._docs_dataset().to_table(columns=["doc_id", "dl"])
            every = table.column("doc_id").to_numpy(zero_copy_only=False)
            every_dl = table.column("dl").to_numpy(zero_copy_only=False)
            order = np.argsort(every, kind="stable")
            self._universe = (every[order], every_dl[order])
        return self._universe

    def _const_score_topk(
        self,
        expr,
        per_term: dict,
        kw_to_match: dict,
        query_terms,
        idfs: dict,
        repair: "tuple | None",
        k: int,
        with_metadata: bool,
    ) -> list[dict]:
        """Top-k for zero-included queries whose every qualifying doc
        scores exactly 0.0 (no non-excluded keyword with positive idf):
        the answer is the first k qualifying doc_ids, found by a chunked
        doc-id-order walk with the same _score_eval semantics per chunk —
        no corpus-wide arrays.  Rank-identity: all scores tie at 0.0 and
        the engine tie-break is doc_id asc, which is the walk order."""
        every, _ = self._universe_arrays()
        re_ids = re_presence = None
        if repair is not None:
            re_ids, re_presence = repair
        out_ids: list[np.ndarray] = []
        out_rows: list[tuple] = []
        step = 1 << 16
        kws_sorted = None
        for lo in range(0, every.size, step):
            chunk = every[lo : lo + step]
            m = chunk.size

            def member(ids, values=chunk, m=m):
                a = np.searchsorted(ids, values[0])
                b = np.searchsorted(ids, values[-1], side="right")
                sub = ids[a:b]
                pos = np.searchsorted(values, sub)
                if m:
                    pos[pos == m] = m - 1
                    f = values[pos] == sub
                else:
                    f = np.zeros(len(sub), dtype=bool)
                return pos, f, a, b

            presc: dict[str, np.ndarray] = {}
            for kw in query_terms:
                match = kw_to_match.get(kw)
                mask = np.zeros(m, dtype=bool)
                if match is not None:
                    pos, f, _a, _b = member(per_term[match][0])
                    mask[pos[f]] = True
                presc[kw] = mask
            if re_ids is not None and re_ids.size:
                pos, f, a, b = member(re_ids)
                for kw in query_terms:
                    match = kw_to_match.get(kw)
                    if match is None:
                        continue
                    presc[kw][pos[f]] = re_presence[match][a:b][f]
            score_c, ok_c = self._score_eval(
                expr, presc, idfs, np.ones(m), m
            )
            keep_c = ok_c & ~np.isnan(score_c)
            if self._tomb is not None and m:
                p = np.searchsorted(self._tomb, chunk)
                p[p == self._tomb.size] = self._tomb.size - 1
                keep_c &= self._tomb[p] != chunk
            hit = np.flatnonzero(keep_c)
            if hit.size:
                if kws_sorted is None:
                    kws_sorted = sorted(presc)
                take = hit[: k - len(out_rows)]
                for j in take:
                    out_rows.append(
                        (
                            int(chunk[j]),
                            [kw for kw in kws_sorted if presc[kw][j]],
                        )
                    )
                if len(out_rows) >= k:
                    break
        results = [
            {"doc_id": d, "score": 0.0} for d, _mt in out_rows
        ]
        if with_metadata and results:
            self._attach_meta(results, [mt for _d, mt in out_rows])
        return results

    # -- search --------------------------------------------------------------
    def search(
        self, query: str, k: int | None = 10, exact: bool = False,
        with_metadata: bool = True,
    ) -> list[dict]:
        try:
            expr, _special = parse_query(query, exact=exact)
        except ParseError:
            return []
        query_terms = ast.extract_query_terms(expr)
        if len(query_terms) > MAX_QUERY_TERMS or not query_terms:
            return []
        if k is not None and k <= 0:
            return []  # no rows asked for, on every route (as the engine)

        special_kws: set[str] = set()
        for t in ast.walk_terms(expr):
            if t.exact or t.excluded:
                special_kws.update(t.keywords)
        normal_kws = query_terms - special_kws
        plans = {kw: special_plan(kw) for kw in sorted(special_kws)}
        kw_to_match: dict[str, str] = {kw: kw for kw in normal_kws}
        for kw, p in plans.items():
            if p.matchable:
                kw_to_match[kw] = p.lookup
        all_lookups = sorted(set(kw_to_match.values()))

        g_set = frozenset(
            p.lookup
            for p in plans.values()
            if p.lookup and all(c.isalnum() for c in p.lookup)
        )
        affecting = sorted(
            w for w in g_set if tok.tokenize(w) != tok.tokenize(w, g_set)
        )

        # per-doc hits from the token index
        per_term = {t: self._postings("tok", t) for t in all_lookups}
        avgdl = self.avgdl
        if (
            k is not None
            and self._tomb is None
            and not special_kws
            and _single_keyword_or(expr)
        ):
            # pure disjunction of single-keyword optional terms: dense
            # scatter-add scoring, no candidate union (bit-identical —
            # see _search_disjunctive_dense; parity pinned by the
            # on/off property test)
            res = self._search_disjunctive_dense(
                expr, per_term, k, with_metadata
            )
            if res is not None:
                return res
        # zero-included shapes ("-onlyexcluded", "a OR -b") qualify docs
        # containing NO query term, so candidate narrowing cannot apply;
        # pure-AST check, computed early to pick the construction
        zero_included = ast.evaluate(expr, lambda kw: False) and (
            ast.score(expr, lambda kw: 0.0) is not None
        )
        cand = None
        if not zero_included and _narrowable(expr):
            # AST-driven narrowing: conjunctions / required / negated /
            # multi-keyword shapes qualify only docs in the intersection
            # of their mandatory terms' postings — score over THAT set,
            # not the union of every term's postings (at 26.4M turns the
            # union for "(a OR b) AND (c OR d)" is ~10x the qualifying
            # set, and every downstream array is candidate-set-sized).
            # Pure disjunctions of single-keyword terms skip this: their
            # candidate set IS the union, which the inv-based
            # construction below builds in one pass.
            cand = self._cand_set(expr, per_term, kw_to_match)
        inv = None
        if cand is None:
            if len(per_term) == 1:
                # single lookup: the posting list IS the candidate set
                # (already sorted unique) — skip the O(n log n) pass
                cand_ids = next(iter(per_term.values()))[0]
            else:
                all_ids = (
                    np.concatenate([v[0] for v in per_term.values()])
                    if per_term
                    else np.empty(0, dtype=np.int64)
                )
                cand_ids, inv = np.unique(all_ids, return_inverse=True)
        else:
            cand_ids = cand
        n = len(cand_ids)
        present: dict[str, np.ndarray] = {}
        dl = np.zeros(n, dtype=np.int64)
        lookup_present: dict[str, np.ndarray] = {}
        pos0 = 0
        for t in all_lookups:
            ids, dls = per_term[t]
            if ids is cand_ids:
                # identity: this term's postings ARE the candidate set
                lookup_present[t] = np.ones(n, dtype=bool)
                dl[:] = dls
                continue
            if inv is not None:
                # union construction: positions fall out of the unique
                # inverse — no per-term searchsorted
                m = len(ids)
                idx = inv[pos0 : pos0 + m]
                pos0 += m
                mask = np.zeros(n, dtype=bool)
                mask[idx] = True
                lookup_present[t] = mask
                dl[idx] = dls
                continue
            pos = np.searchsorted(cand_ids, ids)
            if n:
                pos[pos == n] = n - 1
                found = cand_ids[pos] == ids
            else:
                found = np.zeros(len(ids), dtype=bool)
            mask = np.zeros(n, dtype=bool)
            mask[pos[found]] = True
            lookup_present[t] = mask
            dl[pos[found]] = dls[found]

        df_by_term = {t: int(len(per_term[t][0])) for t in all_lookups}

        if affecting:
            # repair retokenization: docs containing an affecting word as a
            # whole raw word re-tokenize with the per-query special set.
            # Round 5: the bundle is BITMASK arrays over the lookup list
            # (same content + key as the engine's _repairs/ sidecar, so
            # engine, LocalSearcher, and every QueryService replica share
            # one computation via the index directory) — the per-query
            # Python membership loops over hundreds of thousands of token
            # sets are gone; presence overwrite is a vectorized shift.
            lookups_t = tuple(all_lookups)
            rkey = (g_set, lookups_t)
            bundle = self._repair_cache.get(rkey)
            if bundle is None:
                from probe_spark.search import repair as repair_mod

                masked = len(all_lookups) <= 62  # int64 bitmask limit
                arrays = (
                    repair_mod.load_sidecar(
                        self.index_path, g_set, lookups_t
                    )
                    if masked
                    else None
                )
                if arrays is None:
                    import pyarrow.dataset as ds

                    raw_ids = np.unique(
                        np.concatenate(
                            [self._postings("raw", w)[0] for w in affecting]
                        )
                    )
                    table = self._docs_dataset().to_table(
                        columns=["doc_id", "text", "dl"],
                        filter=ds.field("doc_id").isin(raw_ids.tolist()),
                    )
                    order = np.argsort(
                        table["doc_id"].to_numpy(), kind="stable"
                    )
                    r_ids = (
                        table["doc_id"].to_numpy()[order].astype(np.int64)
                    )
                    r_dls = table["dl"].to_numpy()[order].astype(np.int64)
                    texts = table["text"].to_pylist()
                    texts = [texts[i] for i in order]
                    if masked:
                        # single-process retok: a replica IS one of N
                        # worker processes already; only the first replica
                        # computes — the rest load the sidecar it stores
                        hits, olds, dl_new, d = repair_mod.retok_chunk(
                            texts, r_dls, lookups_t, g_set
                        )
                        arrays = {
                            "ids": r_ids, "hits": hits, "olds": olds,
                            "dl": dl_new, "dl_delta": d,
                        }
                        repair_mod.store_sidecar(
                            self.index_path, g_set, lookups_t, arrays
                        )
                    else:
                        # >62 lookups (up to the 256-term parser cap):
                        # per-lookup bool arrays straight from the token
                        # sets — no sidecar, cached in-process
                        toks = [
                            tok.tokenize(t, g_set) if t else []
                            for t in texts
                        ]
                        tok_sets = [set(ts) for ts in toks]
                        presence_r = {
                            t: np.fromiter(
                                (t in s for s in tok_sets), bool,
                                len(tok_sets),
                            )
                            for t in all_lookups
                        }
                        dl_new = np.fromiter(
                            (len(ts) for ts in toks), np.int64, len(toks)
                        )
                        bundle = (
                            r_ids, presence_r, dl_new,
                            int(dl_new.sum() - r_dls.sum()),
                        )
                if bundle is None:
                    hits = arrays["hits"].astype(np.int64, copy=False)
                    bundle = (
                        arrays["ids"].astype(np.int64, copy=False),
                        {
                            t: ((hits >> j) & 1).astype(bool)
                            for j, t in enumerate(lookups_t)
                        },
                        arrays["dl"].astype(np.int64, copy=False),
                        int(arrays["dl_delta"].sum()),
                    )
                # mask bundles are ~tens of B/affected doc — FIFO-bound
                # like SearchEngine caches so a service cycling many
                # special vocabularies can't grow without limit
                while len(self._repair_cache) >= 8:
                    self._repair_cache.pop(next(iter(self._repair_cache)))
                self._repair_cache[rkey] = bundle
            re_ids, re_presence, re_dl, delta = bundle
            avgdl = (
                (self.avgdl * self.n_docs + delta) / self.n_docs
                if self.n_docs
                else 0.0
            )
            cand_ids = np.unique(np.concatenate([cand_ids, re_ids]))
            n = len(cand_ids)
            re_pos = np.searchsorted(cand_ids, re_ids)
            # rebuild presence on the widened candidate set
            new_present: dict[str, np.ndarray] = {}
            new_dl = np.zeros(n, dtype=np.int64)
            for t in all_lookups:
                ids, dls = per_term[t]
                idx = np.searchsorted(cand_ids, ids)
                if n:
                    idx[idx == n] = n - 1
                    found = cand_ids[idx] == ids
                else:
                    found = np.zeros(len(ids), dtype=bool)
                mask = np.zeros(n, dtype=bool)
                mask[idx[found]] = True
                new_present[t] = mask
                new_dl[idx[found]] = dls[found]
            # overwrite repaired docs: presence from the repaired arrays
            for t in all_lookups:
                m = new_present[t]
                m[re_pos] = re_presence[t]
                new_present[t] = m
            new_dl[re_pos] = re_dl
            lookup_present, dl = new_present, new_dl
            # df over the FULL corpus (not the candidate set): index df
            # minus repaired docs that held the term, plus repaired docs
            # holding it after retokenization — value-identical to the
            # pre-narrowing presence-sum over the all-postings union
            df_by_term = {}
            for t in all_lookups:
                ids, _dls = per_term[t]
                if re_ids.size and ids.size:
                    p = np.searchsorted(ids, re_ids)
                    p[p == ids.size] = ids.size - 1
                    had = int((ids[p] == re_ids).sum())
                else:
                    had = 0
                df_by_term[t] = (
                    int(ids.size) - had + int(re_presence[t].sum())
                )

        idfs: dict[str, float] = {}
        for kw in query_terms:
            match = kw_to_match.get(kw)
            df = df_by_term.get(match, 0) if match else 0
            if df > 0:
                idfs[kw] = bm25_idf(self.n_docs, df)

        deferred_widen = False
        if zero_included:
            # constant-score fast path: when no NON-excluded keyword has
            # positive idf, every qualifying doc scores exactly 0.0 (the
            # excluded branches only produce NaN) and the top-k is the
            # first k qualifying doc_ids — found by walking the corpus in
            # doc-id order, chunk by chunk, instead of materializing and
            # scoring a corpus-wide candidate set ("-onlyexcluded" at
            # 26.4M turns: 7.6s -> ~10ms)
            const_score = k is not None and not any(
                idfs.get(kw, 0.0) > 0.0
                for t in ast.walk_terms(expr)
                if not t.excluded
                for kw in t.keywords
            )
            if const_score:
                return self._const_score_topk(
                    expr, per_term, kw_to_match, query_terms, idfs,
                    (re_ids, re_presence) if affecting else None,
                    k, with_metadata,
                )
            # zero-included with scored terms ("a OR -b"): every doc is a
            # candidate, but docs holding NO query term all score exactly
            # 0.0 — so when the postings union already yields >= k
            # positive-score qualifying rows, the union top-k IS the
            # global top-k and the corpus-wide widening is skipped
            # entirely (the deferred check below re-widens only in the
            # degenerate under-k case).  k=None (no limit) still widens:
            # the caller asked for every qualifying doc.
            if k is None:
                every, every_dl = self._universe_arrays()
                idx = np.searchsorted(every, cand_ids)
                full_dl = every_dl.astype(np.int64)
                full_dl[idx] = dl
                widened: dict[str, np.ndarray] = {}
                for t, mask in lookup_present.items():
                    m = np.zeros(len(every), dtype=bool)
                    m[idx] = mask
                    widened[t] = m
                cand_ids, dl, lookup_present = every, full_dl, widened
                n = len(cand_ids)
            else:
                deferred_widen = True

        for kw in query_terms:
            match = kw_to_match.get(kw)
            if match is None:
                present[kw] = np.zeros(n, dtype=bool)
            else:
                present[kw] = lookup_present[match]

        tf_norm = (K1 + 1.0) / (
            1.0 + K1 * ((1.0 - B) + B * (dl.astype(np.float64) / avgdl))
        )
        score, ok = self._score_eval(expr, present, idfs, tf_norm, n)
        keep = ok & ~np.isnan(score)
        if self._tomb is not None and n:
            # deleted docs never surface (covers the repair-widened and
            # zero-included candidate sets too — all ride cand_ids)
            pos = np.searchsorted(self._tomb, cand_ids)
            pos[pos == self._tomb.size] = self._tomb.size - 1
            keep &= self._tomb[pos] != cand_ids
        ids_k = cand_ids[keep]
        sc_k = score[keep]
        if deferred_widen and int(np.count_nonzero(sc_k > 0.0)) < k:
            # degenerate zero-included case: fewer than k positive-score
            # docs in the postings union, so zero-score docs outside it
            # can reach the top-k — do the corpus-wide widening after all
            # and re-run the assembly exactly as the eager path would
            every, every_dl = self._universe_arrays()
            idx = np.searchsorted(every, cand_ids)
            full_dl = every_dl.astype(np.int64)
            full_dl[idx] = dl
            widened = {}
            for t, mask in lookup_present.items():
                m = np.zeros(len(every), dtype=bool)
                m[idx] = mask
                widened[t] = m
            cand_ids, dl, lookup_present = every, full_dl, widened
            n = len(cand_ids)
            for kw in query_terms:
                match = kw_to_match.get(kw)
                if match is None:
                    present[kw] = np.zeros(n, dtype=bool)
                else:
                    present[kw] = lookup_present[match]
            tf_norm = (K1 + 1.0) / (
                1.0 + K1 * ((1.0 - B) + B * (dl.astype(np.float64) / avgdl))
            )
            score, ok = self._score_eval(expr, present, idfs, tf_norm, n)
            keep = ok & ~np.isnan(score)
            if self._tomb is not None and n:
                pos = np.searchsorted(self._tomb, cand_ids)
                pos[pos == self._tomb.size] = self._tomb.size - 1
                keep &= self._tomb[pos] != cand_ids
            ids_k = cand_ids[keep]
            sc_k = score[keep]
        if k is not None and 0 < k < ids_k.size:
            # partition-then-sort top-k: O(n) select of every row scoring
            # >= the kth-largest score (ties at the boundary all included,
            # so the doc_id tie-break below sees exactly the rows a full
            # sort would rank in the top k), then lexsort only that
            # candidate set — replaces the full O(n log n) lexsort that
            # dominated warm large-corpus queries
            kth = np.partition(sc_k, ids_k.size - k)[ids_k.size - k]
            sel_k = np.flatnonzero(sc_k >= kth)
            sub = np.lexsort((ids_k[sel_k], -sc_k[sel_k]))[:k]
            order = sel_k[sub]
        elif k is not None:
            order = np.lexsort((ids_k, -sc_k))[:k]
        else:
            order = np.lexsort((ids_k, -sc_k))
        ids_k, sc_k = ids_k[order], sc_k[order]
        results = [
            {"doc_id": int(i), "score": float(s)} for i, s in zip(ids_k, sc_k)
        ]
        if with_metadata and results:
            # matched_terms: sorted matched query keywords per winner —
            # same construction as engine._matched_terms_col
            # (file_processing.rs:1447-1488), from the presence arrays
            sel = np.flatnonzero(keep)[order]
            kws = sorted(present)
            self._attach_meta(
                results, [[kw for kw in kws if present[kw][j]] for j in sel]
            )
        return results

    # -- winner metadata fetch ------------------------------------------------
    _META_COLUMNS = [
        "doc_id", "conv_id", "turn_idx", "role", "tool", "ts", "text",
    ]

    def _attach_meta(self, results: list[dict], matched: list) -> None:
        """Completes winner rows in place: ``matched_terms`` from
        ``matched`` (one sorted keyword list per row, in row order), then
        the row's docs columns (``_fetch_meta``)."""
        meta = self._fetch_meta([r["doc_id"] for r in results])
        for r, mt in zip(results, matched):
            r["matched_terms"] = mt
            r.update(meta.get(r["doc_id"], {}))

    def _docs_file_map(self):
        """(paths, min_doc, max_doc) for every docs/ fragment, from parquet
        footer stats only (no data read).  Valid iff the files cover
        DISJOINT doc_id ranges — true for every writer in this repo (the
        fused build emits doc-contiguous shards, streaming appends new id
        ranges, vacuum rewrites file-for-file); overlap -> None and the
        caller keeps the generic dataset-filter path."""
        if self._docs_map is not None:
            return self._docs_map if self._docs_map else None
        import pyarrow.parquet as pq

        entries = []
        root = os.path.join(self.index_path, "docs")
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames.sort()
            for fn in sorted(filenames):
                if not fn.endswith(".parquet"):
                    continue
                p = os.path.join(dirpath, fn)
                md = pq.ParquetFile(p).metadata
                schema_names = [
                    md.schema.column(i).name for i in range(md.num_columns)
                ]
                try:
                    ci = schema_names.index("doc_id")
                except ValueError:
                    self._docs_map = ()
                    return None
                lo = hi = None
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(ci).statistics
                    if st is None or not st.has_min_max:
                        self._docs_map = ()
                        return None
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                if md.num_rows:
                    entries.append((int(lo), int(hi), p))
        entries.sort()
        for (l0, h0, _), (l1, _h1, _p) in zip(entries, entries[1:]):
            if l1 <= h0:  # overlapping ranges — fall back
                self._docs_map = ()
                return None
        self._docs_map = (
            [e[2] for e in entries],
            [e[0] for e in entries],
            [e[1] for e in entries],
        )
        return self._docs_map

    def _fetch_meta(self, doc_ids: "list[int]") -> dict:
        """Winner-row metadata, ``{doc_id: row}`` with the
        ``_META_COLUMNS`` values as ``to_pylist()`` gives them.  The
        generic path (dataset filter with isin) decompresses EVERY row
        group whose stats admit a winner — ~1 MB of text per fragment, k
        fragments per query, the dominant warm-query cost at multi-M-doc
        corpora.  The fast path resolves each winner to its fragment via
        footer stats and keeps a FIFO-bounded cache of decompressed
        fragments (the doc-store cache every serving stack has).  A
        cached fragment answers a winner by two bisections and a value per
        column (``_meta_fragment``): no Arrow-to-Python conversion of a
        table per query."""
        fm = self._docs_file_map()
        if fm is None:
            import pyarrow.dataset as ds

            table = self._docs_dataset().to_table(
                columns=self._META_COLUMNS,
                filter=ds.field("doc_id").isin(doc_ids),
            )
            return {r["doc_id"]: r for r in table.to_pylist()}
        paths, lo, hi = fm
        names = self._META_COLUMNS
        out: dict = {}
        frag = None
        # doc order visits each fragment once, so one call never evicts a
        # fragment it still needs
        for d in sorted(doc_ids):
            i = bisect.bisect_right(lo, d) - 1
            if i < 0 or d > hi[i]:  # in no fragment's range (deleted/stale)
                continue
            if i != frag:
                frag = i
                ids, cols, _ = self._meta_fragment(i, paths[i])
            j = bisect.bisect_left(ids, d)
            if j < len(ids) and ids[j] == d:
                out[d] = {
                    n: c[j] if type(c) is list else c[j].as_py()
                    for n, c in zip(names, cols)
                }
        return out

    def _meta_fragment(self, i: int, path: str) -> tuple:
        """Docs fragment ``i`` from the cache, read in on a miss:
        ``(doc ids, the _META_COLUMNS, listed)``, in doc_id order.  The
        query that reads a fragment in gets its ids as numpy and its
        columns as Arrow and converts only its winners' cells, as the
        uncached path would; the next query to use it converts the ids
        and the six small columns to lists once (``_listed``; ``listed``
        is then True), so a fragment evicted before reuse never pays for
        whole columns.  ``text`` stays Arrow."""
        cache = self._meta_frag_cache
        ent = cache.get(i)
        if ent is None:
            import pyarrow.parquet as pq

            t = pq.read_table(path, columns=self._META_COLUMNS)
            ids_np = t.column("doc_id").to_numpy()
            if ids_np.size > 1 and np.any(ids_np[1:] < ids_np[:-1]):
                order = np.argsort(ids_np, kind="stable")
                t, ids_np = t.take(order), ids_np[order]
            while len(cache) >= self._meta_frag_cap:
                cache.pop(next(iter(cache)))
            ent = cache[i] = (ids_np, t.columns, False)
        elif not ent[2]:
            ids_np, cols, _ = ent
            ids = ids_np.tolist()
            # doc_id is the first column; text, the last, stays Arrow
            ent = cache[i] = (
                ids, [ids, *map(_listed, cols[1:-1]), cols[-1]], True
            )
        return ent
