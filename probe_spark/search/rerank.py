"""Second-stage result reranking — the Spark analog of the reference's
optional cross-encoder reranker.

The reference can reorder its BM25 top-N with a BERT cross-encoder
(``src/search/result_ranking.rs:368-470``, models gated behind
``--features bert-reranker`` in ``src/cli.rs``).  This module re-expresses
that two-stage shape Spark-first: stage 1 is the engine's BM25 top-N
(any path — single-term, ranged, local), stage 2 re-scores ONLY those N rows
and reorders.  At 10^12-turn scale this is the standard retrieve-then-
rerank serving topology: the expensive scorer touches k' << corpus rows.

Scorers:

* ``"overlap"`` (default, deterministic): query-coverage score
  ``|matched query keywords| / |wanted query keywords|`` — a coverage-
  first relevance signal orthogonal to BM25's tf/idf weighting (a doc
  matching ALL query terms outranks a doc matching one term repeatedly).
  Pure Column expressions over the stage-1 ``matched_terms`` column —
  JVM-side, no UDF, no extra scan.
* ``"cross-encoder[:<model>]"``: batched (query, text) pair inference
  inside ``mapInPandas`` — the real Spark plumbing (Arrow batches,
  explicit schema, per-partition model load) with the model call behind
  an import-try: without a BERT runtime installed it raises
  ``NotImplementedError``, mirroring the reference's feature gate.

Ordering: rerank_score desc, stage-1 score desc, doc_id asc — the
stage-1 tie-break keys are kept so the rerank is a stable refinement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from probe_spark.query.plan import QueryPlan

_CE_MODEL = None
_CE_NAME = None


def _wanted_keywords(query: str, exact: bool = False) -> list[str]:
    """Distinct keywords of the query's non-excluded terms — the
    coverage denominator (excluded terms are not 'wanted').  An
    unparsable query wants nothing; the search lanes return no rows for
    it either."""
    return QueryPlan.compile(query, exact).wanted_keywords


def _cross_encoder_fn(model_name: str, query: str):
    """mapInPandas batch scorer: loads the cross-encoder once per worker
    process, scores (query, text) pairs Arrow-batch-wise."""

    def fn(batches):
        global _CE_MODEL, _CE_NAME
        try:
            from sentence_transformers import (  # noqa: PLC0415
                CrossEncoder,
            )
        except ImportError as e:  # pragma: no cover - no BERT runtime here
            raise NotImplementedError(
                f"reranker 'cross-encoder:{model_name}' needs the "
                "sentence-transformers runtime (the reference gates the "
                "same feature behind --features bert-reranker); install "
                "it or use scorer='overlap'"
            ) from e
        if _CE_NAME != model_name:  # pragma: no cover - no BERT runtime
            _CE_MODEL = CrossEncoder(model_name)
            _CE_NAME = model_name
        for pdf in batches:  # pragma: no cover - no BERT runtime
            pdf = pdf.copy()
            pdf["rerank_score"] = _CE_MODEL.predict(
                [(query, t) for t in pdf["text"].fillna("")]
            ).astype("float64")
            yield pdf

    return fn


# the node-type boost analog for transcripts (the reference multiplies a
# block's BM25 by a per-node-type factor and re-sorts,
# result_ranking.rs:185-326: implementations 2.0x ... test code 0.7x,
# comments 0.5x).  Transcript turns have no AST node types; the
# role/tool axis is the analog signal: the assistant's turns are the
# "implementation" payload, raw tool dumps the low-signal noise.
DEFAULT_ROLE_BOOSTS = {
    "assistant": 2.0,
    "user": 1.4,
    "system": 1.0,
    "tool": 0.7,
}


def boost(
    engine,
    query: str,
    k: int = 10,
    n_candidates: int = 50,
    role_boosts: "dict[str, float] | None" = None,
    tool_boosts: "dict[str, float] | None" = None,
) -> DataFrame:
    """Metadata-boosted top-k — the node-type boost analog
    (result_ranking.rs:185-326): BM25 top-``n_candidates``, each row's
    score multiplied by its role's (and optionally tool's) boost factor,
    re-sorted (boosted desc, doc_id asc).  Like the reference, the
    unboosted BM25 survives as ``bm25_score``; unknown roles/tools get
    factor 1.0 (the reference's default arm).  Pure Column expressions —
    no UDF, no extra scan; the boost map broadcasts as literals."""
    role_boosts = (
        DEFAULT_ROLE_BOOSTS if role_boosts is None else role_boosts
    )
    cands = engine.search(query, k=n_candidates, with_metadata=True)

    def factor(col: str, table: "dict[str, float]"):
        if not table:
            return F.lit(1.0)
        m = F.create_map(
            *[
                F.lit(x)
                for kv in table.items()
                for x in (kv[0], float(kv[1]))
            ]
        )
        return F.coalesce(m[F.col(col)], F.lit(1.0))

    boosted = cands.withColumn(
        "boosted",
        F.col("score") * factor("role", role_boosts)
        * factor("tool", tool_boosts or {}),
    )
    return (
        boosted.orderBy(F.desc("boosted"), F.asc("doc_id"))
        .limit(k)
        .select(
            "doc_id",
            F.round("boosted", 6).alias("score"),
            F.round(F.col("score"), 6).alias("bm25_score"),
        )
    )


def rerank_rows(
    rows, query: str, k: "int | None" = 10, exact: bool = False
) -> list[dict]:
    """Overlap-rerank a COLLECTED candidate list (list of dicts or Spark
    Rows holding matched_terms + score) — the row-level twin of
    :func:`rerank` for the CLI / LocalSearcher paths.  Same ordering:
    rerank_score desc, stage-1 score desc, doc_id asc.  ``exact`` must be
    the stage-1 search's: it decides which keywords matched_terms holds."""
    wanted = set(_wanted_keywords(query, exact))
    denom = float(max(len(wanted), 1))
    out = []
    for r in rows:
        d = r if isinstance(r, dict) else r.asDict()
        d = dict(d)
        d["rerank_score"] = (
            len(wanted.intersection(d.get("matched_terms") or ())) / denom
        )
        out.append(d)
    out.sort(
        key=lambda d: (-d["rerank_score"], -d["score"], d["doc_id"])
    )
    return out[:k] if k is not None else out


def rerank(
    engine,
    query: str,
    k: int = 10,
    n_candidates: int = 50,
    scorer: str = "overlap",
    project: bool = True,
    exact: bool = False,
) -> DataFrame:
    """Retrieve-then-rerank: BM25 top-``n_candidates`` via
    ``engine.search``, re-scored by ``scorer``, reordered, top-``k``.

    Returns (doc_id, rerank_score, score) ordered by (rerank_score desc,
    score desc, doc_id asc).  The candidate boundary is the engine's own
    deterministic (score desc, doc_id asc) cut, so the result is
    reproducible across paths and oracle-checkable.  ``exact`` is passed
    to the stage-1 search and decides the wanted keywords too.
    """
    cands = engine.search(
        query, k=n_candidates, exact=exact, with_metadata=True
    )
    if scorer == "overlap":
        wanted = _wanted_keywords(query, exact)
        denom = float(max(len(wanted), 1))
        scored = cands.withColumn(
            "rerank_score",
            F.size(
                F.array_intersect(
                    F.col("matched_terms"),
                    F.array(*[F.lit(w) for w in wanted]),
                )
            ).cast("double")
            / F.lit(denom),
        )
    elif scorer.startswith("cross-encoder"):
        model = (
            scorer.split(":", 1)[1]
            if ":" in scorer
            else "cross-encoder/ms-marco-MiniLM-L-6-v2"
        )
        fields = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in cands.schema.fields
        )
        scored = cands.mapInPandas(
            _cross_encoder_fn(model, query),
            schema=f"{fields}, rerank_score double",
        )
    else:
        raise ValueError(f"unknown scorer {scorer!r}")
    # order on RAW scores, round only in the projection — same
    # rank-then-round shape as the top-k oracles (entrypoints._bm25_sql)
    ordered = scored.orderBy(
        F.desc("rerank_score"), F.desc("score"), F.asc("doc_id")
    ).limit(k)
    if not project:
        # keep every stage-1 column (text/metadata) + raw rerank_score —
        # the CLI display shape
        return ordered
    return ordered.select(
        "doc_id",
        F.round("rerank_score", 6).alias("rerank_score"),
        F.round("score", 6).alias("score"),
    )
