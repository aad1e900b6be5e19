"""Standing queries (percolation): register queries once, match every
incoming turn — the alerting primitive of a transcript stream ("tell me
when a conversation mentions X AND Y"), the inverse of search.

The reference has no streaming (SURVEY.md §2.10); this is the
Elasticsearch-percolator analog over the engine's exact query semantics:
a turn matches a standing query iff the engine would return it for that
query — same parser (query/parser.py), same boolean evaluation
(query/ast.evaluate + the score-is-not-null gate, elastic_query.rs:
148-292 / ranking.rs:226-274), and the same special-term tokenization:
each query's registered exact/excluded vocabulary (its G set) re-tokenizes
the turn exactly as the reference's global add_special_term does, so
camel-fragment and stem-collision behavior is identical to search.  No
corpus statistics are involved — percolation is per-doc boolean, so the
verdict never drifts as the corpus grows.

Scale shape: stateless mapInPandas (Arrow-batched, no shuffle, no state
store) — each partition evaluates its turns against the driver-compiled
query set riding the task closure; queries are grouped by G set so each
turn tokenizes once per DISTINCT special vocabulary (once total for the
common all-plain case), not once per query.  Works identically on a batch
DataFrame and a readStream source (foreachBatch/writeStream), which is how
the stream==batch parity test pins it.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from probe_spark.query import ast
from probe_spark.query.plan import QueryPlan

PERCOLATE_SCHEMA = StructType(
    [
        StructField("query_id", StringType(), False),
        StructField("conv_id", StringType(), True),
        StructField("turn_idx", IntegerType(), True),
        StructField("matched_terms", ArrayType(StringType(), False), False),
    ]
)


def compile_queries(queries: dict[str, str]) -> "list[tuple[str, QueryPlan]]":
    """(query_id, plan) per query, in query_id order; invalid syntax
    raises ValueError up front — a standing query that can never fire is
    a registration error, not a silent empty stream."""
    out = []
    for qid, qtext in sorted(queries.items()):
        plan = QueryPlan.compile(qtext)
        if plan.expr is None:
            raise ValueError(f"invalid standing query {qid!r}: {plan.error}")
        out.append((qid, plan))
    return out


def percolate(turns: DataFrame, queries: dict[str, str]) -> DataFrame:
    """One row per (standing query, matching turn) with the engine's
    sorted matched_terms.  ``turns`` may be batch or streaming; columns
    beyond (conv_id, turn_idx, text) are ignored (column-pruned at the
    source by the select below)."""
    # group by G set: one tokenizer pass per distinct special vocabulary
    by_g: dict[frozenset, list[tuple]] = {}
    for qid, plan in compile_queries(queries):
        by_g.setdefault(plan.g_set, []).append((qid, plan))
    groups = sorted(by_g.items(), key=lambda kv: sorted(kv[0]))

    def gen(pdfs: Iterator["object"]) -> Iterator["object"]:
        import pandas as pd

        from probe_spark.functions import tokenizer as tok

        for pdf in pdfs:
            out_qid: list[str] = []
            out_conv: list = []
            out_turn: list = []
            out_terms: list[list[str]] = []
            texts = pdf["text"]
            convs = pdf["conv_id"]
            turns_ = pdf["turn_idx"]
            for g_set, qs in groups:
                tok_sets = [
                    set(tok.tokenize(t, g_set)) if t else set()
                    for t in texts
                ]
                for qid, plan in qs:
                    expr = plan.expr
                    for i, ts in enumerate(tok_sets):
                        def present(kw, _ts=ts, _ktm=plan.kw_to_match):
                            m = _ktm.get(kw)
                            return m is not None and m in _ts

                        if not ast.evaluate(expr, present):
                            continue
                        # engine candidacy = eval AND score is not null
                        # (required/excluded gates, ranking.rs:226-274)
                        s = ast.score(
                            expr,
                            lambda kw: 1.0 if present(kw) else 0.0,
                        )
                        if s is None:
                            continue
                        out_qid.append(qid)
                        out_conv.append(convs.iloc[i])
                        out_turn.append(turns_.iloc[i])
                        out_terms.append(
                            [kw for kw in plan.keywords if present(kw)]
                        )
            yield pd.DataFrame(
                {
                    "query_id": out_qid,
                    "conv_id": out_conv,
                    "turn_idx": pd.array(out_turn, dtype="int32"),
                    "matched_terms": out_terms,
                }
            )

    return turns.select("conv_id", "turn_idx", "text").mapInPandas(
        gen, PERCOLATE_SCHEMA
    )


def percolate_stream(
    turns: DataFrame,
    queries: dict[str, str],
    sink_path: str,
    checkpoint: str,
):
    """Wire percolation into a Structured Streaming sink: append-only
    parquet of (query_id, conv_id, turn_idx, matched_terms).  Stateless,
    so exactly-once lands via the sink's idempotent file commit +
    checkpointed offsets — a crash replays the open micro-batch into the
    same files."""
    return (
        percolate(turns, queries)
        .writeStream.format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def percolate_counts(matches: DataFrame, watermark_ts=None) -> DataFrame:
    """Per-query match counts — the dashboard twin (batch or the result
    of reading the streamed sink back)."""
    return matches.groupBy("query_id").agg(
        F.count("*").alias("n_matches"),
        F.countDistinct("conv_id").alias("n_convs"),
    )
