"""Physical-plan regression tests: the scale properties PLANS.md documents
must survive refactors.  Each test asserts on the executed/optimized plan
string, not on timing — these are the properties that decide whether the
same code is viable at 100 TB:

  * postings fetch: bucket partition pruning + term filter PUSHED to the
    parquet scan (not evaluated after a full read)
  * top-k metadata join: k winners BROADCAST against docs (no shuffle of
    the corpus)
  * brute-force cosine: no Python eval node in the plan (codegen only) and
    TakeOrderedAndProject for the top-k (no global sort)
  * single-term pruned search: no shuffle exchange at all
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    from probe_spark.fixtures import transcripts_df
    from probe_spark.index.build import BuildConfig, IndexBuilder
    from probe_spark.search.engine import SearchEngine

    path = str(tmp_path_factory.mktemp("plans") / "idx")
    IndexBuilder(spark, BuildConfig(n_buckets=4)).build(
        transcripts_df(spark, 60, 3), path
    )
    return SearchEngine(spark, path)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestScans:
    def test_postings_fetch_prunes_bucket_and_pushes_term(self, engine):
        fetched = engine._fetch(engine.postings, ["error"], "tok")
        plan = _plan(fetched)
        scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
        assert scan, plan
        line = scan[0]
        # bucket is a partition directory -> PartitionFilters non-empty
        assert "PartitionFilters: [" in line and "bucket" in line
        assert "PartitionFilters: []" not in line
        # the term predicate reaches the parquet reader
        assert "PushedFilters: [" in line and "term" in line.split(
            "PushedFilters:"
        )[1]

    def test_docs_metadata_scan_prunes_columns(self, engine):
        df = engine.docs.select("doc_id", "conv_id", "turn_idx")
        line = [ln for ln in _plan(df).splitlines() if "FileScan" in ln][0]
        rs = line.split("ReadSchema:")[1]
        assert "text" not in rs  # 3-column projection must not read text


class TestTopK:
    def test_metadata_attach_is_driver_local_on_posix(self, engine):
        # winners are k driver-scale rows; on a posix index their metadata
        # arrives via pyarrow footer-pruned reads on the driver — the
        # returned frame is a local table, NO join / scan / exchange runs
        # per query (engine._meta_rows_driver)
        res = engine.search("error AND handling", k=5, with_metadata=True)
        plan = _plan(res)
        assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan
        for node in ("BroadcastHashJoin", "SortMergeJoin", "Scan parquet",
                     "Exchange"):
            assert node not in plan, plan
        # and the distributed fallback (non-posix / id-gap path) still
        # broadcasts the winners instead of sort-merge-joining
        rows = res.limit(5).collect()
        assert len(rows) == 5 and all(r["text"] for r in rows)

    def test_single_term_pruned_path_has_no_exchange(self, engine):
        res = engine.search("error", k=5, with_metadata=False)
        plan = _plan(res)
        assert "TakeOrderedAndProject" in plan
        # scan -> decode -> top-k with no data shuffle (the only Exchange
        # allowed is the round-robin spread of a multi-segment term's rows)
        assert "Exchange hashpartitioning" not in plan
        assert "Exchange rangepartitioning" not in plan


class TestCodegenOnly:
    def test_brute_force_cosine_has_no_python_eval(self, spark):
        from probe_spark.ops import similarity

        rows = [(i, [float(i), 1.0]) for i in range(10)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        res = similarity.brute_force_topk(df, [1.0, 0.0], k=3)
        plan = _plan(res)
        assert "TakeOrderedAndProject" in plan
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert node not in plan


class TestConjunctive:
    # Round-4 dispatch: pure conjunctions with every keyword present ride
    # the doc-range path (the ladder measured slower at EVERY occurring
    # min-df — its cost is sequential broadcast-stage barriers, see
    # PLANS.md round-4 revision); only the metadata-only zero-df kill
    # remains of the fast path, and the ladder survives as the full
    # path's groupBy pre-filter anchor.

    def test_multi_keyword_term_takes_ranged_path(self, engine):
        # camelCase expansion -> multi-keyword Term -> doc-range plan:
        # ONE exchange of compressed segments, no per-posting groupBy
        res = engine.search("errorHandling", k=5, with_metadata=False)
        plan = _plan(res)
        assert "TakeOrderedAndProject" in plan
        assert "range_id" in plan and "Exchange hashpartitioning" in plan
        assert "collect_set" not in plan
        assert plan.count("Exchange hashpartitioning") == 1

    def test_multi_keyword_rank_identity_vs_full_path(self, engine):
        fast = engine.search("errorHandling", k=10, with_metadata=False)
        full = engine.search(
            "errorHandling", k=10, with_metadata=False, prune=False
        )
        assert [(r["doc_id"], r["score"]) for r in fast.collect()] == [
            (r["doc_id"], r["score"]) for r in full.collect()
        ]

    def test_and_query_takes_ranged_path(self, engine):
        res = engine.search("error AND handling", k=5, with_metadata=False)
        plan = _plan(res)
        assert "TakeOrderedAndProject" in plan
        assert "range_id" in plan and "Exchange hashpartitioning" in plan
        assert plan.count("Exchange hashpartitioning") == 1

    def test_zero_df_conjunction_is_metadata_kill(self, engine):
        # one absent keyword -> empty result with NO Spark job: the plan
        # is a LocalTableScan (empty relation), not a scan of postings
        res = engine.search(
            "error AND zzzznotaword", k=5, with_metadata=False
        )
        plan = _plan(res)
        # empty-relation plan (Scan ExistingRDD over zero rows): nothing
        # touches postings, no exchange anywhere
        assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan
        assert "Exchange" not in plan and "parquet" not in plan
        assert res.collect() == []

    @pytest.mark.parametrize(
        "q", ["error AND handling", "+error +handling", "+api +process +load"]
    )
    def test_conjunction_rank_identity_vs_full_path(self, engine, q):
        fast = engine.search(q, k=10, with_metadata=False)
        full = engine.search(q, k=10, with_metadata=False, prune=False)
        assert [(r["doc_id"], r["score"]) for r in fast.collect()] == [
            (r["doc_id"], r["score"]) for r in full.collect()
        ]

    def test_mixed_required_optional_not_ladder(self, engine):
        # "+a b": the optional term does NOT gate candidacy (docs with
        # only a qualify), so this is NOT a pure conjunction — results
        # must match the full path, and include optional-missing docs
        fast = engine.search("+error handling", k=200, with_metadata=False)
        full = engine.search(
            "+error handling", k=200, with_metadata=False, prune=False
        )
        rows_f = [(r["doc_id"], r["score"]) for r in fast.collect()]
        assert rows_f == [(r["doc_id"], r["score"]) for r in full.collect()]
        conj = {
            r["doc_id"]
            for r in engine.search(
                "error AND handling", k=200, with_metadata=False
            ).collect()
        }
        assert {d for d, _ in rows_f} - conj  # strictly wider than the AND

    def test_or_inside_and_takes_ranged_path_no_row_shuffle(self, engine):
        # non-conjunctive boolean query -> doc-range-partitioned
        # evaluation: ONE exchange of the compressed segments
        # (hashpartitioning on range_id), a Python Arrow stage, and NO
        # per-posting groupBy/collect_set aggregation
        res = engine.search(
            "(error OR exception) AND handling", k=5, with_metadata=False
        )
        plan = _plan(res)
        assert "TakeOrderedAndProject" in plan
        assert "range_id" in plan and "Exchange hashpartitioning" in plan
        assert "collect_set" not in plan
        assert plan.count("Exchange hashpartitioning") == 1

    def test_exclude_rides_ranged_path(self, engine, spark):
        # session-exclude sets collect to the driver and ride the
        # doc-range path (exclude_ids) — no groupBy, one exchange
        res = engine.search(
            "(error OR exception) AND handling",
            k=5,
            with_metadata=False,
            exclude=spark.createDataFrame([(999_999,)], "doc_id long"),
        )
        plan = _plan(res)
        assert "collect_set" not in plan
        assert "range_id" in plan

    def test_mandatory_anchor_semi_join_in_full_path(
        self, engine, spark, monkeypatch
    ):
        # an exclude set past the driver cap falls back to the full
        # groupBy plan; both AND sides mandatory -> anchor pre-filters it
        import probe_spark.search.engine as eng_mod

        monkeypatch.setattr(eng_mod, "EXCLUDE_COLLECT_CAP", 0)
        res = engine.search(
            "error AND handling",
            k=5,
            with_metadata=False,
            exclude=spark.createDataFrame([(999_999,)], "doc_id long"),
        )
        plan = _plan(res)
        assert "LeftSemi" in plan

    def test_anchored_and_rank_identity(self, engine):
        anchored = engine.search(
            "error AND handling", k=10, with_metadata=False
        )
        full = engine.search(
            "error AND handling", k=None, with_metadata=False
        )
        top = sorted(
            [(r["doc_id"], r["score"]) for r in full.collect()],
            key=lambda t: (-t[1], t[0]),
        )[:10]
        assert [(r["doc_id"], r["score"]) for r in anchored.collect()] == top


class TestSessionPaging:
    def test_exclude_returns_next_page(self, engine, spark):
        p1 = engine.search("error OR handling", k=7, with_metadata=False)
        ids1 = [r["doc_id"] for r in p1.collect()]
        p2 = engine.search(
            "error OR handling",
            k=7,
            with_metadata=False,
            exclude=spark.createDataFrame(
                [(i,) for i in ids1], "doc_id long"
            ),
        )
        ids2 = [r["doc_id"] for r in p2.collect()]
        both = engine.search("error OR handling", k=14, with_metadata=False)
        assert not set(ids1) & set(ids2)
        assert ids1 + ids2 == [r["doc_id"] for r in both.collect()]


class TestMatchedTerms:
    def test_matched_terms_sorted_and_accurate(self, engine):
        rows = engine.search("error OR handling", k=10).collect()
        assert rows
        for r in rows:
            mt = r["matched_terms"]
            assert mt == sorted(mt)
            assert set(mt) <= {"error", "handl"}
            assert mt  # every hit matched at least one keyword

    def test_conjunctive_fast_path_matched_terms(self, engine):
        rows = engine.search("errorHandling", k=5).collect()
        for r in rows:
            assert r["matched_terms"] == ["error", "handl"]


class TestMetadataMatch:
    def test_tool_tokens_credit_keywords(self, engine, spark):
        # every fixture turn with tool='search' must be credited for
        # keyword 'search' when metadata matching is on, and absent docs
        # stay absent when it is off
        on = engine.search(
            "search", k=None, with_metadata=True, match_metadata=True
        )
        tools = {
            r["doc_id"]: r["tool"]
            for r in engine.docs.select("doc_id", "tool").collect()
        }
        on_ids = {r["doc_id"] for r in on.collect()}
        for d, t in tools.items():
            if t == "search":
                assert d in on_ids
        off_ids = {
            r["doc_id"]
            for r in engine.search(
                "search", k=None, with_metadata=False
            ).collect()
        }
        assert off_ids <= on_ids


class TestCurationPlans:
    """Scale-shape pins for ops/curation: the properties that make each
    operator viable at 100 TB (broadcast where the small side is small,
    map-only where no shuffle is needed, partial aggregation where one
    is)."""

    @pytest.fixture(scope="class")
    def docs(self, spark):
        rows = [
            (i, f"alpha beta w{i} gamma delta", f"src{i % 3}", "en")
            for i in range(30)
        ]
        return spark.createDataFrame(
            rows, "doc_id long, text string, source string, lang string"
        )

    def test_decontaminate_broadcasts_eval_side(self, docs):
        from probe_spark.ops import curation

        rep = curation.decontaminate(docs, docs.filter("doc_id % 7 = 0"))
        plan = _plan(rep)
        assert "BroadcastHashJoin" in plan, plan
        # the property that matters at 100 TB: NO exchange between the
        # corpus scan and the broadcast filter — raw corpus shingles are
        # never shuffled, only the matching ones (the groupBy above the
        # join).  In the printed tree the stream (corpus) subtree sits
        # between the BroadcastHashJoin line and its BroadcastExchange
        # build side.
        lines = plan.splitlines()
        j = next(i for i, ln in enumerate(lines) if "BroadcastHashJoin" in ln)
        b = next(
            i
            for i, ln in enumerate(lines)
            if i > j and "BroadcastExchange" in ln
        )
        corpus_side = "\n".join(lines[j + 1 : b])
        assert "Exchange" not in corpus_side, plan

    def test_mix_and_redact_are_map_only(self, docs):
        from probe_spark.ops import curation

        for df in (
            curation.mix_sources(docs, {"src0": 2.5, "src1": 0.4}),
            curation.redact_pii(docs),
            curation.with_repetition(docs),
        ):
            plan = _plan(df)
            assert "Exchange" not in plan, plan
            assert "BatchEvalPython" not in plan
            assert "ArrowEvalPython" not in plan

    def test_profile_has_partial_aggregation(self, docs):
        from probe_spark.ops import curation

        plan = _plan(curation.corpus_profile(docs))
        # map-side partials before the single source exchange
        assert "partial_" in plan, plan
        n_exchange = sum(
            1
            for ln in plan.splitlines()
            if "Exchange hashpartitioning" in ln
        )
        assert n_exchange <= 2, plan  # count-distinct expand adds one
