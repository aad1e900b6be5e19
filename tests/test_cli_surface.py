"""CLI (spark-submit surface), session cache, and result limiter."""

from __future__ import annotations

import json

import pytest

from probe_spark.search import limiter, session_cache


@pytest.fixture(scope="module")
def built_index(spark, tmp_path_factory):
    from probe_spark.fixtures import transcripts_df
    from probe_spark.index.build import BuildConfig, IndexBuilder

    path = str(tmp_path_factory.mktemp("cli") / "idx")
    IndexBuilder(spark, BuildConfig(n_buckets=4)).build(
        transcripts_df(spark, 60, 3), path
    )
    return path


class TestCli:
    def test_build_and_search_roundtrip(self, spark, tmp_path, capsys):
        from probe_spark import cli
        from probe_spark.fixtures import write_transcripts_parquet

        src = str(tmp_path / "corpus.parquet")
        write_transcripts_parquet(src, n_convs=40, seed=5)
        idx = str(tmp_path / "idx")
        rc = cli.main(
            ["build", "--input", src, "--output", idx, "--n-buckets", "4"]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["phases_run"] == ["docs", "postings", "stats"]
        assert out["n_docs"] > 0

        rc = cli.main(
            ["search", "error", "--index", idx, "-k", "5", "--format", "json"]
        )
        assert rc == 0
        lines = capsys.readouterr().out.strip().splitlines()
        assert 0 < len(lines) <= 5
        row = json.loads(lines[0])
        assert {"doc_id", "score", "text"} <= set(row)

        rc = cli.main(["stats", "--index", idx])
        assert rc == 0
        st = json.loads(capsys.readouterr().out.strip())
        assert st["n_docs"] == out["n_docs"]
        assert any(m["phase"] == "docs" for m in st["manifest"])

    def test_multi_query_joined_with_and(self, built_index, capsys):
        # reference joins multiple CLI queries with " AND "
        # (search_runner.rs:358-364): two queries == the explicit AND query
        from probe_spark import cli

        cli.main(["search", "error", "handling", "--index", built_index,
                  "-k", "5", "--format", "json"])
        two = [json.loads(x)["doc_id"]
               for x in capsys.readouterr().out.strip().splitlines()]
        cli.main(["search", "error AND handling", "--index", built_index,
                  "-k", "5", "--format", "json"])
        one = [json.loads(x)["doc_id"]
               for x in capsys.readouterr().out.strip().splitlines()]
        assert two == one and two

    def test_files_only_mode(self, spark, built_index, capsys):
        # reference -f/--files-only (search_runner.rs:699-740): one row per
        # matched conversation, no ranking/content, -k caps the conv count
        from probe_spark import cli
        from probe_spark.search.engine import SearchEngine

        rc = cli.main(["search", "error OR handling", "--index", built_index,
                       "--files-only", "-k", "100000", "--format", "json"])
        assert rc == 0
        convs = json.loads(capsys.readouterr().out.strip())
        assert convs == sorted(set(convs)) and convs

        # equals the conv_ids of the full (unlimited) ranked result set
        eng = SearchEngine(spark, built_index)
        full = eng.search("error OR handling", k=None, with_metadata=True)
        expect = sorted({r["conv_id"] for r in full.select("conv_id").collect()})
        assert convs == expect

        # -k limits conversations (not turns), text-format path too
        rc = cli.main(["search", "error OR handling", "--index", built_index,
                       "--files-only", "-k", "3"])
        assert rc == 0
        lines = capsys.readouterr().out.strip().splitlines()
        assert lines == expect[:3]

    def test_where_flag_scopes_results(self, spark, built_index, capsys):
        # --where: metadata-scoped search; every returned turn satisfies
        # the predicate, and --local refuses the flag loudly
        from probe_spark import cli

        rc = cli.main(["search", "error OR handling", "--index", built_index,
                       "--where", "role = 'user'", "-k", "5",
                       "--format", "json"])
        assert rc == 0
        rows = [json.loads(x)
                for x in capsys.readouterr().out.strip().splitlines()]
        assert rows and all(r["role"] == "user" for r in rows)

        rc = cli.main(["search", "error", "--index", built_index,
                       "--where", "role = 'user'", "--local"])
        assert rc == 2
        assert "--where" in capsys.readouterr().err

    def test_frequency_flag_accepted(self, built_index, capsys):
        # reference accepts -s/--frequency and destructures it away
        # (search_runner.rs:226) — parity: accepted, ignored
        from probe_spark import cli

        rc = cli.main(["search", "error", "--index", built_index,
                       "-s", "-k", "3", "--format", "json"])
        assert rc == 0
        assert capsys.readouterr().out.strip()

    def test_reranker_aliases_and_bert_error(self, built_index, capsys):
        # non-BERT reranker values all rank with BM25 (the reference's
        # result_ranking.rs dispatch ignores them); ms-marco-* errors out
        from probe_spark import cli

        cli.main(["search", "error", "--index", built_index, "-k", "3",
                  "--format", "json"])
        base = capsys.readouterr().out
        for rr in ["tfidf", "hybrid", "hybrid2"]:
            cli.main(["search", "error", "--index", built_index, "-k", "3",
                      "--format", "json", "--reranker", rr])
            assert capsys.readouterr().out == base
        rc = cli.main(["search", "error", "--index", built_index,
                       "--reranker", "ms-marco-tinybert"])
        assert rc == 2
        assert "requires a BERT runtime" in capsys.readouterr().err

    def test_benchmark_subcommand(self, built_index, capsys):
        # `probe benchmark` analog (cli.rs:333-361): reference suite by
        # default, per-query mean/p50/p95 + a @suite wall row per lane
        import json as _json

        from probe_spark import cli
        from probe_spark.fixtures import REFERENCE_QUERIES

        rc = cli.main(["benchmark", "--index", built_index, "--fast",
                       "--format", "json"])
        assert rc == 0
        d = _json.loads(capsys.readouterr().out)
        rows = d["results"]
        assert len(rows) == len(REFERENCE_QUERIES) + 1
        assert rows[-1]["query_id"] == "@suite"
        assert all(r["lane"] == "local" for r in rows)
        assert all(
            r["p95_sec"] >= r["p50_sec"] >= 0.0 for r in rows[:-1]
        )

    @pytest.mark.parametrize("content", ["", "  \n\t\n\n"])
    def test_benchmark_empty_queries_file(self, tmp_path, capsys, content):
        # an empty suite is an error before any lane opens the index (the
        # index path here does not exist)
        from probe_spark import cli

        qf = tmp_path / "queries.txt"
        qf.write_text(content)
        rc = cli.main(["benchmark", "--index", str(tmp_path / "no_index"),
                       "--queries-file", str(qf), "--lane", "both"])
        assert rc == 2
        out = capsys.readouterr()
        assert out.out == ""
        assert "no queries in" in out.err

    def test_build_filter_restricts_corpus(self, spark, tmp_path, capsys):
        from probe_spark import cli
        from probe_spark.fixtures import write_transcripts_parquet

        src = str(tmp_path / "corpus.parquet")
        write_transcripts_parquet(src, n_convs=20, seed=9)
        idx_all = str(tmp_path / "idx_all")
        cli.main(["build", "--input", src, "--output", idx_all,
                  "--n-buckets", "4"])
        n_all = json.loads(
            capsys.readouterr().out.strip().splitlines()[-1])["n_docs"]
        idx_f = str(tmp_path / "idx_f")
        cli.main(["build", "--input", src, "--output", idx_f,
                  "--n-buckets", "4", "--filter", "role = 'assistant'"])
        n_f = json.loads(
            capsys.readouterr().out.strip().splitlines()[-1])["n_docs"]
        assert 0 < n_f < n_all

    def test_dry_run_prints_locators_only(self, built_index, capsys):
        # reference --dry-run = "file names and lines only"
        # (search_output.rs:53); ours prints conv_id:turn_idx per result
        from probe_spark import cli

        cli.main(["search", "error", "--index", built_index, "-k", "4",
                  "--dry-run"])
        lines = capsys.readouterr().out.strip().splitlines()
        assert 0 < len(lines) <= 4
        for ln in lines:
            conv, turn = ln.rsplit(":", 1)
            assert conv.startswith("conv") and turn.isdigit()

    def test_batch_command(self, spark, built_index, tmp_path, capsys):
        """`batch --queries-file` runs the file as one shared-scan job;
        JSON-lines rows match per-query search, parquet sink round-trips."""
        from probe_spark import cli
        from probe_spark.search.engine import SearchEngine

        qf = tmp_path / "queries.txt"
        qf.write_text("# mining set\nerror AND handling\n\ncache OR queue\n")
        rc = cli.main(["batch", "--index", built_index,
                       "--queries-file", str(qf), "-k", "3"])
        assert rc == 0
        rows = [
            json.loads(ln)
            for ln in capsys.readouterr().out.strip().splitlines()
        ]
        assert {r["query_idx"] for r in rows} == {0, 1}
        eng = SearchEngine(spark, built_index)
        solo = eng.search(
            "error AND handling", k=3, with_metadata=False
        ).collect()
        got = [r["doc_id"] for r in rows if r["query_idx"] == 0]
        assert got == [r["doc_id"] for r in solo]

        sink = str(tmp_path / "res")
        rc = cli.main(["batch", "--index", built_index,
                       "--queries-file", str(qf), "-k", "3",
                       "--output", sink])
        assert rc == 0
        summary = json.loads(
            capsys.readouterr().out.strip().splitlines()[-1]
        )
        assert summary["queries"] == 2
        assert spark.read.parquet(sink).count() == summary["rows"]

    def test_search_session_dedup(self, built_index, capsys):
        from probe_spark import cli

        cli.main(
            ["search", "error", "--index", built_index, "-k", "5",
             "--session", "s1", "--format", "json"]
        )
        first = [
            json.loads(x)["doc_id"]
            for x in capsys.readouterr().out.strip().splitlines()
        ]
        cli.main(
            ["search", "error", "--index", built_index, "-k", "5",
             "--session", "s1", "--format", "json"]
        )
        second_out = capsys.readouterr().out.strip()
        second = [
            json.loads(x)["doc_id"] for x in second_out.splitlines()
        ] if second_out else []
        assert first and not (set(first) & set(second))


class TestSessionCache:
    def test_filter_and_record(self, spark, built_index):
        df = spark.createDataFrame(
            [(1, 0.5), (2, 0.4), (3, 0.3)], "doc_id long, score double"
        )
        out1 = session_cache.filter_seen(
            spark, built_index, "sess-a", "q", df
        )
        assert {r["doc_id"] for r in out1.collect()} == {1, 2, 3}
        df2 = spark.createDataFrame(
            [(2, 0.4), (4, 0.2)], "doc_id long, score double"
        )
        out2 = session_cache.filter_seen(
            spark, built_index, "sess-a", "q", df2
        )
        assert {r["doc_id"] for r in out2.collect()} == {4}
        # a different session sees everything
        out3 = session_cache.filter_seen(
            spark, built_index, "sess-b", "q", df2
        )
        assert {r["doc_id"] for r in out3.collect()} == {2, 4}

    def test_dataframe_variant(self, spark, built_index):
        session_cache.record_results(
            spark, built_index, "sess-c", "q", [10, 11]
        )
        df = spark.createDataFrame(
            [(10, 0.1), (12, 0.2)], "doc_id long, score double"
        )
        out = session_cache.filter_unseen(spark, built_index, "sess-c", df)
        assert [r["doc_id"] for r in out.collect()] == [12]


class TestLimiter:
    @pytest.fixture()
    def results(self, spark):
        rows = [
            (1, 0.9, "a" * 100),
            (2, 0.8, "b" * 100),
            (3, 0.7, "c" * 100),
            (4, 0.6, "d" * 100),
        ]
        return spark.createDataFrame(rows, "doc_id long, score double, text string")

    def test_max_results(self, results):
        out = limiter.apply_limits(results, max_results=2).collect()
        assert [r["doc_id"] for r in out] == [1, 2]

    def test_max_bytes_prefix_stop(self, results):
        # 250-byte budget: rows 1,2 fit (200), row 3 would overflow (300) —
        # reference stops at first overflow (search_limiter.rs:137-146)
        out = limiter.apply_limits(results, max_bytes=250).collect()
        assert [r["doc_id"] for r in out] == [1, 2]

    def test_max_tokens(self, spark):
        # budget derived from the ACTIVE counter (real BPE over the
        # vendored table by default) so the cut point is exact
        from probe_spark.functions import bpe

        rows = [
            (1, 0.9, "one two three"),
            (2, 0.8, "four five six"),
            (3, 0.7, "seven eight nine"),
        ]
        counts = [
            bpe.count_tokens(t, bpe.default_ranks()) for _i, _s, t in rows
        ]
        df = spark.createDataFrame(rows, "doc_id long, score double, text string")
        out = limiter.apply_limits(
            df, max_tokens=counts[0] + counts[1]
        ).collect()
        assert [r["doc_id"] for r in out] == [1, 2]

    def test_no_limits_identity(self, results):
        out = limiter.apply_limits(results).collect()
        assert [r["doc_id"] for r in out] == [1, 2, 3, 4]

    def test_token_count_matches_driver_bpe(self, spark):
        # the distributed counter must agree with the driver-side encoder
        # over the same default ranks table (real BPE by default; with
        # tiktoken installed the package path is pinned by test_bpe's
        # parity tests instead)
        from probe_spark.functions import bpe

        if limiter._P50K is not None:
            pytest.skip("tiktoken installed; package path covered instead")
        txt = "foo2bar, baz! qux"
        df = spark.createDataFrame([(0, txt)], "doc_id long, text string")
        ours = df.select(
            limiter.token_count_col(limiter.F.col("text")).alias("n")
        ).collect()[0]["n"]
        assert ours == bpe.count_tokens(txt, bpe.default_ranks())


class TestReadInput:
    def test_dotted_identifier_reads_catalog_table(self, spark):
        # Iceberg/Hive tables arrive through the same spark.read.table
        # branch; in-sandbox we exercise it with a global temp view, whose
        # dotted identifier (global_temp.x) resolves through the catalog.
        from probe_spark import cli
        from probe_spark.fixtures import transcripts_df

        transcripts_df(spark, 10, seed=3).createOrReplaceGlobalTempView(
            "transcripts_in"
        )
        df = cli._read_input(spark, "global_temp.transcripts_in")
        assert df.count() > 0
        assert {"conv_id", "turn_idx", "text"} <= set(df.columns)

    def test_path_reads_parquet(self, spark, tmp_path):
        from probe_spark import cli
        from probe_spark.fixtures import write_transcripts_parquet

        src = str(tmp_path / "corpus.parquet")
        write_transcripts_parquet(src, n_convs=5, seed=1)
        assert cli._read_input(spark, src).count() > 0
