"""CLI entry point (python -m dww_data_pipeline_spark)."""

from __future__ import annotations

from dww_data_pipeline_spark.__main__ import main

SF_DIR = "/root/testdata/sf0.001"


class TestCli:
    def test_list_filters(self, capsys):
        assert main(["list", "--grep", "t21"]) == 0
        out = capsys.readouterr().out
        assert "t21_corpus_shard" in out and "oracle" in out

    def test_oracle_print_and_rows_only(self, capsys):
        assert main(["oracle", "a1_pricing_summary"]) == 0
        assert "l_returnflag" in capsys.readouterr().out
        # e6 gained its contract oracle in round 7 — the rows-only
        # class is empty now; the CLI's exit-1 branch stays for any
        # future genuinely non-SQL-expressible operator
        assert main(["oracle", "e6_pca_project"]) == 0
        assert "eig_residual_u" in capsys.readouterr().out
        assert main(["oracle", "nope"]) == 2

    def test_unknown_query_rejected(self):
        assert main(["run", "definitely_not_a_query", "--sf-dir", SF_DIR]) == 2

    def test_run_writes_parquet(self, spark, tmp_path, capsys):
        out = str(tmp_path / "res")
        rc = main(
            [
                "run",
                "a10_distinct",
                "--sf-dir",
                SF_DIR,
                "--out",
                out,
                "--format",
                "parquet",
            ]
        )
        assert rc == 0
        back = spark.read.parquet(out)
        assert back.count() > 0

    def test_explain_prints_physical_plan(self, capsys):
        rc = main(["explain", "j1_star_join", "--sf-dir", SF_DIR])
        assert rc == 0
        out = capsys.readouterr().out
        assert "Physical Plan" in out
        assert main(["explain", "nope"]) == 2

    def test_sql_over_views(self, capsys):
        rc = main(
            [
                "sql",
                "SELECT COUNT(*) AS n FROM region",
                "--sf-dir",
                SF_DIR,
            ]
        )
        assert rc == 0
        assert "5" in capsys.readouterr().out

    def test_profile_prints_one_json_line_per_query(self, spark, capsys):
        import json

        rc = main(["profile", "a10_distinct", "--runs", "1", "--sf-dir", SF_DIR])
        assert rc == 0
        lines = [ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("{")]
        assert len(lines) == 1
        rec = json.loads(lines[0])
        assert rec["query"] == "a10_distinct"
        assert len(rec["times"]) == 1 and rec["best_sec"] == rec["times"][0]
        assert rec["jobs_last_run"] >= 1
        assert main(["profile", "nope"]) == 2


class TestCliIndex:
    def test_build_query_compact(self, spark, tmp_path, capsys):
        idx = str(tmp_path / "ivf")
        rc = main(
            ["index", "build", idx, "--sf-dir", SF_DIR, "--n-lists", "4"]
        )
        assert rc == 0
        assert "4 lists" in capsys.readouterr().out
        rc = main(
            [
                "index", "query", idx,
                "--sf-dir", SF_DIR,
                "--k", "2", "--nprobe", "2", "--show", "5",
            ]
        )
        assert rc == 0
        out = capsys.readouterr().out
        assert "query_id" in out and "rank" in out
        rc = main(["index", "compact", idx])
        assert rc == 0
        assert "folded 0" in capsys.readouterr().out
