"""Smoke tests for the plan dumper and the A/B harness, run in process on
one query at the test scale so the tools cannot rot unnoticed."""

from __future__ import annotations

from tools import ab, explain

QUERY = "q3_shipping_priority"


def test_explain_writes_plan_and_summary(spark, sf_dir, tmp_path, monkeypatch, capsys):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setattr(explain, "get_spark", lambda name: spark)
    explain.main([str(tmp_path), "before", QUERY])
    assert "Physical Plan" in (tmp_path / f"{QUERY}_before.txt").read_text()
    assert capsys.readouterr().out.startswith(f"{QUERY}: Exchange=")


def test_ab_conf_reports_one_line_per_query(spark, sf_dir, monkeypatch, capsys):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setattr(ab, "get_spark", lambda name: spark)
    key = "spark.sql.join.preferSortMergeJoin"
    old = spark.conf.get(key)
    try:
        ab.main(["conf", key, "false", "true", "1", QUERY])
    finally:
        spark.conf.set(key, old)
    last = capsys.readouterr().out.splitlines()[-1]
    assert last.startswith(f"{QUERY}: A=") and " B/A=" in last, last
