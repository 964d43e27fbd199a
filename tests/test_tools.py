"""Smoke tests for the plan dumper, the A/B harness and the scaling and
skew probes, run in process at the test scale so the tools cannot rot
unnoticed.

The default set runs one scaling-probe family at factor 1 and the
``textskew`` and ``dupheavy`` skew-probe axes end to end — mutate,
warm, time and report the axis ratio — on one control query each
(``ext_text_stats``); the full probe families and axes are ``slow`` or
left to the command line (a full skew axis takes about a minute)."""

from __future__ import annotations

import json
import os
import re

import pytest

from dbt_glue_spark.sources.registry import load_table
from tools import ab, explain, scale_probe, skew_probe

QUERY = "q3_shipping_priority"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_explain_writes_plan_and_summary(spark, sf_dir, tmp_path, monkeypatch, capsys):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setattr(explain, "get_spark", lambda name: spark)
    explain.main([str(tmp_path), "before", QUERY])
    assert "Physical Plan" in (tmp_path / f"{QUERY}_before.txt").read_text()
    assert capsys.readouterr().out.startswith(f"{QUERY}: Exchange=")


def test_explain_records_a_streaming_specs_micro_batch_plan(
    spark, sf_dir, tmp_path, monkeypatch, capsys
):
    # the spec returns its memory sink's table; the tool must show the
    # stream's own stateful aggregation, not a LocalTableScan
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setattr(explain, "get_spark", lambda name: spark)
    explain.main([str(tmp_path), "before", "streaming_ohlc"])
    plan = (tmp_path / "streaming_ohlc_before.txt").read_text()
    assert "StateStoreSave" in plan and "Exchange hashpartitioning(" in plan, plan
    assert capsys.readouterr().out.startswith("streaming_ohlc: Exchange=1 ")


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


def _probe_at_factor_one(probe, spark, sf_dir, monkeypatch, capsys) -> dict:
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    monkeypatch.setattr(scale_probe, "get_spark", lambda name: spark)
    scale_probe.main([f"--probe={probe}", "--factors=1"])
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1, lines
    out = json.loads(lines[0])
    names = [name for name, _ in scale_probe.FAMILIES[probe].cases]
    assert list(out["seconds"]) == names
    assert list(out["out_rows"]) == names
    return out


def test_scale_probe_runs_a_family(spark, sf_dir, monkeypatch, capsys):
    out = _probe_at_factor_one("staged8", spark, sf_dir, monkeypatch, capsys)
    assert out["rows"] == {"1": load_table(spark, sf_dir, "documents").count()}


def test_every_documented_probe_resolves():
    cited = set()
    for doc in ("SCALE.md", os.path.join(".claude", "skills", "verify", "SKILL.md")):
        with open(os.path.join(ROOT, doc)) as fh:
            for names in re.findall(r"--probe=([\w|]+)", fh.read()):
                cited.update(names.split("|"))
    assert {"dedup", "mmr", "staged", "staged13", "dupweak", "dupgrowth"} <= cited
    assert cited <= set(scale_probe.FAMILIES), cited - set(scale_probe.FAMILIES)


@pytest.mark.parametrize("axis,ratio", [("textskew", "token_ratio"), ("dupheavy", "dup_ratio")])
def test_skew_probe_runs_an_axis(axis, ratio, spark, sf_dir, monkeypatch, capsys):
    monkeypatch.setattr(skew_probe, "get_spark", lambda name: spark)
    monkeypatch.setitem(skew_probe.AXES, axis, (skew_probe.AXES[axis][0], ["ext_text_stats"]))
    skew_probe.main([sf_dir, "--reps=1", f"--axis={axis}"])
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1, lines
    out = json.loads(lines[0])
    assert (out["axis"], out["reps"], list(out["results"])) == (axis, 1, ["ext_text_stats"])
    assert set(out["results"]["ext_text_stats"]) == {"clean", "hot", "ratio"}
    assert out[ratio] > 0


def test_probe_arguments_rejected_before_spark(monkeypatch):
    def no_spark(name):
        raise AssertionError("Spark started before the arguments were checked")

    for tool, argv, message in [
        (scale_probe, ["--probe=nope"], "one of dedup"),
        (scale_probe, ["--factor=2"], "usage:"),
        (skew_probe, ["--rep=3"], "usage: python tools/skew_probe.py"),
        (skew_probe, ["--axis=foo"], "usage: python tools/skew_probe.py"),
    ]:
        monkeypatch.setattr(tool, "get_spark", no_spark)
        with pytest.raises(SystemExit, match=message):
            tool.main(argv)


@pytest.mark.slow
@pytest.mark.parametrize("probe", sorted(scale_probe.FAMILIES))
def test_every_probe_family_runs(probe, spark, sf_dir, monkeypatch, capsys):
    out = _probe_at_factor_one(probe, spark, sf_dir, monkeypatch, capsys)
    assert out["rows"]["1"] > 0
