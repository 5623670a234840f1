"""The CDC command line, driven in-process through ``main``: it reuses
the test session, so each subcommand runs against the same Spark."""

from __future__ import annotations

import json

import pytest

from ml_data_pipeline_spark.cdc.__main__ import main
from ml_data_pipeline_spark.cdc.oracle import (
    assert_state_equal,
    expected_state,
    load_events_pandas,
)
from ml_data_pipeline_spark.lake.table import LakeTable


def _run(capsys, *argv) -> dict:
    assert main(list(argv)) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_cli_replay_compacts_through_the_policy(spark, tmp_path, capsys):
    tbl, ev_dir = str(tmp_path / "tbl"), str(tmp_path / "events")
    _run(capsys, "create-table", "--table", tbl, "--buckets", "4")
    _run(
        capsys, "generate", "--out", ev_dir, "--docs", "150",
        "--events", "1500", "--chunks", "4", "--dup-fraction", "0.02",
        "--shuffle-window", "200",
    )
    stats = _run(
        capsys, "replay", "--table", tbl, "--events", ev_dir,
        "--checkpoint", str(tmp_path / "ckpt"), "--policy-compact",
        "--policy-max-delta-files", "2", "--max-files-per-trigger", "1",
    )
    assert stats["batches"] >= 2 and stats["skipped"] == 0
    assert stats["compactions"] >= 1
    shown = _run(capsys, "show", "--table", tbl)

    want = expected_state(load_events_pandas(ev_dir))
    assert shown["rows"] == len(want)
    assert_state_equal(LakeTable.load(spark, tbl).read().toPandas(), want)


def test_cli_replay_rejects_the_file_count_trigger(tmp_path):
    with pytest.raises(SystemExit) as e:
        main([
            "replay", "--table", str(tmp_path / "tbl"),
            "--events", str(tmp_path / "events"),
            "--checkpoint", str(tmp_path / "ckpt"), "--compact-every", "8",
        ])
    assert e.value.code == 2
