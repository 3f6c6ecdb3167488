"""CLI (spark-submit entry point) end-to-end: fresh run, resume, output
tables — exercised through a real subprocess like a user would."""

import json
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

from tests.conftest import REPO_ROOT
from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401
from universal_key_value_based_text_processing_with_ocr_spark.lakehouse import SnapshotTable
from universal_key_value_based_text_processing_with_ocr_spark.sources import PAGES_SCHEMA
from universal_key_value_based_text_processing_with_ocr_spark.sources.synthdocs import gen_page_row


def _run_cli(args, cwd):
    import os

    env = dict(os.environ)
    env["PYTHONPATH"] = str(REPO_ROOT)
    # Pin worker python to the driver interpreter (PATH-resolved python3
    # may be a different install without pandas).
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    out = subprocess.run(
        [sys.executable, "-m", "universal_key_value_based_text_processing_with_ocr_spark", *args],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=cwd,
        env=env,
    )
    assert out.returncode == 0, out.stderr[-1500:]
    for line in reversed(out.stdout.splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    pytest.fail(f"no JSON line in CLI output: {out.stdout[-500:]}")


def test_cli_run_and_resume(spark, tmp_path):  # noqa: F811
    pages_dir = tmp_path / "pages"
    df = spark.createDataFrame(
        pd.DataFrame([gen_page_row(42, i) for i in range(25)]), schema=PAGES_SCHEMA
    )
    df.write.parquet(str(pages_dir))
    results = tmp_path / "results"

    info = _run_cli(
        ["--input", str(pages_dir), "--results", str(results), "--partitions", "4",
         "--run-id", "clitest"],
        cwd=str(tmp_path),  # foreign cwd on purpose
    )
    assert info["n_docs"] == 25 and info["run_id"] == "clitest"

    tbl = SnapshotTable(results)
    assert tbl.read(spark).count() == 25

    info2 = _run_cli(
        ["--input", str(pages_dir), "--results", str(results)], cwd=str(tmp_path)
    )
    assert info2["n_docs"] == 0 and info2["resumed"] is True
    assert tbl.read(spark).count() == 25


def test_cli_spans_flag(spark, tmp_path):  # noqa: F811
    """--spans commits the span table through the spark-submit entry point
    (a fresh process with --py-files-style shipping)."""
    pages_dir = tmp_path / "pages"
    df = spark.createDataFrame(
        pd.DataFrame([gen_page_row(42, i) for i in range(12)]), schema=PAGES_SCHEMA
    )
    df.write.parquet(str(pages_dir))
    results, spans = tmp_path / "results", tmp_path / "spans"
    info = _run_cli(
        ["--input", str(pages_dir), "--results", str(results),
         "--partitions", "2", "--spans", str(spans)],
        cwd=str(tmp_path),
    )
    assert info["n_docs"] == 12
    got = SnapshotTable(spans).read(spark)
    assert got.count() > 0
    assert set(got.columns) == {
        "url", "line_no", "field", "key_start", "key_end",
        "value_start", "value_end", "value",
    }


def test_cli_rejects_sweep_only_flags_before_spark(tmp_path, capsys):
    """The job's argument checks run before any session: a sweep-only flag
    with another parser is a usage error (exit 2) that names the check."""
    from universal_key_value_based_text_processing_with_ocr_spark.__main__ import main

    with pytest.raises(SystemExit) as exc:
        main(["--input", str(tmp_path / "pages"), "--results", str(tmp_path / "res"),
              "--parser", "blended", "--dedup-content"])
    assert exc.value.code == 2
    assert "dedup_content requires the sweep parser" in capsys.readouterr().err
    assert not (tmp_path / "res").exists()
