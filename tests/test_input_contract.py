"""The CLI's input contract: pages parquet is read with ``PAGES_SCHEMA``.
Extra columns are ignored, a missing payload column reads as NULL, and a
tz-naive ``warc_ts`` reads as a timestamp.  Inputs are written by pyarrow,
as a producer outside Spark would write them; every committed row must
equal the single-process ``parse_page_row`` of its page."""

import json

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401
from universal_key_value_based_text_processing_with_ocr_spark import __main__ as cli
from universal_key_value_based_text_processing_with_ocr_spark.lakehouse import SnapshotTable
from universal_key_value_based_text_processing_with_ocr_spark.operators.extract import (
    RESULT_SCHEMA,
    parse_page_row,
)
from universal_key_value_based_text_processing_with_ocr_spark.sources.synthdocs import gen_page_row

RESULT_COLUMNS = [c.split()[0] for c in RESULT_SCHEMA.split(", ")]


def _naive_ts(rows):
    return rows, pa.timestamp("us")  # synthdocs timestamps are naive datetimes


def _extra_column(rows):
    return [{**r, "crawl_id": i} for i, r in enumerate(rows)], pa.timestamp("us", tz="UTC")


def _text_only(rows):
    return [{k: v for k, v in r.items() if k != "html"} for r in rows], pa.timestamp(
        "us", tz="UTC")


@pytest.mark.parametrize("shape", [_naive_ts, _extra_column, _text_only])
def test_cli_reads_pages_with_the_pinned_schema(spark, tmp_path, capsys, shape):  # noqa: F811
    rows, ts_type = shape([gen_page_row(23, i) for i in range(16)])
    fields = {"url": pa.string(), "warc_ts": ts_type, "html": pa.binary(),
              "text": pa.string(), "lang": pa.string(), "crawl_id": pa.int64()}
    schema = pa.schema([(name, fields[name]) for name in rows[0]])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp_path / "pages.parquet")
    results = tmp_path / "results"
    batch_size = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        assert cli.main(["--input", str(tmp_path / "pages.parquet"),
                         "--results", str(results)]) == 0
    finally:  # the CLI configures the shared session; leave it as found
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", batch_size)
    assert json.loads(capsys.readouterr().out.splitlines()[-1])["n_docs"] == 16

    committed = {r.url: r.asDict() for r in SnapshotTable(results).read(spark).collect()}
    assert committed.keys() == {r["url"] for r in rows}
    for r in rows:
        want = parse_page_row(r["url"], r.get("html"), r["text"], r["lang"])
        assert {c: committed[r["url"]][c] for c in RESULT_COLUMNS} == want


def test_cli_streams_with_every_option(spark, tmp_path, capsys):  # noqa: F811
    """``--streaming`` takes the batch job's options: a blended stream with
    ``--debug`` commits the batch job's rows and a debug row per failed url."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.extract import (
        parse_page_row_blended,
    )

    rows = [gen_page_row(23, i) for i in range(16)]
    pages = tmp_path / "pages"
    pages.mkdir()
    for k in (0, 1):  # two input files, one epoch
        pq.write_table(pa.Table.from_pylist(rows[k::2]), pages / f"part-{k}.parquet")
    results, debug = tmp_path / "results", tmp_path / "debug"
    batch_size = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        assert cli.main(["--input", str(pages), "--results", str(results),
                         "--streaming", "--checkpoint", str(tmp_path / "ckpt"),
                         "--parser", "blended", "--debug", str(debug)]) == 0
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", batch_size)
    assert json.loads(capsys.readouterr().out.splitlines()[-1])["n_epochs"] == 1

    committed = {r.url: r.asDict() for r in SnapshotTable(results).read(spark).collect()}
    want = {r["url"]: parse_page_row_blended(r["url"], r["html"], r["text"]) for r in rows}
    assert {u: {c: row[c] for c in want[u]} for u, row in committed.items()} == want
    failed = {u for u, row in want.items() if not row["success"]}
    assert failed and {r.url for r in SnapshotTable(debug).read(spark).collect()} == failed
