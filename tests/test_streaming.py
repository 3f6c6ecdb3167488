"""Streaming tests: incremental extraction via foreachBatch into the
lakehouse (multi-epoch, no duplicate urls, resume across restarts) and the
AvailableNow windowed aggregation."""

import json
from collections import Counter

import pandas as pd
import pytest

from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401
from universal_key_value_based_text_processing_with_ocr_spark.lakehouse import SnapshotTable
from universal_key_value_based_text_processing_with_ocr_spark.sources import PAGES_SCHEMA
from universal_key_value_based_text_processing_with_ocr_spark.sources.synthdocs import gen_page_row
from universal_key_value_based_text_processing_with_ocr_spark.streaming import (
    streamed_extraction_job,
)


def _write_pages_files(spark, tmp_path, ranges, extra_column=False):  # noqa: F811
    pages_dir = tmp_path / "pages"
    for i, (lo, hi) in enumerate(ranges):
        df = spark.createDataFrame(
            pd.DataFrame([gen_page_row(42, d) for d in range(lo, hi)]), schema=PAGES_SCHEMA
        )
        if extra_column:
            df = df.withColumn("crawl_id", df.url.substr(1, 5))
        df.coalesce(1).write.mode("append").parquet(str(pages_dir))
    return str(pages_dir)


def test_streamed_extraction_multi_epoch_no_duplicates(spark, tmp_path):  # noqa: F811
    pages_dir = _write_pages_files(spark, tmp_path, [(0, 10), (10, 20), (20, 30)])
    results = str(tmp_path / "results")
    audit = str(tmp_path / "audit")
    ckpt = str(tmp_path / "ckpt")

    info = streamed_extraction_job(spark, pages_dir, results, audit, checkpoint_dir=ckpt)
    assert info["n_epochs"] >= 1
    tbl = SnapshotTable(results).read(spark)
    assert tbl.count() == 30
    assert tbl.select("url").distinct().count() == 30

    # New files arrive; rerun with the same checkpoint: only the new docs.
    _write_pages_files(spark, tmp_path, [(30, 40)])
    info2 = streamed_extraction_job(spark, pages_dir, results, audit, checkpoint_dir=ckpt)
    tbl2 = SnapshotTable(results).read(spark)
    assert tbl2.count() == 40
    assert tbl2.select("url").distinct().count() == 40

    # Restart WITHOUT a checkpoint (full replay): the lakehouse anti-join
    # keeps the table duplicate-free (idempotent commits).
    info3 = streamed_extraction_job(spark, pages_dir, results, audit, checkpoint_dir=None)
    tbl3 = SnapshotTable(results).read(spark)
    assert tbl3.count() == 40
    assert tbl3.select("url").distinct().count() == 40
    assert info3["snapshot_id"] == info2["snapshot_id"]  # nothing new appended


def _table_rows(spark, path):  # noqa: F811
    """A snapshot table's rows (as JSON: debug rows hold arrays) without
    the per-partition lineage column, whose values follow the
    partitioning, not the page."""
    df = SnapshotTable(path).read(spark).drop("partition_id")
    return Counter(json.dumps(r.asDict(recursive=True), sort_keys=True) for r in df.collect())


@pytest.mark.parametrize("parser", ["sweep", "blended", "boxorder"])
def test_streamed_matches_batch_extraction(spark, tmp_path, parser):  # noqa: F811
    """Each epoch runs the batch job, so the streamed results, debug and
    span tables hold the batch job's rows for every parser."""
    from universal_key_value_based_text_processing_with_ocr_spark.plans import (
        run_extraction_job,
    )

    # an input column outside PAGES_SCHEMA: the stream reads the batch
    # CLI's input contract and ignores it
    pages_dir = _write_pages_files(spark, tmp_path, [(0, 25), (25, 40)], extra_column=True)
    tables = ["results", "debug"] + (["spans"] if parser == "sweep" else [])

    def job_kwargs(side):
        paths = {t: str(tmp_path / side / t) for t in tables}
        return paths.pop("results"), {
            "parser": parser, "debug_path": paths["debug"], "spans_path": paths.get("spans"),
        }

    results, kwargs = job_kwargs("stream")
    info = streamed_extraction_job(spark, pages_dir, results, **kwargs)
    assert info["n_epochs"] == 1
    results, kwargs = job_kwargs("batch")
    run_extraction_job(spark, spark.read.schema(PAGES_SCHEMA).parquet(pages_dir), results,
                       **kwargs)
    for t in tables:
        streamed = _table_rows(spark, str(tmp_path / "stream" / t))
        assert streamed, t
        assert streamed == _table_rows(spark, str(tmp_path / "batch" / t)), t
    assert sum(_table_rows(spark, str(tmp_path / "stream" / "results")).values()) == 40


def test_streamed_bad_options_raise_before_any_commit(spark, tmp_path):  # noqa: F811
    """The batch job's argument checks run before the stream starts: a
    plain ValueError and no results, fingerprint or audit snapshot."""
    pages_dir = _write_pages_files(spark, tmp_path, [(0, 5)])
    results, audit = str(tmp_path / "results"), str(tmp_path / "audit")
    with pytest.raises(ValueError, match="dedup_content requires the sweep parser"):
        streamed_extraction_job(spark, pages_dir, results, audit, parser="blended",
                                dedup_content=True)
    for path in (results, results + "_fps", audit):
        assert not SnapshotTable(path).exists()


def test_streamed_bad_options_raise_on_empty_input(spark, tmp_path):  # noqa: F811
    """An empty input directory runs no epoch, yet a bad option combination
    still raises ValueError, and neither a checkpoint nor a table is written."""
    pages_dir = tmp_path / "pages"
    pages_dir.mkdir()
    results, ckpt = str(tmp_path / "results"), tmp_path / "ckpt"
    with pytest.raises(ValueError, match="spans_path requires the sweep parser"):
        streamed_extraction_job(spark, str(pages_dir), results, checkpoint_dir=str(ckpt),
                                parser="boxorder", spans_path=str(tmp_path / "spans"))
    assert not ckpt.exists()
    assert not SnapshotTable(results).exists()
