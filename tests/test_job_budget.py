"""Spark-job budget of one extraction call.

A call runs the extract write and, on resume, the anti-join count; the
audit's counts come from the extract stage, so no job follows the write.  No job may re-derive what the call already holds: the input schema
(``PAGES_SCHEMA``), the committed table's schema (its manifest) or the
input row count of a fresh-table run (the input's parquet footers).  The
jobs are read back through the call's job group."""

import pyarrow as pa
import pyarrow.parquet as pq

from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401
from universal_key_value_based_text_processing_with_ocr_spark.lakehouse import SnapshotTable
from universal_key_value_based_text_processing_with_ocr_spark.plans import run_extraction_job
from universal_key_value_based_text_processing_with_ocr_spark.sources import PAGES_SCHEMA
from universal_key_value_based_text_processing_with_ocr_spark.sources.synthdocs import gen_page_row

PAGES_ARROW = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")), ("html", pa.binary()),
    ("text", pa.string()), ("lang", pa.string()),
])


def _call_jobs(spark, monkeypatch, group, pages_path, tmp_path):  # noqa: F811
    """(job ids of one call, job ids submitted before the results append,
    the call's summary, the job descriptions the call set, the job
    description after the call); the call runs under job group ``group``
    with a description of the caller's."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    results = str(tmp_path / "results")
    before_write = []
    real_append = SnapshotTable.append

    def append(tbl, df, *args, **kwargs):
        if str(tbl.path) == results and not before_write:
            before_write.append(sorted(tracker.getJobIdsForGroup(group)))
        return real_append(tbl, df, *args, **kwargs)

    monkeypatch.setattr(SnapshotTable, "append", append)
    described = []
    real_describe = sc.setJobDescription

    def describe(value):
        described.append(value)
        return real_describe(value)

    monkeypatch.setattr(sc, "setJobDescription", describe)
    sc.setJobGroup(group, "caller's description")
    try:
        info = run_extraction_job(
            spark, spark.read.schema(PAGES_SCHEMA).parquet(pages_path), results,
            audit_path=str(tmp_path / "audit"),
        )
        description = sc.getLocalProperty("spark.job.description")
    finally:
        monkeypatch.undo()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    jobs = sorted(tracker.getJobIdsForGroup(group))
    phases = [d.split(": ", 1)[1] for d in described]
    return jobs, (before_write or [None])[0], info, phases, description


def test_fresh_and_resume_noop_job_budget(spark, monkeypatch, tmp_path):  # noqa: F811
    pages = tmp_path / "pages.parquet"
    rows = [gen_page_row(11, i) for i in range(24)]
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_ARROW), pages)
    fresh, before_write, info, phases, description = _call_jobs(
        spark, monkeypatch, "budget-fresh", str(pages), tmp_path)
    assert info["n_docs"] == 24
    assert before_write == []  # no schema inference, no count before the extract
    # salted-repartition shuffle map + extract write; the audit's counts
    # come from the extract stage and the driver writes the audit file
    assert len(fresh) == 2, fresh
    # the call names its jobs per phase and hands the caller's description back
    assert phases == ["resume", "plan", "extract+commit", "audit"]
    assert description == "caller's description"

    noop, _, info, phases, description = _call_jobs(
        spark, monkeypatch, "budget-noop", str(pages), tmp_path)
    assert info["n_docs"] == 0 and info["resumed"] is True
    # the anti-join count only: committed-url broadcast build, input scan +
    # partial count, final count
    assert len(noop) == 3, noop
    assert phases == ["resume", "plan"]
    assert description == "caller's description"


def test_resume_increment_job_budget(spark, monkeypatch, tmp_path):  # noqa: F811
    """A resume call that commits new urls: the anti-join count, then the
    extract's shuffle and write, and nothing after the write."""
    rows = [gen_page_row(13, i) for i in range(36)]
    base, increment = tmp_path / "base.parquet", tmp_path / "increment.parquet"
    pq.write_table(pa.Table.from_pylist(rows[:24], schema=PAGES_ARROW), base)
    pq.write_table(pa.Table.from_pylist(rows[12:], schema=PAGES_ARROW), increment)
    _call_jobs(spark, monkeypatch, "budget-base", str(base), tmp_path)
    jobs, _, info, phases, _ = _call_jobs(
        spark, monkeypatch, "budget-increment", str(increment), tmp_path)
    assert info["n_docs"] == 12 and info["resumed"] is False
    # anti-join count (committed-url broadcast build, input scan + partial
    # count, final count); the write's own broadcast build, salted-
    # repartition shuffle map + extract write
    assert len(jobs) == 6, jobs
    assert phases == ["resume", "plan", "extract+commit", "audit"]


def test_footer_rows_only_for_bare_parquet_scans(spark, tmp_path):  # noqa: F811
    """Fresh-table sizing reads the input's parquet footers only where they
    give the scan's exact row count; anything else falls back to a count."""
    from pyspark.sql import functions as F

    from universal_key_value_based_text_processing_with_ocr_spark.plans.pipeline import (
        parquet_footer_rows,
    )

    rows = [gen_page_row(12, i) for i in range(30)]
    for k in range(3):  # three files, one of them empty
        part = rows[k * 15:(k + 1) * 15]
        pq.write_table(pa.Table.from_pylist(part, schema=PAGES_ARROW),
                       tmp_path / f"part-{k}.parquet")
    pages = spark.read.schema(PAGES_SCHEMA).parquet(str(tmp_path))
    assert parquet_footer_rows(pages) == pages.count() == 30
    assert parquet_footer_rows(pages.select("url", "html")) == 30
    assert parquet_footer_rows(pages.filter(F.col("lang") == "ind")) is None
    assert parquet_footer_rows(pages.limit(3)) is None
    assert parquet_footer_rows(spark.createDataFrame(rows[:2], PAGES_SCHEMA)) is None
