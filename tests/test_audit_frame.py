"""The job's audit lineage: the rows ``plans.pipeline.append_audit``
commits from the extract stage's own per-partition counts against the same
rows built from a Spark aggregation of the committed batch
(``partition_counts``) and against the frozen collect-based copy
(``tests/frozen_audit``); a partition's first attempt failing mid-stream
under task retry; one audit table shared by the batch and the streaming
job; and a table mixing Spark-written and driver-written snapshots through
the lakehouse's maintenance."""

import json
import os
import subprocess
import sys
import time

from collections import Counter
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql.types import StructType

from tests.conftest import REPO_ROOT
from tests.frozen_audit import frozen_audit_append
from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401
from universal_key_value_based_text_processing_with_ocr_spark.lakehouse import SnapshotTable
from universal_key_value_based_text_processing_with_ocr_spark.plans.pipeline import (
    AUDIT_SCHEMA,
    append_audit,
    partition_counts,
    run_extraction_job,
)
from universal_key_value_based_text_processing_with_ocr_spark.sources import PAGES_SCHEMA
from universal_key_value_based_text_processing_with_ocr_spark.sources.synthdocs import gen_page_row
from universal_key_value_based_text_processing_with_ocr_spark.streaming import (
    streamed_extraction_job,
)


def _types(schema):
    return [(f.name, f.dataType) for f in schema]


def _audit_types():  # parsing DDL needs an active SparkSession
    return _types(StructType.fromDDL(AUDIT_SCHEMA))


def _synth(spark, lo, hi, seed=42):
    rows = [gen_page_row(seed, i) for i in range(lo, hi)]
    return spark.createDataFrame(pd.DataFrame(rows), schema=PAGES_SCHEMA)


def _text_pages(spark, items):
    return spark.createDataFrame(
        pd.DataFrame(
            [{"url": u, "warc_ts": pd.Timestamp("2026-01-01"),
              "html": f"<p>{body}</p>".encode(), "text": None, "lang": "en"}
             for u, body in items]
        ),
        schema=PAGES_SCHEMA,
    )


def _rows(df):
    return Counter(tuple(r) for r in df.collect())


def _data_files(table_path, snapshot_id):
    return list((Path(table_path) / "data" / snapshot_id).glob("*.parquet"))


def _sweep(spark, tmp_path):
    return _synth(spark, 0, 40), {"num_partitions": 4}


def _blended(spark, tmp_path):
    return _synth(spark, 0, 16), {"num_partitions": 3, "parser": "blended"}


def _dedup(spark, tmp_path):
    alpha = "alpha words words words words"
    beta = "beta words words words words"
    run_extraction_job(
        spark, _text_pages(spark, [("https://a.example.com/1", alpha)]),
        str(tmp_path / "res"), dedup_content=True,
    )
    pages = _text_pages(spark, [
        ("https://mirror.example.com/1", alpha),  # mirror of a committed doc
        ("https://b.example.com/d1", beta),
        ("https://b.example.com/d2", beta),       # mirror within the run
        ("https://c.example.com/1", "gamma words words words words"),
    ])
    return pages, {"num_partitions": 2, "dedup_content": True}


def _boxorder(spark, tmp_path):
    return _synth(spark, 0, 20), {"num_partitions": 3, "parser": "boxorder"}


def _more_partitions_than_rows(spark, tmp_path):
    return _synth(spark, 0, 5), {"num_partitions": 8}


def _all_failures(spark, tmp_path):
    """Pages without a payload: every row fails, n_success is 0 (not NULL)."""
    pages = pd.DataFrame(
        [{"url": f"https://empty.example.com/{i}", "warc_ts": pd.Timestamp("2026-01-01"),
          "html": None, "text": None, "lang": "en"} for i in range(6)]
    )
    return spark.createDataFrame(pages, schema=PAGES_SCHEMA), {"num_partitions": 2}


@pytest.mark.parametrize(
    "case",
    [_sweep, _blended, _boxorder, _dedup, _more_partitions_than_rows, _all_failures],
    ids=["sweep", "blended", "boxorder", "dedup", "partitions_gt_rows", "all_failures"],
)
def test_audit_frame_matches_frozen_audit(spark, tmp_path, case):  # noqa: F811
    pages, kwargs = case(spark, tmp_path)
    res, new_aud, old_aud, rollup_aud, mixed = (
        str(tmp_path / n) for n in ("res", "aud_new", "aud_old", "aud_rollup", "aud_mixed")
    )
    info = run_extraction_job(spark, pages, res, audit_path=new_aud, run_id="r", **kwargs)
    sid = info["snapshot_id"]
    batch = spark.read.parquet(str(Path(res) / "data" / sid))
    n_batch = batch.count()
    assert info["n_docs"] == n_batch > 0
    if kwargs.get("dedup_content"):
        assert n_batch == 2  # the two mirrors were dropped after extraction

    new_tbl = SnapshotTable(new_aud)
    new = new_tbl.read(spark)
    (wall_ms,) = {r.wall_ms for r in new.collect()}
    old_tbl = SnapshotTable(old_aud)
    frozen_audit_append(spark, batch, old_tbl, "r", sid, wall_ms)
    old = old_tbl.read(spark)

    # the job's audit, counted by the extract stage (by the batch's
    # aggregation under dedup), equals the aggregation's on the same batch
    rollup_tbl = SnapshotTable(rollup_aud)
    append_audit(rollup_tbl, partition_counts(batch), "r", sid, wall_ms)
    assert _rows(new) == _rows(old) == _rows(rollup_tbl.read(spark))
    assert _types(new.schema) == _audit_types()
    assert _types(old.schema) == _audit_types()
    assert len(_data_files(new_aud, new_tbl.snapshot_id())) == 1
    assert len(_data_files(old_aud, old_tbl.snapshot_id())) == 1

    rows = new.collect()
    write = [r for r in rows if r.stage == "write"]
    assert len(write) == 1 and write[0].partition_id == -1 and write[0].n_docs == n_batch
    extract_pids = sorted(r.partition_id for r in rows if r.stage == "extract")
    # one row per partition that committed rows; an empty one gets none
    assert extract_pids == sorted({r.partition_id for r in batch.collect()})
    if case in (_sweep, _boxorder):
        assert len(extract_pids) > 1
    if case is _more_partitions_than_rows:
        assert len(extract_pids) < kwargs["num_partitions"]
    if kwargs.get("parser") in ("blended", "boxorder"):
        assert all(r.bytes_in is None for r in rows)
    else:
        assert all(r.bytes_in is not None for r in rows)
    if case is _all_failures:
        assert all(r.n_success == 0 for r in rows)

    # one table holding a snapshot from each version reads as their union
    mixed_tbl = SnapshotTable(mixed)
    frozen_audit_append(spark, batch, mixed_tbl, "r", sid, wall_ms)
    append_audit(mixed_tbl, partition_counts(batch), "r", sid, wall_ms)
    both = mixed_tbl.read(spark)
    assert _types(both.schema) == _audit_types()
    assert _rows(both) == _rows(new) + _rows(old)


# Runs in its own process: a local[2,2] master (2 threads, a task may fail
# once) with two-row Arrow batches.  The extract stage's row function is
# replaced by one, pickled by value to the workers, whose first attempt at
# partition 0 raises outside _page_row's guard after the stage has emitted
# (and counted) one batch; the retry runs the real _page_row.
RETRY_SCRIPT = r"""
import json
import sys
from pathlib import Path

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import SparkSession

from universal_key_value_based_text_processing_with_ocr_spark.lakehouse import SnapshotTable
from universal_key_value_based_text_processing_with_ocr_spark.operators import extract
from universal_key_value_based_text_processing_with_ocr_spark.plans import run_extraction_job
from universal_key_value_based_text_processing_with_ocr_spark.sources import PAGES_SCHEMA
from universal_key_value_based_text_processing_with_ocr_spark.sources.synthdocs import gen_page_row

out = Path(sys.argv[1])
marker = out / "failed_attempt"


def flaky_first_attempt():
    seen = [0]

    def row(url, html, text, lang, configs, parser):
        ctx = TaskContext.get()
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            seen[0] += 1
            if seen[0] > 2:
                marker.write_text(str(seen[0] - 1))
                raise RuntimeError("injected first-attempt failure")
        # the worker's module is not patched: this is the real row path
        from universal_key_value_based_text_processing_with_ocr_spark.operators.extract import (
            _page_row,
        )

        return _page_row(url, html, text, lang, configs, parser)

    return row


spark = (
    SparkSession.builder.master("local[2,2]")
    .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
extract._page_row = flaky_first_attempt()
pages = spark.createDataFrame(
    pd.DataFrame([gen_page_row(7, i) for i in range(16)]), schema=PAGES_SCHEMA
)
info = run_extraction_job(
    spark, pages, str(out / "res"), audit_path=str(out / "aud"), num_partitions=2
)
committed = {}
for r in SnapshotTable(out / "res").read(spark).collect():
    n, s, b = committed.get(r.partition_id, (0, 0, 0))
    committed[r.partition_id] = (n + 1, s + r.success, b + r.n_bytes)
print(json.dumps({
    "n_docs": info["n_docs"],
    "emitted_before_failure": int(marker.read_text()) if marker.exists() else 0,
    "audit": [[r.stage, r.partition_id, r.n_docs, r.n_success, r.bytes_in]
              for r in SnapshotTable(out / "aud").read(spark).collect()],
    "committed": [[pid, *c] for pid, c in committed.items()],
}))
spark.stop()
"""


def test_audit_counts_a_retried_partition_once(tmp_path):
    """A partition whose first attempt fails after emitting rows is
    counted once, from its successful retry: Spark merges a result task's
    accumulator update from its first successful attempt only."""
    env = {**os.environ, "PYTHONPATH": str(REPO_ROOT), "PYSPARK_PYTHON": sys.executable}
    out = subprocess.run(
        [sys.executable, "-c", RETRY_SCRIPT, str(tmp_path)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    report = json.loads(out.stdout.strip().splitlines()[-1])
    assert report["emitted_before_failure"] == 2  # the failed attempt counted a batch
    assert report["n_docs"] == 16
    extract_rows = sorted(r[1:] for r in report["audit"] if r[0] == "extract")
    assert extract_rows == sorted(report["committed"])
    assert [r[0] for r in extract_rows] == [0, 1]
    (write,) = [r[1:] for r in report["audit"] if r[0] == "write"]
    assert write[:2] == [-1, 16]


def test_batch_and_streaming_audit_share_one_table(spark, tmp_path):  # noqa: F811
    """Both producers append to one audit table and it still reads: the
    streaming job used to write wall_ms bigint next to the batch job's int,
    which failed the read with CANNOT_MERGE_SCHEMAS."""
    res, aud = str(tmp_path / "res"), str(tmp_path / "aud")
    run_extraction_job(spark, _synth(spark, 0, 12), res, audit_path=aud, run_id="b")
    pages_dir = str(tmp_path / "pages")
    _synth(spark, 12, 20).coalesce(1).write.parquet(pages_dir)
    info = streamed_extraction_job(
        spark, pages_dir, res, aud, checkpoint_dir=str(tmp_path / "ckpt"), run_id="s"
    )
    assert info["n_epochs"] == 1

    audit = SnapshotTable(aud).read(spark)
    assert _types(audit.schema) == _audit_types()
    rows = audit.collect()
    assert {r.run_id for r in rows} == {"b", "s-e0"}
    for run_id, n_docs in (("b", 12), ("s-e0", 8)):
        mine = [r for r in rows if r.run_id == run_id]
        assert sum(r.n_docs for r in mine if r.stage == "extract") == n_docs
        (write,) = [r for r in mine if r.stage == "write"]
        assert (write.partition_id, write.n_docs) == (-1, n_docs)
        # a streamed epoch is a batch run: it records its own wall time
        assert all(r.wall_ms > 0 for r in mine)


def test_spark_and_driver_appends_share_one_table(spark, tmp_path):  # noqa: F811
    """``append`` (Spark writes the file) and ``append_rows`` (the driver
    writes it) commit to one table: it reads with ``AUDIT_SCHEMA``'s names
    and types, each manifest counts the rows written, and the rows survive
    ``compact``, ``expire_snapshots`` and the orphan sweep."""
    schema = StructType.fromDDL(AUDIT_SCHEMA)
    by_spark = [("s", "extract", 0, 3, 1, 30, 7, "a"), ("s", "write", -1, 3, 1, 30, 7, "a")]
    by_driver = [
        ("d", "extract", 0, 2, 0, None, 0, "b"),
        ("d", "extract", 1, 1, None, None, 0, "b"),
        ("d", "write", -1, 3, 0, None, 0, "b"),
    ]
    tbl = SnapshotTable(tmp_path / "aud")
    sids = [tbl.append(spark.createDataFrame(by_spark, schema)),
            tbl.append_rows(by_driver, schema),
            tbl.append(spark.createDataFrame(by_spark[:1], schema))]
    for sid, written in zip(sids, (by_spark, by_driver, by_spark[:1])):
        assert tbl._resolve_manifest(sid)["summary"]["n_rows"] == len(written)
    assert len(_data_files(tbl.path, sids[1])) == 1
    expected = Counter(by_spark + by_driver + by_spark[:1])

    def check():
        table = tbl.read(spark)
        assert _types(table.schema) == _audit_types()
        assert _rows(table) == expected

    check()
    # a withdrawn driver append leaves an orphan data dir for the sweep
    orphan = tbl.append_rows(by_driver[:1], schema)
    assert tbl.rollback_latest(orphan)
    check()
    tbl.compact(spark)
    check()
    old = time.time() - 2 * tbl.ORPHAN_AGE_S
    for p in (tbl.path / "data").rglob("*"):
        os.utime(p, (old, old))
    assert tbl.expire_snapshots(keep_last=1)["expired"] == 3
    assert not (tbl.path / "data" / orphan).exists()
    assert not any(_data_files(tbl.path, sid) for sid in sids)
    check()
