"""The job's audit lineage: ``plans.pipeline.append_audit`` (a Spark rollup,
collected and committed as one driver-written file) against the frozen
collect-based copy (``tests/frozen_audit``) on the same committed batches,
one audit table shared by the batch and the streaming job, and a table
mixing Spark-written and driver-written snapshots through the lakehouse's
maintenance."""

import os
import time

from collections import Counter
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql.types import StructType

from tests.frozen_audit import frozen_audit_append
from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401
from universal_key_value_based_text_processing_with_ocr_spark.lakehouse import SnapshotTable
from universal_key_value_based_text_processing_with_ocr_spark.plans.pipeline import (
    AUDIT_SCHEMA,
    append_audit,
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


def _more_partitions_than_rows(spark, tmp_path):
    return _synth(spark, 0, 5), {"num_partitions": 8}


@pytest.mark.parametrize(
    "case", [_sweep, _blended, _dedup, _more_partitions_than_rows],
    ids=["sweep", "blended", "dedup", "partitions_gt_rows"],
)
def test_audit_frame_matches_frozen_audit(spark, tmp_path, case):  # noqa: F811
    pages, kwargs = case(spark, tmp_path)
    res, new_aud, old_aud, mixed = (
        str(tmp_path / n) for n in ("res", "aud_new", "aud_old", "aud_mixed")
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

    assert _rows(new) == _rows(old)
    assert _types(new.schema) == _audit_types()
    assert _types(old.schema) == _audit_types()
    assert len(_data_files(new_aud, new_tbl.snapshot_id())) == 1
    assert len(_data_files(old_aud, old_tbl.snapshot_id())) == 1

    write = [r for r in new.collect() if r.stage == "write"]
    assert len(write) == 1 and write[0].partition_id == -1 and write[0].n_docs == n_batch
    if kwargs.get("parser") == "blended":
        assert all(r.bytes_in is None for r in new.collect())

    # one table holding a snapshot from each version reads as their union
    mixed_tbl = SnapshotTable(mixed)
    frozen_audit_append(spark, batch, mixed_tbl, "r", sid, wall_ms)
    append_audit(mixed_tbl, batch, "r", sid, wall_ms)
    both = mixed_tbl.read(spark)
    assert _types(both.schema) == _audit_types()
    assert _rows(both) == _rows(new) + _rows(old)


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
