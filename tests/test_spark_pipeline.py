"""Spark-layer tests: extraction stage over real DataFrames, snapshot
commit/read, resume anti-join, partition lineage, determinism under
partitioning (SURVEY.md §5 items 3-4)."""

import datetime

import pandas as pd
import pytest

from universal_key_value_based_text_processing_with_ocr_spark.lakehouse import SnapshotTable
from universal_key_value_based_text_processing_with_ocr_spark.operators.extract import (
    extract_pages,
    parse_page_row,
)
from universal_key_value_based_text_processing_with_ocr_spark.plans import (
    run_extraction_job,
    salted_repartition,
)
from universal_key_value_based_text_processing_with_ocr_spark.sources import PAGES_SCHEMA
from universal_key_value_based_text_processing_with_ocr_spark.sources.synthdocs import gen_page_row


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("engine-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _pages(spark, n=60, seed=42):
    rows = [gen_page_row(seed, i) for i in range(n)]
    return spark.createDataFrame(pd.DataFrame(rows), schema=PAGES_SCHEMA)


def test_extract_matches_local_oracle(spark):
    """Distributed run == per-row pure-Python oracle, byte for byte."""
    df = _pages(spark, 50)
    got = {r.url: (r.extracted_text, r.result_json, r.success) for r in extract_pages(df).collect()}
    for i in range(50):
        row = gen_page_row(42, i)
        want = parse_page_row(row["url"], row["html"], row["text"], row["lang"])
        assert got[row["url"]] == (
            want["extracted_text"],
            want["result_json"],
            want["success"],
        ), row["url"]


def test_determinism_across_partitionings(spark):
    df = _pages(spark, 40)
    a = sorted((r.url, r.result_json) for r in extract_pages(df.coalesce(1)).collect())
    b = sorted((r.url, r.result_json) for r in extract_pages(salted_repartition(df, 16)).collect())
    assert a == b


def test_snapshot_table_append_read_history(spark, tmp_path):
    tbl = SnapshotTable(tmp_path / "t")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    df2 = spark.createDataFrame([(3, "c")], "id long, v string")
    s1 = tbl.append(df1)
    assert tbl.read(spark).count() == 2
    s2 = tbl.append(df2)
    assert tbl.read(spark).count() == 3
    # snapshot pinning (time travel)
    assert tbl.read(spark, snapshot_id=s1).count() == 2
    hist = tbl.history()
    assert [h["sequence"] for h in hist] == [1, 2]
    assert hist[1]["parent_id"] == s1
    assert tbl.snapshot_id() == s2


def test_resume_skips_committed_urls(spark, tmp_path):
    """Kill-and-rerun: second run must not duplicate urls and audit lineage
    must cover all partitions exactly once per run."""
    results = str(tmp_path / "results")
    audit = str(tmp_path / "audit")

    first = _pages(spark, 30)
    info1 = run_extraction_job(spark, first, results, audit, num_partitions=5, run_id="r1")
    assert info1["n_docs"] == 30

    # restart with a superset (30 old + 20 new)
    superset = _pages(spark, 50)
    info2 = run_extraction_job(spark, superset, results, audit, num_partitions=5, run_id="r2")
    assert info2["n_docs"] == 20

    tbl = SnapshotTable(results)
    final = tbl.read(spark)
    assert final.count() == 50
    assert final.select("url").distinct().count() == 50

    # third run: nothing left to do, table untouched
    info3 = run_extraction_job(spark, superset, results, audit, num_partitions=5, run_id="r3")
    assert info3["n_docs"] == 0
    assert tbl.snapshot_id() == info2["snapshot_id"]

    audit_rows = SnapshotTable(audit).read(spark).collect()
    runs = {}
    for r in audit_rows:
        runs.setdefault(r.run_id, []).append(r)
    assert set(runs) == {"r1", "r2"}
    for rid, rows in runs.items():
        expected_docs = 30 if rid == "r1" else 20
        extract_rows = [r for r in rows if r.stage == "extract"]
        write_rows = [r for r in rows if r.stage == "write"]
        pids = [r.partition_id for r in extract_rows]
        assert len(pids) == len(set(pids))  # each partition exactly once
        assert sum(r.n_docs for r in extract_rows) == expected_docs
        assert len(write_rows) == 1 and write_rows[0].n_docs == expected_docs
        # the write row totals the batch this run committed
        batch = spark.read.parquet(str(tbl.path / "data" / write_rows[0].snapshot_id))
        sums = batch.selectExpr(
            "count(*) AS n", "sum(cast(success AS long)) AS s", "sum(n_bytes) AS b"
        ).first()
        assert sums.n == expected_docs
        assert (write_rows[0].n_success, write_rows[0].bytes_in) == (sums.s, sums.b)


def test_salted_repartition_spreads_hot_host(spark):
    """The top host (~40% of rows) must land on > 1 partition."""
    df = _pages(spark, 200)
    from pyspark.sql import functions as F

    parts = (
        salted_repartition(df, 16)
        .withColumn("pid", F.spark_partition_id())
        .filter(F.col("url").contains("host00"))
        .select("pid")
        .distinct()
        .count()
    )
    assert parts >= 4


def test_extract_handles_null_payloads(spark):
    rows = [
        dict(url="u1", warc_ts=datetime.datetime(2024, 1, 1), html=None, text=None, lang=None),
        dict(url="u2", warc_ts=datetime.datetime(2024, 1, 1), html=b"<p>hi there</p>", text=None, lang="en"),
        dict(url="u3", warc_ts=datetime.datetime(2024, 1, 1), html=None, text="NIK : 3201", lang="ind"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows), schema=PAGES_SCHEMA)
    got = {r.url: r for r in extract_pages(df).collect()}
    assert got["u1"].extracted_text is None and got["u1"].success is False
    assert got["u2"].extracted_text == "hi there"
    assert got["u3"].extracted_text == "NIK : 3201"


def test_concurrent_appends_no_lost_snapshots(spark, tmp_path):
    """Two writers committing simultaneously: the CAS commit must serialise
    them (distinct sequence numbers) and the final table must contain BOTH
    appends — no orphaned snapshot."""
    import threading

    tbl = SnapshotTable(tmp_path / "cc")
    dfs = [
        spark.createDataFrame([(i, f"w{w}") for i in range(10)], "id long, writer string")
        for w in range(4)
    ]
    errors = []

    def commit(df):
        try:
            tbl.append(df)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=commit, args=(df,)) for df in dfs]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    hist = tbl.history()
    assert [h["sequence"] for h in hist] == [1, 2, 3, 4]
    final = tbl.read(spark)
    assert final.count() == 40
    assert final.select("writer").distinct().count() == 4


def test_manifest_file_pruning(spark, tmp_path):
    """Range reads prune data files via manifest min/max stats before Spark
    lists them (Iceberg-style scan pruning)."""
    tbl = SnapshotTable(tmp_path / "pruned")
    # three appends with disjoint id ranges -> three file sets
    for lo in (0, 100, 200):
        df = spark.range(lo, lo + 50).selectExpr("id", "concat('v', id) as v").coalesce(1)
        tbl.append(df)
    kept, total = tbl.pruned_file_count(between=(120, 130))
    assert total == 3 and kept == 1
    got = tbl.read(spark, between=(120, 130))
    rows = got.filter("id between 120 and 130").count()
    assert rows == 11
    # unpruned read still sees everything
    assert tbl.read(spark).count() == 150


def test_compaction_replaces_file_list(spark, tmp_path):
    tbl = SnapshotTable(tmp_path / "compact")
    for lo in (0, 50, 100):
        tbl.append(spark.range(lo, lo + 50).coalesce(2))
    m0 = tbl.latest_manifest()
    assert sum(c["n_files"] for c in m0["chunks"]) == 6
    before = sorted(r.id for r in tbl.read(spark).collect())
    pre_compact_snapshot = tbl.snapshot_id()
    tbl.compact(spark, target_partitions=1)
    m = tbl.latest_manifest()
    assert sum(c["n_files"] for c in m["chunks"]) == 1
    # append auto-records the committed row count alongside caller fields
    assert m["summary"] == {"n_rows": 150, "op": "compact"}
    after = sorted(r.id for r in tbl.read(spark).collect())
    assert after == before
    # time travel to the pre-compaction snapshot still works
    assert tbl.read(spark, snapshot_id=pre_compact_snapshot).count() == 150


def test_schema_evolution_merge(spark, tmp_path):
    tbl = SnapshotTable(tmp_path / "evolve")
    tbl.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    tbl.append(spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double"))
    got = tbl.read(spark)
    assert set(got.columns) == {"id", "v", "score"}
    rows = {r.id: r for r in got.collect()}
    assert rows[1].score is None and rows[2].score == 9.5


def test_expire_snapshots_vacuum(spark, tmp_path):
    tbl = SnapshotTable(tmp_path / "vac")
    for lo in (0, 10, 20):
        tbl.append(spark.range(lo, lo + 10).coalesce(1))
    tbl.compact(spark, target_partitions=1)  # snapshot 4 references only new files
    info = tbl.expire_snapshots(keep_last=1)
    assert info["expired"] == 3 and info["deleted_files"] >= 3
    assert len(tbl.history()) == 1
    assert tbl.read(spark).count() == 30  # live snapshot intact


def test_job_span_sink_crash_consistent(spark, tmp_path):
    """spans_path commits the north-star span table alongside results:
    contents equal the standalone span stage, resume adds nothing, and a
    healing rerun after a spans-committed/results-crashed window never
    duplicates span rows (url anti-join idempotence)."""
    from universal_key_value_based_text_processing_with_ocr_spark.lakehouse.catalog import (
        SnapshotTable,
    )
    from universal_key_value_based_text_processing_with_ocr_spark.operators.fieldspans import (
        extract_page_field_spans,
    )

    results = str(tmp_path / "results")
    spans = str(tmp_path / "spans")
    pages = _pages(spark, 25)
    info = run_extraction_job(
        spark, pages, results, num_partitions=4, run_id="s1", spans_path=spans
    )
    assert info["n_docs"] == 25
    tbl = SnapshotTable(spans)
    got = sorted(map(tuple, tbl.read(spark).collect()))
    want = sorted(map(tuple, extract_page_field_spans(pages).collect()))
    assert got == want and len(got) > 0

    # resume: nothing new -> no span snapshot growth
    seq_before = len(tbl.history())
    info2 = run_extraction_job(
        spark, pages, results, num_partitions=4, run_id="s2", spans_path=spans
    )
    assert info2["resumed"] is True
    assert len(tbl.history()) == seq_before

    # crash-window heal: simulate spans-committed/results-lost for 5 NEW
    # urls by pre-appending their spans, then running the job over them —
    # the rerun must extract the results WITHOUT duplicating span rows
    more = _pages(spark, 30).join(pages.select("url"), "url", "left_anti")
    pre = extract_page_field_spans(more)
    tbl.append(pre, summary={"run_id": "crashed"})
    n_spans_after_crash = tbl.read(spark).count()
    info3 = run_extraction_job(
        spark, _pages(spark, 30), results, num_partitions=4, run_id="s3",
        spans_path=spans,
    )
    assert info3["n_docs"] == 5
    assert tbl.read(spark).count() == n_spans_after_crash  # no duplicates


def test_job_span_sink_requires_sweep_parser(spark, tmp_path):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="spans_path requires"):
        run_extraction_job(
            spark, _pages(spark, 5), str(tmp_path / "r"), parser="blended",
            spans_path=str(tmp_path / "s"),
        )
