"""``SnapshotTable.read`` scans with the table schema its manifest records
(the union by name of every committed schema) instead of merging parquet
footers in a Spark job.  Each case compares it with the frozen mergeSchema
read (``tests/frozen_snapshot_read.py``) on column names and types, by
name, and on the row multiset."""

import json
from collections import Counter

import pytest
from pyspark.sql import functions as F

from tests.frozen_snapshot_read import frozen_read
from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401
from universal_key_value_based_text_processing_with_ocr_spark.lakehouse.catalog import (
    SnapshotTable,
    union_schemas,
)


def _types(df):
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}


def _rows(df):
    cols = sorted(df.columns)
    return Counter(repr(tuple(r)) for r in df.select(*cols).collect())


def assert_reads_match(spark, tbl, snapshot_id=None):  # noqa: F811
    new, old = tbl.read(spark, snapshot_id), frozen_read(tbl, spark, snapshot_id)
    assert _types(new) == _types(old)
    assert _rows(new) == _rows(old)
    return new


def _dropped_column_table(spark, path):  # noqa: F811
    tbl = SnapshotTable(path)
    tbl.append(spark.createDataFrame([("u1", 1, "x"), ("u2", 2, "y")], "url string, a int, b string"))
    tbl.append(spark.createDataFrame([("u3", 3)], "url string, a int"))  # drops b
    return tbl


def test_added_column(spark, tmp_path):  # noqa: F811
    tbl = SnapshotTable(tmp_path / "evolve")
    tbl.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    tbl.append(spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double"))
    got = assert_reads_match(spark, tbl)
    assert set(got.columns) == {"id", "v", "score"}


def test_dropped_column_survives_expire(spark, tmp_path):  # noqa: F811
    tbl = _dropped_column_table(spark, tmp_path / "drop")
    got = assert_reads_match(spark, tbl)
    assert "b" in got.columns and got.filter(F.col("b").isNull()).count() == 1
    # the manifest that wrote b is deleted; its file is still live
    assert tbl.expire_snapshots(keep_last=1)["expired"] == 1
    got = assert_reads_match(spark, tbl)
    assert "b" in got.columns and got.count() == 3


def test_compact(spark, tmp_path):  # noqa: F811
    tbl = _dropped_column_table(spark, tmp_path / "compact")
    tbl.compact(spark)
    assert_reads_match(spark, tbl)
    tbl.expire_snapshots(keep_last=1)
    assert_reads_match(spark, tbl)


def test_equality_deletes(spark, tmp_path):  # noqa: F811
    tbl = _dropped_column_table(spark, tmp_path / "deletes")
    tbl.delete_where(spark, spark.createDataFrame([("u1",), ("u3",)], "url string"))
    tbl.append(spark.createDataFrame([("u1", 7, "z")], "url string, a int, b string"))
    got = assert_reads_match(spark, tbl)
    assert sorted(r.url for r in got.collect()) == ["u1", "u2"]


def test_merge_upsert(spark, tmp_path):  # noqa: F811
    tbl = _dropped_column_table(spark, tmp_path / "merge")
    tbl.merge_upsert(
        spark, spark.createDataFrame([("u2", 20, 0.5), ("u9", 9, 1.5)], "url string, a int, c double")
    )
    got = assert_reads_match(spark, tbl)
    assert set(got.columns) == {"url", "a", "b", "c"}
    assert {r.url: r.a for r in got.collect()} == {"u1": 1, "u2": 20, "u3": 3, "u9": 9}


def _rewrite_manifests(tbl, edit):
    for p in tbl._manifests():
        m = json.loads(p.read_text())
        edit(tbl, m)
        p.write_text(json.dumps(m))


def _strip_table_schema(tbl, m):
    m.pop("table_schema")


def _inline_files(tbl, m):
    """The oldest manifest layout: file list and stats inline, no chunks."""
    _strip_table_schema(tbl, m)
    files, stats = [], {}
    for s in m.pop("chunks"):
        chunk = tbl._load_chunk(s)
        files += chunk["files"]
        stats.update(chunk["file_stats"])
    m["files"], m["file_stats"] = files, stats


def _footers_without_spark_schema(tbl, m):
    """Data files rewritten by a writer that stores no Spark schema."""
    import pyarrow.parquet as pq

    _strip_table_schema(tbl, m)
    for rel in tbl._plan_files(m, None)[0]:
        path = tbl.path / rel
        pq.write_table(pq.read_table(path).replace_schema_metadata(None), path)
        path.with_name(f".{path.name}.crc").unlink(missing_ok=True)  # Hadoop's checksum


@pytest.mark.parametrize(
    "legacy", [_strip_table_schema, _inline_files, _footers_without_spark_schema]
)
def test_manifest_without_table_schema(spark, tmp_path, legacy):  # noqa: F811
    """A manifest written before the table schema was recorded reads with
    the mergeSchema scan; the next commit records the union of its live
    files' footer schemas and the appended one."""
    tbl = _dropped_column_table(spark, tmp_path / "legacy")
    _rewrite_manifests(tbl, legacy)
    assert "table_schema" not in tbl.latest_manifest()
    assert_reads_match(spark, tbl)
    tbl.append(spark.createDataFrame([("u4", 4, 2.5)], "url string, a int, c double"))
    recorded = tbl.latest_manifest()["table_schema"]
    assert [f["name"] for f in json.loads(recorded)["fields"]] == ["url", "a", "b", "c"]
    assert_reads_match(spark, tbl)


def test_int_then_bigint_column_reads_widened(spark, tmp_path):  # noqa: F811
    """The audit case of a batch ``wall_ms int`` next to a streamed
    ``bigint``: the mergeSchema read refuses the table, the recorded table
    schema widens the column to bigint and reads every row."""
    tbl = SnapshotTable(tmp_path / "widen")
    tbl.append(spark.createDataFrame([("r1", 5)], "run_id string, wall_ms int"))
    tbl.append(spark.createDataFrame([("r2", 2**40)], "run_id string, wall_ms bigint"))
    with pytest.raises(Exception, match="CANNOT_MERGE"):
        frozen_read(tbl, spark).collect()
    got = tbl.read(spark)
    assert _types(got) == {"run_id": "string", "wall_ms": "bigint"}
    assert sorted(map(tuple, got.collect())) == [("r1", 5), ("r2", 2**40)]


def test_union_schemas_refuses_incompatible_types(spark):  # noqa: F811
    from pyspark.sql.types import StructType

    a = StructType.fromDDL(
        "url string, n int, s struct<x: int>, xs array<float>, m map<string, int>")
    b = StructType.fromDDL(
        "n bigint, s struct<x: int, y: string>, url string, xs array<double>, "
        "m map<string, bigint>")
    assert union_schemas(a, b).simpleString() == (
        "struct<url:string,n:bigint,s:struct<x:int,y:string>,xs:array<double>,"
        "m:map<string,bigint>>"
    )
    with pytest.raises(ValueError, match="'n'"):
        union_schemas(a, StructType.fromDDL("n string"))


def test_incompatible_append_is_refused(spark, tmp_path):  # noqa: F811
    """An append whose column type cannot join the table's is refused at
    commit; the table keeps reading."""
    tbl = SnapshotTable(tmp_path / "refuse")
    tbl.append(spark.createDataFrame([("u1", 1)], "url string, n int"))
    with pytest.raises(ValueError, match="cannot union"):
        tbl.append(spark.createDataFrame([("u2", "x")], "url string, n string"))
    assert [tuple(r) for r in tbl.read(spark).collect()] == [("u1", 1)]
