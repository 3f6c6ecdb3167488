"""Frozen reference copy of ``SnapshotTable.read`` before manifests
recorded the table schema: every scan merged the files' parquet footers
(``mergeSchema``), a Spark job per read.  Kept verbatim (only wrapped in a
function, ``self`` renamed ``tbl``) so ``tests/test_snapshot_read_schema.py``
can compare the two reads on the same tables.  Do not optimise this file."""

import json

from pyspark.sql import DataFrame, SparkSession


def frozen_read(
    tbl,
    spark: SparkSession,
    snapshot_id: str | None = None,
    between: tuple | None = None,
    column: str | None = None,
) -> DataFrame:
    manifest = tbl._resolve_manifest(snapshot_id)
    files, _opened, _total, file_seq = tbl._plan_files(manifest, between, column)
    if not files:
        from pyspark.sql.types import StructType

        return spark.createDataFrame([], StructType.fromJson(json.loads(manifest["schema"])))

    def scan(rels):
        # mergeSchema: snapshots may carry evolved (widened) schemas;
        # union-by-name semantics match Iceberg's add-column evolution.
        return spark.read.option("mergeSchema", "true").parquet(
            *(str(tbl.path / f) for f in rels)
        )

    deletes = manifest.get("delete_files", [])
    if not deletes:
        return scan(files)
    # Equality deletes (Iceberg v2 merge-on-read): a delete hides rows
    # only in data chunks OLDER than itself, so files group by WHICH
    # deletes apply (at most one group per distinct delete sequence +
    # one for post-delete data — typically two between compactions).
    # Delete key sets are small next to the data; each anti-join
    # broadcasts them.
    from pyspark.sql import functions as F

    groups: dict = {}
    for rel in files:
        applicable = tuple(
            d["path"] for d in deletes if d["seq"] > file_seq.get(rel, 0)
        )
        groups.setdefault(applicable, []).append(rel)
    parts = []
    for applicable, rels in sorted(groups.items()):
        part = scan(rels)
        if applicable:
            key = deletes[0]["key"]
            dkeys = spark.read.parquet(
                *(str(tbl.path / p) for p in applicable)
            ).select(key).distinct()
            part = part.join(F.broadcast(dkeys), key, "left_anti")
        parts.append(part)
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part, allowMissingColumns=True)
    return out
