"""Frozen reference copy of the batch job's audit code before it became
one Spark plan (``plans.pipeline.audit_frame``): one per-partition
aggregation collected as local rows, the 'write' row summed in Python,
the rows re-created with ``spark.createDataFrame`` and appended through
``repartition(1)``.  Kept verbatim (only wrapped in a function) so
``tests/test_audit_frame.py`` can compare the two on the same committed
batch.  Do not optimise this file."""

from pyspark.sql import functions as F


def frozen_audit_append(spark, batch, audit_tbl, run_id, snapshot_id, wall_ms):
    if audit_tbl is not None:
        bytes_in = (
            F.sum("n_bytes")
            if "n_bytes" in batch.columns
            else F.sum(F.lit(None).cast("long"))  # compact-schema parsers
        )
        # ONE aggregation job over the just-written batch (columnar scan of
        # three narrow columns), collected driver-side — the result is at
        # most num_partitions rows, so the 'write' rollup and the audit
        # rows are built locally and written as a local DataFrame.  The
        # previous unionByName-of-two-aggregations shape re-ran the
        # per-partition agg inside the audit write job (no cache), costing
        # a second pass for a <=num_partitions-row table.
        per_partition = (
            batch.groupBy("partition_id")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.col("success").cast("long")).alias("n_success"),
                bytes_in.alias("bytes_in"),
            )
            .collect()
        )

        def _audit_row(stage, partition_id, n_docs, n_success, b_in):
            return (
                run_id, stage, partition_id, n_docs, n_success, b_in,
                wall_ms, snapshot_id,
            )

        # Lineage rows for both pipeline stages (the fused stage does
        # html_parse+extract together; 'write' records the commit).
        rows = [
            _audit_row("extract", r["partition_id"], r["n_docs"], r["n_success"], r["bytes_in"])
            for r in per_partition
        ]
        none_sum = lambda vals: (  # noqa: E731 — sum() turns all-NULL into 0
            None if all(v is None for v in vals) else sum(v for v in vals if v is not None)
        )
        rows.append(
            _audit_row(
                "write",
                -1,
                sum(r["n_docs"] for r in per_partition),
                none_sum([r["n_success"] for r in per_partition]),
                none_sum([r["bytes_in"] for r in per_partition]),
            )
        )
        audit = spark.createDataFrame(
            rows,
            schema=(
                # exactly the schema the previous select-based path wrote
                # (lit(int) -> IntegerType for wall_ms), so appends to
                # pre-existing audit tables stay schema-identical
                "run_id string, stage string, partition_id int, n_docs long, "
                "n_success long, bytes_in long, wall_ms int, snapshot_id string"
            ),
        ).repartition(1)
        # one data file for <=num_partitions+1 rows.  repartition, NOT
        # coalesce: coalesce(1) over a Python-parallelized local relation
        # funnels every source sub-partition through ONE serial Python
        # deserializer task (+4s flat, measured); repartition's narrow map
        # side stays parallel and the single reducer is trivial.
        audit_tbl.append(audit, summary={"run_id": run_id, "stage": "extract+write"})
