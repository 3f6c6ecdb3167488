"""Incremental (streaming) execution of the same logical plans.

The reference is strictly batch (SURVEY.md §2j); the engine's
streaming-like requirement is checkpoint/resume (lakehouse layer).  This
module additionally drives the windowed-aggregation plan as a genuine
Structured Streaming query — the idiomatic extension noted in SURVEY §2j:
``readStream`` over the source files with ``Trigger.AvailableNow``
semantics (drain everything, then stop), so the identical plan serves both
batch backfill and incremental tailing on a real cluster.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F



def streamed_events_window_agg(spark: SparkSession, events_path: str) -> DataFrame:
    """Run the 5-minute window aggregation as a streaming query over the
    events parquet and return the final (complete-mode) result as a
    DataFrame.  Deterministic: the stream drains all available input."""
    schema = spark.read.parquet(events_path).schema
    # FileStreamSource requires a directory: stream the parent dir with a
    # glob filter pinned to this table's file(s).
    from pathlib import Path

    parent = str(Path(events_path).parent)
    fname = Path(events_path).name
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", fname)
        .parquet(parent)
    )
    # literally the BATCH operator applied to the streaming frame — one
    # definition of the plan, so bucket width / decimal scale / formatting
    # can never desynchronise between the twins (review finding: the body
    # was previously copy-pasted here)
    from ..operators.relational import events_window_agg

    agg = events_window_agg(stream)
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def streamed_extraction_job(
    spark: SparkSession,
    pages_dir: str,
    results_path: str,
    audit_path: str | None = None,
    checkpoint_dir: str | None = None,
    run_id: str = "stream",
    dedup_content: bool = False,
    fp_path: str | None = None,
) -> dict:
    """Incremental extraction: stream the pages directory (AvailableNow) and
    commit each micro-batch to the lakehouse results table via foreachBatch.

    Exactly-once story: Structured Streaming's checkpoint records which
    input files each epoch consumed; inside foreachBatch the engine ALSO
    anti-joins committed urls (the lakehouse resume predicate), so replayed
    epochs after a crash between sink-commit and checkpoint-commit are
    idempotent.  This is the streaming twin of plans.run_extraction_job —
    same fused stage, same tables.

    ``dedup_content=True`` additionally drops documents whose EXTRACTED
    TEXT already exists in the committed table (mirror pages under new
    urls — the url anti-join cannot catch them): the committed corpus is
    probed through the Bloom sketch (``operators.dedup``), so the committed
    text is never reshuffled and only sketch candidates pay the exact
    fingerprint join; within-batch content dups keep the lowest url.
    First-writer-wins across epochs by construction (the sketch is built
    from the table state BEFORE the epoch's append).

    Like the batch twin, the job maintains the fingerprint side-table
    (``fp_path``, default ``<results_path>_fps``) when deduping: each
    epoch's dedup probes the fp table (16-byte fps, committed text never
    scanned) and appends the epoch's distinct fps after its results
    commit.
    """
    from ..lakehouse import SnapshotTable
    from ..operators.dedup import drop_content_duplicates, fps_of
    from ..operators.extract import extract_pages
    from ..plans.pipeline import append_audit, ensure_committed_fps
    from ..sources import PAGES_SCHEMA
    from pyspark.sql import functions as F

    results_tbl = SnapshotTable(results_path)
    audit_tbl = SnapshotTable(audit_path) if audit_path else None
    fp_tbl = SnapshotTable(fp_path or f"{results_path}_fps") if dedup_content else None
    # the batch CLI's input contract: PAGES_SCHEMA, extra columns ignored
    stream = (
        spark.readStream.schema(PAGES_SCHEMA).option("maxFilesPerTrigger", "4").parquet(pages_dir)
    )
    epochs: list[int] = []

    def commit_batch(batch_df, epoch_id: int) -> None:
        pages = batch_df
        committed = None
        if results_tbl.exists():
            committed = results_tbl.read(batch_df.sparkSession)
            pages = pages.join(committed.select("url"), "url", "left_anti")
        results = extract_pages(pages).withColumn("partition_id", F.spark_partition_id())
        if dedup_content:
            committed_fps = ensure_committed_fps(
                batch_df.sparkSession, fp_tbl, committed, run_id
            )
            results = drop_content_duplicates(results, committed_fps=committed_fps)
        results.persist()
        try:
            n = results.count()
            if n == 0:
                return
            # partition_id commits WITH the rows (same schema as the batch
            # job's writer — both producers of this table must agree, or
            # streamed rows read back with NULL lineage under mergeSchema).
            snapshot_id = results_tbl.append(
                results,
                summary={"run_id": run_id, "epoch": epoch_id, "n_docs": n},
            )
            if fp_tbl is not None:
                # fp rows commit AFTER the epoch's results snapshot —
                # crash window leaks a future mirror, never drops a doc
                fp_tbl.append(
                    fps_of(results, "extracted_text"),
                    summary={"run_id": run_id, "epoch": epoch_id,
                             "results_snapshot_id": snapshot_id},
                )
            if audit_tbl is not None:
                # wall_ms 0: epochs record no wall time
                append_audit(
                    audit_tbl, results, f"{run_id}-e{epoch_id}", snapshot_id, 0,
                    summary={"run_id": run_id, "epoch": epoch_id},
                )
            epochs.append(epoch_id)
        finally:
            results.unpersist()

    writer = stream.writeStream.foreachBatch(commit_batch).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()
    return {"run_id": run_id, "n_epochs": len(epochs), "snapshot_id": results_tbl.snapshot_id()}


def _staged_micro_batches(
    spark: SparkSession,
    docs_path: str,
    batches: int,
    prefix: str,
    cols: tuple = ("doc_id", "text"),
):
    """Stage the corpus as ``batches`` single-file slices and open an
    AvailableNow + maxFilesPerTrigger=1 stream over them — the shared
    scaffolding of the streamed-sketch twins (one copy, so a staging fix
    cannot drift between them).

    Rows with a NULL ``doc_id`` route to slice 0 (``coalesce``):
    ``pmod(NULL, n) == k`` is NULL for every k, so without the coalesce a
    NULL-keyed row would land in NO slice and silently vanish from the
    streamed sketch while the batch twin (and the shared oracle) counts
    it.  Returns (docs, stream, staging_dir)."""
    import tempfile
    from pathlib import Path

    staging = Path(tempfile.mkdtemp(prefix=prefix))
    docs = spark.read.parquet(docs_path).select(*cols)
    slice_key = F.pmod(F.coalesce(F.col("doc_id"), F.lit(0)), F.lit(batches))
    for k in range(batches):
        docs.where(slice_key == k).coalesce(1).write.mode("overwrite").parquet(
            str(staging / "in" / f"b{k}")
        )
    # flatten the per-slice dirs into one source dir of single files
    src = staging / "src"
    src.mkdir()
    for k, p in enumerate(sorted((staging / "in").rglob("*.parquet"))):
        p.rename(src / f"batch-{k}.parquet")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    return docs, stream, staging


def streamed_heavy_hitters(
    spark: SparkSession,
    docs_path: str,
    rows: int = 4,
    m: int = 1024,
    top: int = 50,
    batches: int = 4,
) -> DataFrame:
    """Count-min sketch built INCREMENTALLY over micro-batches, then
    probed: the corpus is staged as ``batches`` files so AvailableNow +
    maxFilesPerTrigger=1 delivers genuine multiple epochs; each epoch
    writes its batch's (row, bucket, cnt) cells, and the final sketch is
    the cell-wise SUM across epochs — the CMS merge property made
    operational.  The batch twin (``textstats.token_cms_heavy_hitters``)
    computes the identical sketch in one pass, so the streamed result is
    bit-equal to the batch result and shares its oracle: a merge bug
    (double count, dropped epoch, wrong cell key) fails the value hash.

    Epoch commits are IDEMPOTENT: each epoch overwrites its own
    ``epoch=<id>`` partition directory, so an at-least-once foreachBatch
    replay (driver restart after the parquet write but before the offset
    commit) rewrites the same cells instead of double-counting them into
    the SUM merge — the CMS needs this guard where the HLL twin's MAX
    merge is replay-safe by algebra."""
    from ..operators import textstats

    docs, stream, staging = _staged_micro_batches(
        spark, docs_path, batches, "ukv_cms_stream_"
    )
    cells_dir = str(staging / "cells")

    def commit_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # one epoch = one batch sketch in its OWN epoch-keyed partition,
        # overwritten on replay; mergeability means no read-modify-write
        # of the accumulated state is ever needed
        textstats.cms_sketch(batch_df, rows=rows, m=m).write.mode(
            "overwrite"
        ).parquet(f"{cells_dir}/epoch={int(epoch_id)}")

    q = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", str(staging / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    merged = (
        spark.read.parquet(cells_dir)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return textstats.cms_probe_top(docs, merged, rows=rows, m=m, top=top)


def streamed_cardinality_hll(
    spark: SparkSession,
    docs_path: str,
    p: int = 8,
    batches: int = 4,
) -> DataFrame:
    """HyperLogLog register table built INCREMENTALLY over micro-batches,
    then estimated: the corpus is staged as ``batches`` files so
    AvailableNow + maxFilesPerTrigger=1 delivers genuine multiple epochs;
    each epoch appends its batch's (bucket, register) rows, and the final
    sketch is the cell-wise MAX across epochs — the HLL merge property
    made operational (max is idempotent, so unlike the CMS a REPLAYED
    epoch cannot even corrupt the sketch).  The batch twin
    (``textstats.hll_cardinality`` over the same shingle stream) computes
    the identical registers in one pass, so the streamed result is
    bit-equal to the batch result and shares its oracle: a merge bug
    (dropped epoch, wrong cell key, sum-instead-of-max) fails the hash."""
    from ..operators import dedup, textstats

    docs, stream, staging = _staged_micro_batches(
        spark, docs_path, batches, "ukv_hll_stream_"
    )
    regs_dir = str(staging / "regs")

    def _shingle_terms(df: DataFrame) -> DataFrame:
        return dedup.char_shingles(df, n=10).select(F.col("shingle").alias("term"))

    def commit_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # one epoch = one batch register table in its own epoch-keyed
        # partition (same idempotent layout as the CMS twin — MAX merge
        # wouldn't strictly need it, but one write contract for both);
        # mergeability means no read-modify-write of accumulated state
        textstats.hll_sketch(_shingle_terms(batch_df), p=p).write.mode(
            "overwrite"
        ).parquet(f"{regs_dir}/epoch={int(epoch_id)}")

    q = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", str(staging / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    merged = (
        spark.read.parquet(regs_dir)
        .groupBy("bucket")
        .agg(F.max("register").alias("register"))
    )
    return textstats.hll_estimate(merged, _shingle_terms(docs), p=p)


def streamed_length_quantiles(
    spark: SparkSession,
    docs_path: str,
    batches: int = 4,
    percentiles: tuple = (50, 90),
) -> DataFrame:
    """EXACT per-language length percentiles built INCREMENTALLY over
    micro-batches — the sketch-free member of the streamed-twin family:
    the distinct-length histogram ``(lang, len, cnt)`` is a mergeable
    carrier (cell-wise SUM, same algebra as the CMS), so exact quantiles
    stream without any approximation.  Each epoch writes its batch's
    histogram into its OWN epoch-keyed partition (overwritten on replay —
    the SUM merge needs the same idempotent-commit guard as the CMS; a
    MAX-merge sketch would not), the final histogram is the cell-wise SUM
    across epochs, and percentiles come from
    ``relational.grouped_percentile_from_hist`` — the identical cum/total
    rule the batch path (``corpus_datasheet``) uses, so the streamed
    result is bit-equal to a one-pass computation and the oracle replays
    it directly.
    -> (lang, p50_chars, p90_chars)
    """
    from ..operators import textstats
    from ..operators.relational import grouped_percentile_from_hist

    docs, stream, staging = _staged_micro_batches(
        spark, docs_path, batches, "ukv_lq_stream_", cols=("doc_id", "text", "lang")
    )
    hist_dir = str(staging / "hist")

    def commit_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # one epoch = one batch histogram in its own epoch-keyed partition,
        # overwritten on replay (at-least-once foreachBatch + SUM merge)
        textstats.length_histogram(batch_df).write.mode("overwrite").parquet(
            f"{hist_dir}/epoch={int(epoch_id)}"
        )

    q = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", str(staging / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    merged = (
        spark.read.parquet(hist_dir)
        .groupBy("lang", "len")
        .agg(F.sum("cnt").alias("cnt"))
    )
    pcts = grouped_percentile_from_hist(
        merged, "len", "lang", cnt_col="cnt", percentiles=percentiles
    )
    renames = {f"p{q_}": f"p{q_}_chars" for q_ in percentiles}
    out = pcts
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    return out
