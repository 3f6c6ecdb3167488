"""Incremental (streaming) execution of the same logical plans.

The reference is strictly batch (SURVEY.md §2j); the engine's
streaming-like requirement is checkpoint/resume (lakehouse layer).  This
module additionally drives plans as genuine Structured Streaming queries —
the idiomatic extension noted in SURVEY §2j: ``readStream`` over the
source files with ``Trigger.AvailableNow`` semantics (drain everything,
then stop), so the identical plan serves both batch backfill and
incremental tailing on a real cluster.  The extraction job runs the batch
job itself on each micro-batch; the windowed aggregation applies the batch
operator to the streaming frame; the streamed sketches merge per-epoch
batch sketches.
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
    **job_kwargs,
) -> dict:
    """Incremental extraction: stream the pages directory (AvailableNow,
    up to 4 files per epoch) and run ``plans.run_extraction_job`` on each
    micro-batch via foreachBatch, as run ``<run_id>-e<epoch>``.

    The stream owns only its input and its progress: ``pages_dir`` is read
    with the batch CLI's input contract (``PAGES_SCHEMA``, extra columns
    ignored) and ``checkpoint_dir`` records which files each epoch
    consumed.  Everything else (``num_partitions``, ``configs``,
    ``parser``, ``debug_path``, ``dedup_content``, ``spans_path``) goes
    unchanged to the batch job, so an epoch is a batch run: the same
    resume anti-join, salted partitions, fused stage, content dedup,
    fingerprint side-table, span and debug tables, commit and audit.

    Exactly-once story: the batch job's url anti-join makes a replayed
    epoch (a crash between the sink commit and the checkpoint commit, or
    a restart without a checkpoint) commit nothing.  Returns the number
    of epochs that committed rows and the results table's snapshot id.

    The batch job's argument checks run before the stream starts, so a
    bad option raises ``ValueError`` even when no epoch would run."""
    from ..lakehouse import SnapshotTable
    from ..plans import run_extraction_job
    from ..plans.pipeline import check_job_options
    from ..sources import PAGES_SCHEMA

    check_job_options(**job_kwargs)
    stream = (
        spark.readStream.schema(PAGES_SCHEMA).option("maxFilesPerTrigger", "4").parquet(pages_dir)
    )
    epochs: list[int] = []

    def commit_batch(batch_df: DataFrame, epoch_id: int) -> None:
        info = run_extraction_job(
            batch_df.sparkSession, batch_df, results_path, audit_path=audit_path,
            run_id=f"{run_id}-e{epoch_id}", **job_kwargs,
        )
        if not info["resumed"]:
            epochs.append(epoch_id)

    writer = stream.writeStream.foreachBatch(commit_batch).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    writer.start().awaitTermination()
    return {"run_id": run_id, "n_epochs": len(epochs),
            "snapshot_id": SnapshotTable(results_path).snapshot_id()}


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


def _sketch_per_epoch(stream: DataFrame, staging, sketch) -> DataFrame:
    """Drain ``stream`` (AvailableNow), write ``sketch(batch_df)`` of each
    epoch to its own ``<staging>/epochs/epoch=<id>`` directory and return
    every epoch's rows read back (with an ``epoch`` column) for the
    caller's merge — the shared epoch loop of the streamed-sketch twins.

    Epoch commits are IDEMPOTENT: an epoch overwrites its own directory, so
    an at-least-once foreachBatch replay (driver restart after the parquet
    write but before the offset commit) rewrites the same rows instead of
    adding them to a SUM merge a second time; a MAX merge is replay-safe by
    algebra, but both keep one write contract.  Mergeability means no
    read-modify-write of the accumulated state is ever needed."""
    out = str(staging / "epochs")

    def commit_batch(batch_df: DataFrame, epoch_id: int) -> None:
        sketch(batch_df).write.mode("overwrite").parquet(f"{out}/epoch={int(epoch_id)}")

    (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", str(staging / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return stream.sparkSession.read.parquet(out)


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
    A replayed epoch overwrites its own cells (``_sketch_per_epoch``)."""
    from ..operators import textstats

    docs, stream, staging = _staged_micro_batches(
        spark, docs_path, batches, "ukv_cms_stream_"
    )
    merged = (
        _sketch_per_epoch(
            stream, staging, lambda b: textstats.cms_sketch(b, rows=rows, m=m)
        )
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
    each epoch writes its batch's (bucket, register) rows, and the final
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

    def _shingle_terms(df: DataFrame) -> DataFrame:
        return dedup.char_shingles(df, n=10).select(F.col("shingle").alias("term"))

    merged = (
        _sketch_per_epoch(
            stream, staging, lambda b: textstats.hll_sketch(_shingle_terms(b), p=p)
        )
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
    histogram (overwritten on replay, the guard a SUM merge needs), the
    final histogram is the cell-wise SUM across epochs, and percentiles
    come from ``relational.grouped_percentile_from_hist`` — the identical
    cum/total rule the batch path (``corpus_datasheet``) uses, so the
    streamed result is bit-equal to a one-pass computation and the oracle
    replays it directly.
    -> (lang, p50_chars, p90_chars)
    """
    from ..operators import textstats
    from ..operators.relational import grouped_percentile_from_hist

    _, stream, staging = _staged_micro_batches(
        spark, docs_path, batches, "ukv_lq_stream_", cols=("doc_id", "text", "lang")
    )
    merged = (
        _sketch_per_epoch(stream, staging, textstats.length_histogram)
        .groupBy("lang", "len")
        .agg(F.sum("cnt").alias("cnt"))
    )
    pcts = grouped_percentile_from_hist(
        merged, "len", "lang", cnt_col="cnt", percentiles=percentiles
    )
    for q_ in percentiles:
        pcts = pcts.withColumnRenamed(f"p{q_}", f"p{q_}_chars")
    return pcts
