"""spark-submit entry point for the extraction job.

Usage (north_star: runs via spark-submit --py-files on a cluster):

    spark-submit --py-files ukv.zip -m ... OR simply
    python -m universal_key_value_based_text_processing_with_ocr_spark \\
        --input  /path/to/pages_parquet \\
        --results /path/to/results_table \\
        [--audit /path/to/audit_table] \\
        [--partitions N] [--run-id RUN] [--parser sweep|blended|boxorder] \\
        [--debug DIR] [--dedup-content] [--spans DIR] \\
        [--streaming [--checkpoint DIR]]

Reads the pages table, runs (or RESUMES — committed urls are skipped
automatically) the fused extraction pipeline and commits results +
per-partition audit lineage to snapshot tables.  ``--streaming`` reads
the pages directory as a Structured Streaming source instead and runs the
same job, with the same options, on each micro-batch.

Input contract: the pages parquet is read with ``sources.PAGES_SCHEMA``
(``url string, warc_ts timestamp, html binary, text string, lang
string``), not with a schema inferred from the files.  Extra columns are
ignored, and a missing column reads as NULL, so a text-only table (no
``html``) extracts from ``text``.  A tz-naive ``warc_ts`` reads as
that wall-clock time in UTC.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="universal_key_value_based_text_processing_with_ocr_spark",
        description="PySpark universal key-value extraction over web pages",
    )
    parser.add_argument("--input", required=True, help="pages parquet path/dir")
    parser.add_argument("--results", required=True, help="results snapshot-table dir")
    parser.add_argument("--audit", default=None, help="audit snapshot-table dir")
    parser.add_argument("--partitions", type=int, default=None)
    parser.add_argument("--run-id", default=None)
    parser.add_argument(
        "--parser",
        default="sweep",
        choices=["sweep", "blended", "boxorder"],
        help="parse strategy: line sweep (default), blended (+NIK re-scan), "
        "or block-order (geometry-analog)",
    )
    parser.add_argument(
        "--debug",
        default=None,
        metavar="DIR",
        help="write per-url debug artifacts for FAILED extractions to this "
        "snapshot-table dir (blocks + densitometry + errors)",
    )
    parser.add_argument(
        "--streaming",
        action="store_true",
        help="run the job on each micro-batch of a Structured Streaming "
        "read of --input (AvailableNow)",
    )
    parser.add_argument("--checkpoint", default=None, help="streaming checkpoint dir")
    parser.add_argument(
        "--dedup-content",
        action="store_true",
        help="drop mirror documents (same extracted text, different url) "
        "against the committed table via the Bloom sketch; sweep parser only",
    )
    parser.add_argument(
        "--spans",
        default=None,
        help="also commit labeled field spans per url (the north-star span "
        "output) to this snapshot-table dir; sweep parser only",
    )
    args = parser.parse_args(argv)
    job = dict(
        audit_path=args.audit,
        num_partitions=args.partitions,
        debug_path=args.debug,
        parser=args.parser,
        dedup_content=args.dedup_content,
        spans_path=args.spans,
    )
    from .plans.pipeline import check_job_options

    try:
        check_job_options(**job)
    except ValueError as exc:
        parser.error(str(exc))

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("ukv-extract")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .getOrCreate()
    )
    from .ship import ship_package

    ship_package(spark)

    if args.streaming:
        from .streaming import streamed_extraction_job

        info = streamed_extraction_job(
            spark, args.input, args.results, checkpoint_dir=args.checkpoint,
            run_id=args.run_id or "stream", **job,
        )
    else:
        from .plans import run_extraction_job
        from .sources import PAGES_SCHEMA

        pages = spark.read.schema(PAGES_SCHEMA).parquet(args.input)
        info = run_extraction_job(spark, pages, args.results, run_id=args.run_id, **job)
    print(json.dumps(info))
    return 0


if __name__ == "__main__":
    sys.exit(main())
