"""universal_key_value_based_text_processing_with_ocr_spark.

A from-scratch PySpark-native universal key-value text-extraction engine,
re-expressing the query/data-processing capabilities of the reference repo
``KevinAS28/Universal-Key-Value-Based-Text-Processing-with-OCR`` (read-only at
``/root/reference``) over Common-Crawl-style web-page tables:

    (url string, warc_ts timestamp, html binary, text string, lang string)

Layers
------
``kvcore``     pure-Python semantic core (no Spark import): tokenisation with
               char offsets, Levenshtein/accuracy, typo repair, the sliding
               key<->token-window matcher, value association, field
               evaluators, and the per-document extraction sweep.  This is
               simultaneously the correctness oracle and the payload executed
               inside vectorised pandas UDFs.
``htmlcore``   payload decode: bytes -> DOM blocks -> boilerplate strip ->
               ordered main-content lines (text-density + link-density).
``operators``  Spark DataFrame operators: the extraction pipeline
               (mapInPandas stages), dedup family, text analysis, and
               still-image codecs that only their tests reach.
``sources``    pages-table reader + deterministic synthetic pages generator.
``lakehouse``  Iceberg-shaped snapshot/commit/resume layer over Parquet.
``plans``      pipeline assembly, partitioning & salting policy.
``streaming``  incremental (AvailableNow-style) drive of the same pipeline.
"""

__version__ = "0.1.0"

# Public API surface (lazy imports keep `import ukv...` Spark-free until a
# Spark-backed symbol is touched).


def __getattr__(name):
    if name in ("extract_pages", "extract_pages_with_config", "html_to_lines"):
        from .operators import extract as _m

        return getattr(_m, name)
    if name == "run_extraction_job":
        from .plans import run_extraction_job as _f

        return _f
    if name == "SnapshotTable":
        from .lakehouse import SnapshotTable as _c

        return _c
    if name == "parse_document":
        from .kvcore.ktpspec import parse_document as _f

        return _f
    if name == "parse_document_with_config":
        from .kvcore.config import parse_document_with_config as _f

        return _f
    raise AttributeError(name)
