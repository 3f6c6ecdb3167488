"""Row independence of the extraction stage.

The sweep builds a line index per document and keeps per-worker caches
(split, projection, edit distance).  Neither may carry state from one row
into another: a page's output bytes must not depend on the Arrow batch
size, on the partitioning, or on which pages the same process parsed
before it.
"""

from __future__ import annotations

import json

import pandas as pd

from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401
from universal_key_value_based_text_processing_with_ocr_spark.operators.extract import (
    extract_pages,
    parse_page_row,
)
from universal_key_value_based_text_processing_with_ocr_spark.sources import PAGES_SCHEMA
from universal_key_value_based_text_processing_with_ocr_spark.sources.synthdocs import gen_page_row

_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"

# A page whose lines hit every ``wo_space`` spec (joined and spaced keys,
# repeated), the specs that grow their key lists while a document is swept.
WO_SPACE_PAGE = dict(
    gen_page_row(17, 0),
    url="https://example.test/wo-space",
    html=None,
    lang="ind",
    text="\n".join(
        ["PROVINSI JAWA BARAT", "NIK : 3201150107990001"]
        + ["TempatTglLahir : JAKARTA, 01-02-1990", "Tempat Tgl Lahir : BOGOR, 02-03-1991",
           "JenisKelamin : LAKI-LAKI GolDarah : O", "Jenis kelamin : PEREMPUAN Gol darah : A",
           "RTRW : 001/002", "RT/RW : 003/004",
           "BerlakuHingga : SEUMUR HIDUP", "Berlaku Hingga : 01-01-2030"] * 3
    ),
)


def _rows(df) -> list:
    return sorted(tuple(r) for r in extract_pages(df).collect())


def test_output_bytes_independent_of_batch_size_and_partitions(spark):  # noqa: F811
    pdf = pd.DataFrame([gen_page_row(17, i) for i in range(48)] + [WO_SPACE_PAGE])
    df = spark.createDataFrame(pdf, schema=PAGES_SCHEMA)
    before = spark.conf.get(_BATCH)
    try:
        spark.conf.set(_BATCH, "1")
        one_per_batch = _rows(df.repartition(4, "url"))
        spark.conf.set(_BATCH, "512")
        whole_batches = _rows(df.repartition(4, "url"))
        one_partition = _rows(df.coalesce(1))
    finally:
        spark.conf.set(_BATCH, before)
    assert one_per_batch == whole_batches
    assert one_partition == whole_batches
    assert len(whole_batches) == 49


def test_page_bytes_independent_of_the_page_parsed_before():
    pages = [gen_page_row(23, i) for i in range(16)] + [WO_SPACE_PAGE]

    def parse(page) -> str:
        return json.dumps(
            parse_page_row(page["url"], page["html"], page["text"], page["lang"]),
            default=str,
        )

    alone = [parse(p) for p in pages]
    for i, page in enumerate(pages):
        for other in (pages[(i + 1) % len(pages)], pages[(i + 5) % len(pages)]):
            parse(other)
            assert parse(page) == alone[i], page["url"]
            assert parse(other) == alone[pages.index(other)]
