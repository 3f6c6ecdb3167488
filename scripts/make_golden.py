"""Generate committed golden parquet for the driver's correctness gate.

Runs the pure-Python oracle (kvcore + htmlcore — the same semantic core the
Spark stage executes, parity-tested against the exec'd reference in
tests/test_reference_parity.py) over the deterministic synthetic pages
(seed=42, N fixed) and writes:

    tests/golden/extract_golden.parquet   one row per url (scalars only)
    tests/golden/lines_golden.parquet     exploded (url, line_no, line)

__spark_entry__.oracle_sql() points DuckDB at these files, so the driver's
Spark-vs-oracle hash compare asserts per-url byte equality end to end.

Idempotent: rerun produces byte-identical files (deterministic generator +
oracle); CI/tests re-derive and compare.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from universal_key_value_based_text_processing_with_ocr_spark.operators.extract import (  # noqa: E402
    SAMPLE_CUSTOM_CONFIG,
    page_lines,
    parse_page_row,
    parse_page_row_blended,
    parse_page_row_boxorder,
    parse_page_row_with_config,
)
from universal_key_value_based_text_processing_with_ocr_spark.operators.fieldspans import (  # noqa: E402
    line_field_spans,
)
from universal_key_value_based_text_processing_with_ocr_spark.sources.synthdocs import (  # noqa: E402
    gen_page_row,
)

GOLDEN_SEED = 42
GOLDEN_N = 400
GOLDEN_DIR = REPO / "tests" / "golden"

EXTRACT_FIELDS = [
    ("url", pa.string()),
    ("lang", pa.string()),
    ("extracted_text", pa.string()),
    ("result_json", pa.string()),
    ("success", pa.bool_()),
    ("n_lines", pa.int32()),
    ("n_fields", pa.int32()),
]


CUSTOM_FIELDS = [
    ("url", pa.string()),
    ("result_json", pa.string()),
    ("success", pa.bool_()),
    ("n_fields", pa.int32()),
]


def build_tables():
    extract_rows = []
    line_rows = []
    span_rows = []
    custom_rows = []
    blended_rows = []
    boxorder_rows = []
    for doc_id in range(GOLDEN_N):
        row = gen_page_row(GOLDEN_SEED, doc_id)
        parsed = parse_page_row(row["url"], row["html"], row["text"], row["lang"])
        extract_rows.append({k: parsed[k] for k, _ in EXTRACT_FIELDS})
        custom_rows.append(
            parse_page_row_with_config(row["url"], row["html"], row["text"], SAMPLE_CUSTOM_CONFIG)
        )
        blended_rows.append(parse_page_row_blended(row["url"], row["html"], row["text"]))
        boxorder_rows.append(parse_page_row_boxorder(row["url"], row["html"], row["text"]))
        doc_lines, _ = page_lines(row["html"], row["text"])
        for i, ln in enumerate(doc_lines or ()):
            line_rows.append({"url": row["url"], "line_no": i, "line": ln})
            for field, ks, ke, vs, ve, value in line_field_spans(ln):
                span_rows.append(
                    {
                        "url": row["url"], "line_no": i, "field": field,
                        "key_start": ks, "key_end": ke,
                        "value_start": vs, "value_end": ve, "value": value,
                    }
                )

    extract_tbl = pa.Table.from_pylist(
        extract_rows, schema=pa.schema([pa.field(n, t) for n, t in EXTRACT_FIELDS])
    )
    lines_tbl = pa.Table.from_pylist(
        line_rows,
        schema=pa.schema(
            [pa.field("url", pa.string()), pa.field("line_no", pa.int32()), pa.field("line", pa.string())]
        ),
    )
    custom_tbl = pa.Table.from_pylist(
        custom_rows, schema=pa.schema([pa.field(n, t) for n, t in CUSTOM_FIELDS])
    )
    blended_tbl = pa.Table.from_pylist(
        blended_rows, schema=pa.schema([pa.field(n, t) for n, t in CUSTOM_FIELDS])
    )
    boxorder_tbl = pa.Table.from_pylist(
        boxorder_rows, schema=pa.schema([pa.field(n, t) for n, t in CUSTOM_FIELDS])
    )
    spans_tbl = pa.Table.from_pylist(
        span_rows,
        schema=pa.schema(
            [
                pa.field("url", pa.string()),
                pa.field("line_no", pa.int32()),
                pa.field("field", pa.string()),
                pa.field("key_start", pa.int32()),
                pa.field("key_end", pa.int32()),
                pa.field("value_start", pa.int32()),
                pa.field("value_end", pa.int32()),
                pa.field("value", pa.string()),
            ]
        ),
    )
    return extract_tbl, lines_tbl, custom_tbl, blended_tbl, boxorder_tbl, spans_tbl


def main() -> None:
    GOLDEN_DIR.mkdir(parents=True, exist_ok=True)
    (
        extract_tbl, lines_tbl, custom_tbl, blended_tbl, boxorder_tbl, spans_tbl
    ) = build_tables()
    pq.write_table(extract_tbl, GOLDEN_DIR / "extract_golden.parquet")
    pq.write_table(lines_tbl, GOLDEN_DIR / "lines_golden.parquet")
    pq.write_table(custom_tbl, GOLDEN_DIR / "custom_golden.parquet")
    pq.write_table(blended_tbl, GOLDEN_DIR / "blended_golden.parquet")
    pq.write_table(boxorder_tbl, GOLDEN_DIR / "boxorder_golden.parquet")
    pq.write_table(spans_tbl, GOLDEN_DIR / "spans_golden.parquet")
    print(
        f"wrote {extract_tbl.num_rows} extract rows, {lines_tbl.num_rows} line rows, "
        f"{custom_tbl.num_rows} custom rows, {blended_tbl.num_rows} blended rows, "
        f"{boxorder_tbl.num_rows} boxorder rows -> {GOLDEN_DIR}"
    )


if __name__ == "__main__":
    main()
