"""Bit-parity of the Arrow char_shingles stage vs the JVM expression form
it replaced (array_distinct(transform(sequence, substring)) + explode):
same per-doc distinct set, same first-occurrence order, code-point
slicing, length gate, NULL skip, extra-column carry."""

from pyspark.sql import functions as F

from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401
from universal_key_value_based_text_processing_with_ocr_spark.operators import dedup
from universal_key_value_based_text_processing_with_ocr_spark.operators.dedup import (
    char_shingles,
)


def _expr_form(docs, n, extra_cols=()):
    shingle_array = F.expr(
        f"array_distinct(transform(sequence(1, length(text) - {n - 1}),"
        f" i -> substring(text, i, {n})))"
    )
    return docs.filter(F.length("text") >= n).select(
        "doc_id", *extra_cols, F.explode(shingle_array).alias("shingle")
    )


TEXTS = [
    (0, "abcdefghij"),                      # exactly n
    (1, "abcdefghi"),                       # n-1 -> dropped
    (2, None),                              # NULL -> dropped
    (3, "aaaaaaaaaaaaaaa"),                 # one distinct shingle
    (4, "abcabcabcabcabcabc"),              # period-3 repeats
    (5, "héllo wörld — ünïcode ¶ text"),    # multibyte code points
    (6, "x" * 9 + "y" + "x" * 9),           # near-duplicate windows
    (7, "The quick brown fox jumps over the lazy dog 0123456789"),
    (8, ""),                                # empty -> dropped
]


def test_arrow_shingles_match_expression_form(spark):  # noqa: F811
    docs = spark.createDataFrame(TEXTS, schema="doc_id long, text string")
    for n in (3, 10):
        got = [
            (r.doc_id, r.shingle) for r in char_shingles(docs, n).collect()
        ]
        exp = [
            (r.doc_id, r.shingle) for r in _expr_form(docs, n).collect()
        ]
        # same multiset AND same per-doc first-occurrence order
        assert sorted(got) == sorted(exp)
        by_doc_got: dict = {}
        by_doc_exp: dict = {}
        for d, s in got:
            by_doc_got.setdefault(d, []).append(s)
        for d, s in exp:
            by_doc_exp.setdefault(d, []).append(s)
        assert by_doc_got == by_doc_exp


def test_arrow_shingles_carry_extra_cols(spark):  # noqa: F811
    rows = [(i, t, f"lang{i % 2}") for i, t in TEXTS]
    docs = spark.createDataFrame(rows, schema="doc_id long, text string, lang string")
    got = sorted(
        (r.doc_id, r.lang, r.shingle)
        for r in char_shingles(docs, 5, extra_cols=("lang",)).collect()
    )
    exp = sorted(
        (r.doc_id, r.lang, r.shingle)
        for r in _expr_form(docs, 5, extra_cols=("lang",)).collect()
    )
    assert got == exp and len(got) > 0


def test_char_shingles_flush_bound(spark, monkeypatch):  # noqa: F811
    """Long documents must stream through the bounded flush (multiple
    yields per Arrow batch, forced via a tiny SHINGLE_FLUSH_ROWS) with
    output identical to the expression form."""
    monkeypatch.setattr(dedup, "SHINGLE_FLUSH_ROWS", 500)
    text = "".join(chr(97 + (i * 7 + i // 26) % 26) for i in range(3000))
    rows = [(i, text[i % 7 :]) for i in range(20)]  # ~60k shingles total
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    got = sorted((r.doc_id, r.shingle) for r in char_shingles(df, 10).collect())
    exp = sorted((r.doc_id, r.shingle) for r in _expr_form(df, 10).collect())
    assert got == exp
