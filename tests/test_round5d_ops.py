"""Round-5 session-14 operators: Luhn-validated card redaction (known
ISO/IEC 7812 test numbers + a pure-Python reference replication),
per-line language ID / code-switch stats (hand-derived fixtures),
and fuzzy MinHash decontamination (identical / near-dup / disjoint
probes)."""

import re

import pandas as pd
from pyspark.sql import functions as F

from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401
from universal_key_value_based_text_processing_with_ocr_spark.operators import (
    dedup,
    textstats,
)


def _docs(spark, rows):  # noqa: F811
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"]),
        schema="doc_id long, text string",
    )


# ---------------------------------------------------------------------------
# scrub_cards
# ---------------------------------------------------------------------------


def _luhn_ok(digits: str) -> bool:
    s = 0
    for i, ch in enumerate(digits):
        v = int(ch)
        if (len(digits) - (i + 1)) % 2 == 1:
            v *= 2
            if v > 9:
                v -= 9
        s += v
    return s % 10 == 0


def _ref_scrub(text: str):
    """Independent pure-Python replication of the operator contract."""
    cands = [m.group(0) for m in re.finditer(r"\b\d(?:[ -]?\d){12,18}\b", text)]
    valid = []
    for c in cands:
        if _luhn_ok(re.sub(r"[ -]", "", c)) and c not in valid:
            valid.append(c)
    out = text
    for c in valid:
        out = out.replace(c, "<CARD>")
    return out, len(cands), len(valid)


CARD_ROWS = [
    (1, "pay 4111111111111111 now"),            # classic valid Visa test
    (2, "pay 4111111111111112 now"),            # checksum off by one
    (3, "grouped 4111-1111-1111-1111 card"),    # dashed valid
    (4, "grouped 4111 1111 1111 1111 card"),    # spaced valid
    (5, "amex 378282246310005 here"),           # 15-digit valid
    (6, "twice 4111111111111111 and 4111111111111111"),
    (7, "short 411111111111 run"),              # 12 digits: not a candidate
    (8, "no digits at all"),
    (9, "order id 99999999 and ip 10.0.0.1"),   # digit runs below 13
    (10, None),
]


def test_scrub_cards_matches_reference(spark):  # noqa: F811
    got = (
        textstats.scrub_cards(_docs(spark, CARD_ROWS))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert list(got.index) == [1, 2, 3, 4, 5, 6, 7, 8, 9]  # NULL filtered
    for doc_id, text in CARD_ROWS:
        if text is None:
            continue
        scrubbed, n_c, n_v = _ref_scrub(text)
        row = got.loc[doc_id]
        assert row["scrubbed"] == scrubbed, doc_id
        assert row["n_candidates"] == n_c, doc_id
        assert row["n_cards"] == n_v, doc_id


def test_scrub_cards_branches(spark):  # noqa: F811
    got = (
        textstats.scrub_cards(_docs(spark, CARD_ROWS))
        .toPandas()
        .set_index("doc_id")
    )
    assert got.loc[1, "scrubbed"] == "pay <CARD> now"
    assert got.loc[2, "scrubbed"] == "pay 4111111111111112 now"  # invalid kept
    assert got.loc[2, "n_candidates"] == 1 and got.loc[2, "n_cards"] == 0
    assert got.loc[3, "scrubbed"] == "grouped <CARD> card"
    assert got.loc[4, "scrubbed"] == "grouped <CARD> card"
    assert got.loc[5, "n_cards"] == 1  # 15-digit Amex validates
    # duplicate card: two candidates, ONE distinct valid string, both masked
    assert got.loc[6, "n_candidates"] == 2 and got.loc[6, "n_cards"] == 1
    assert got.loc[6, "scrubbed"] == "twice <CARD> and <CARD>"
    assert got.loc[7, "n_candidates"] == 0
    assert got.loc[9, "n_candidates"] == 0


def test_scrub_cards_plan_is_single_projection(spark):  # noqa: F811
    plan = textstats.scrub_cards(
        _docs(spark, CARD_ROWS)
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# line_lang_segments
# ---------------------------------------------------------------------------


def test_line_lang_segments_fixture(spark):  # noqa: F811
    rows = [
        # en, ind, en -> 2 switches; dominant en (2/3 = 666 pmille)
        (1, "the cat and the dog\nyang dan di sini\n\n  \nthe end of it"),
        # single und line
        (2, "zzzz qqqq"),
        # en/ind tie on a line -> en (matches lang_id tie-break); then und
        (3, "the yang\nxxxx"),
        # blank-only text -> zero lines
        (4, "   \n\t\n"),
        (5, ""),
    ]
    got = (
        textstats.line_lang_segments(_docs(spark, rows))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    r1 = got.loc[1]
    assert (
        r1["n_lines"],
        r1["n_en"],
        r1["n_ind"],
        r1["n_und"],
        r1["n_switches"],
        r1["dominant_lang"],
        r1["dom_pmille"],
    ) == (3, 2, 1, 0, 2, "en", 666)
    r2 = got.loc[2]
    assert (r2["n_lines"], r2["n_und"], r2["n_switches"], r2["dominant_lang"]) == (
        1,
        1,
        0,
        "und",
    )
    r3 = got.loc[3]
    assert (r3["n_en"], r3["n_und"], r3["n_switches"]) == (1, 1, 1)
    for d in (4, 5):
        r = got.loc[d]
        assert (r["n_lines"], r["dominant_lang"], r["dom_pmille"]) == (0, "und", 0)


def test_line_lang_segments_zero_exchange(spark):  # noqa: F811
    plan = textstats.line_lang_segments(
        _docs(spark, [(1, "the cat")])
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# decontaminate_fuzzy
# ---------------------------------------------------------------------------

EVAL_TEXT = (
    "what is the capital of france the answer is paris a city on the seine "
    "known for the louvre and the eiffel tower among many other landmarks"
)
OTHER_TEXT = (
    "completely unrelated prose about distributed shuffle exchanges and "
    "adaptive query execution inside modern analytical engines at scale"
)


def test_decontaminate_fuzzy_identical_and_near(spark):  # noqa: F811
    corpus = _docs(
        spark,
        [
            (10, EVAL_TEXT),                       # exact eval leak
            (11, EVAL_TEXT + " trailing words."),  # paraphrased-ish leak
            (12, OTHER_TEXT),
        ],
    )
    probes = _docs(spark, [(1, EVAL_TEXT)]).select(
        F.col("doc_id"), F.col("text")
    )
    got = (
        dedup.decontaminate_fuzzy(corpus, probes)
        .toPandas()
        .set_index("doc_id")
    )
    assert got.loc[10, "n_agree"] == 16 and got.loc[10, "agree_pct"] == 100
    near = got.loc[11, "n_agree"] if 11 in got.index else 0
    other = got.loc[12, "n_agree"] if 12 in got.index else 0
    assert near >= 8, near  # shared shingle set dominates
    assert other < near


def test_decontaminate_fuzzy_broadcasts_probes(spark):  # noqa: F811
    corpus = _docs(spark, [(10, EVAL_TEXT)])
    probes = _docs(spark, [(1, EVAL_TEXT)])
    plan = dedup.decontaminate_fuzzy(
        corpus, probes
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

