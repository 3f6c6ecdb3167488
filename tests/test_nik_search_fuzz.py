"""Differential fuzz: the NIK evaluator's reverse search against the frozen
enumeration.

``kvcore.evaluate.eval_nik`` finds the last hit per distance by a pruned
reverse search; ``tests/frozen_nik.py`` enumerates every subset of the
value's digit runs.  Each example is one "document": a few values
evaluated in turn under one budget state (unarmed, full, tight enough to
switch exact -> bounded partway through, or spent).  Both sides start from
the same budget and must agree on every return value (or exception) and
on the budget left after every call.  The oracle costs 2^n per value, so
values of 15-22 runs get their own, smaller test; values of 23+ runs take
the bounded mode on both sides.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tests import frozen_nik as frozen
from universal_key_value_based_text_processing_with_ocr_spark.kvcore import dictionaries
from universal_key_value_based_text_processing_with_ocr_spark.kvcore import evaluate as ev

_CODES = sorted(dictionaries.prov_city_kec())
_DIGITS = st.text("0123456789", max_size=9)
_TOKENS = st.one_of(
    st.just(""),  # an empty run (two spaces in a row)
    _DIGITS,
    st.builds(lambda c, d: c + d, st.sampled_from(_CODES), _DIGITS),  # prefix in the tree
    st.builds(lambda c, d: c + d, st.sampled_from(["00", "20", "99", "4"]), _DIGITS),
    st.text("0123456789liIePAaSsbgB?DoO", min_size=1, max_size=8),  # letter -> digit repairs
    st.sampled_from(["NIK", ":", "\t", "-", "word"]),  # no digits at all
)


@st.composite
def _values(draw, min_runs: int, max_runs: int) -> str:
    if draw(st.integers(0, 19)) == 0:
        return draw(st.sampled_from(["", " ", "   ", "\t", " \t "]))  # whitespace only
    n = draw(st.sampled_from(range(min_runs, max_runs + 1)))
    return " ".join(draw(st.lists(_TOKENS, min_size=n, max_size=n)))


@st.composite
def _documents(draw, min_runs: int, max_runs: int, max_values: int):
    calls = draw(
        st.lists(
            st.tuples(_values(min_runs, max_runs), st.integers(0, 7)),
            min_size=1,
            max_size=max_values,
        )
    )
    kind = draw(st.sampled_from(["unarmed", "full", "tight", "spent"]))
    if kind == "unarmed":
        budget = None
    elif kind == "full":
        budget = ev._NIK_DOC_BUDGET
    elif kind == "spent":
        budget = 0
    else:
        # enough for the exact mode on the first few values, then a
        # shortfall (or a surplus) of a few units: later values go bounded
        costs = [1 << len(v.split(" ")) for v, _ in calls]
        cut = draw(st.integers(0, len(calls)))
        budget = max(0, sum(costs[:cut]) + draw(st.integers(-3, 3)))
    return budget, calls


def _outcome(fn, value, max_distance):
    try:
        return fn(value, max_distance)
    except Exception as exc:  # both sides must fail alike
        return f"raised {type(exc).__name__}: {exc}"


def _assert_same(budget, calls):
    saved = ev._nik_doc_budget[0], frozen._nik_doc_budget[0]
    ev._nik_doc_budget[0] = frozen._nik_doc_budget[0] = budget
    try:
        for i, (value, max_distance) in enumerate(calls):
            want = _outcome(frozen.eval_nik, value, max_distance)
            got = _outcome(ev.eval_nik, value, max_distance)
            assert got == want, (i, value, max_distance, budget)
            assert ev._nik_doc_budget[0] == frozen._nik_doc_budget[0], (i, value, budget)
    finally:  # leave both cells as found: tests share the modules
        ev._nik_doc_budget[0], frozen._nik_doc_budget[0] = saved


@given(_documents(0, 14, 4))
@settings(max_examples=400, deadline=None)
def test_reverse_search_matches_enumeration(doc):
    _assert_same(*doc)


@given(_documents(15, 22, 2))
@settings(max_examples=10, deadline=None)
def test_reverse_search_matches_enumeration_on_long_values(doc):
    _assert_same(*doc)


@given(_documents(23, 40, 2))
@settings(max_examples=30, deadline=None)
def test_bounded_mode_unchanged_beyond_the_exact_range(doc):
    _assert_same(*doc)


def test_reverse_search_matches_enumeration_on_page_lines():
    """Every line of a few synthetic pages, as the blended parser's NIK_1
    re-scan feeds them, one armed document per page."""
    from universal_key_value_based_text_processing_with_ocr_spark.sources import synthdocs

    for doc_id in range(30):
        lines = synthdocs.gen_document(301, doc_id)["_lines"]
        _assert_same(ev._NIK_DOC_BUDGET, [(line, 1) for line in lines])


def test_max_distance_beyond_the_last_hit_bound_raises():
    with pytest.raises(ValueError):
        ev.eval_nik("3171 0102 9303 0002", max_distance=8)
