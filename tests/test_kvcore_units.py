"""Unit tests for the pure-Python core: distance parity vs a slow oracle,
vectorised-vs-scalar equivalence, tokenizer span invariants."""

import random
import string

import numpy as np
import pytest

from tests.refharness import _slow_accuracy, _slow_edit_distance
from universal_key_value_based_text_processing_with_ocr_spark.kvcore.textdist import (
    accuracy,
    edit_distance,
    edit_distance_many,
)
from universal_key_value_based_text_processing_with_ocr_spark.kvcore.tokenspan import (
    snap_to_grid,
    split_with_spans,
)

ALPHABET = string.ascii_letters + string.digits + "  ::/-."


def _rand_str(rng, max_len=18):
    return "".join(rng.choice(ALPHABET) for _ in range(rng.randint(0, max_len)))


def test_edit_distance_parity_random():
    rng = random.Random(42)
    for _ in range(1000):
        a, b = _rand_str(rng), _rand_str(rng)
        assert edit_distance(a, b) == _slow_edit_distance(a, b), (a, b)
    # the bit-parallel distance: operands past one machine word and past
    # the cache bound, either one longer, non-ASCII text, repeated chars
    for alpha in ("ab", "aé İßx\t", "0O1lI"):
        for _ in range(200):
            a = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 24)))
            b = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 90)))
            assert edit_distance(a, b) == _slow_edit_distance(a, b), (a, b)
            assert edit_distance(b, a) == _slow_edit_distance(a, b), (a, b)
    for la, lb in [(65, 64), (130, 7), (4200, 9)]:
        a = "".join(rng.choice("abN7") for _ in range(la))
        b = "".join(rng.choice("abN7") for _ in range(lb))
        assert edit_distance(a, b) == edit_distance(b, a) == _slow_edit_distance(a, b)


def test_edit_distance_known():
    assert edit_distance("kitten", "sitting") == 3
    assert edit_distance("", "abc") == 3
    assert edit_distance("abc", "") == 3
    assert edit_distance("abc", "abc") == 0


def test_edit_distance_many_matches_scalar():
    rng = random.Random(7)
    for _ in range(50):
        key = _rand_str(rng, 12)
        cands = [_rand_str(rng, 20) for _ in range(rng.randint(0, 12))]
        got = edit_distance_many(key, cands)
        want = np.array([edit_distance(key, c) for c in cands], dtype=np.int64)
        assert np.array_equal(got, want), (key, cands)


def test_accuracy_parity():
    rng = random.Random(9)
    for _ in range(300):
        n = rng.randint(1, 25)
        a = "".join(rng.choice("abcXYZ") for _ in range(n))
        b = "".join(rng.choice("abcXYZ") for _ in range(n))
        assert accuracy(a, b) == _slow_accuracy(a, b)
    with pytest.raises(ValueError):
        accuracy("ab", "abc")


def test_split_with_spans_invariants():
    rng = random.Random(3)
    for _ in range(300):
        s = _rand_str(rng, 40)
        toks, spans = split_with_spans(s, [" ", ":"])
        assert len(toks) == len(spans)
        for tok, (start, end) in zip(toks, spans):
            assert s[start:end] == tok
            assert tok.strip() != ""


def test_snap_to_grid_first_tie_wins():
    assert snap_to_grid(0.5, [0.0, 1.0]) == 0.0  # tie -> first point
    assert snap_to_grid(0.6, [0.0, 0.5, 1.0]) == 0.5


def test_split_tokens_are_the_split_with_spans_tokens():
    from universal_key_value_based_text_processing_with_ocr_spark.kvcore.tokenspan import (
        split_tokens,
    )

    rng = random.Random(3)
    for _ in range(500):
        text = "".join(rng.choice(ALPHABET + "\t  é") for _ in range(rng.randint(0, 40)))
        splitters = rng.choice([(" ",), (" ", ":"), (" ", ":", "."), (":",), ("\t", "-")])
        assert split_tokens(text, splitters) == split_with_spans(text, splitters)[0], text
