"""Tokenisation with character offsets and config normalisation helpers.

Parity targets:
- ``split_with_spans``  == reference ``split_index``
  (/root/reference/ocrfw/postprocessing.py:54-73).  Offsets are load-bearing:
  value association slices the *raw* line between key-token spans.
- ``snap_to_grid``      == reference ``find_closest``
  (/root/reference/ocrfw/postprocessing.py:48-50), used to turn fractional
  ``max_distances`` into integer distances (:109-121).
- ``fuzzy_key_pattern`` == reference ``get_re_pattern``
  (/root/reference/ocrfw/postprocessing.py:11-44): a typo-tolerant regex
  built from OCR confusion classes.  Only active when a config sets
  ``use_re_support=True`` (no reference config does — parsers.py:29-61 —
  but the operator is part of the public surface, so it ships and is tested).
"""

from __future__ import annotations

import re
import string as _string
from collections.abc import Sequence
from functools import lru_cache

_BLANK = re.compile(r"^\s*$")


@lru_cache(maxsize=256)
def _runs_pattern(splitters: tuple[str, ...]):
    """Compiled pattern matching maximal runs of non-splitter chars."""
    cls = "".join(re.escape(c) for c in splitters)
    return re.compile(f"[^{cls}]+")


def split_with_spans(
    text: str, splitters: Sequence[str] = (" ",)
) -> tuple[list[str], list[tuple[int, int]]]:
    """Split ``text`` on any of ``splitters``; keep (start, end) per token.

    Blank-only fragments are dropped (the reference's ``^\\s*$`` guard), so a
    token's span never covers pure whitespace.  End offsets are exclusive.
    Implemented as a single regex scan over maximal non-splitter runs —
    token-for-token and span-for-span identical to the reference's per-char
    accumulation (a run ends exactly at a splitter or EOS; blank runs are
    dropped by both).
    """
    # length gate: the lru caches live for the whole REUSED Python worker
    # (worker reuse is deliberately on), and an 8192-entry cache of
    # arbitrary-length lines (minified HTML, base64 blobs) would pin
    # multi-GB per executor (review finding).  Long lines are rare AND
    # poor cache currency — compute them uncached.
    if len(text) > _CACHE_MAX_LEN:
        return _split_uncached(text, tuple(splitters))
    return _split_cached(text, tuple(splitters))


#: per-entry ceiling for content-keyed caches (shared policy constant):
#: 4 KB covers every realistic repeated probe line while bounding the
#: worst-case cache footprint to ~8192 * 3 * 4 KB ~ 100 MB
from .textdist import CONTENT_CACHE_MAX_LEN as _CACHE_MAX_LEN


def _split_uncached(text: str, splitters: tuple[str, ...]):
    tokens: list[str] = []
    spans: list[tuple[int, int]] = []
    for m in _runs_pattern(splitters).finditer(text):
        tok = m.group()
        if not _BLANK.match(tok):
            tokens.append(tok)
            spans.append(m.span())
    return tokens, spans


def split_tokens(text: str, splitters: tuple[str, ...]) -> list[str]:
    """The tokens of ``split_with_spans(text, splitters)`` without their
    spans, from one C-level scan (``isspace`` is the ``^\\s*$`` guard for
    a non-empty run)."""
    return [t for t in _runs_pattern(splitters).findall(text) if not t.isspace()]


@lru_cache(maxsize=8192)
def _split_cached(text: str, splitters: tuple[str, ...]):
    # Cached per (line, splitters) for the matcher.  The sweep's line index
    # tokenises each line once per document through ``split_tokens`` and
    # probes only candidate lines, so hits here come from a line probed by
    # several specs (a missed key, a duplicate line) and from lines that
    # recur across documents.  Callers treat the returned lists as
    # immutable (slices only).
    return _split_uncached(text, splitters)


def snap_to_grid(value: float, points: Sequence[float]) -> float:
    """Nearest grid point to ``value`` (first wins on ties, like list.index)."""
    best = None
    best_diff = None
    for p in points:
        d = abs(p - value)
        if best_diff is None or d < best_diff:
            best, best_diff = p, d
    return best


# OCR confusion classes used by the optional regex fast-path.  Same classes
# as the reference's replacement table (postprocessing.py:13-42).
_CONFUSION = {
    "_": r"\s*",
    " ": r"\s*",
    "l": "[i|l|1]",
    "1": "[i|l|1]",
    "i": "[i|l|1]",
    "0": "[o|O|0]",
    "o": "[o|O|0]",
    "O": "[o|O|0]",
    "A": "[A|4]",
    "4": "[A|4]",
    "?": "[7|\\?]",
    "7": "[7|\\?]",
    "E": "[E|3]",
    "3": "[E|3]",
    "S": "[S|5|s]",
    "s": "[S|5|s]",
    "5": "[S|5|s]",
}
_ELASTIC_VOWELS = "euU"
_SPECIALS = "[]{}|()$^&*-+=.!/"


def fuzzy_key_pattern(key: str, max_mistakes: int = 1) -> str:
    """Typo-tolerant regex for ``key`` built from OCR confusion classes."""
    parts: list[str] = []
    gap = "\\s{,%d}" % max_mistakes
    for ch in key:
        if ch in _ELASTIC_VOWELS:
            parts.append(".{,%d}" % max_mistakes)
        elif ch in _SPECIALS:
            parts.append(gap + "\\" + ch + gap)
        elif ch in _CONFUSION:
            parts.append(_CONFUSION[ch])
        elif ch in _string.printable:
            parts.append(ch)
        else:
            parts.append(ch)
    return "".join(parts)
