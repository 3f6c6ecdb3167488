"""Labeled field spans per url — the north star's span-level output.

``extract_line_field_spans`` runs every KTP field spec over each document
line and emits one row per found key with its character offsets: where
the (fuzzily) matched key sits on the line and where the associated value
slice starts/ends — the association offsets the extraction kernel already
computes internally (``kvcore.matching`` keeps token spans from
``split_with_spans`` and slices the raw line with them; this operator
surfaces them via the matcher's opt-in ``with_spans`` return instead of
re-deriving anything).

Reference parity: the offsets are the reference's own value-association
geometry — its matcher keeps per-token spans and slices the value as
"end of this key's last matched token .. start of the next key's first
token" (/root/reference/ocrfw/postprocessing.py:236-249,
``value_result = line[current_key_indexes[-1][-1]:next_key_indexes[0][0]]``);
the reference only never EXPORTS the offsets.  This operator exports
exactly those numbers.

Contract (tested): ``value == line[value_start:value_end]`` and
``0 <= key_start <= key_end <= value_start <= value_end <= len(line)``
for every emitted row.  The specs are compiled once and each line runs on
a fresh copy (no cross-line ``wo_space`` growth), so each row is a pure
function of its line — which makes the stage embarrassingly parallel and
the output invariant under any repartitioning.

Scale shape: one narrow Arrow ``mapInPandas`` over (url, line_no, line);
no shuffle; per-row error containment as everywhere.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

SPANS_SCHEMA = (
    "url string, line_no int, field string, key_start int, key_end int, "
    "value_start int, value_end int, value string"
)

_COLS = [
    "url", "line_no", "field", "key_start", "key_end",
    "value_start", "value_end", "value",
]


def line_field_spans(line: str, configs=None) -> list[tuple]:
    """Pure-Python core: (field, key_start, key_end, value_start,
    value_end, value) for every key any spec finds on this line.

    The specs are the text-path parse's (``ktpspec.ktp_plans(configs)
    .sweep``), and the line runs on its own ``Plan.fresh()`` copy, so the
    ``wo_space`` in-place growth quirk stays line-local and every row
    remains a pure function of its line.  Pass compiled plans as
    ``configs`` to skip the compile per line.

    ``match_line_regex`` specs (whole-line fields) report the regex hit as
    the key span and the full line as the value span — the same "value is
    the whole line" semantics the extractor itself has."""
    import re

    from ..kvcore.ktpspec import ktp_plans
    from ..kvcore.matching import match_keys_in_line, match_line_regex

    out: list[tuple] = []
    for te in ktp_plans(configs).sweep.fresh():
        extractor = te["extractor"]
        args = te["extractor_args"]
        if extractor is match_keys_in_line:
            args["line"] = line
            args["with_spans"] = True
            try:
                ok, _result, spans = match_keys_in_line(**args)
            except Exception:
                continue  # per-spec containment: a hostile line never kills the row
            if not ok:
                continue
            for name, (ks, ke, vs, ve) in spans.items():
                out.append((str(name), ks, ke, vs, ve, line[vs:ve]))
        elif extractor is match_line_regex:
            pattern = args.get("pattern", ".*")
            hit = re.search(pattern, line)
            if hit:
                for name in args.get("alias_names", []):
                    out.append((str(name), hit.start(), hit.end(), 0, len(line), line))
    return out


def extract_line_field_spans(lines_df, configs=None):
    """(url, line_no, line) -> exploded span rows (see SPANS_SCHEMA)."""
    from ..kvcore.ktpspec import ktp_plans
    from ..plans.partitioning import widen_small_scan

    plans = ktp_plans(configs)  # compiled on the driver, copied per line
    # the span kernel is CPU-bound per line — spread single-split scans
    # (identity at real scale, see widen_small_scan)
    pruned = widen_small_scan(lines_df.select("url", "line_no", "line"), "url", "line_no")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for r in batch.itertuples(index=False):
                line = r.line if r.line is not None else ""
                for field, ks, ke, vs, ve, value in line_field_spans(line, plans):
                    rows.append(
                        (r.url, int(r.line_no), field, ks, ke, vs, ve, value)
                    )
            yield pd.DataFrame(rows, columns=_COLS)

    return pruned.mapInPandas(gen, schema=SPANS_SCHEMA)


def extract_page_field_spans(pages_df, configs=None):
    """pages(url, html, text, lang, ...) -> span rows, END TO END.

    The north star's full span surface: payload decode (the extraction
    stage's own ``extract.page_lines``) and per-line span emission FUSED
    into one narrow Arrow stage on one scan — zero exchanges, so the plan
    is the same 100×-safe shape as ``extract_pages``.  Span offsets are
    relative to the decoded line (the coordinate system the extractor
    itself slices in), and line_no indexes the decoded line list —
    identical to the golden generator's enumeration, which is what makes
    the committed golden span table an exact oracle for this stage too.
    """
    from ..kvcore.ktpspec import ktp_plans
    from .extract import page_lines

    plans = ktp_plans(configs)  # compiled on the driver, copied per line
    pruned = pages_df.select("url", "html", "text")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for r in batch.itertuples(index=False):
                try:
                    lines, _ = page_lines(r.html, r.text)
                except Exception:
                    lines = None  # hostile payload: no spans, never a dead task
                for i, line in enumerate(lines or ()):
                    for field, ks, ke, vs, ve, value in line_field_spans(line, plans):
                        rows.append((r.url, i, field, ks, ke, vs, ve, value))
            yield pd.DataFrame(rows, columns=_COLS)

    return pruned.mapInPandas(gen, schema=SPANS_SCHEMA)
