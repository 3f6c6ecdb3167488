"""Correctness of what the jobs committed, and a digest of it.

A document fails if its url is missing from the commit, committed more
than once or not part of the input; if it hit the extraction stage's
``engine exception:`` guard; or if its committed (extracted_text,
result_json, success) differ from the single-process oracle
``operators.extract.parse_page_row*`` on a deterministic sample.
``success=False`` is an extraction outcome, not a failure.
"""

from __future__ import annotations

import hashlib
import json

from universal_key_value_based_text_processing_with_ocr_spark.lakehouse import SnapshotTable
from universal_key_value_based_text_processing_with_ocr_spark.operators import extract

GUARD_PREFIX = "engine exception:"

# committed columns compared against the oracle, per parser; the compact
# blended schema has no extracted_text
ORACLE_COLUMNS = {
    "sweep": ("extracted_text", "result_json", "success"),
    "blended": ("result_json", "success"),
}


def committed_rows(spark, results_path) -> list[dict]:
    """Every committed row of a results table, without the partition_id
    lineage column (it depends on the host's width, not on the output)."""
    df = SnapshotTable(results_path).read(spark)
    return [r.asDict(recursive=True) for r in df.drop("partition_id").collect()]


def digest(rows: list[dict]) -> str:
    """Order-independent sha256 of committed rows (sorted by url)."""
    h = hashlib.sha256()
    for row in sorted(rows, key=lambda r: r["url"]):
        h.update(json.dumps([row[c] for c in sorted(row)], ensure_ascii=False).encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_row(parser: str, page: dict) -> dict:
    if parser == "sweep":
        return extract.parse_page_row(page["url"], page["html"], page["text"], page["lang"])
    return extract.parse_page_row_blended(page["url"], page["html"], page["text"])


def guard_messages(parser: str, page: dict, want: dict) -> list[str]:
    """The error messages of the oracle's parse of ``page``.  The compact
    blended row drops them, so there they come from the debug path, which
    calls the same ``parse_document_blended`` and keeps them.  A guarded
    row is always ``{}``/False, so only such rows need that second parse."""
    if "error_messages" in want:
        return want["error_messages"]
    if want["result_json"] != "{}" or want["success"]:
        return []
    return extract.parse_page_row_debug(
        page["url"], page["html"], page["text"], page["lang"], parser=parser
    )["error_messages"]


def sample_urls(urls, k: int) -> list[str]:
    """The ``k`` urls with the smallest sha1: deterministic for a seed,
    spread over hosts, families and jobs."""
    return sorted(urls, key=lambda u: hashlib.sha1(u.encode()).digest())[:k]


class Check:
    """Failed urls and the counts behind them, accumulated over a run."""

    def __init__(self):
        self.failed: set[str] = set()
        self.miscounted = 0  # documents the CLI's n_docs over- or under-reports
        self.counts = {
            "missing": 0, "unexpected": 0, "duplicated": 0,
            "guard_rows": 0, "oracle_checked": 0, "oracle_mismatch": 0,
            "summary_mismatch": 0,
        }

    def table(self, rows: list[dict], expected_urls: set[str]) -> None:
        """The committed url multiset must equal the expected url set, and
        no row may carry the exception guard's message."""
        seen: dict[str, int] = {}
        for r in rows:
            seen[r["url"]] = seen.get(r["url"], 0) + 1
            if any(m.startswith(GUARD_PREFIX) for m in r.get("error_messages") or ()):
                self.counts["guard_rows"] += 1
                self.failed.add(r["url"])
        missing = expected_urls - seen.keys()
        unexpected = seen.keys() - expected_urls
        duplicated = {u for u, n in seen.items() if n > 1}
        self.counts["missing"] += len(missing)
        self.counts["unexpected"] += len(unexpected)
        self.counts["duplicated"] += len(duplicated)
        self.failed |= missing | unexpected | duplicated

    def oracle(self, parser: str, rows_by_url: dict, pages_by_url: dict, urls) -> None:
        """Byte equality of the compared columns with the oracle."""
        for url in urls:
            want = oracle_row(parser, pages_by_url[url])
            got = rows_by_url.get(url)
            self.counts["oracle_checked"] += 1
            if got is None or any(got[c] != want[c] for c in ORACLE_COLUMNS[parser]):
                self.counts["oracle_mismatch"] += 1
                self.failed.add(url)
            # committed rows without error messages (blended) show a guard
            # hit only here, on the sample
            if got is not None and "error_messages" not in got and any(
                m.startswith(GUARD_PREFIX)
                for m in guard_messages(parser, pages_by_url[url], want)
            ):
                self.counts["guard_rows"] += 1
                self.failed.add(url)

    def summary(self, reported: int, expected: int) -> None:
        """The CLI's reported n_docs must equal the number of new urls
        (none, for a re-run of a committed input)."""
        if reported != expected:
            self.counts["summary_mismatch"] += 1
            self.miscounted += abs(reported - expected)

    def n_failed(self) -> int:
        return len(self.failed) + self.miscounted
