"""The extraction row path shared by every parser: one payload decode, one
guarded parse, one row builder, one ``mapInPandas`` stage.

- Each parser's Spark stage (and ``html_to_lines``) reproduces its committed
  golden parquet over the 400-page golden set, value for value and type for
  type.
- Each parser's no-payload row and one text-only page are pinned to the
  bytes these parsers produced before they shared one row path.
- The exception guard is the same for every parser: one ``{}``/False row
  per page, the stage survives, and the sweep and debug rows name the
  exception.
- The debug artifact shows the text the parser saw, for every parser.
"""

import hashlib
import json

import pandas as pd
import pyarrow.parquet as pq
import pytest

from tests.test_spark_pipeline import spark  # noqa: F401  (session fixture)
from universal_key_value_based_text_processing_with_ocr_spark.kvcore import config as kvconfig
from universal_key_value_based_text_processing_with_ocr_spark.kvcore import ktpspec
from universal_key_value_based_text_processing_with_ocr_spark.operators import extract
from universal_key_value_based_text_processing_with_ocr_spark.sources import PAGES_SCHEMA
from universal_key_value_based_text_processing_with_ocr_spark.sources.pages import synth_pages_df
from universal_key_value_based_text_processing_with_ocr_spark.sources.synthdocs import (
    gen_page_row,
)

from scripts.make_golden import GOLDEN_DIR, GOLDEN_N, GOLDEN_SEED

PARSERS = ("sweep", "blended", "boxorder", "config")
GOLDEN_FILE = {
    "sweep": "extract_golden.parquet",
    "blended": "blended_golden.parquet",
    "boxorder": "boxorder_golden.parquet",
    "config": "custom_golden.parquet",
}
# the kernel entry each parser's parse calls, as (module, attribute)
KERNEL_ENTRY = {
    "sweep": (ktpspec, "parse_document"),
    "blended": (ktpspec, "parse_document_blended"),
    "boxorder": (ktpspec, "parse_document_boxorder"),
    "config": (kvconfig, "parse_document_with_config"),
}
# the per-row oracle of each parser, as the golden generator calls it
ROW_FN = {
    "sweep": lambda url, html, text, lang: extract.parse_page_row(url, html, text, lang),
    "blended": lambda url, html, text, lang: extract.parse_page_row_blended(url, html, text),
    "boxorder": lambda url, html, text, lang: extract.parse_page_row_boxorder(url, html, text),
    "config": lambda url, html, text, lang: extract.parse_page_row_with_config(
        url, html, text, extract.SAMPLE_CUSTOM_CONFIG
    ),
}

# What each parser emitted for a page whose html and text are both NULL,
# before the parsers shared one row path (they differ on purpose).
NO_PAYLOAD_ROW = {
    "sweep": {
        "url": "u", "lang": "ind", "extracted_text": None, "result_json": "{}",
        "success": False, "n_lines": 0, "n_fields": 0,
        "error_messages": ["no payload"],
        "warnings": ["No payload: both html and text are NULL"], "n_bytes": 0,
    },
    "blended": {"url": "u", "result_json": '{"NIK": []}', "success": False, "n_fields": 1},
    "boxorder": {"url": "u", "result_json": "{}", "success": False, "n_fields": 0},
    "config": {"url": "u", "result_json": "{}", "success": False, "n_fields": 0},
}
# The first text-only page of the golden set, and the sha256 of each
# parser's row for it (json.dumps(row, sort_keys=True, ensure_ascii=False)),
# recorded before the parsers shared one row path.
TEXT_PAGE_ID = 25
TEXT_PAGE_ROW_SHA256 = {
    "sweep": "e188ed1abd8fdffc15866b4d509df3d45d26df5fbe5cebcc9b25ccb10ca65b13",
    "blended": "8e55e22b7dc48b87df571f1400cbd8e35123795fd8d80fb35092079b7861b974",
    "boxorder": "fa80db777681a8ee57bf5ea0343fd521e8262c9e9ae26b3a3d26943b3068a777",
    "config": "52befa4ba84922afee201e33349586a0a17ffc1f893c33b1036aacfc8d422134",
}


def _configs(parser):
    return extract.SAMPLE_CUSTOM_CONFIG if parser == "config" else None


def _row_sha256(row: dict) -> str:
    return hashlib.sha256(json.dumps(row, sort_keys=True, ensure_ascii=False).encode()).hexdigest()


def _assert_matches_golden(got_df, golden_name, sort_keys):
    want = pq.read_table(GOLDEN_DIR / golden_name).sort_by([(k, "ascending") for k in sort_keys])
    got = (
        got_df.select(*want.schema.names)
        .toArrow()
        .sort_by([(k, "ascending") for k in sort_keys])
    )
    assert [f.type for f in got.schema] == [f.type for f in want.schema], golden_name
    assert got.num_rows == want.num_rows, golden_name
    assert got.to_pylist() == want.to_pylist(), golden_name


def _pages(spark, rows):  # noqa: F811
    return spark.createDataFrame(pd.DataFrame(rows), schema=PAGES_SCHEMA)


@pytest.mark.parametrize("parser", PARSERS)
def test_stage_matches_golden(spark, parser):  # noqa: F811
    pages = synth_pages_df(spark, GOLDEN_N, seed=GOLDEN_SEED)
    got = extract.extract_pages(pages, configs=_configs(parser), parser=parser)
    _assert_matches_golden(got, GOLDEN_FILE[parser], ["url"])


def test_lines_stage_matches_golden(spark):  # noqa: F811
    pages = synth_pages_df(spark, GOLDEN_N, seed=GOLDEN_SEED)
    _assert_matches_golden(
        extract.html_to_lines(pages), "lines_golden.parquet", ["url", "line_no"]
    )


@pytest.mark.parametrize("parser", PARSERS)
def test_no_payload_and_text_page_rows_pinned(spark, parser):  # noqa: F811
    text_page = gen_page_row(GOLDEN_SEED, TEXT_PAGE_ID)
    assert text_page["html"] is None and text_page["text"] is not None
    no_payload = dict(text_page, url="u", html=None, text=None, lang="ind")

    # the per-row oracle
    row_fn = ROW_FN[parser]
    assert row_fn("u", None, None, "ind") == NO_PAYLOAD_ROW[parser]
    want_text_row = row_fn(text_page["url"], None, text_page["text"], text_page["lang"])
    assert _row_sha256(want_text_row) == TEXT_PAGE_ROW_SHA256[parser]

    # the Spark stage emits the same rows
    got = {
        r["url"]: r.asDict()
        for r in extract.extract_pages(
            _pages(spark, [no_payload, text_page]), configs=_configs(parser), parser=parser
        ).collect()
    }
    assert got["u"] == NO_PAYLOAD_ROW[parser]
    assert _row_sha256(got[text_page["url"]]) == TEXT_PAGE_ROW_SHA256[parser]


# --- the shared exception guard ---------------------------------------------


def _guard_pages():
    """An html page, a text-only page and a no-payload page."""
    html_page = next(
        gen_page_row(GOLDEN_SEED, i) for i in range(GOLDEN_N)
        if gen_page_row(GOLDEN_SEED, i)["html"] is not None
    )
    text_page = gen_page_row(GOLDEN_SEED, TEXT_PAGE_ID)
    return [html_page, text_page, dict(text_page, url="u-none", html=None, text=None)]


@pytest.mark.parametrize("parser", PARSERS)
def test_guard_contains_a_raising_kernel_entry(monkeypatch, parser):
    def boom(*args, **kwargs):
        raise RuntimeError("boom")

    module, name = KERNEL_ENTRY[parser]
    monkeypatch.setattr(module, name, boom)
    for page in _guard_pages():
        if parser == "sweep" and page["html"] is None and page["text"] is None:
            continue  # the sweep records "no payload" without parsing
        args = (page["url"], page["html"], page["text"], page["lang"])
        row = ROW_FN[parser](*args)
        assert (row["result_json"], row["success"], row["n_fields"]) == ("{}", False, 0)
        if parser == "sweep":
            assert row["error_messages"] == ["engine exception: RuntimeError: boom"]
        debug = extract.parse_page_row_debug(*args, configs=_configs(parser), parser=parser)
        assert (debug["result_json"], debug["success"]) == ("{}", False)
        assert debug["error_messages"] == ["engine exception: RuntimeError: boom"]


@pytest.mark.parametrize("parser", PARSERS)
def test_guard_contains_a_raising_decode(monkeypatch, parser):
    def boom(payload):
        raise ValueError("bad markup")

    monkeypatch.setattr(extract, "extract_main_lines", boom)
    page = _guard_pages()[0]
    row = extract._page_row(
        page["url"], page["html"], page["text"], page["lang"], _configs(parser), parser
    )
    assert (row["result_json"], row["success"], row["extracted_text"]) == ("{}", False, None)
    assert row["error_messages"] == ["engine exception: ValueError: bad markup"]


# A config of each parser that compiles, but with a threshold the matcher
# rejects: every parse of a non-blank line raises in the workers.
RAISING_CONFIG = {
    "config": {"fields": [{"name": "F", "keys": [["Key"]], "max_distances": [["x"]],
                           "min_accuracies": [0.5]}]},
    **{p: {**ktpspec.DEFAULT_FIELD_CONFIG,
           "provinsi": {**ktpspec.DEFAULT_FIELD_CONFIG["provinsi"], "max_distances": [["x"]]}}
       for p in ("sweep", "blended", "boxorder")},
}
RAISED = (
    "engine exception: ValueError: max_distances should be 2 dimensional list "
    "containing float/int, found: (<class 'str'>) x"
)


@pytest.mark.parametrize("parser", PARSERS)
def test_guard_keeps_the_stage_alive(spark, parser):  # noqa: F811
    """In the Spark workers each kernel entry raises on a poisoned config:
    every page still yields exactly one row, the per-row oracle's; a page
    with a payload yields a {}/False row, and the sweep and debug stages
    name the exception."""
    poisoned = RAISING_CONFIG[parser]
    pages = _pages(spark, _guard_pages())
    rows = extract.extract_pages(pages, configs=poisoned, parser=parser).collect()
    assert sorted(r.url for r in rows) == sorted(p["url"] for p in _guard_pages())
    for r, page in zip(sorted(rows), sorted(_guard_pages(), key=lambda p: p["url"])):
        want = extract._page_row(
            page["url"], page["html"], page["text"], page["lang"], poisoned, parser
        )
        assert r.asDict() == {k: want[k] for k in r.asDict()}
        if r.url == "u-none":
            continue  # no line to parse: the parser's own no-payload row
        assert (r.result_json, r.success, r.n_fields) == ("{}", False, 0)
        if parser == "sweep":
            assert r.error_messages == [RAISED]
    debug = extract.extract_pages_debug(pages, configs=poisoned, parser=parser).collect()
    assert len(debug) == len(rows)
    for r in debug:
        if r.url != "u-none":
            assert r.error_messages == [RAISED]


_CONFIG_FIELD = {"name": "F", "keys": [["Key"]], "max_distances": [[1]], "min_accuracies": [0.5]}
MALFORMED = [
    ("config", {"fields": [{**_CONFIG_FIELD, "evaluators": ["leters"]}]}),
    ("config", {"fields": [{**_CONFIG_FIELD, "extractor": "regex"}]}),
    ("config", {"fields": [{**_CONFIG_FIELD, "preprocess": "title"}]}),
    ("config", {"fields": [_CONFIG_FIELD], "final_evaluator": "kpt"}),
    ("config", {"fields": [{"name": "F"}]}),
    ("config", None),
    ("sweep", {}),
    ("blended", {k: v for k, v in ktpspec.DEFAULT_FIELD_CONFIG.items() if k != "nama"}),
    ("boxorder", {**ktpspec.DEFAULT_FIELD_CONFIG, "nik": {"max_distances": [[1]]}}),
]


@pytest.mark.parametrize("parser,cfg", MALFORMED)
def test_malformed_config_raises_before_any_spark_job(spark, tmp_path, parser, cfg):  # noqa: F811
    """A misspelt evaluator, an unknown extractor / preprocess / final
    evaluator or a missing key fails on the driver, as an unknown parser
    does, instead of committing one exception-guard row per page."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.fieldspans import (
        extract_page_field_spans,
    )
    from universal_key_value_based_text_processing_with_ocr_spark.plans import (
        run_extraction_job,
    )

    pages = _pages(spark, _guard_pages())
    with pytest.raises(ValueError):
        extract.extract_pages(pages, configs=cfg, parser=parser)
    with pytest.raises(ValueError):
        extract.extract_pages_debug(pages, configs=cfg, parser=parser)
    if parser != "config":
        with pytest.raises(ValueError):
            extract_page_field_spans(pages, configs=cfg)
    sc = spark.sparkContext
    group = f"malformed-{tmp_path.name}"
    sc.setJobGroup(group, "malformed config")
    try:
        with pytest.raises(ValueError):
            run_extraction_job(spark, pages, str(tmp_path / "r"), configs=cfg, parser=parser)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert not (tmp_path / "r").exists()


# --- the debug artifact ------------------------------------------------------


@pytest.mark.parametrize("parser", PARSERS)
def test_debug_row_shows_the_parsed_text(parser):
    """The debug row carries the text the parse saw and the committed result
    bytes, for every parser (blended and boxorder once left the text out)."""
    for doc_id in range(40):
        page = gen_page_row(GOLDEN_SEED, doc_id)
        args = (page["url"], page["html"], page["text"], page["lang"])
        debug = extract.parse_page_row_debug(*args, configs=_configs(parser), parser=parser)
        sweep_row = extract.parse_page_row(*args)
        assert debug["extracted_text"] == sweep_row["extracted_text"] is not None
        assert debug["n_bytes"] == sweep_row["n_bytes"]
        row = ROW_FN[parser](*args)
        assert (debug["result_json"], debug["success"]) == (row["result_json"], row["success"])
        if parser == "sweep":
            assert debug["error_messages"] == row["error_messages"]
