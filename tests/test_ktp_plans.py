"""The compiled KTP plans against the frozen hand-written builder.

``kvcore.ktpspec.ktp_plans`` compiles the KTP field table with
``kvcore.config.compile_config`` once and hands each document a copy
(``Plan.fresh``); ``tests/frozen_ktpspec.py`` is the builder and entry
points it replaced, which built every spec dict by hand per document.
For the default thresholds and perturbed ones, both must build the same
specs and give the same sweep, blended, boxorder and span outputs —
including on KTP pages that print the NIK line twice, the only input that
reaches the sweep's ``success=True`` branch.  And no document may change
the compiled template.
"""

from __future__ import annotations

import copy
import functools
import json

import pytest

from tests import frozen_ktpspec as frozen
from universal_key_value_based_text_processing_with_ocr_spark.kvcore import config as kvconfig
from universal_key_value_based_text_processing_with_ocr_spark.kvcore import ktpspec
from universal_key_value_based_text_processing_with_ocr_spark.operators.extract import page_lines
from universal_key_value_based_text_processing_with_ocr_spark.operators.fieldspans import (
    line_field_spans,
)
from universal_key_value_based_text_processing_with_ocr_spark.sources.synthdocs import (
    gen_document,
)

DEFAULT = ktpspec.DEFAULT_FIELD_CONFIG


def _perturbed(fn) -> dict:
    cfg = copy.deepcopy(DEFAULT)
    for entry in cfg.values():
        fn(entry)
    return cfg


def _looser(entry):
    if "max_distances" in entry:
        entry["max_distances"] = [[d + 1 for d in row] for row in entry["max_distances"]]
        entry["min_accuracies"] = [a - 0.15 for a in entry["min_accuracies"]]


def _stricter(entry):
    if "max_distances" in entry:
        entry["max_distances"] = [[max(d - 1, 0) for d in row] for row in entry["max_distances"]]
        entry["min_accuracies"] = [min(a + 0.15, 0.95) for a in entry["min_accuracies"]]
    entry["tolerant_not_exists"] = [not t for t in entry["tolerant_not_exists"]]


def _fractional(entry):
    # fractions of the key token length, snapped to the reference's grid
    if "max_distances" in entry:
        entry["max_distances"] = [[0.34 for _ in row] for row in entry["max_distances"]]


CONFIGS = {
    "default": DEFAULT,
    "looser": _perturbed(_looser),
    "stricter": _perturbed(_stricter),
    "fractional": _perturbed(_fractional),
}


def _frozen_specs(plan: str, cfg: dict) -> list:
    """The spec list each parser ran before the field table."""
    if plan == "rescan":
        return [frozen._rescan_nik_spec()]
    specs = frozen.build_ktp_specs(cfg)
    if plan in ("sweep", "boxorder"):
        specs.insert(2, frozen._text_path_nik_spec(cfg))
    if plan == "boxorder":
        specs[3]["tolerant_not_exists"] = frozen._copy_config(cfg["nik"]["tolerant_not_exists"])
    return specs


def _frozen_plans(cfg: dict) -> ktpspec.KtpPlans:
    return ktpspec.KtpPlans(**{
        plan: kvconfig.Plan(_frozen_specs(plan, cfg), None) for plan in ktpspec.KTP_PLANS
    })


def _pages(seed: int, n: int) -> list:
    """(doc_str, lines) of ``n`` synthdocs pages as the row path decodes them."""
    out = []
    for i in range(n):
        doc = gen_document(seed, i)
        lines, _ = page_lines(doc["html"], doc["text"])
        out.append(("\n".join(lines), lines))
    return out


def _double_nik_pages(seed: int, n: int) -> list:
    """Text-path KTP pages with the NIK line (the third) printed twice."""
    out = []
    for i in range(n):
        doc = gen_document(seed, i)
        if doc["lang"] == "ind":
            lines = doc["_lines"][:3] + doc["_lines"][2:]
            out.append(("\n".join(lines), lines))
    return out


PAGES = _pages(42, 120) + _pages(7, 60) + _double_nik_pages(42, 80)


@pytest.mark.parametrize("name", CONFIGS)
def test_plans_build_the_frozen_specs(name):
    """Same extractor, args, aliases, flags and evaluators per position.
    Known differences: the whole-line KABUPATEN/KOTA spec names
    ``pattern=".*"`` (``match_line_regex``'s default) and NIK_1 drops the
    unused ``tess_config``; the Alamat and Kel/Desa evaluators are registry
    entries equal to the old lambdas on every value tried."""
    cfg = CONFIGS[name]
    plans = ktpspec.ktp_plans(cfg)
    values = ["Jl. Mawar 12", "sukamaju", "BANJ4RSARI", "", "x 1 y"]
    for plan in ktpspec.KTP_PLANS:
        got = getattr(plans, plan).fresh()
        want = _frozen_specs(plan, cfg)
        assert len(got) == len(want), plan
        for g, w in zip(got, want):
            w = dict(w)
            w.pop("tess_config", None)
            if w["alias_names"] == ["KABUPATEN/KOTA"]:
                w["extractor_args"] = {**w["extractor_args"], "pattern": ".*"}
            assert set(g) == set(w), plan
            for key in w:
                if key != "evaluators":
                    assert g[key] == w[key], (plan, w["alias_names"], key)
            assert len(g["evaluators"]) == len(w["evaluators"])
            for ge, we in zip(g["evaluators"], w["evaluators"]):
                if ge is not we:
                    assert we.__name__ == "<lambda>", (plan, w["alias_names"])
                    assert [ge(v) for v in values] == [we(v) for v in values]
    assert plans.sweep.final is plans.blended.final is plans.boxorder.final
    assert plans.sweep.final is ktpspec.final_evaluate_ktp and plans.rescan.final is None


def test_the_ktp_plans_are_a_json_config():
    """The KTP table with its thresholds filled is plain JSON, and its
    compile orders into every parser's plan."""
    cfg = json.loads(json.dumps(ktpspec.ktp_config(DEFAULT)))
    by_field = dict(zip(ktpspec.KTP_FIELDS, kvconfig.compile_config(cfg).specs))
    plans = ktpspec.ktp_plans()
    for plan, fields in ktpspec.KTP_PLANS.items():
        assert getattr(plans, plan).specs == [by_field[f] for f in fields], plan


@pytest.mark.parametrize("name", CONFIGS)
def test_parsers_match_the_frozen_builder(name):
    cfg = CONFIGS[name]
    plans = ktpspec.ktp_plans(cfg)  # compiled once for every page below
    old_spans = _frozen_plans(cfg)
    n_success = 0
    for doc_str, lines in PAGES:
        got = ktpspec.parse_document(doc_str, plans)
        assert got == frozen.parse_document(doc_str, cfg), doc_str[:200]
        n_success += got["success"]
        assert ktpspec.parse_document_blended(doc_str, plans) == (
            frozen.parse_document_blended(doc_str, cfg)
        ), doc_str[:200]
        try:
            want = frozen.parse_document_boxorder(lines, cfg)
        except Exception as exc:  # the abort echo on an empty box list
            with pytest.raises(type(exc)):
                ktpspec.parse_document_boxorder(lines, plans)
        else:
            assert ktpspec.parse_document_boxorder(lines, plans) == want, doc_str[:200]
        for line in lines:
            assert line_field_spans(line, plans) == line_field_spans(line, old_spans), line
    if name == "default":
        # the double-NIK pages reach the sweep's success branch
        assert n_success >= 10


def _compiled_fresh() -> ktpspec.KtpPlans:
    return ktpspec._compile(DEFAULT, ktpspec._bindings())


def test_documents_leave_the_compiled_template_unchanged():
    """Every parser and the spans pass run the cached default plans over
    pages with wo_space key lines; the template then still equals a fresh
    compile, so no wo_space growth or swept line reaches the next
    document."""
    plans = ktpspec.ktp_plans()
    assert ktpspec.ktp_plans() is plans  # compiled once per process
    wo_space_page = "\n".join(
        ["TempatTglLahir : JAKARTA, 01-02-1990", "JenisKelamin : LAKI-LAKI GolDarah : O",
         "RTRW : 001/002", "BerlakuHingga : SEUMUR HIDUP"] * 3
        + ["Tempat Tgl Lahir : BANDUNG, 03-04-1980", "noise line"] * 4
    )
    user_cfg = {"fields": [
        {"name": "Lahir", "keys": [["Tempat", "Lahir"]], "max_distances": [[1, 1]],
         "min_accuracies": [0.5], "wo_space": True, "evaluators": ["strip"]},
    ]}
    user_plan = kvconfig.compile_config(user_cfg)
    for doc_str, lines in PAGES[:40] + [(wo_space_page, wo_space_page.split("\n"))]:
        ktpspec.parse_document(doc_str)
        ktpspec.parse_document_blended(doc_str)
        try:
            ktpspec.parse_document_boxorder(lines)
        except UnboundLocalError:
            pass  # the abort echo on an empty box list
        kvconfig.parse_document_with_config(doc_str, user_plan)
        for line in lines:
            line_field_spans(line)
    assert ktpspec.ktp_plans() is plans
    assert plans == _compiled_fresh()
    assert user_plan == kvconfig.compile_config(user_cfg)
    assert user_cfg == {"fields": [
        {"name": "Lahir", "keys": [["Tempat", "Lahir"]], "max_distances": [[1, 1]],
         "min_accuracies": [0.5], "wo_space": True, "evaluators": ["strip"]},
    ]}


def test_a_patched_entry_reaches_the_default_plans(monkeypatch):
    """A tracer wrapping ``ktpspec.match_keys_in_line`` or an evaluator sees
    every call of the cached plans; undoing the patch restores them."""
    plans = ktpspec.ktp_plans()
    calls = {"match": 0, "nik": 0}

    def counting(name, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)
        return wrapper

    for attr, name in (("match_keys_in_line", "match"), ("eval_nik", "nik")):
        monkeypatch.setattr(ktpspec, attr, counting(name, getattr(ktpspec, attr)))
    doc_str = PAGES[-1][0]
    ktpspec.parse_document(doc_str)
    assert calls["match"] > 0 and calls["nik"] > 0
    monkeypatch.undo()
    assert ktpspec.ktp_plans() == plans


@pytest.mark.parametrize("bad", [
    {},
    {k: v for k, v in DEFAULT.items() if k != "nama"},
    {**DEFAULT, "nik": {"max_distances": [[1]], "min_accuracies": [0.7]}},
    [1, 2],
])
def test_malformed_thresholds_raise_on_compile(bad):
    with pytest.raises(ValueError, match="KTP thresholds"):
        ktpspec.ktp_plans(bad)
