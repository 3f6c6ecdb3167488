"""The KTP field table and the KTP document parsers.

Parity target: reference ``parse_ktp`` (/root/reference/parsers.py:11-101),
text path (``ktp_str=...``, parsers.py:82-86) — the pure text->fields
contract.  ``KTP_FIELDS`` IS the logical plan: declarative field specs in
the ``kvcore.config`` format, naming an extractor (operator), thresholds
(predicates) and evaluators (post-ops); the reference's
``to_extracts_ktp`` list (parsers.py:29-61) and its NIK re-scan
``to_extracts_ktp_nik`` (parsers.py:63-65).  ``KTP_PLANS`` orders the table
into each parser's spec list, and ``ktp_plans`` compiles them all with
``kvcore.config.compile_config``: once per process for the default
thresholds, once per job on the driver for the Spark stage.  Each document
then runs on a fresh copy (``Plan.fresh``).

The per-field thresholds come from a config the reference loads from a DB or
``ktp_config.json`` (parsers.py:8,21-27) — neither ships with the reference
repo, so DEFAULT_FIELD_CONFIG below is engine-defined (documented, frozen,
and used by both oracle and pipeline; values chosen so OCR-style noise
within the confusion sets stays findable).  A configs dict must have every
key DEFAULT_FIELD_CONFIG has; one that does not raises ``ValueError`` when
it is compiled.

Reference quirks kept:
- The text path INSERTS a second NIK spec at position 2 (parsers.py:86)
  ahead of the always-present NIK spec; the earlier one consumes the NIK
  line, so the later spec (tolerant_not_exists=[False], parsers.py:35) then
  fails and every single-NIK-line document sweeps to success=False even when
  the final evaluator accepts the NIK.  Byte-identity keeps this: the sweep
  plan holds ``nik_text`` and then ``nik``.
- ``result_orders`` / ``output_orders`` canonical orderings
  (parsers.py:15-16,99-101) drive the serialized output.

Box-order tolerance override: the block sweep (reference ``parse_doc_new0``)
is never invoked by the reference, so no canonical spec list exists for
it, and its failing-spec semantics is ABORT-the-document rather than the
line sweep's record-and-continue.  The line path's hardcoded must-exist NIK
would abort every noisy document, so the boxorder plan runs the
config-tolerant ``nik_text`` spec in BOTH NIK positions; everything else
keeps its configured must-exist flags.
"""

from __future__ import annotations

import json
from typing import NamedTuple

from .boxsweep import sweep_blocks
from .config import Plan, compile_config
from .evaluate import (
    eval_birth,
    eval_blood,
    eval_citizenship,
    eval_city,
    eval_gender,
    eval_job,
    eval_marital,
    eval_nik,
    eval_province,
    eval_religion,
    eval_rtrw,
    eval_valid_until,
    final_evaluate_ktp,
)
from .matching import match_keys_in_line, match_line_regex
from .sweep import blend_parsers, scan_document_all, sweep_document

RESULT_ORDERS = [
    "PROVINSI",
    "KABUPATEN/KOTA",
    "NIK",
    "Nama",
    "Tempat",
    "Tanggal Lahir",
    "Jenis kelamin",
    "GolDarah",
    "Alamat",
    "RT/RW",
    "Kel/Desa",
    "Kecamatan",
    "Agama",
    "Status Perkawinan",
    "Pekerjaan",
    "Kewarganegaraan",
    "Berlaku Hingga",
]

OUTPUT_ORDERS = [
    "success",
    "result",
    "all_error_messages",
    "warning",
    "all_error_codes",
    "model_result",
]

# Engine-defined field thresholds (the reference's ktp_config.json is absent
# from its repo).  max_distances are per key token; min_accuracies per key.
DEFAULT_FIELD_CONFIG = {
    "provinsi": {"max_distances": [[3]], "min_accuracies": [0.6], "tolerant_not_exists": [False]},
    "kabupatenkota": {"tolerant_not_exists": [False]},
    "nik": {"max_distances": [[1]], "min_accuracies": [0.7], "tolerant_not_exists": [True]},
    "nama": {"max_distances": [[1]], "min_accuracies": [0.7], "tolerant_not_exists": [False]},
    "tempattgllahir": {
        "max_distances": [[2, 1, 2]],
        "min_accuracies": [0.6],
        "tolerant_not_exists": [False],
    },
    "jeniskelamin|goldarah": {
        "max_distances": [[1, 2], [1, 1]],
        "min_accuracies": [0.6, 0.5],
        "tolerant_not_exists": [False, True],
    },
    "alamat": {"max_distances": [[2]], "min_accuracies": [0.6], "tolerant_not_exists": [False]},
    "rtrw": {"max_distances": [[1]], "min_accuracies": [0.5], "tolerant_not_exists": [False]},
    "keldesa": {"max_distances": [[2]], "min_accuracies": [0.6], "tolerant_not_exists": [False]},
    "kecamatan": {"max_distances": [[2]], "min_accuracies": [0.6], "tolerant_not_exists": [False]},
    "agama": {"max_distances": [[1]], "min_accuracies": [0.6], "tolerant_not_exists": [False]},
    "statusperkawinan": {
        "max_distances": [[2, 3]],
        "min_accuracies": [0.5],
        "tolerant_not_exists": [False],
    },
    "pekerjaan": {"max_distances": [[2]], "min_accuracies": [0.6], "tolerant_not_exists": [False]},
    "kewarganegaraan": {
        "max_distances": [[4]],
        "min_accuracies": [0.5],
        "tolerant_not_exists": [False],
    },
    "berlakuhingga": {
        "max_distances": [[2, 2]],
        "min_accuracies": [0.5],
        "tolerant_not_exists": [False],
    },
}

_ALNUM = "[a-z|A-Z|0-9]"
_NIK_FILTERS = [[_ALNUM, "[\\:]"]]

# The KTP field table in the kvcore.config format.  ``thresholds`` names the
# DEFAULT_FIELD_CONFIG entry whose keys fill the field from the parser's
# configs; a key the field sets itself (the must-exist NIK) wins.
KTP_FIELDS = {
    "provinsi": {"name": "PROVINSI", "thresholds": "provinsi", "keys": [["PROVINSI"]],
                 "evaluators": ["province"]},
    "kabupatenkota": {"name": "KABUPATEN/KOTA", "thresholds": "kabupatenkota",
                      "extractor": "whole_line", "evaluators": ["city"]},
    # the text path's inserted NIK (parsers.py:86): configured tolerance
    "nik_text": {"name": "NIK", "thresholds": "nik", "keys": [["NIK"]],
                 "char_filters": _NIK_FILTERS, "evaluators": ["nik"]},
    # the table's own NIK (parsers.py:35): must exist, whatever the config
    "nik": {"name": "NIK", "thresholds": "nik", "keys": [["NIK"]],
            "char_filters": _NIK_FILTERS, "evaluators": ["nik"], "tolerant_not_exists": [False]},
    "nama": {"name": "Nama", "thresholds": "nama", "keys": [["Nama"]],
             "evaluators": ["letters"], "multi_line_value": True},
    "tempattgllahir": {"name": "Tempat/Tgl Lahir", "thresholds": "tempattgllahir",
                       "keys": [["Tempat", "Tgl", "Lahir"]], "char_filter": "[a-z|A-Z|\\/|0-9]",
                       "evaluators": ["birth"], "wo_space": True},
    "jeniskelamin|goldarah": {
        "name": "Jenis kelamin", "aliases": ["Jenis kelamin", "GolDarah"],
        "thresholds": "jeniskelamin|goldarah", "keys": [["jenis", "kelamin"], ["gol", "darah"]],
        "separators": [":", "."],
        "char_filters": [["[a-z|A-Z|\\-|0-9]"] * 3, ["[a-z|A-Z|\\-|0-9]"] * 3],
        "preprocess": "lower", "evaluators": ["gender", "blood"], "wo_space": True,
    },
    "alamat": {"name": "Alamat", "thresholds": "alamat", "keys": [["Alamat"]],
               "evaluators": ["no_number"], "multi_line_value": True},
    "rtrw": {"name": "RT/RW", "thresholds": "rtrw", "keys": [["RTRW"]],
             "char_filters": [["[a-z|A-Z|0-9|\\=|\\/]"], ["[a-z|A-Z|0-9|\\=|\\/]"]],
             "preprocess": "upper", "evaluators": ["rtrw"], "multi_line_value": True,
             "wo_space": True},
    "keldesa": {"name": "Kel/Desa", "thresholds": "keldesa", "keys": [["KelDesa"]],
                "char_filters": [[_ALNUM] * 3], "evaluators": ["upper_letters"]},
    "kecamatan": {"name": "Kecamatan", "thresholds": "kecamatan", "keys": [["Kecamatan"]],
                  "evaluators": ["letters"], "multi_line_value": True},
    "agama": {"name": "Agama", "thresholds": "agama", "keys": [["Agama"]],
              "evaluators": ["religion"], "multi_line_value": True},
    "statusperkawinan": {"name": "Status Perkawinan", "thresholds": "statusperkawinan",
                         "keys": [["Status", "Perkawinan"]], "char_filter": "[a-z|A-Z|\\/|0-9]",
                         "evaluators": ["marital"]},
    "pekerjaan": {"name": "Pekerjaan", "thresholds": "pekerjaan", "keys": [["Pekerjaan"]],
                  "evaluators": ["job"], "multi_line_value": True},
    "kewarganegaraan": {"name": "Kewarganegaraan", "thresholds": "kewarganegaraan",
                        "keys": [["Kewarganegaraan"]], "evaluators": ["citizenship"],
                        "multi_line_value": True},
    "berlakuhingga": {"name": "Berlaku Hingga", "thresholds": "berlakuhingga",
                      "keys": [["Berlaku", "Hingga"]], "char_filter": "[a-z|A-Z|\\/|0-9]",
                      "evaluators": ["valid_until"], "wo_space": True},
    # the blended parser's multi-hit NIK re-scan (parsers.py:63-65)
    "nik_1": {"name": "NIK_1", "extractor": "whole_line", "evaluators": ["nik"],
              "tolerant_not_exists": [True]},
}

_TABLE = ("provinsi", "kabupatenkota", "nik", "nama", "tempattgllahir",
          "jeniskelamin|goldarah", "alamat", "rtrw", "keldesa", "kecamatan", "agama",
          "statusperkawinan", "pekerjaan", "kewarganegaraan", "berlakuhingga")

# each plan's fields in sweep order (the quirks in the module docstring)
KTP_PLANS = {
    "sweep": _TABLE[:2] + ("nik_text",) + _TABLE[2:],
    "blended": _TABLE,
    "rescan": ("nik_1",),
    "boxorder": _TABLE[:2] + ("nik_text", "nik_text") + _TABLE[3:],
}


class KtpPlans(NamedTuple):
    """The compiled KTP plans, one per ``KTP_PLANS`` entry."""

    sweep: Plan
    blended: Plan
    rescan: Plan
    boxorder: Plan


def _bindings() -> dict:
    """The callables the table names, read from this module when it
    compiles, so a patched entry (a tracer, a fault injector) is the one
    the plans call."""
    return {
        "keys": match_keys_in_line, "whole_line": match_line_regex,
        "province": eval_province, "city": eval_city, "nik": eval_nik,
        "birth": eval_birth, "gender": eval_gender, "blood": eval_blood,
        "rtrw": eval_rtrw, "religion": eval_religion, "marital": eval_marital,
        "job": eval_job, "citizenship": eval_citizenship,
        "valid_until": eval_valid_until, "ktp": final_evaluate_ktp,
    }


def ktp_config(configs) -> dict:
    """``KTP_FIELDS`` as one ``kvcore.config`` config, thresholds filled
    from ``configs``."""
    fields = []
    for field in KTP_FIELDS.values():
        field = dict(field)
        key = field.pop("thresholds", None)
        if key is not None:
            try:
                field.update({k: configs[key][k] for k in DEFAULT_FIELD_CONFIG[key]
                              if k not in field})
            except (KeyError, TypeError) as exc:
                raise ValueError(
                    f"KTP thresholds {key!r} need {list(DEFAULT_FIELD_CONFIG[key])}: missing {exc}"
                ) from None
        fields.append(field)
    return {"fields": fields, "final_evaluator": "ktp"}


def _compile(configs, bindings) -> KtpPlans:
    plan = compile_config(ktp_config(configs), bindings)
    spec = dict(zip(KTP_FIELDS, plan.specs))
    return KtpPlans(**{
        name: Plan([spec[f] for f in fields], None if name == "rescan" else plan.final)
        for name, fields in KTP_PLANS.items()
    })


_default_plans = None  # (bindings, KtpPlans) of the default thresholds


def ktp_plans(configs=None) -> KtpPlans:
    """The compiled KTP plans for ``configs`` (keyed like
    DEFAULT_FIELD_CONFIG; None = the defaults, compiled once per process;
    compiled plans pass through).  Any other dict compiles on every call:
    a caller parsing many documents with its own thresholds passes
    ``ktp_plans(cfg)`` to the parsers instead."""
    global _default_plans
    if type(configs) is KtpPlans:
        return configs
    bindings = _bindings()
    if configs is not None:
        return _compile(configs, bindings)
    key = tuple(bindings.values())
    if _default_plans is None or _default_plans[0] != key:
        _default_plans = (key, _compile(DEFAULT_FIELD_CONFIG, bindings))
    return _default_plans[1]


def _ordered(result, warning, result_orders, output_orders=None):
    """The entry points' shared tail: the page warning, the canonical
    result order and, when given, the output key order."""
    result["warning"] = {} if warning is None else warning
    if "result" in result:
        order = RESULT_ORDERS if result_orders is None else result_orders
        result["result"] = {k: result["result"][k] for k in order if k in result["result"]}
    if output_orders is None:
        return result
    return {k: result[k] for k in output_orders if k in result}


def parse_document(
    doc_str,
    configs=None,
    output_orders=None,
    result_orders=None,
    use_final_evaluator=True,
    warning=None,
):
    """Text-path entry point == reference ``parse_ktp(ktp_str=...)``.

    ``warning`` is engine-supplied (the reference computes image-quality
    warnings; the web-page analog — payload-quality predicates — is computed
    by the HTML stage and passed in; defaults to {}).
    """
    plan = ktp_plans(configs).sweep
    result = blend_parsers(
        doc_parsers={sweep_document: {"doc_str": doc_str, "to_extracts": plan.fresh()}},
        final_evaluator=plan.final if use_final_evaluator else (lambda x: x),
    )
    return _ordered(
        result, warning, result_orders, OUTPUT_ORDERS if output_orders is None else output_orders
    )


def parse_document_blended(
    doc_str,
    configs=None,
    output_orders=None,
    result_orders=None,
    warning=None,
):
    """Two-parser blended entry == reference ``parse_ktp`` image-path
    STRUCTURE (parsers.py:68-96) applied to a text payload: the ordered
    field sweep PLUS the multi-hit NIK_1 re-scan, merged first-writer-wins,
    then the cross-field final evaluator."""
    plans = ktp_plans(configs)
    result = blend_parsers(
        doc_parsers={
            sweep_document: {"to_extracts": plans.blended.fresh()},
            scan_document_all: {"spec": plans.rescan.fresh()},
        },
        final_evaluator=plans.blended.final,
        doc_str=doc_str,
    )
    return _ordered(
        result, warning, result_orders, OUTPUT_ORDERS if output_orders is None else output_orders
    )


def parse_document_boxorder(
    blocks,
    configs=None,
    result_orders=None,
    keep_looking=False,
    warning=None,
):
    """Block-order entry point == reference ``parse_doc_new0``
    (/root/reference/ocrfw/postprocessing.py:546-663) applied to the graft's
    DOM blocks: the geometry-driven second physical plan, where a box is one
    htmlcore block's text in document order.  The text path's spec list
    with the box-order tolerance override (module docstring), so the two
    parsers differ only in sweep order/consumption semantics."""
    plan = ktp_plans(configs).boxorder
    result = sweep_blocks(
        blocks, plan.fresh(), final_evaluator=plan.final, keep_looking=keep_looking
    )
    # the early-failure echo carries the spec dict (function objects) — not
    # serializable and not byte-stable; the parity tests exercise it on the
    # raw sweep_blocks instead
    result.pop("to extracts", None)
    result.pop("line_result", None)
    return _ordered(result, warning, result_orders)


def serialize_result(parsed: dict) -> str:
    """Canonical byte-stable serialization (reference ocrfw/ktp.py:2140:
    ``json.dumps(..., default=str)``)."""
    return json.dumps(parsed, default=str)
