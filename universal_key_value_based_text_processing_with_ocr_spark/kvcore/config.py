"""Universal extraction-config schema: JSON-friendly field specs.

The reference's extensibility model is a list of spec dicts naming an
extractor, its thresholds and evaluators (``to_extracts_ktp``,
/root/reference/parsers.py:29-61; dispatch at
/root/reference/ocrfw/postprocessing.py:430-434,457-467).  This module is
the engine's public version of that contract, and its one spec compiler: a
plain-JSON config (so it ships to executors by closure capture /
--py-files with zero pickling hazards) compiled into runnable spec lists
for ``sweep_document`` and ``sweep_blocks``.

Example::

    cfg = {
        "fields": [
            {"name": "Invoice", "keys": [["Invoice", "No"]],
             "max_distances": [[1, 1]], "min_accuracies": [0.6],
             "separators": [":"], "char_filter": "[a-z|A-Z|0-9]",
             "evaluators": ["letters"]},
            {"name": "Total", "extractor": "whole_line",
             "pattern": "TOTAL", "evaluators": ["digits"]},
        ],
        "final_evaluator": null,
    }
    results = parse_document_with_config(text, cfg)

The KTP plan is the reference instance of this format:
``kvcore.ktpspec.KTP_FIELDS`` is its field table, thresholds filled from a
``DEFAULT_FIELD_CONFIG``-shaped dict, and every KTP parser (sweep, blended,
boxorder) and the field-spans pass run specs compiled here.

Compile once, copy per document.  ``compile_config`` returns a
:class:`Plan` whose ``specs`` are a template no document sweeps: a sweep
writes ``line`` into a spec's args dict and a ``wo_space`` spec grows its
key lists in place (``matching._grow_wo_space``), so each document runs on
``Plan.fresh()``, a copy of exactly those.  A malformed config (an unknown
evaluator, extractor, preprocess or final evaluator, a missing key) raises
``ValueError`` when it is compiled.

Evaluator registry: named, pure functions ``value -> [ok, cleaned, *diag]``
— the engine's built-ins plus all reference evaluators.  Users extend by
calling :func:`register_evaluator`.
"""

from __future__ import annotations

from typing import NamedTuple

from . import evaluate
from .matching import match_keys_in_line, match_line_regex
from .repair import repair_no_number, repair_to_digits, repair_to_letters
from .sweep import sweep_document

# --- registries ---------------------------------------------------------------

EVALUATORS = {
    "identity": lambda v: [True, v],
    "letters": repair_to_letters,
    "upper_letters": lambda v: repair_to_letters(v.upper()),
    "digits": lambda v: [True, repair_to_digits(v)],
    "no_number": lambda v: [True, repair_no_number(repair_to_letters(v)[1])],
    "strip": lambda v: [True, v.strip()],
    "upper": lambda v: [True, v.upper()],
    # reference field evaluators
    "province": evaluate.eval_province,
    "city": evaluate.eval_city,
    "nik": evaluate.eval_nik,
    "birth": evaluate.eval_birth,
    "gender": evaluate.eval_gender,
    "blood": evaluate.eval_blood,
    "rtrw": evaluate.eval_rtrw,
    "religion": evaluate.eval_religion,
    "marital": evaluate.eval_marital,
    "job": evaluate.eval_job,
    "valid_until": evaluate.eval_valid_until,
    "citizenship": evaluate.eval_citizenship,
}

FINAL_EVALUATORS = {
    None: None,
    "ktp": evaluate.final_evaluate_ktp,
}

EXTRACTORS = {"keys": match_keys_in_line, "whole_line": match_line_regex}

_PREPROCESS = {None: None, "lower": str.lower, "upper": str.upper}


def register_evaluator(name: str, fn) -> None:
    """Add a custom evaluator (callable value -> [ok, cleaned, *diag])."""
    EVALUATORS[name] = fn


def _lookup(registry: dict, name, what: str, bindings):
    """``registry[name]``, or ``bindings[name]`` when the caller binds that
    name to its own callable; an unknown name is a ``ValueError``."""
    try:
        fn = registry[name]
    except (KeyError, TypeError):
        raise ValueError(f"unknown {what}: {name!r}") from None
    return bindings.get(name, fn) if bindings else fn


# --- compiler -----------------------------------------------------------------


class Plan(NamedTuple):
    """A compiled config: the spec template and the final evaluator."""

    specs: list
    final: object

    def fresh(self) -> list:
        """One document's specs: a new args dict per spec, and new lists
        for a ``wo_space`` spec's args.  Everything else is shared with the
        template, which no sweep mutates."""
        out = []
        for te in self.specs:
            args = te["extractor_args"]
            if args.get("wo_space"):
                args = {k: v[:] if type(v) is list else v for k, v in args.items()}
            else:
                args = dict(args)
            out.append({**te, "extractor_args": args})
        return out


def compile_field(field: dict, bindings=None) -> dict:
    """One JSON field spec -> a sweep spec dict.  Nested lists are taken
    as they are: ``Plan.fresh`` copies what a sweep mutates."""
    name = field["name"]
    kind = field.get("extractor", "keys")
    extractor = _lookup(EXTRACTORS, kind, "extractor", bindings)
    evaluators = [
        _lookup(EVALUATORS, e, "evaluator", bindings) for e in field.get("evaluators", [])
    ]
    alias_names = list(field.get("aliases", [name]))
    tolerant = field.get("tolerant_not_exists", [False] * len(alias_names))

    if kind == "whole_line":
        extractor_args = dict(alias_names=list(alias_names), pattern=field.get("pattern", ".*"))
    else:
        keys = [list(k) for k in field["keys"]]
        char_filter = field.get("char_filter", "[a-z|A-Z|0-9]")
        extractor_args = dict(
            key_str_list_list=keys,
            max_distances=field["max_distances"],
            min_accuracies=list(field["min_accuracies"]),
            separators=list(field.get("separators", [":"])),
            re_chars_filter=field.get("char_filters", [[char_filter] * len(k) for k in keys]),
            alias_names=list(alias_names),
        )
        preprocess = _lookup(_PREPROCESS, field.get("preprocess"), "preprocess", None)
        if preprocess is not None:
            extractor_args["line_preprocessing"] = preprocess
        if field.get("wo_space", False):
            extractor_args["wo_space"] = True
        if field.get("use_re_support", False):
            extractor_args["use_re_support"] = True

    return dict(
        extractor=extractor,
        extractor_args=extractor_args,
        evaluators=evaluators,
        multi_line_value=field.get("multi_line_value", False),
        alias_names=alias_names,
        tolerant_not_exists=list(tolerant),
    )


def compile_config(cfg: dict, bindings=None) -> Plan:
    """Full JSON config -> its :class:`Plan` (a Plan passes through);
    ``ValueError`` if malformed.

    ``bindings`` (name -> callable) overrides registry entries of the same
    name: the KTP plan binds its own module's entries, so a patched one (a
    tracer, a fault injector) is the one its plan calls."""
    if type(cfg) is Plan:
        return cfg
    try:
        specs = [compile_field(f, bindings) for f in cfg.get("fields", [])]
        final = _lookup(FINAL_EVALUATORS, cfg.get("final_evaluator"), "final_evaluator", bindings)
    except (AttributeError, KeyError, TypeError) as exc:
        raise ValueError(f"malformed config: {type(exc).__name__}: {exc}") from None
    return Plan(specs, final)


def parse_document_with_config(doc_str: str, cfg) -> dict:
    """Run a user config, or its compiled :class:`Plan`, over one document."""
    plan = compile_config(cfg)
    return sweep_document(doc_str, plan.fresh(), final_evaluator=plan.final)
