"""Differential fuzz: the indexed sweep against the frozen per-(spec, line)
kernel.

``kvcore.sweep.sweep_document`` runs the full matcher only on the lines its
per-document line index names as candidates; ``tests/frozen_kernel.py``
probes every (spec, non-blank line) pair.  Both run on deep copies of the
same random spec lists and documents, and must agree on the whole output
(``all_error_messages`` included), on any exception, and on the spec state
the sweep leaves behind (``wo_space`` growth).  The spec and line
generators are those of ``tests/test_matcher_fuzz.py``, which fuzzes the
matcher against the reference and so skips without it; here the oracle is
the frozen copy, so this runs everywhere.
"""

from __future__ import annotations

import copy
import functools
import json
import random

from tests import frozen_kernel as frozen
from tests.test_matcher_fuzz import FILTERS, WORDS, _random_args, _random_line
from universal_key_value_based_text_processing_with_ocr_spark.kvcore import (
    evaluate,
    ktpspec,
    matching,
)
from universal_key_value_based_text_processing_with_ocr_spark.kvcore.config import EVALUATORS
from universal_key_value_based_text_processing_with_ocr_spark.kvcore.sweep import sweep_document
from universal_key_value_based_text_processing_with_ocr_spark.sources import synthdocs

_EVALUATORS = [
    EVALUATORS["identity"],
    EVALUATORS["letters"],
    EVALUATORS["strip"],
    EVALUATORS["upper"],
    lambda v: [False, v, "rejected"],
    lambda v: [len(v) % 2 == 0, v],
    lambda v: [True, {"merged": v}],
]

_KTP_LINES = [
    line
    for doc_id in range(12)
    for line in synthdocs.gen_document(42, doc_id)["_lines"]
]

_KEYS = "KEYS"  # placeholder extractor, swapped per side


def _random_spec(rng: random.Random) -> dict:
    if rng.random() < 0.12:
        aliases = [f"W{rng.randint(0, 2)}"]
        args = dict(alias_names=list(aliases), pattern=rng.choice([".*", "Nama", "^$", "[0-9]"]))
        extractor = ktpspec.match_line_regex
    else:
        args = _random_args(rng)
        aliases = list(args["alias_names"])
        extractor = _KEYS
        roll = rng.random()
        if roll < 0.08:
            args["wo_space"] = True
            args["re_chars_filter"] = rng.choice(FILTERS)  # doubled on every call
        elif roll < 0.11:
            args["wo_space"] = True
            args["re_chars_filter"] = None  # TypeError on every call
        elif roll < 0.2:
            args["use_re_support"] = True
        elif roll < 0.22:
            # no valid pattern: raises wherever the matcher projects a token
            args["re_chars_filter"] = [["[a-z"] * len(k) for k in args["key_str_list_list"]]
        elif roll < 0.24:
            args["key_str_list_list"][0].append(7)  # not a str: join raises
            args["max_distances"][0].append(1)
            args["re_chars_filter"][0].append(FILTERS[0])
        if rng.random() < 0.3:
            del args["line_preprocessing"]  # the matcher's default
        if rng.random() < 0.2:
            args["whitespace"] = rng.choice([" ", ":"])
        if rng.random() < 0.15:
            aliases = args["alias_names"]  # one list: wo_space growth reaches the sweep
    n_eval = rng.randint(0, len(aliases))
    spec = dict(
        extractor=extractor,
        extractor_args=args,
        evaluators=[rng.choice(_EVALUATORS) for _ in range(n_eval)],
        multi_line_value=False,
        alias_names=aliases,
        tolerant_not_exists=[rng.random() < 0.35 for _ in aliases],
    )
    roll = rng.random()
    if roll < 0.02:
        del spec["extractor"]  # raises at the first non-blank line only
    elif roll < 0.04:
        spec["alias_names"] = tuple(aliases)
    elif roll < 0.05:
        spec["alias_names"] = dict.fromkeys(aliases, 0)  # indexing raises
    elif roll < 0.08:
        spec["tolerant_not_exists"] = spec["tolerant_not_exists"][:-1]
    return spec


def _random_doc(rng: random.Random) -> str:
    lines = []
    for _ in range(rng.randint(0, 9)):
        roll = rng.random()
        if roll < 0.4:
            lines.append(_random_line(rng))
        elif roll < 0.75:
            lines.append(rng.choice(_KTP_LINES))
        elif roll < 0.85:
            lines.append(rng.choice(["", "   ", "\t"]))
        elif roll < 0.92 and lines:
            lines.append(rng.choice(lines))  # duplicate: consume by value
        elif roll < 0.96:
            # a line over the 4,096-char cache bound, many tokens
            lines.append(" ".join(rng.choice(WORDS) for _ in range(900)) + " : x")
        else:
            # a single token over the bound, next to a key
            lines.append(rng.choice(WORDS) + " : " + rng.choice(["A", "7", "N"]) * 4200)
    return "\n".join(lines)


def _with_matcher(specs: list, matcher) -> list:
    out = copy.deepcopy(specs)
    for te in out:
        if te.get("extractor") == _KEYS:
            te["extractor"] = matcher
    return out


def _run(sweep, doc: str, specs: list, final_evaluator):
    try:
        got = sweep(doc, specs, final_evaluator=final_evaluator)
        outcome = json.dumps(got, default=str)
    except Exception as exc:  # both sides must fail alike
        outcome = f"raised {type(exc).__name__}: {exc}"
    state = [
        {k: v for k, v in te["extractor_args"].items() if k != "line"} for te in specs
    ]
    return outcome, json.dumps([state, [te["alias_names"] for te in specs]], default=str)


def _assert_same(doc: str, specs: list, final_evaluator=None, note=None):
    want = _run(frozen.sweep_document, doc, _with_matcher(specs, frozen.match_keys_in_line),
                final_evaluator)
    got = _run(sweep_document, doc, _with_matcher(specs, matching.match_keys_in_line),
               final_evaluator)
    assert got == want, (note, doc[:300])


def test_indexed_sweep_matches_frozen_kernel_on_random_specs():
    rng = random.Random(20261017)
    for trial in range(300):
        specs = [_random_spec(rng) for _ in range(rng.randint(1, 5))]
        _assert_same(_random_doc(rng), specs, note=trial)


def test_indexed_sweep_matches_frozen_kernel_on_ktp_specs():
    """The production spec list (both NIK specs, wo_space keys, all three
    line preprocessings) over synthetic pages and shuffled, duplicated,
    noisy mixes of their lines."""
    rng = random.Random(99)
    docs = ["\n".join(synthdocs.gen_document(7, i)["_lines"]) for i in range(40)]
    for _ in range(40):
        lines = [rng.choice(_KTP_LINES) for _ in range(rng.randint(1, 18))]
        lines += [_random_line(rng) for _ in range(rng.randint(0, 4))]
        rng.shuffle(lines)
        if rng.random() < 0.5:
            lines.insert(rng.randrange(len(lines) + 1), rng.choice(lines))
        docs.append("\n".join(lines))
    for i, doc in enumerate(docs):
        specs = ktpspec.ktp_plans().sweep.fresh()
        for te in specs:
            if te["extractor"] is matching.match_keys_in_line:
                te["extractor"] = _KEYS
        _assert_same(doc, specs, evaluate.final_evaluate_ktp, note=i)


def test_index_skips_non_candidate_probes_and_sees_through_wraps():
    """A functools.wraps wrapper of the matcher is still indexed: on a KTP
    page it is probed a handful of times, not once per (spec, line); a
    plain wrapper is an unknown extractor and probed on every line.  Both
    give the frozen kernel's output."""
    doc = next(
        "\n".join(d["_lines"])
        for d in (synthdocs.gen_document(42, i) for i in range(50))
        if d["lang"] == "ind"
    )
    n_lines = sum(1 for line in doc.split("\n") if line.strip())
    calls = {"wraps": 0, "plain": 0}

    @functools.wraps(matching.match_keys_in_line)
    def wrapped(**kwargs):
        calls["wraps"] += 1
        return matching.match_keys_in_line(**kwargs)

    def plain(**kwargs):
        calls["plain"] += 1
        return matching.match_keys_in_line(**kwargs)

    def specs_with(extractor):
        specs = ktpspec.ktp_plans().blended.fresh()
        for te in specs:
            if te["extractor"] is matching.match_keys_in_line:
                te["extractor"] = extractor
        return specs

    want = frozen.sweep_document(doc, specs_with(frozen.match_keys_in_line))
    assert sweep_document(doc, specs_with(wrapped)) == want
    assert sweep_document(doc, specs_with(plain)) == want
    assert n_lines >= 10
    assert calls["wraps"] <= 20
    assert calls["plain"] >= 2 * calls["wraps"]
