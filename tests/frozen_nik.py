"""Frozen copy of the enumerating NIK evaluator, kept as a differential
oracle.

``eval_nik`` is a verbatim copy of ``kvcore/evaluate.py``'s ``eval_nik`` as
it stood before the exact mode replaced its 2^n subset enumeration with a
pruned reverse search for the last hit per distance.  The budget
constants and the per-document budget cell are copied too, so this copy
keeps its own state: tests set both cells to the same value, call both
sides, and compare the results and the cells after every call.  Do not
edit the function body; only the shared primitives (the repair pass and
the prefix dictionary) come from the package.
"""

from __future__ import annotations

import re
from itertools import combinations

from universal_key_value_based_text_processing_with_ocr_spark.kvcore import dictionaries
from universal_key_value_based_text_processing_with_ocr_spark.kvcore.repair import (
    repair_to_digits,
)

_NIK_EXACT_MAX_RUNS = 22
_NIK_BOUNDED_BUDGET = 500_000
_nik_doc_budget: list = [None]


def eval_nik(value, max_distance=1):
    """NIK candidate search over subsets of the value's digit runs.

    For values with <= ``_NIK_EXACT_MAX_RUNS`` whitespace runs this is the
    reference's exact enumeration (all 2^n subsets in (size, lex) order,
    byte-identical buckets incl. the length/distance reset quirk).  Beyond
    that the reference hangs — 2^n subsets — so one hostile or merely
    long line would wedge an executor for days (review finding; the
    blended parser feeds EVERY line here via the NIK_1 re-scan).  The
    bounded mode searches only non-empty runs depth-first with a
    length-prune (a partial concatenation already longer than 17 digits
    can never reach a candidate) under ``_NIK_BOUNDED_BUDGET``; candidate
    CONTENT matches the reference, but duplicate multiplicity from empty
    runs and the enumeration order diverge — on inputs where the
    reference produces no answer in practical time at all."""
    nik_length = 16
    tree = dictionaries.prov_city_kec()
    digit_runs = [re.sub(r"[^0-9]", "", t) for t in repair_to_digits(value, False).split(" ")]

    buckets: dict = {}

    def consider(cand: str) -> None:
        dist = abs(nik_length - len(cand))
        if dist <= max_distance:
            prefix_ok = any(cand[i : i + 2] in tree for i in range(2))
            if prefix_ok:
                # Quirk: tests LENGTH against a distance-keyed dict, so
                # the bucket resets on every hit and keeps only the last
                # candidate (evaluators.py:58-60).
                if len(cand) not in buckets:
                    buckets[dist] = []
                buckets[dist].append(cand)

    doc_left = _nik_doc_budget[0]
    exact_cost = (1 << len(digit_runs)) if len(digit_runs) <= _NIK_EXACT_MAX_RUNS else None
    if exact_cost is not None and (doc_left is None or exact_cost <= doc_left):
        if doc_left is not None:
            _nik_doc_budget[0] = doc_left - exact_cost
        for r in range(1, len(digit_runs) + 1):
            for combo in combinations(digit_runs, r):
                consider("".join(map(str, combo)))
    else:
        runs = [t for t in digit_runs if t]
        budget = (
            _NIK_BOUNDED_BUDGET
            if doc_left is None
            else min(_NIK_BOUNDED_BUDGET, doc_left)
        )
        budget0 = budget

        def rec(i: int, cur: str) -> None:
            nonlocal budget
            for j in range(i, len(runs)):
                # budget counts every node VISITED, not only feasible
                # candidates — otherwise N short runs make each node scan
                # all remaining runs "for free" and total work is
                # O(budget x N) (review pass 5: 37 s at 2000 single-digit
                # runs with the old accounting)
                if budget <= 0:
                    return
                budget -= 1
                nxt = cur + runs[j]
                if len(nxt) > nik_length + max_distance:
                    continue  # any superset is longer still
                consider(nxt)
                rec(j + 1, nxt)

        rec(0, "")
        if doc_left is not None:
            _nik_doc_budget[0] = doc_left - (budget0 - budget)

    ordered = {k: buckets[k] for k in sorted(buckets)}
    if len(buckets) > 0:
        return [True, [[k, v] for k, v in ordered.items()]]
    return [False, [[k, v] for k, v in buckets.items()]]
