"""Field evaluators: clean + validate extracted values.

Parity targets (one per function, /root/reference paths):
- ``eval_province``        == ``provinsi_evaluator``    evaluators.py:5-36
- ``eval_nik``             == ``nik_evaluator``         evaluators.py:40-69
- ``eval_birth``           == ``ttl_evaluator``         evaluators.py:73-148
- ``eval_city``            == ``kab_kota_evaluator``    evaluators.py:152-187
- ``eval_gender``          == ``jk_evaluator``          evaluators.py:191-210
- ``eval_blood``           == ``darah_evaluator``       evaluators.py:214-233
- ``eval_rtrw``            == ``rtrw_evaluator``        evaluators.py:238-263
- ``ordered_class_pattern``== ``rs_p``                  evaluators.py:269-286
- ``eval_religion``        == ``agama_evaluator``       evaluators.py:288-319
- ``eval_marital``         == ``kawin_evaluator``       evaluators.py:323-352
- ``eval_job``             == ``pekerjaan_evaluator``   evaluators.py:356-382
- ``eval_valid_until``     == ``berlaku_evaluator``     evaluators.py:386-429
- ``eval_citizenship``     == ``kn_evaluator``          evaluators.py:433-460
- ``final_evaluate_ktp``   == ``ktp_final_evaluator``   ocrfw/postprocessing.py:339-394

Several evaluators are small-build-side fuzzy dictionary joins (province /
city / job / country lists <= a few thousand entries); in Spark they run as
in-UDF probes against closure-captured dictionaries, which is the broadcast
nested-loop similarity-join physical strategy (see SURVEY.md §2c).

Faithfully-kept reference quirks:
- ``eval_nik``: the bucket-existence test checks candidate LENGTH against a
  dict keyed by DISTANCE (evaluators.py:58-59).  A candidate is >= 9
  digits long and, for ``max_distance <= 7``, no distance key reaches 9,
  so each distance bucket is reset before every append and retains only
  the LAST candidate of the reference's subset enumeration.  The exact
  mode relies on that: it searches for the last hit per distance
  directly (a pruned reverse search) instead of enumerating 2^n subsets,
  and rejects larger ``max_distance`` values.  The 2^n figure survives
  only as the per-document budget charge that decides when a page's
  later lines switch to the bounded mode.
- ``eval_birth``: the digit-confusion dict literal assigns '9' twice
  ('9'->'5' then '9'->'4'); the effective mapping is 9->4.  Values whose
  repaired day/month drop a leading zero keep the shortened string.
- ``eval_city`` returns success=True even when no dictionary entry matched
  (evaluators.py:180), with the cleaned probe as the value.
- score->name dicts are keyed by score, so equal scores collapse to the
  later dictionary entry.
"""

from __future__ import annotations

import math
import re
from functools import lru_cache

from . import dictionaries
from .repair import repair_to_digits, repair_to_letters
from .textdist import accuracy, edit_distance

_WS = re.compile(r"\s")
_NON_ALNUM = re.compile(r"[^a-z|^A-Z|^0-9]")


def _best_near_100(scores_names: dict) -> str:
    """Pick the name whose score is closest to 100 (min |100-score|)."""
    closest = {abs(100 - s): s for s in scores_names}
    return scores_names[closest[sorted(closest)[0]]]


@lru_cache(maxsize=1)
def _province_names() -> dict:
    return dict(
        zip([_WS.sub("", p.upper()) for p in dictionaries.provinces()], dictionaries.provinces())
    )


@lru_cache(maxsize=1)
def _city_names() -> dict:
    return dict(
        zip([_WS.sub("", c.upper()) for c in dictionaries.cities()], dictionaries.cities())
    )


@lru_cache(maxsize=1)
def _normalized_jobs() -> list:
    from .repair import repair_to_letters as _rl

    return [(j, _rl(j)[1].upper()) for j in dictionaries.jobs()]


def eval_province(value, max_mistakes=5, min_accuracy=0.5):
    names = _province_names()
    probe = _WS.sub("", value.upper())
    scores_names = {}
    for cand in names:
        # |len diff| lower-bounds the distance: the pair cannot pass the
        # mistakes gate, and non-passing pairs leave no observable trace.
        if abs(len(cand) - len(probe)) > max_mistakes:
            continue
        if len(probe) < len(cand):
            eq = probe + (" " * (len(cand) - len(probe)))
        elif len(probe) > len(cand):
            eq = probe[: len(cand)]
        else:
            eq = probe
        acc = accuracy(eq, cand)
        mistakes = edit_distance(cand, probe)
        if mistakes <= max_mistakes and acc >= min_accuracy:
            score = (100 - (mistakes * (100 / max_mistakes)) + acc * 100) / 2
            scores_names[score] = names[cand]
    if len(scores_names) == 0:
        return [False, probe, f"No province name found: {probe}", scores_names]
    return [True, _best_near_100(scores_names), scores_names]


def eval_city(value, max_mistakes=5, min_accuracy=0.5):
    names = _city_names()
    probe = _WS.sub("", value.upper())
    if len(probe) <= 3:
        return [False, f"Lenght of city should be > 3, found: {len(probe)}"]
    scores_names = {}
    for cand in names:
        if abs(len(cand) - len(probe)) > max_mistakes:  # cannot pass (see eval_province)
            continue
        if len(probe) < len(cand):
            eq = probe + (" " * (len(cand) - len(probe)))
        elif len(probe) > len(cand):
            eq = probe[: len(cand)]
        else:
            eq = probe
        acc = accuracy(eq, cand)
        mistakes = edit_distance(cand, probe)
        if mistakes <= max_mistakes and acc >= min_accuracy:
            score = (100 - (mistakes * (100 / max_mistakes)) + acc * 100) / 2
            scores_names[score] = names[cand]
    if len(scores_names) == 0:
        # Quirk: still success, with the cleaned probe as the value.
        return [True, probe, f"No kab/kota name found: {probe}", scores_names]
    return [True, _best_near_100(scores_names), scores_names]


#: MODE-SWITCH CONTRACT, not a cost: a value with at most this many
#: whitespace runs takes the exact mode and is charged 2^n against the
#: document budget below — the subsets the reference enumerates, so the
#: exact/bounded switch happens on exactly the inputs and at exactly the
#: point in a document where it did when the exact mode enumerated them.
#: The exact mode itself costs far less (see ``_last_nik_hits``).  22 is
#: the reference's practical terminating range (~5.6 s there; it produces
#: different NIK values at 19-22 runs than a 2^18 cutoff would, so those
#: inputs stay exact).
_NIK_EXACT_MAX_RUNS = 22

#: bounded-mode budget: combos examined before the candidate search stops
#: (the reference would still be running; truncation is the documented
#: divergence on these inputs).
_NIK_BOUNDED_BUDGET = 500_000

#: per-DOCUMENT budget across ALL eval_nik calls (ADVICE r4), armed by
#: every per-row extraction entry point through the ``nik_doc_budget``
#: context manager below (arm/restore, never a bare reset — see its
#: docstring).  Every exact call deducts its 2^n (the reference's
#: enumeration size, see ``_NIK_EXACT_MAX_RUNS``) and every bounded
#: search its visited nodes; once spent, later calls in the same document
#: fall to the bounded search (ultimately an empty one) under the
#: documented-divergence contract.  The blended parser's NIK_1 re-scan
#: feeds every line here, so this caps a hostile page's bounded-mode work
#: and decides, line by line, which results stay exact: the deductions
#: are a parity contract, not a measure of this engine's cost.  Direct
#: library/parity calls never arm it (None = unlimited).
_NIK_DOC_BUDGET = 1 << 22
_nik_doc_budget: list = [None]

_NIK_LENGTH = 16
#: the largest ``max_distance`` for which the exact mode's last-hit
#: argument holds (see ``eval_nik``)
_NIK_MAX_DISTANCE = 7


def reset_nik_doc_budget() -> None:
    """TEST-ONLY arming knob: refill the budget without the restore that
    ``nik_doc_budget`` (the production arm/restore pair) guarantees.  Not
    called by any extraction entry point — a bare reset in a reused
    worker leaks armed, partially-spent state across documents."""
    _nik_doc_budget[0] = _NIK_DOC_BUDGET


from contextlib import contextmanager


@contextmanager
def nik_doc_budget():
    """Arm the budget for ONE document's parse and restore the prior state
    after — the arm/restore pair every per-row extraction entry point
    wraps its parse in (review finding: a bare reset in one entry point
    leaked armed, partially-spent state into reused workers, making other
    entry points' results depend on worker history — and left the
    blended/boxorder paths unprotected entirely)."""
    prev = _nik_doc_budget[0]
    _nik_doc_budget[0] = _NIK_DOC_BUDGET
    try:
        yield
    finally:
        _nik_doc_budget[0] = prev


def _nik_prefix_ok(cand: str, tree: dict) -> bool:
    return any(cand[i : i + 2] in tree for i in range(2))


def _nik_length_bits(dist: int) -> int:
    """Bitmask of the candidate lengths at ``dist`` from a full NIK."""
    return (1 << (_NIK_LENGTH - dist)) | (1 << (_NIK_LENGTH + dist))


def _last_nik_hits(runs: list, max_distance: int, tree: dict) -> dict:
    """distance -> the LAST hit of the reference's enumeration, without
    enumerating: ``combinations`` visits index tuples by size, then in
    lexicographic order, so the last hit is the first one a search finds
    going by size from n down and, within a size, through index tuples in
    reverse lexicographic order (highest index first at every position).

    Pruning keeps that search small:
    - ``reach[i][k]`` is the bitmask of length sums that k runs chosen
      from ``runs[i:]`` can reach (capped at 16 + max_distance); a partial
      whose completions cannot reach a wanted length is skipped;
    - a hit needs >= 9 digits, so its prefix probe reads only the first 3:
      a partial of 3+ digits that fails the probe is skipped, and one that
      passes it always completes to a hit when its length is reachable;
    - the partials still shorter than 3 digits are few, so a
      (start, k, partial) state that held no hit is remembered as dead —
      runs of empty strings would otherwise reach it by many paths.
    Found distances leave the wanted set at once, so the wanted lengths
    only shrink and a dead state stays dead."""
    want = 0
    for d in range(max_distance + 1):
        want |= _nik_length_bits(d)
    if want == 0:
        return {}
    n = len(runs)
    full = (1 << (_NIK_LENGTH + max_distance + 1)) - 1
    reach = [[0] * (n + 1) for _ in range(n + 1)]
    reach[n][0] = 1
    for i in range(n - 1, -1, -1):
        w, below, row = len(runs[i]), reach[i + 1], reach[i]
        row[0] = 1
        for k in range(1, n - i + 1):
            row[k] = (below[k] | (below[k - 1] << w)) & full
    hits: dict = {}
    dead: set = set()

    def search(start: int, k: int, cur: str) -> bool:
        nonlocal want
        if k == 0:
            dist = abs(_NIK_LENGTH - len(cur))
            hits[dist] = cur
            want &= ~_nik_length_bits(dist)
            return True
        short = len(cur) < 3
        if short and (start, k, cur) in dead:
            return False
        found = False
        for j in range(n - k, start - 1, -1):
            nxt = cur + runs[j]
            if not (reach[j + 1][k - 1] << len(nxt)) & want:
                continue
            if short and len(nxt) >= 3 and not _nik_prefix_ok(nxt, tree):
                continue
            found = search(j + 1, k - 1, nxt) or found
            if not want:
                break
        if short and not found:
            dead.add((start, k, cur))
        return found

    for r in range(n, 0, -1):
        if not want:
            break
        search(0, r, "")
    return hits


def eval_nik(value, max_distance=1):
    """NIK candidate search over subsets of the value's digit runs: for
    each distance d <= ``max_distance``, a concatenation of runs (kept in
    order) of length 16 +- d whose first two or second two digits are a
    province code.

    The reference (evaluators.py:58-60) enumerates all 2^n subsets in
    ``combinations`` order — by size, then lexicographically — and files
    each hit under its distance, but tests the candidate's LENGTH against
    the distance-keyed dict.  A hit is 9+ digits long, and with
    ``max_distance <= 7`` no distance key reaches 9, so every hit resets
    its bucket: each distance keeps only its LAST hit.  The exact mode
    (values with <= ``_NIK_EXACT_MAX_RUNS`` whitespace runs) therefore
    finds that last hit directly, by a pruned reverse search
    (``_last_nik_hits``) instead of the enumeration, with byte-identical
    results.  Larger ``max_distance`` values would let the length test
    hit a key and keep several candidates; no caller passes one, and they
    raise ValueError.

    Beyond ``_NIK_EXACT_MAX_RUNS`` runs, or once the document budget is
    spent, the bounded mode searches only non-empty runs depth-first with
    a length-prune (a partial concatenation already longer than 16 +
    max_distance digits can never reach a candidate) under
    ``_NIK_BOUNDED_BUDGET``; candidate CONTENT matches the reference, but
    its visiting order diverges — on inputs where the reference produces
    no answer in practical time at all."""
    if max_distance > _NIK_MAX_DISTANCE:
        raise ValueError(
            f"eval_nik: max_distance {max_distance} > {_NIK_MAX_DISTANCE}; "
            "the reference keeps more than the last hit per distance there"
        )
    tree = dictionaries.prov_city_kec()
    digit_runs = [re.sub(r"[^0-9]", "", t) for t in repair_to_digits(value, False).split(" ")]

    doc_left = _nik_doc_budget[0]
    exact_cost = (1 << len(digit_runs)) if len(digit_runs) <= _NIK_EXACT_MAX_RUNS else None
    if exact_cost is not None and (doc_left is None or exact_cost <= doc_left):
        if doc_left is not None:
            _nik_doc_budget[0] = doc_left - exact_cost
        buckets = {d: [c] for d, c in _last_nik_hits(digit_runs, max_distance, tree).items()}
    else:
        buckets = {}
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
                if len(nxt) > _NIK_LENGTH + max_distance:
                    continue  # any superset is longer still
                dist = abs(_NIK_LENGTH - len(nxt))
                if dist <= max_distance and _nik_prefix_ok(nxt, tree):
                    buckets[dist] = [nxt]  # the reference's reset: last hit wins
                rec(j + 1, nxt)

        rec(0, "")
        if doc_left is not None:
            _nik_doc_budget[0] = doc_left - (budget0 - budget)

    if len(buckets) > 0:
        return [True, [[k, buckets[k]] for k in sorted(buckets)]]
    return [False, []]


# Effective digit-confusion map: the reference dict literal assigns '9'
# twice; Python keeps the later value, so 9->4 (evaluators.py:75-87).
_SIMILAR_DIGITS = {
    "1": "7",
    "7": "1",
    "6": "8",
    "8": "6",
    "2": "3",
    "3": "2",
    "4": "9",
    "9": "4",
    "5": "0",
    "0": "5",
}

_BIRTH_PATTERN = r"(.*)(\d{2,2}).*(\-*).*(\d{2,2}).*(\-*).*(\d{4,4})"


def eval_birth(value):
    hit = re.search(_BIRTH_PATTERN, value)
    if not hit:
        return [False, value, f"ttl not match with pattern: {_BIRTH_PATTERN} "]
    groups = hit.groups()
    place = repair_to_letters(groups[0].rstrip().lstrip())[1]
    parts = [
        int("".join(re.findall(r"\d", g)))
        for g in list(groups[1:])
        if not re.match(r"^\s*$", g)
    ]

    repaired = []
    # Day: if > 31, flip the tens digit through the confusion map.
    buf = ""
    if parts[0] > 31:
        d0, _ = str(parts[0])
        buf += _SIMILAR_DIGITS[d0] if int(d0) > 3 else d0
    else:
        buf += str(parts[0])
    repaired.append(buf)

    # Month: if > 12, repair both digits.
    buf = ""
    if parts[1] > 12:
        d0, d1 = str(parts[1])
        buf += _SIMILAR_DIGITS[d0] if int(d0) > 1 else d0
        buf += _SIMILAR_DIGITS[d1] if int(d1) > 2 else d1
    else:
        buf += str(parts[1])
    repaired.append(buf)

    # Year: if < 1920, repair the leading two digits.
    # KNOWN QUIRK CRASH (parity contract): a matched year with leading
    # zeros ('0999') shrinks through int() and this unpack raises
    # ValueError exactly like the reference — the parity harness pins
    # crash equivalence, and parse_page_row contains it to a recorded
    # single-document failure (success=False, 'engine exception'), the
    # same observable outcome as the reference crashing on that page.
    buf = ""
    if parts[2] < 1920:
        d0, d1, d2, d3 = str(parts[2])
        buf += _SIMILAR_DIGITS[d0] if int(d0) < 1 else d0
        buf += _SIMILAR_DIGITS[d1] if int(d1) < 9 else d1
        buf += d2 + d3
    else:
        buf += str(parts[2])
    repaired.append(buf)

    return [True, {"Tempat": place, "Tanggal Lahir": repaired}]


def eval_gender(value, max_distances=4):
    probe = _NON_ALNUM.sub("", value.upper())
    options = {"LAKILAKI": "LAKI-LAKI", "PEREMPUAN": "PEREMPUAN"}
    by_dist = {}
    for key in options:
        by_dist[edit_distance(key, probe)] = options[key]
    ranked = sorted(by_dist)
    if ranked[0] <= max_distances:
        return [True, by_dist[ranked[0]]]
    return [False, by_dist, ranked]


_BLOOD_CLASSES = [("[4|A]", "A"), ("[B|8|9]", "B"), ("[4|A][B|8|9]", "AB"), ("[o|O|0]", "O")]


def eval_blood(value):
    if len(value) == 0:
        return [True, "-"]
    for c in value:
        for pattern, blood in _BLOOD_CLASSES:
            if re.match(pattern, c):
                return [True, blood]
    if re.search(r".*[\-|\_]+.*", value):
        return [True, "-"]
    return [False, f"No darah match: {value}"]


_RTRW_KEEP = set("liIoOA?Ss/\\E") | set("0123456789")


def eval_rtrw(value):
    repaired = repair_to_digits(value, ignore_not_number=False)
    kept = "".join(c for c in repaired if c in _RTRW_KEEP)
    hit = re.search(r"[^\d]*(\d{1,})[^\d]*[\/|\\]+[^\d]*(\d{1,})[^\d]*", kept)
    if hit:
        return [True, tuple(hit.groups()), kept]
    nums = "".join(re.findall(r"[\d]", kept))
    return [True, [nums[: int(len(nums) // 2)], nums[int(len(nums) // 2) :]]]


def ordered_class_pattern(char_lists=()):
    """Regex of ordered character-class capture groups (reference rs_p)."""
    if len(char_lists) == 0:
        return ""
    first = char_lists[0]
    later_chars = [c for cl in char_lists[1:] for c in cl if c not in first]
    # empty later_chars would format an invalid '[]' class and raise
    # re.error at search time (review finding; the shipped classes never
    # hit it, but the function is the public rs_p parity surface)
    p = "[{}]".format("|".join(["^" + c for c in later_chars])) if later_chars else ""
    for cl in char_lists:
        p += "([{}]*)".format("|".join(cl))
    return p


_RELIGION_KEEP = re.compile(r"[^a-z|^A-Z|^0-9|^\+|^?]")
_RELIGION_CLASSES = [
    ("iIl1 sS5 li1I 4A mM".split(), "ISLAM"),
    ("Kk 4A".split() + [["T", "7", r"\+", r"\?"]] + "H oO0 LI1 Kk".split(), "KATHOLIK"),
    ("Kk R il1I 5s".split() + [["T", "7", r"\+", r"\?"]] + "E3 NM".split(), "KRISTEN"),
    ("H ilI1 NM D U".split(), "HINDU"),
    ("B86 U D D H A4".split(), "BUDDHA"),
    ("Kk Oo0 NM G H U C U".split(), "KONGHUCU"),
]


def eval_religion(value):
    probe = _RELIGION_KEEP.sub("", value.upper())
    result = {}
    for classes, religion in _RELIGION_CLASSES:
        class_chars = [ch for cl in classes for ch in cl]
        txt = "".join(c for c in probe if c in class_chars)
        pattern = ordered_class_pattern(classes)
        hit = re.search(pattern, txt)
        if hit is None:
            continue
        groups = [g for g in hit.groups() if len(g) > 0]
        if len(groups) >= math.ceil(len(classes) / 2):
            result[len(groups)] = religion
    if len(result) > 0:
        return [True, result[sorted(result)[-1]]]
    return [False, result]


_MARITAL = {
    "KAWIN": "KAWIN",
    "BELUMKAWIN": "BELUM KAWIN",
    "CERAIHIDUP": "CERAI HIDUP",
    "CERAIMATI": "CERAI MATI",
}


def eval_marital(value, max_distances=5):
    probe = _NON_ALNUM.sub("", value.upper())
    by_dist = {}
    for key in _MARITAL:
        if len(probe) >= len(key):
            # Best substring alignment: slide a len(key) window over probe.
            for i in range((len(probe) - len(key)) + 1):
                by_dist[edit_distance(key, probe[i : i + len(key)])] = _MARITAL[key]
        else:
            by_dist[edit_distance(key, probe)] = _MARITAL[key]
    ranked = sorted(by_dist)
    if ranked[0] <= max_distances:
        return [True, by_dist[ranked[0]]]
    return [False, by_dist, ranked]


def eval_job(value, recommended_distance=1, max_distance=0.25):
    probe_full = repair_to_letters(value)[1].upper()
    smallest_dist = math.inf
    smallest_name = False
    for raw_job, job_norm in _normalized_jobs():
        cap = math.floor(len(job_norm) * max_distance)
        probe = probe_full[: len(job_norm)] if len(probe_full) > len(job_norm) else probe_full
        # After truncation len(probe) <= len(job_norm); the length gap
        # lower-bounds the distance, so pairs beyond both gates are skipped
        # with no observable effect (they set neither early-exit nor
        # smallest_dist).
        if len(job_norm) - len(probe) > max(cap, recommended_distance):
            continue
        dist = edit_distance(job_norm, probe)
        if dist <= recommended_distance:
            # Early exit on a near-exact hit (top-1 short-circuit).
            return [True, raw_job, probe]
        if dist <= cap and dist < smallest_dist:
            smallest_dist = dist
            smallest_name = raw_job
    if smallest_name:
        return [True, smallest_name, smallest_dist, probe_full]
    return [False, smallest_name, smallest_dist, probe_full]


_VALID_UNTIL_MAP = {
    "_": "",
    " ": "",
    "l": "1",
    "i": "1",
    "I": "1",
    "o": "0",
    "O": "0",
    "A": "4",
    "?": "7",
    "E": "3",
    "S": "5",
    "s": "5",
}
_UNDO_DIGITS = {"1": "I", "3": "E", "0": "O", "4": "A", "5": "S"}


def eval_valid_until(value, max_distances=6):
    probe = re.sub(r"\s", "", value.upper())
    as_date = "".join(_VALID_UNTIL_MAP.get(c, c) for c in probe)
    hit = re.search(_BIRTH_PATTERN, as_date)
    if hit:
        groups = hit.groups()
        return [True, [groups[1], groups[3], groups[5]]]
    as_letters = "".join(_UNDO_DIGITS.get(c, c) for c in probe)
    dist = edit_distance("SEUMURHIDUP", "".join(re.findall("[A-Z]", as_letters)))
    if dist <= max_distances:
        return [True, "SEUMUR HIDUP"]
    return [False, probe, "Not match with pattern or SEUMUR HIDUP"]


def eval_citizenship(value, recommended_distance=1, max_distance=0.25):
    probe = repair_to_letters(value)[1].upper()
    if "WNI" in probe:
        return [True, "WNI"]
    if "WM" in probe:
        return [True, "WNI"]
    smallest_dist = math.inf
    smallest_name = False
    for country in dictionaries.countries():
        country = country.upper()
        cap = math.floor(len(country) * max_distance)
        if abs(len(country) - len(probe)) > max(cap, recommended_distance):
            continue  # cannot pass either gate (see eval_province)
        dist = edit_distance(country, probe)
        if dist <= recommended_distance:
            return [True, country, probe]
        if dist <= cap and dist < smallest_dist:
            smallest_dist = dist
            smallest_name = country
    if smallest_name:
        return [True, smallest_name, smallest_dist, probe]
    return [False, f"{probe} is not a valid kewarganegaraan", smallest_name, smallest_dist, probe]


def final_evaluate_ktp(result_dict):
    """Cross-field NIK scoring + top-3 bucket keep (grouped top-k)."""
    keys = list(result_dict.keys())
    if not (("NIK" in keys) or ("NIK_1" in keys)):
        return {
            "success": False,
            "result": result_dict,
            "all_error_codes": [2],
            "all_error_messages": [
                "Final evaluator: there is no NIK or Tanggal Lahir or Jenis Kelamin or PROVINSI"
            ],
        }

    scoring = [lambda nik: len(nik) == 16]
    if ("Tanggal Lahir" in keys) and ("Jenis kelamin" in keys):

        def _pad2(x):
            x = str(x)
            if len(x) == 0:
                return "00"
            if len(x) == 1:
                return "0" + x
            return x

        birth = [str(i) for i in result_dict["Tanggal Lahir"]]
        gender = result_dict["Jenis kelamin"]
        embedded = "".join(
            _pad2(i)
            for i in [int(birth[0]) + (40 if "PEREMPUAN" in gender else 0), birth[1], birth[2][-2:]]
        )
        scoring.append(lambda nik: embedded in nik)

    candidates = []
    for nik_key in ["NIK", "NIK_1"]:
        if nik_key in result_dict:
            candidates.extend([bucket[1][0] for bucket in result_dict[nik_key]])

    by_score: dict = {}
    for nik in candidates:
        score = sum(1 for fn in scoring if fn(nik))
        if score in by_score:
            by_score[score].append(nik)
        else:
            by_score[score] = [nik]

    top3 = sorted(list(by_score.keys()))[::-1][:3]
    result_dict["NIK"] = [nik for s in top3 for nik in by_score[s]]
    if len(by_score) > 0:
        return {"success": True, "result": result_dict}
    return {
        "success": False,
        "result": result_dict,
        "all_error_codes": [1],
        "all_error_messages": ["Final evaluator: there is no valid NIK"],
    }
