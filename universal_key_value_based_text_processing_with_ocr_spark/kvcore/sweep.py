"""Per-document extraction sweep and parser blending.

Parity targets:
- ``sweep_document`` == reference ``parse_doc`` text path
  (/root/reference/ocrfw/postprocessing.py:400-543 with ``doc_str`` set, the
  pure text->fields contract the engine reproduces byte-identically).
- ``blend_parsers``  == reference ``blended_parse_doc``
  (/root/reference/ocrfw/postprocessing.py:707-737).

Faithfully-kept reference quirks:
- Specs run in config order over a consumable line pool: the first line a
  spec fully succeeds on is REMOVED from the pool by value
  (``del pool[pool.index(line)]`` — postprocessing.py:495), so a duplicate
  line earlier in the pool is the one deleted.
- One spec's ``extractor_args`` dict is shared across every line it scans
  (postprocessing.py:431-432), which lets ``wo_space`` key-list growth
  compound across lines within a document.  State never crosses documents:
  callers must hand each document a fresh deep-copied spec list.
- error_result / error_level bookkeeping and the exact error-message
  strings, which surface in ``all_error_messages``.

Line index: the reference calls the extractor once per (spec, non-blank
line) — ~220 matcher calls per page, almost all returning ``[True, {}]``.
``sweep_document`` instead builds one ``_LineIndex`` per document: each
line is tokenised once per (line preprocessing, splitter set) and each
token projected once per char filter, shared by every spec.  A
``match_keys_in_line`` spec, compiled once (``compile_line_gate``), is then
probed only on lines where every token of some key has a projected token
within its edit-distance limit.  That is exact: the distance gate is the
matcher's first filter, and a line where no window passes it returns
``[True, {}]``.  Every other line takes the bookkeeping such an empty
result takes (same ``error_result``, same error strings), so the output is
unchanged; ``tests/test_sweep_index_fuzz.py`` checks this against a frozen
copy of the per-(spec, line) kernel.  Specs the gate cannot model
(``use_re_support``, a ``wo_space`` spec with a str/None filter, any other
extractor) are probed on every line, as before.

The sweep is inherently sequential per document and embarrassingly parallel
across documents — which is exactly how the Spark layer runs it (one
vectorised UDF stage, one sweep per row, zero cross-row state: the index
lives and dies with its document).
"""

from __future__ import annotations

import inspect
import re

from .matching import _filter_token_cached, compile_line_gate, match_keys_in_line
from .textdist import CONTENT_CACHE_MAX_LEN as _CCML
from .textdist import _edit_distance_cached, _edit_distance_uncached
from .tokenspan import split_tokens

_BLANK = re.compile(r"^\s*$")


class _LineIndex:
    """One document's pool lines, indexed for the key gate.

    Each line is tokenised once per (line preprocessing, splitter set) and
    each token is projected once per char filter; a projected token maps to
    the set of lines holding it.  ``candidates`` then answers, for one
    compiled ``match_keys_in_line`` spec, which lines have, for some key,
    every key token within its edit-distance limit of some projected token
    — a superset of the lines the matcher can return fields on.

    Only lines still in the pool (``live``) are indexed and scored.  The
    pool only shrinks, so whatever was computed over an earlier live set
    stays exact once intersected with the current one.  Every memo lives
    and dies with the document.
    """

    def __init__(self, lines):
        self.live = set(lines)
        self._token_lines: dict = {}  # (pre, splitters) -> {token: lines}
        self._postings: dict = {}  # (group, pattern) -> {len: {token: lines}}
        self._hits: dict = {}  # (group, pattern, key token, limit) -> lines

    def candidates(self, extractor, extractor_args):
        """Lines the spec must be probed on, or None to probe every line.

        Recognises the matcher through ``functools.wraps`` wrappers, which
        must leave its results unchanged.  Call it right before the spec's
        first non-blank line: compiling a ``wo_space`` spec grows its key
        lists as the matcher's first call would."""
        if inspect.unwrap(extractor) is not match_keys_in_line:
            return None
        gate = compile_line_gate(extractor_args)
        if gate is None:
            return None
        group, keys = gate
        try:
            out: set = set()
            for key in keys:
                if not key:  # a zero-token key windows every line
                    return None
                lines = self._first_hits(group, *key[0])
                for entry in key[1:]:
                    if not lines:
                        break
                    lines = self._scan(group, *entry, lines)
                out |= lines
            return out
        except Exception:
            # e.g. a line_preprocessing that raises: the matcher raises it
            # again, at the probe where it always did
            return None

    def _first_hits(self, group, pat, kt, lim):
        hit_key = (group, pat, kt, lim)
        hit = self._hits.get(hit_key)
        if hit is None:
            hit = self._hits[hit_key] = self._scan(group, pat, kt, lim, self.live)
        return hit & self.live

    def _scan(self, group, pat, kt, lim, within):
        """Lines of ``within`` with a projected token within ``lim`` edits
        of ``kt``; only tokens of those lines pay a distance."""
        by_len = self._postings.get((group, pat))
        if by_len is None:
            by_len = self._project(group, pat)
        lk = len(kt)
        hit: set = set()
        for lt, postings in by_len.items():
            if lk - lt > lim or lt - lk > lim:
                continue
            for t, lines in postings.items():
                if lines.isdisjoint(within):
                    continue
                d = (
                    _edit_distance_cached(kt, t)
                    if lt <= _CCML
                    else _edit_distance_uncached(kt, t)
                )
                if d <= lim:
                    hit |= lines
        return hit & within

    def _project(self, group, pat):
        raw = self._token_lines.get(group)
        if raw is None:
            pre, splitters = group
            raw = {}
            for line in self.live:
                for tok in split_tokens(pre(line), splitters):
                    lines = raw.get(tok)
                    if lines is None:
                        raw[tok] = {line}
                    else:
                        lines.add(line)
            self._token_lines[group] = raw
        by_len: dict = {}
        for tok, lines in raw.items():
            t = (
                _filter_token_cached(pat, tok)
                if len(tok) <= _CCML
                else "".join(re.findall(pat, tok))
            )
            postings = by_len.get(len(t))
            if postings is None:
                by_len[len(t)] = {t: lines}
            elif t in postings:
                postings[t] = postings[t] | lines
            else:
                postings[t] = lines
        self._postings[(group, pat)] = by_len
        return by_len


def _missing_alias_message(te):
    """The error an empty matcher result records: its first must-exist
    alias.  None when no alias must exist (or the spec is unusual), so the
    empty result takes the sweep's full bookkeeping instead."""
    try:
        # the same lookups, in the same order, as the bookkeeping below
        for ani in range(len(te["alias_names"])):
            an = te["alias_names"][ani]
            if type(an) is not str:
                return None
            if not te["tolerant_not_exists"][ani]:
                return f"{an} is not exist while its not tolerant to not exist"
    except Exception:
        return None
    return None


def sweep_document(doc_str, to_extracts, final_evaluator=None):
    """Run each extraction spec over the document's line pool in order."""
    final_success = True
    results_json: dict = {}

    real_all_lines = doc_str.split("\n")
    # Blank lines are never probed and never consumed, so the pool holds
    # only the others (consume-by-value finds the same line either way).
    pool = [line for line in real_all_lines if not _BLANK.match(line)]
    index = _LineIndex(pool)

    all_error_messages: list[str] = []
    all_error_codes: list[int] = []

    for te in to_extracts:
        temp_result = None
        error_level = 0
        success_inserted = 0
        error_result: list = []

        candidates = missing = None
        if pool:
            extractor = te["extractor"]
            extractor_args = te["extractor_args"]
            candidates = index.candidates(extractor, extractor_args)
            if candidates is not None:
                missing = _missing_alias_message(te)

        for line in pool:
            if candidates is None or line in candidates:
                extractor_args["line"] = line
                line_result = extractor(**extractor_args)
            elif missing is not None:
                # the bookkeeping below, run on an empty result
                if error_level <= 0:
                    error_result = [False, missing, line]
                continue
            else:
                line_result = [True, {}]

            if line_result[0]:
                success = False
                temp_result = line_result[1]
                all_required_exist = True

                names_to_check: dict = {}
                for ani in range(len(te["alias_names"])):
                    an = te["alias_names"][ani]
                    if (an not in temp_result) and (not te["tolerant_not_exists"][ani]):
                        all_required_exist = False
                        success = False
                        if error_level <= 0:
                            error_result = [
                                False,
                                f"{an} is not exist while its not tolerant to not exist",
                                line,
                            ]
                            error_level = 0
                        break
                    elif (an not in temp_result) and te["tolerant_not_exists"][ani]:
                        names_to_check[an] = False
                    else:
                        names_to_check[an] = True

                if all_required_exist:
                    for alias_index in range(len(te["alias_names"])):
                        a_name = te["alias_names"][alias_index]
                        if alias_index < len(te["evaluators"]):
                            evaluator = te["evaluators"][alias_index]
                            if not names_to_check[a_name]:
                                continue
                            temp_result = line_result[1]
                            eval_result = evaluator(temp_result[a_name])
                            if eval_result[0]:
                                success = True
                                success_inserted += 1
                                if type(eval_result[1]) is dict:
                                    results_json = {**results_json, **eval_result[1]}
                                else:
                                    results_json[a_name] = eval_result[1]
                            else:
                                if error_level <= 2:
                                    error_result = [
                                        False,
                                        f"{a_name} not passed evaluator",
                                        temp_result,
                                        eval_result,
                                        line,
                                    ]
                                    error_level = 2
                        else:
                            success = True
                            if not names_to_check[a_name]:
                                if error_level < 1:
                                    error_result = [
                                        False,
                                        f"{a_name} not exist and its not tolerant to not exist",
                                        line,
                                    ]
                                    error_level = 1
                                continue
                            success_inserted += 1
                            temp_result = line_result[1]
                            results_json[a_name] = temp_result[a_name]

                if success:
                    # Consume by value: first equal line wins (quirk).
                    del pool[pool.index(line)]
                    if line not in pool:
                        index.live.discard(line)
                    break
                else:
                    if type(temp_result) is list:
                        temp_result.insert(1, "Not success")
                        if error_result:
                            error_result.insert(1, "Not success")
                        else:
                            error_result = [False, "Not success"]
                    else:
                        temp_result["status"] = "Not success"

        must_exists_count = sum(1 for t in te["tolerant_not_exists"] if not t)
        if success_inserted != len(te["alias_names"]):
            if success_inserted < must_exists_count:
                all_error_codes.append(0)
                all_error_messages.append(
                    f'One or more keys in {te["alias_names"]} not found. '
                    f"Must exists: {must_exists_count}, founded: {success_inserted} "
                    f"<=> {error_result}"
                )
                final_success = False

    if final_evaluator:
        final_result = final_evaluator(results_json)
        if not final_result["success"]:
            all_error_codes += final_result["error_codes"]
            all_error_messages += final_result["error_messages"]
            del final_result["error_codes"]
            del final_result["error_messages"]
        if final_success and (not final_result["success"]):
            final_success = False
    else:
        final_result = {"result": results_json}

    if not final_success:
        final_result["all_error_codes"] = all_error_codes
        final_result["all_error_messages"] = all_error_messages

    final_result["model_result"] = {f"pd{i}": line for i, line in enumerate(real_all_lines)}
    final_result["success"] = final_success
    return final_result


def scan_document_all(doc_str, spec, passes=("preprocessing3", "preprocessing1")):
    """Multi-hit scan: run ONE spec over every line of every pass,
    collecting ALL evaluator-passing values (no consumption, no break).

    Parity target: reference ``simple_parse_one_all``
    (/root/reference/ocrfw/postprocessing.py:666-698) on the text path —
    the second "physical plan" of the blended entry point (parsers.py:68-73),
    whose role is a focused re-scan (NIK digits) across alternative payload
    preprocessings.  For text payloads each pass sees the same lines; the
    pass names mirror the reference's preprocessing function names.

    Kept quirks: a dict extractor result is flattened to its VALUES list
    before evaluation; evaluator outputs are ``extend``-ed (not appended);
    success = at least one collected value.
    """
    if type(spec) is list:
        spec = spec[0]
    all_result: list = []
    all_real_lines: dict = {}
    extractor = spec["extractor"]
    extractor_args = spec["extractor_args"]

    for pass_name in passes:
        real_lines = doc_str.split("\n")
        all_real_lines[pass_name] = real_lines
        for line in real_lines:
            extractor_args["line"] = line
            line_result = extractor(**extractor_args)
            if line_result[0]:
                new_result = line_result[1]
                if type(new_result) is dict:
                    new_result = [v for _, v in new_result.items()]
                if len(spec["evaluators"]) > 0:
                    for evaluator in spec["evaluators"]:
                        eval_result = evaluator(new_result)
                        if eval_result[0]:
                            all_result.extend(eval_result[1])
                else:
                    all_result.append(new_result)

    return {
        "result": {spec["alias_names"][0]: all_result},
        "model_result": all_real_lines,
        "success": True if len(all_result) > 0 else False,
    }


def blend_parsers(doc_parsers, final_evaluator=None, **kwargs):
    """Run each parser; merge ``result``/``model_result`` first-writer-wins,
    then apply the final evaluator over the merged result dict."""
    fields_to_update: dict = {"result": {}, "model_result": {}}
    result = {field: {} for field in fields_to_update}
    success = True

    for parser in doc_parsers:
        args = {**kwargs, **doc_parsers[parser]}
        new_result = parser(**args)
        for field in fields_to_update:
            if field not in new_result:
                continue
            for k0 in new_result[field]:
                if k0 in fields_to_update[field]:
                    continue
                fields_to_update[field][k0] = new_result[field][k0]
        result = {**result, **new_result}
        if not new_result["success"]:
            success = False

    result = {**result, **fields_to_update}
    result = {**result, **final_evaluator(result["result"])}
    if not success:
        result["success"] = False
    return result
