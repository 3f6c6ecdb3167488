"""Byte-level parity of the engine's kvcore against the GENUINE reference
code (exec'd from /root/reference with stubbed deps — see refharness.py).

Each test drives both implementations with identical inputs, including the
shared-config mutation quirks, and asserts identical outputs.
"""

import copy
import random

import pytest

from tests import refharness
from universal_key_value_based_text_processing_with_ocr_spark.kvcore import (
    evaluate,
    ktpspec,
    matching,
    repair,
    tokenspan,
)
from universal_key_value_based_text_processing_with_ocr_spark.sources import synthdocs

pytestmark = pytest.mark.skipif(
    not refharness.reference_available(), reason="reference repo not present"
)


@pytest.fixture(scope="module")
def ref():
    post, ev = refharness.load_reference()
    return post, ev


NOISY_VALUES = [
    "JAWA BARAT", "J4WA BAR4T", "jawa  barat", "DKI J4KARTA", "SUMATRA UTARA",
    " : 3201150107990001", ": 3201 1501 0799 0001", " 320115O1o7990001x",
    "KOTA B4NDUNG", "KABUPATEN BOG0R", "XYZ", "",
    "BANDUNG, 01-07-1999", "  SURABAYA , 15-13-2001", "MEDAN 45-07-0199",
    "LAKI-LAKI", "L4KI L4KI", "PEREMPU4N", "PERMPUAN",
    "A", "8", "-", "x", "", "AB",
    " : 003/007", "0O3/O07", "003 007", "RT003RW007",
    "ISLAM", "1SL4M", "K4TH0LIK", "KRlSTEN", "BUDDH4", "K0NGHUCU", "zzz",
    "KAWIN", "BELUM K4WIN", "CER4I HIDUP", "CERAIMATI", "K4W1N",
    "GURU", "D0KTER", "K4RYAWAN SWASTA", "WIRASWAST4", "PETANI/PEKEBUN",
    "WNI", "WM ", "W N I", "MAL4YSIA", "SINGAPUR4", "???",
    "22-10-2025", "SEUMUR HIDUP", "5EUMUR H1DUP", "22 10 2025", "BERLAKU",
    "JL. MERDEKA N0. l2", "JL SUDIRM4N NO 9",
]


def test_repair_parity(ref):
    post, _ = ref
    rng = random.Random(11)
    pool = NOISY_VALUES + ["".join(rng.choice("aA10oO5sS3eE8Bg9+|^?! .:/-") for _ in range(rng.randint(0, 30))) for _ in range(300)]
    for v in pool:
        assert repair.repair_to_letters(v) == post["letters_evaluator"](v), v
        assert repair.repair_to_digits(v) == post["todigits_typo"](v), v
        assert repair.repair_to_digits(v, False) == post["todigits_typo"](v, False), v
        assert repair.repair_no_number(v) == post["nodigits_typo"](v), v


def test_split_index_parity(ref):
    post, _ = ref
    rng = random.Random(13)
    cases = ["", " ", "a b c", "NIK : 123", "  x  :: y ", ":::", "a:b:c d"]
    cases += ["".join(rng.choice("ab :.x") for _ in range(rng.randint(0, 25))) for _ in range(300)]
    for s in cases:
        for seps in ([" "], [" ", ":"], [" ", ":", "."]):
            mine = tokenspan.split_with_spans(s, seps)
            theirs = post["split_index"](s, list(seps))
            assert mine[0] == theirs[0], (s, seps)
            assert [tuple(t) for t in mine[1]] == [tuple(t) for t in theirs[1]], (s, seps)


def test_fuzzy_pattern_parity(ref):
    post, _ = ref
    for key in ["NIK", "Nama", "Tempat Tgl Lahir", "jenis kelamin", "gol darah",
                "RTRW", "Berlaku Hingga", "a-b.c/d", "euU"]:
        for mm in (1, 2):
            assert tokenspan.fuzzy_key_pattern(key, mm) == post["get_re_pattern"](key, mm), key


def test_find_closest_parity(ref):
    post, _ = ref
    import numpy as np
    for key_len in range(1, 20):
        grid = np.arange(0, 1, 1 / key_len)
        for v in [0.0, 0.1, 0.25, 0.3, 0.5, 0.75, 0.99, 1.0]:
            assert tokenspan.snap_to_grid(v, grid) == post["find_closest"](v, grid)


EVAL_PAIRS = [
    ("eval_province", "provinsi_evaluator"),
    ("eval_nik", "nik_evaluator"),
    ("eval_birth", "ttl_evaluator"),
    ("eval_city", "kab_kota_evaluator"),
    ("eval_gender", "jk_evaluator"),
    ("eval_blood", "darah_evaluator"),
    ("eval_rtrw", "rtrw_evaluator"),
    ("eval_religion", "agama_evaluator"),
    ("eval_marital", "kawin_evaluator"),
    ("eval_job", "pekerjaan_evaluator"),
    ("eval_valid_until", "berlaku_evaluator"),
    ("eval_citizenship", "kn_evaluator"),
]


def _fuzz_values(n=250, seed=31):
    rng = random.Random(seed)
    alpha = "aA10oO5sS3eE8Bg9+|^?! .:/-WNIKLMPRUDHT24679"
    out = []
    for _ in range(n):
        out.append("".join(rng.choice(alpha) for _ in range(rng.randint(0, 28))))
    return out


@pytest.mark.parametrize("mine_name,ref_name", EVAL_PAIRS)
def test_evaluator_parity(ref, mine_name, ref_name):
    _, ev = ref
    mine = getattr(evaluate, mine_name)
    theirs = ev[ref_name]
    for v in NOISY_VALUES + _fuzz_values():
        try:
            want = theirs(v)
            want_exc = None
        except Exception as e:  # quirk crashes are part of the contract
            want, want_exc = None, type(e)
        if want_exc is not None:
            with pytest.raises(want_exc):
                mine(v)
        else:
            got = mine(v)
            assert _norm(got) == _norm(want), (mine_name, v)


def _norm(x):
    """Structural normalisation: tuples vs lists compare equal; floats exact."""
    if isinstance(x, (list, tuple)):
        return [_norm(i) for i in x]
    if isinstance(x, dict):
        return {k: _norm(v) for k, v in x.items()}
    return x


def test_rs_p_parity(ref):
    _, ev = ref
    for classes, _name in evaluate._RELIGION_CLASSES:
        assert evaluate.ordered_class_pattern(classes) == ev["rs_p"](classes)


def test_final_evaluator_parity(ref):
    post, _ = ref
    cases = [
        {},
        {"NIK": [[0, ["3201150107990001"]]]},
        {"NIK": [[0, ["3201150107990001"]], [1, ["320115010799000"]]],
         "Tanggal Lahir": ["1", "7", "1999"], "Jenis kelamin": "LAKI-LAKI"},
        {"NIK_1": [[1, ["12345678901234567"]]],
         "Tanggal Lahir": ["15", "07", "1999"], "Jenis kelamin": "PEREMPUAN"},
        {"Nama": "X"},
    ]
    for case in cases:
        got = evaluate.final_evaluate_ktp(copy.deepcopy(case))
        want = post["ktp_final_evaluator"](copy.deepcopy(case))
        assert _norm(got) == _norm(want), case


def _spec_pairs():
    """(mine, theirs) spec lists built from the same config."""
    cfg = ktpspec.DEFAULT_FIELD_CONFIG
    return ktpspec.ktp_plans(cfg).blended.fresh(), refharness.build_reference_specs(cfg)


def test_matcher_parity_on_doc_lines(ref):
    """match_keys_in_line vs get_str_keys_values over every synthetic doc
    line under every spec, with FRESH args per call (no shared mutation)."""
    rng = random.Random(5)
    lines = []
    for doc_id in range(40):
        lines.extend(synthdocs.gen_document(42, doc_id)["_lines"])
    lines += ["", "  ", "NIK NIK NIK", ": : :", "x"]

    mine_specs, ref_specs = _spec_pairs()
    for ms, rs in zip(mine_specs, ref_specs):
        if ms["extractor"] is not matching.match_keys_in_line:
            continue
        for line in rng.sample(lines, min(len(lines), 120)):
            a1 = copy.deepcopy(ms["extractor_args"])
            a2 = copy.deepcopy(rs["extractor_args"])
            a1["line"] = line
            a2["line"] = line
            got = matching.match_keys_in_line(**a1)
            want = refharness.load_reference()[0]["get_str_keys_values"](**a2)
            assert _norm(got) == _norm(want), (ms["alias_names"], line)


def test_matcher_parity_shared_mutation(ref):
    """wo_space growth across repeated calls on a SHARED args dict must
    compound identically (reference postprocessing.py:92-97 quirk)."""
    post, _ = ref
    mine_specs, ref_specs = _spec_pairs()
    lines = synthdocs.gen_document(42, 7)["_lines"] + ["noise line here", ""]
    for ms, rs in zip(mine_specs, ref_specs):
        if not ms["extractor_args"].get("wo_space"):
            continue
        a1 = copy.deepcopy(ms["extractor_args"])
        a2 = copy.deepcopy(rs["extractor_args"])
        for call_no, line in enumerate(lines[:6]):
            a1["line"] = line
            a2["line"] = line
            got = matching.match_keys_in_line(**a1)
            want = post["get_str_keys_values"](**a2)
            assert _norm(got) == _norm(want), (ms["alias_names"], line)
            if call_no == 0 and len(ms["extractor_args"]["key_str_list_list"][0]) > 1:
                # After the first call the engine's list state matches the
                # reference exactly; afterwards the reference doubles with
                # output-idempotent duplicates while the engine stays
                # bounded (see matching.py wo_space comment).
                assert a1["key_str_list_list"] == a2["key_str_list_list"]
                assert a1["max_distances"] == a2["max_distances"]


def test_full_document_parity(ref):
    """End-to-end: engine parse_document == reference parse_ktp(ktp_str=...)
    on synthetic KTP docs (result dict, success, errors, model_result)."""
    n_checked = 0
    for doc_id in range(120):
        doc = synthdocs.gen_document(42, doc_id)
        if doc["lang"] != "ind":
            continue
        text = "\n".join(doc["_lines"])
        got = ktpspec.parse_document(text)
        want = refharness.ref_parse_document(
            text,
            ktpspec.DEFAULT_FIELD_CONFIG,
            ktpspec.RESULT_ORDERS,
            ktpspec.OUTPUT_ORDERS,
        )
        got = {k: v for k, v in got.items() if k != "warning"}
        assert _norm(got) == _norm(want), doc_id
        n_checked += 1
    assert n_checked >= 30


def test_generic_document_parity(ref):
    for doc_id in range(60):
        doc = synthdocs.gen_document(42, doc_id)
        if doc["lang"] != "en":
            continue
        # The reference's wo_space growth is exponential in scanned lines
        # (2^n keys; SURVEY.md §7), so the reference oracle is only
        # computable on short docs — truncate for the comparison.
        text = "\n".join(doc["_lines"][:7])
        got = {k: v for k, v in ktpspec.parse_document(text).items() if k != "warning"}
        want = refharness.ref_parse_document(
            text, ktpspec.DEFAULT_FIELD_CONFIG, ktpspec.RESULT_ORDERS, ktpspec.OUTPUT_ORDERS
        )
        assert _norm(got) == _norm(want), doc_id
