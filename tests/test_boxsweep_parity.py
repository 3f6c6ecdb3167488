"""Byte-parity of the block-order sweep vs the exec'd reference's
``parse_doc_new0`` (/root/reference/ocrfw/postprocessing.py:546-663) on the
text path.

The reference's geometry hooks are driven with text-backed stubs injected
into its exec'd namespace: ``get_line_boxes`` yields one key per block
(scale-0.5 keys that double back to block indices) and ``ocr2`` returns the
block's text — so its sweep observes exactly the block sequence the engine's
``sweep_blocks`` walks, including the live-list ``del`` consumption quirk."""

import copy

import pytest

from tests import refharness
from universal_key_value_based_text_processing_with_ocr_spark.kvcore import ktpspec
from universal_key_value_based_text_processing_with_ocr_spark.kvcore.boxsweep import sweep_blocks
from universal_key_value_based_text_processing_with_ocr_spark.sources import synthdocs

pytestmark = pytest.mark.skipif(
    not refharness.reference_available(), reason="reference repo not present"
)


def _ref_parse_doc_new0(blocks, specs, final_evaluator=None, keep_looking=False):
    """Drive the genuine parse_doc_new0 with text-backed geometry stubs."""
    post, _ = refharness.load_reference()
    saved = {k: post.get(k) for k in ("preprocessing3", "get_line_boxes", "ocr2")}
    post["preprocessing3"] = lambda img: img
    # keys double back to block indices: box=(i,) -> [i*2] -> blocks[i*2//2]
    post["get_line_boxes"] = lambda img1, scale=0.5: {(i,): None for i in range(len(img1))}
    post["ocr2"] = lambda img1, box, config="": img1[box[0] // 2]
    try:
        return post["parse_doc_new0"](
            list(blocks), specs, final_evaluator=final_evaluator, keep_looking=keep_looking
        )
    finally:
        post.update(saved)


def _ref_specs():
    """Reference to_extracts with the tess_config key parse_doc_new0 reads."""
    specs = refharness.build_reference_specs(ktpspec.DEFAULT_FIELD_CONFIG)
    for te in specs:
        te["tess_config"] = ""
    return specs


def _engine_specs():
    return ktpspec.ktp_plans().blended.fresh()  # the reference's to_extracts order


def _norm(x):
    if isinstance(x, (list, tuple)):
        return [_norm(i) for i in x]
    if isinstance(x, dict):
        return {k: _norm(v) for k, v in x.items() if k != "to extracts"}
    return x


def _compare(blocks, keep_looking=False):
    ref = _ref_parse_doc_new0(blocks, _ref_specs(), keep_looking=keep_looking)
    eng = sweep_blocks(list(blocks), _engine_specs(), keep_looking=keep_looking)
    assert _norm(ref) == _norm(eng), f"blocks={blocks!r}"


def _ktp_blocks(seed, doc_id):
    row = synthdocs.gen_page_row(seed, doc_id)
    if row["text"] is not None:
        return row["text"].split("\n")
    from universal_key_value_based_text_processing_with_ocr_spark.htmlcore.extract import (
        _keep,
        decode_payload,
        extract_blocks,
    )

    return [
        b["text"].strip() for b in extract_blocks(decode_payload(row["html"])) if _keep(b)
    ]


def test_boxorder_parity_on_synth_ktp_docs():
    for doc_id in range(8):
        blocks = _ktp_blocks(42, doc_id)
        _compare(blocks)


def test_boxorder_parity_keep_looking():
    blocks = _ktp_blocks(42, 0)
    _compare(blocks, keep_looking=True)


def test_boxorder_parity_multi_line_blocks():
    # multi-line blocks are NOT consumed on success (len(extra_lines) > 1)
    blocks = _ktp_blocks(42, 2)
    merged = ["\n".join(blocks[i : i + 2]) for i in range(0, len(blocks), 2)]
    _compare(merged)


def test_boxorder_parity_failing_doc_early_abort():
    # a doc with no NIK: the must-exist spec aborts the whole parse with the
    # single error dict (error_code 0) — both engines, byte-identical message
    blocks = ["PROVINSI DKI JAKARTA", "Nama : BUDI SANTOSO", "some unrelated line"]
    ref = _ref_parse_doc_new0(blocks, _ref_specs())
    eng = sweep_blocks(list(blocks), _engine_specs())
    assert ref["success"] is False and eng["success"] is False
    assert ref["error_code"] == eng["error_code"] == 0
    assert ref["error_message"] == eng["error_message"]
    assert _norm(ref) == _norm(eng)


def test_boxorder_consumption_skips_next_block():
    """The live-list del quirk: a consumed single-line block makes the sweep
    skip the block right after it — assert both sides agree on a crafted
    sequence where the skip is observable."""
    blocks = [
        "PROVINSI DKI JAKARTA",   # consumed by spec 1 (single-line success)
        "JAKARTA PUSAT",          # the KABUPATEN/KOTA line — position matters
        "NIK : 3171234567890001",
        "Nama : BUDI",
        "blah",
    ]
    _compare(blocks)
    # and with the consumable line first inside a later position
    _compare(list(reversed(blocks)))


def test_boxorder_unscanned_failing_spec_raises_like_reference():
    # empty block list: the first must-exist spec fails without ever binding
    # the extractor echo -> UnboundLocalError in the reference AND the engine
    with pytest.raises(UnboundLocalError):
        _ref_parse_doc_new0([], _ref_specs())
    with pytest.raises(UnboundLocalError):
        sweep_blocks([], _engine_specs())


def test_boxorder_blank_lines_skipped():
    blocks = ["   ", "", "PROVINSI DKI JAKARTA", " \t ", "NIK : 3171234567890001"]
    ref = _ref_parse_doc_new0(blocks, _ref_specs())
    eng = sweep_blocks(list(blocks), _engine_specs())
    assert _norm(ref) == _norm(eng)
