"""Baseline-TIFF codec tests: round-trips across the full variant matrix
(compression x predictor x endianness x channels x strip layout — each
encoder feature the independent forward twin of one decoder path),
TIFF-LZW early-change/dict-reset stress, hostile-input hardening, and
dispatcher/sniffer routing.

The pixel pattern is the synth_tiff closed form.
"""

import struct

import pytest

from universal_key_value_based_text_processing_with_ocr_spark.operators import (
    imagecodec as ic,
)
from universal_key_value_based_text_processing_with_ocr_spark.operators import (
    tiffcodec as tc,
)


def _pattern(w, h, d=0, ch=3):
    px = bytearray()
    for y in range(h):
        for x in range(w):
            trip = (
                (11 * x + 17 * y + 23 * d) % 256,
                (7 * x + 13 * y + 31 * d) % 256,
                (5 * x + 3 * y + d) % 256,
                255,
            )
            px += bytes(trip[:ch])
    return bytes(px)


@pytest.mark.parametrize("compression", [1, 5, 32773])
@pytest.mark.parametrize("predictor", [1, 2])
@pytest.mark.parametrize("big_endian", [False, True])
@pytest.mark.parametrize("channels", [1, 3, 4])
def test_roundtrip_matrix(compression, predictor, big_endian, channels):
    w, h = 13, 9
    px = _pattern(w, h, d=4, ch=channels)
    enc = tc.encode_tiff(
        w, h, px, channels=channels, compression=compression,
        predictor=predictor, big_endian=big_endian, rows_per_strip=4,
    )
    dec = tc.decode_tiff(enc)
    assert (dec["width"], dec["height"], dec["channels"]) == (w, h, channels)
    assert dec["pixels"] == px


def test_synth_tiff_all_variants_match_closed_form():
    for d in range(12):  # two full passes over the 6 variants
        out = tc.decode_tiff(tc.synth_tiff(d))
        w, h = 4 * (1 + d % 4), 4 * (1 + (3 * d) % 4)
        assert (out["width"], out["height"], out["channels"]) == (w, h, 3)
        assert out["pixels"] == _pattern(w, h, d)


def test_lzw_early_change_and_dict_reset():
    """Cross the 9->10->11->12-bit width boundaries AND the 4094-entry
    dictionary reset; also an incompressible stream (worst-case table
    churn)."""
    big = bytes((i // 97) % 250 for i in range(120000))
    enc = tc.encode_tiff(400, 100, big, channels=3, compression=5)
    assert tc.decode_tiff(enc)["pixels"] == big
    import random

    noise = bytes(random.Random(11).randrange(256) for _ in range(30000))
    enc = tc.encode_tiff(100, 100, noise, channels=3, compression=5)
    assert tc.decode_tiff(enc)["pixels"] == noise


def test_dispatcher_and_sniffer_route_tiff():
    payload = tc.synth_tiff(5)
    dec = ic.decode_image(payload)
    assert dec["format"] == "tiff"
    assert dec["pixels"] == _pattern(dec["width"], dec["height"], 5)
    assert ic.sniff_image_meta(payload) == {
        "format": "tiff", "width": dec["width"], "height": dec["height"],
    }


def test_sniffer_never_raises_on_garbage_ifd():
    assert ic.sniff_image_meta(b"II*\x00\xff\xff\xff\xff") is None
    assert ic.sniff_image_meta(b"MM\x00*\x00\x00") is None
    assert tc.sniff_tiff_meta(b"II*\x00" + b"\x08\x00\x00\x00" + b"\xff\xff") is None


@pytest.mark.parametrize(
    "mutate",
    [
        lambda p: p[:6],  # truncated header
        lambda p: b"II+\x00" + p[4:],  # bad magic
        lambda p: p[:8],  # IFD gone
        lambda p: p[:4] + struct.pack("<I", len(p) + 50) + p[8:],  # IFD off-range
    ],
)
def test_hostile_inputs_raise_valueerror(mutate):
    payload = tc.synth_tiff(2)
    with pytest.raises(ValueError):
        tc.decode_tiff(mutate(payload))


def test_hostile_dims_capped_before_allocation():
    """A header claiming 100000x100000 must be refused by the decoded-size
    cap before any strip allocation."""
    px = _pattern(4, 4)
    good = tc.encode_tiff(4, 4, px)
    # patch the width/height LONG tags in place (values are inline)
    bad = bytearray(good)
    (ifd_off,) = struct.unpack_from("<I", bad, 4)
    (n,) = struct.unpack_from("<H", bad, ifd_off)
    for i in range(n):
        base = ifd_off + 2 + 12 * i
        tag, typ, cnt = struct.unpack_from("<HHI", bad, base)
        if tag in (256, 257):
            struct.pack_into("<I", bad, base + 8, 100000)
    with pytest.raises(ValueError, match="refusing image"):
        tc.decode_tiff(bytes(bad))


def test_strip_bounds_checked():
    px = _pattern(8, 8)
    good = tc.encode_tiff(8, 8, px, compression=1)
    # truncate the strip data: uncompressed strip now too short
    with pytest.raises(ValueError):
        tc.decode_tiff(good[:-40])


def test_bitflip_sweep_contained():
    """Every corruption outcome must be ValueError or a pixel-level
    difference — never an uncontained exception type (the per-row
    containment contract decode_image relies on)."""
    payload = bytearray(tc.synth_tiff(8))  # LZW + predictor + multistrip
    for bit in range(0, min(len(payload), 120) * 8, 7):
        mutated = bytearray(payload)
        mutated[bit // 8] ^= 1 << (bit % 8)
        try:
            tc.decode_tiff(bytes(mutated))
        except ValueError:
            pass
        except Exception as e:  # noqa: BLE001 — the assertion target
            pytest.fail(f"non-ValueError escape at bit {bit}: {type(e).__name__} {e}")


def test_unsupported_features_refused_cleanly():
    px = _pattern(4, 4)
    with pytest.raises(ValueError, match="length mismatch"):
        tc.encode_tiff(5, 4, px)
    with pytest.raises(ValueError, match="channels"):
        tc.encode_tiff(4, 4, px[: 4 * 4 * 2], channels=2)
    good = bytearray(tc.encode_tiff(4, 4, px))
    # rewrite the compression tag to G4 fax (4): decoder must refuse
    (ifd_off,) = struct.unpack_from("<I", good, 4)
    (n,) = struct.unpack_from("<H", good, ifd_off)
    for i in range(n):
        base = ifd_off + 2 + 12 * i
        tag, typ, cnt = struct.unpack_from("<HHI", good, base)
        if tag == 259:
            struct.pack_into("<H", good, base + 8, 4)
    with pytest.raises(ValueError, match="compression"):
        tc.decode_tiff(bytes(good))
