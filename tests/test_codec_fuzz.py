"""Containment fuzz across ALL image codecs: arbitrary crawl bytes
(random soups, truncated/mutated real payloads, signature-prefixed
garbage) must decode, raise ValueError, or sniff to None — never escape
with another exception type and never allocate per claimed dims.  This is
the per-row containment contract a corpus-scale decode relies on (one
hostile payload must cost one error row, not a stage)."""

import random

import pytest

from universal_key_value_based_text_processing_with_ocr_spark.operators import (
    imagecodec as ic,
)
from universal_key_value_based_text_processing_with_ocr_spark.operators import (
    tiffcodec as tc,
)

SIGS = [
    b"",
    ic.PNG_SIG,
    b"BM",
    b"GIF89a",
    b"GIF87a",
    b"\xff\xd8",
    b"RIFF\x20\x00\x00\x00WEBPVP8L",
    b"II*\x00",
    b"MM\x00*",
]


def _soups(seed, n_per_sig=40):
    rng = random.Random(seed)
    for sig in SIGS:
        for _ in range(n_per_sig):
            yield sig + bytes(rng.randrange(256) for _ in range(rng.randrange(1, 400)))


def test_decode_image_contains_random_soups():
    decoded = errors = 0
    for payload in _soups(1):
        try:
            ic.decode_image(payload)
            decoded += 1
        except ValueError:
            errors += 1
        except Exception as e:  # noqa: BLE001 — the assertion target
            pytest.fail(f"{type(e).__name__} escaped decode_image: {e}")
    assert errors > 0  # the fuzz actually hit the error paths


def test_sniff_never_raises_on_soups():
    for payload in _soups(2):
        meta = ic.sniff_image_meta(payload)
        assert meta is None or set(meta) == {"format", "width", "height"}


@pytest.mark.parametrize(
    "synth,decode",
    [
        (ic.synth_image, ic.decode_image),
        (ic.synth_jpeg, ic.decode_jpeg),
        (tc.synth_tiff, tc.decode_tiff),
    ],
)
def test_mutated_real_payloads_contained(synth, decode):
    """Random byte mutations of REAL payloads (headers and entropy data
    alike): decode correctly, differ in pixels, or raise ValueError."""
    rng = random.Random(7)
    for d in range(6):
        payload = bytearray(synth(d))
        for _ in range(60):
            mutated = bytearray(payload)
            for _k in range(rng.randrange(1, 4)):
                mutated[rng.randrange(len(mutated))] = rng.randrange(256)
            try:
                decode(bytes(mutated))
            except ValueError:
                pass
            except Exception as e:  # noqa: BLE001
                pytest.fail(
                    f"{type(e).__name__} escaped on mutated {synth.__name__}: {e}"
                )


def test_truncations_contained():
    for synth, decode in [
        (ic.synth_image, ic.decode_image),
        (ic.synth_jpeg, ic.decode_jpeg),
        (tc.synth_tiff, tc.decode_tiff),
    ]:
        payload = synth(3)
        for cut in range(0, len(payload), max(1, len(payload) // 37)):
            try:
                decode(payload[:cut])
            except ValueError:
                pass
            except Exception as e:  # noqa: BLE001
                pytest.fail(f"{type(e).__name__} escaped truncation: {e}")
