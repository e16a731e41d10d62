"""Arithmetic-coded and hierarchical JPEG streams are rejected by the
Huffman-only decoder (multimodal/jpeg.py); the fixture is the committed
arithmetic-coded demo payload (SOF9) from sources/generate.py."""

import pytest

from firmwarescraper_spark.multimodal import jpeg as J
from firmwarescraper_spark.sources.generate import demo_media_payloads


def test_hierarchical_still_rejected():
    arith = dict(demo_media_payloads())[9]
    with pytest.raises(ValueError):
        J.decode_jpeg(arith)
    for marker in (0xC5, 0xCD):        # hierarchical profiles stay rejected
        blob = bytearray(arith)
        i = blob.index(b"\xff\xc9")
        blob[i + 1] = marker
        with pytest.raises(ValueError):
            J.decode_jpeg(bytes(blob))
