"""Malformed-JPEG property: for one well-formed 16x16 stream per decodable
frame kind, every prefix and every marker-byte mutation decodes to None or
to a uint8 plane of the frame's size, and no decode raises — the contract
that lets one corrupt crawled file fall back to the documented fake
instead of failing a whole mapInPandas task."""

from __future__ import annotations

import numpy as np

from seo_audit_etl_actor_spark.multimodal import binary_ops as B
from seo_audit_etl_actor_spark.multimodal import fixtures as FX


def _kinds():
    img = np.random.default_rng(0).integers(0, 256, (16, 16), dtype=np.uint8)
    samples = img.astype(np.int64)
    return {
        "sof0": FX.encode_jpeg(img)[0],
        "sof0_dri": FX.encode_jpeg(img, restart_interval=1)[0],
        "sof2": FX.encode_jpeg_progressive(img)[0],
        "sof3": FX.encode_jpeg_lossless(samples, predictor=4)[0],
        "sof9": FX.encode_jpeg_arith(img)[0],
        "sof9_dri": FX.encode_jpeg_arith(img, restart_interval=1)[0],
        "sof10": FX.encode_jpeg_arith_progressive(img)[0],
        "sof11": FX.encode_jpeg_arith_lossless(samples, predictor=4)[0],
    }


def _variants(blob: bytes):
    """Every proper prefix, then 00 / FF / xor 01 / D9 written at each
    marker code byte and the two (length) bytes after it."""
    for k in range(len(blob)):
        yield blob[:k]
    for i in range(len(blob) - 1):
        if blob[i] != 0xFF or blob[i + 1] in (0x00, 0xFF):
            continue
        for p in range(i + 1, min(i + 4, len(blob))):
            for v in (0x00, 0xFF, blob[p] ^ 0x01, 0xD9):
                bad = bytearray(blob)
                bad[p] = v
                yield bytes(bad)


def test_malformed_jpeg_decodes_to_none_or_frame_plane():
    n = 0
    for kind, blob in _kinds().items():
        full = B._decode_gray_pixels(blob)
        assert full is not None and full.shape == (16, 16), kind
        for data in _variants(blob):
            out = B._decode_gray_pixels(data)
            n += 1
            if out is not None:
                assert out.dtype == np.uint8 and out.shape == (16, 16), (kind, data.hex())
    assert n > 4000


def test_huffman_sequential_scan_ends_at_next_marker():
    """A baseline first scan's entropy data ends at the first non-RST
    marker. With the scan cut anywhere in its first half and an APP0
    segment of zero bytes after it, the decode must give None. Zero bytes
    are valid Huffman codes, so reading on into the segment would fill
    the missing blocks. The intact scan followed by the same segment
    still decodes to the encoder's plane."""
    import struct

    from seo_audit_etl_actor_spark.multimodal import jpeg

    img = np.random.default_rng(0).integers(0, 256, (32, 32), dtype=np.uint8)
    blob, expected = FX.encode_jpeg(img)
    sos = blob.index(b"\xff\xda")
    start = sos + 2 + struct.unpack(">H", blob[sos + 2 : sos + 4])[0]
    ecs = blob[start : blob.rindex(b"\xff\xd9")]
    app0 = b"\xff\xe0" + struct.pack(">H", 2 + 1024) + bytes(1024)
    full = jpeg.decode_jpeg(blob[:start] + ecs + app0 + b"\xff\xd9")
    assert full is not None and np.array_equal(full, expected)
    planes = [
        cut
        for cut in range(1, len(ecs) // 2)
        if jpeg.decode_jpeg(blob[:start] + ecs[:cut] + app0 + b"\xff\xd9") is not None
    ]
    assert planes == []
