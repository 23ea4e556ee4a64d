"""The codec primitives every format shares: the MSB-first bit
reader/writer pair (with JPEG's byte stuffing as a stream property), the
MSB-first CRC, and the canonical Huffman builder. Pure Python, no Spark."""

from __future__ import annotations

import pytest

from elevate_data_pipeline_spark.operators import multimodal as mm


@pytest.mark.parametrize(
    "width, poly, init, check",
    [
        (8, 0x07, 0, 0xF4),  # CRC-8/SMBUS: FLAC frame header
        (16, 0x8005, 0, 0xFEE8),  # CRC-16/UMTS: FLAC frame
        (16, 0x8005, 0xFFFF, 0xAEE7),  # CRC-16/CMS: MPEG audio
        (32, 0x04C11DB7, 0, 0x89A1897F),  # Ogg page: CKSUM without its final XOR
    ],
)
def test_crc_catalogue_check_values(width, poly, init, check):
    assert mm._crc(b"123456789", width, poly, init) == check


def test_jpeg_stuffing_round_trip():
    w = mm._MsbBitWriter(jpeg=True)
    w.bits(0x3, 2)
    w.bits(0xFFF, 12)  # lands as a whole FF byte: a 00 is stuffed after it
    w.bits(0x5, 3)
    data = w.flush()
    # 11 111111 | 111111 10 | 1 + seven 1-bit pad
    assert data == b"\xff\x00\xfe\xff\x00"
    r = mm._MsbBitReader(data, 0, jpeg=True)
    assert r.bits(2) == 0x3
    assert [r.bit() for _ in range(4)] == [1, 1, 1, 1]
    assert r.bits(8) == 0xFF
    assert r.bits(3) == 0x5
    assert r.bits(7) == 0x7F
    with pytest.raises(ValueError):
        r.bit()


def test_jpeg_marker_inside_entropy_stream_raises():
    r = mm._MsbBitReader(b"\x12\xff\xd9", 0, jpeg=True)
    assert r.bits(8) == 0x12
    with pytest.raises(ValueError, match="marker"):
        r.bits(8)
    r = mm._MsbBitReader(b"\xff\xd9", 0, jpeg=True)
    with pytest.raises(ValueError, match="marker"):
        r.bit()


def test_plain_streams_keep_ff_bytes():
    w = mm._MsbBitWriter()
    w.bits(0xFF, 8)
    w.bits(0x1, 1)
    assert w.flush() == b"\xff\x80"  # no stuffing, zero padding
    assert mm._MsbBitReader(b"\xff\x00").bits(16) == 0xFF00


def test_canonical_codes():
    # RFC 1951 3.2.2: lengths (3, 3, 3, 3, 3, 2, 4, 4) for A..H
    lengths = [3, 3, 3, 3, 3, 2, 4, 4]
    codes = mm._vp8l_codes(lengths)
    assert [codes[s] for s in range(8)] == [
        (0b010, 3), (0b011, 3), (0b100, 3), (0b101, 3), (0b110, 3),
        (0b00, 2), (0b1110, 4), (0b1111, 4),
    ]
    assert mm._vp8l_decode_tree(lengths)[(4, 0b1111)] == 7
    assert mm._vp8l_codes([0, 5, 0]) == {1: (0, 0)}
    assert mm._vp8l_decode_tree([0, 5, 0]) == {"single": 1}
    with pytest.raises(ValueError, match="incomplete"):
        mm._vp8l_decode_tree([1, 2, 0])
    # T.81 Table K.3: luminance DC categories 0, 6 and 11
    dc = mm._canonical_codes(mm._jpeg_code_pairs(*mm._DC_LUM))
    assert (dc[0], dc[6], dc[11]) == ((0b00, 2), (0b1110, 4), (0b111111110, 9))
