"""snappy and LZ4 RecordBatch codec tests: ``kafka_wire`` encodes and
decodes both through pyarrow's native codecs. Vectors come from the
public format specs (google/snappy format_description.txt,
lz4_Frame_format.md, lz4_Block_format.md); LZ4 frames are hand-built
with their header-checksum bytes pinned from xxHash32."""

from __future__ import annotations

import os
import random
import struct

import pytest

from nifi_minifi_cpp_spark.sources.kafka_wire import (
    _CODEC_LZ4,
    _CODEC_SNAPPY,
    compress_records,
    decompress_records,
)

_LZ4_MAGIC = 0x184D2204
# frame descriptors (FLG, BD) with their header-checksum byte,
# (xxh32(descriptor) >> 8) & 0xFF: 64 KiB blocks, independent blocks,
# without / with the content-checksum flag
_DESC_PLAIN = bytes([0x60, 0x40, 0x82])
_DESC_CONTENT_CHECKSUM = bytes([0x64, 0x40, 0xA7])


def unsnappy(buf: bytes) -> bytes:
    return decompress_records(_CODEC_SNAPPY, buf)


def unlz4(buf: bytes) -> bytes:
    return decompress_records(_CODEC_LZ4, buf)


def _lz4_frame(desc: bytes, blocks: bytes, trailer: bytes = b"") -> bytes:
    return struct.pack("<I", _LZ4_MAGIC) + desc + blocks + struct.pack("<I", 0) + trailer


def _stored_block(data: bytes) -> bytes:
    return struct.pack("<I", len(data) | 0x80000000) + data


def test_xxh32_public_vectors():
    """The LZ4 content checksum is XXH32(content, seed 0): frames
    carrying the published xxHash32 values decode, the same frames with
    the checksum flipped are refused, and so is a wrong header
    checksum."""
    for data, xxh32 in (
        (b"", 0x02CC5D05),
        (b"a", 0x550D7456),
        (b"abc", 0x32D153FF),
        (b"Nobody inspects the spammish repetition", 0xE2293B2F),
    ):
        blocks = _stored_block(data) if data else b""
        assert unlz4(_lz4_frame(_DESC_CONTENT_CHECKSUM, blocks, struct.pack("<I", xxh32))) == data
        with pytest.raises(ValueError, match="lz4"):
            unlz4(_lz4_frame(_DESC_CONTENT_CHECKSUM, blocks, struct.pack("<I", xxh32 ^ 1)))
    with pytest.raises(ValueError, match="lz4"):
        unlz4(_lz4_frame(bytes([0x64, 0x40, 0xA6]), b"", struct.pack("<I", 0x02CC5D05)))


def test_snappy_tag_stream_hand_vectors():
    """Each tag kind decoded from hand-built streams: literal, copy-1
    (11-bit offset), copy-2, copy-4, and the overlapping-copy RLE
    idiom — format_description.txt sections 2.1/2.2."""
    assert unsnappy(bytes([5, 4 << 2]) + b"hello") == b"hello"
    # copy-1: tag (len-4)<<2 | 01 | (off>>8)<<5, then offset low byte
    assert unsnappy(bytes([8, 3 << 2]) + b"abcd" + bytes([0x01, 4])) == b"abcdabcd"
    # copy-2: tag (len-1)<<2 | 10, then 2-byte LE offset
    assert unsnappy(bytes([8, 3 << 2]) + b"abcd" + bytes([(3 << 2) | 2]) + struct.pack("<H", 4)) == b"abcdabcd"
    # copy-4: tag (len-1)<<2 | 11, then 4-byte LE offset
    assert unsnappy(bytes([8, 3 << 2]) + b"abcd" + bytes([(3 << 2) | 3]) + struct.pack("<I", 4)) == b"abcdabcd"
    # overlap (offset < length): 'a' then copy len 5 off 1 -> RLE
    assert unsnappy(bytes([6, 0]) + b"a" + bytes([(4 << 2) | 2]) + struct.pack("<H", 1)) == b"aaaaaa"
    # corrupt: offset beyond output
    with pytest.raises(ValueError, match="snappy"):
        unsnappy(bytes([8, 3 << 2]) + b"abcd" + bytes([(3 << 2) | 2]) + struct.pack("<H", 99))
    # corrupt: declared length mismatch
    with pytest.raises(ValueError, match="snappy"):
        unsnappy(bytes([9, 4 << 2]) + b"hello")


def test_snappy_oversized_preamble_rejected_before_allocation(monkeypatch):
    """The varint preamble declares the decompressed size. A size no
    block of that length can expand to is refused before pyarrow
    allocates an output buffer for it; the most compressible real input
    still decodes."""
    import pyarrow as pa

    big = b"x" * 1_000_000
    assert unsnappy(compress_records(_CODEC_SNAPPY, big)) == big

    def no_allocation(*args, **kwargs):
        raise AssertionError("pyarrow asked to allocate for an oversized preamble")

    monkeypatch.setattr(pa, "decompress", no_allocation)
    for garbage in (b"\xff\xff\xff\xff\x0f", b"\x80\x80\x80\x80\x04junk"):
        with pytest.raises(ValueError, match="snappy: declared size"):
            unsnappy(garbage)


def test_snappy_xerial_stream_framing():
    """The java-producer stream framing: \\x82SNAPPY\\x00 header +
    version/compat words + 4-byte-BE-length raw blocks."""
    b1 = compress_records(_CODEC_SNAPPY, b"hello world " * 10)
    b2 = compress_records(_CODEC_SNAPPY, b"second block")
    framed = (
        b"\x82SNAPPY\x00"
        + struct.pack(">II", 1, 1)
        + struct.pack(">I", len(b1))
        + b1
        + struct.pack(">I", len(b2))
        + b2
    )
    assert unsnappy(framed) == b"hello world " * 10 + b"second block"
    with pytest.raises(ValueError, match="xerial"):
        unsnappy(framed + b"\x00\x00")


@pytest.mark.parametrize("codec", ["snappy", "lz4"])
def test_roundtrips_all_shapes(codec):
    bits = _CODEC_SNAPPY if codec == "snappy" else _CODEC_LZ4
    rng = random.Random(7)
    cases = [
        b"",
        b"a",
        b"abc",
        b"abcd" * 1000,  # highly repetitive: copies dominate
        os.urandom(100_000),  # incompressible: literal runs dominate
        bytes(rng.choices(b"abcde", k=200_000)),  # mixed
        b"x" * 70_000,  # RLE across block boundaries (lz4 64K blocks)
    ]
    for d in cases:
        assert decompress_records(bits, compress_records(bits, d)) == d
    # repetitive data genuinely compresses (real matching, not literals)
    rep = b"the quick brown fox " * 2000
    assert len(compress_records(bits, rep)) < len(rep) // 2


def test_lz4_frame_header_checksum_guard():
    f = bytearray(compress_records(_CODEC_LZ4, b"payload payload payload"))
    hc = 6 + (8 if f[4] & 0x08 else 0)  # after FLG/BD and any content size
    f[hc] ^= 0xFF  # corrupt the HC byte
    with pytest.raises(ValueError, match="lz4"):
        unlz4(bytes(f))
    with pytest.raises(ValueError, match="lz4"):
        unlz4(b"\x00\x00\x00\x00rest")


def test_lz4_stored_block_path():
    """Blocks stored with the high bit set on the block size (frame
    spec) decode verbatim, alone or after a compressed block."""
    d = os.urandom(1000)
    assert unlz4(_lz4_frame(_DESC_PLAIN, _stored_block(d))) == d
    compressed = bytes([4 << 4]) + b"abcd"  # last sequence: 4 literals
    blocks = struct.pack("<I", len(compressed)) + compressed + _stored_block(d)
    assert unlz4(_lz4_frame(_DESC_PLAIN, blocks)) == b"abcd" + d


def test_lz4_truncated_literal_run_is_typed_error():
    """A block token declaring more literals than the block supplies
    must raise, not silently return a prefix."""
    block = bytes([10 << 4]) + b"abcd"  # token claims 10 literals, ships 4
    frame = _lz4_frame(_DESC_PLAIN, struct.pack("<I", len(block)) + block)
    with pytest.raises(ValueError, match="lz4"):
        unlz4(frame)


# ---------------------------------------------------------------------------
# REAL lz4 interop
# ---------------------------------------------------------------------------

_LZ4_BIN = __import__("shutil").which("lz4")


@pytest.mark.skipif(_LZ4_BIN is None, reason="no lz4 binary on PATH")
def test_real_lz4_frames_decode():
    import subprocess

    rng = random.Random(5)
    payloads = [
        b"",
        b"hello lz4",
        bytes(rng.randrange(256) for _ in range(5000)),
        b"the quick brown fox " * 3000,
        bytes(rng.choice(b"aab") for _ in range(60000)),
    ]
    for lvl in ("-1", "-9"):
        for i, p in enumerate(payloads):
            frame = subprocess.run(
                [_LZ4_BIN, lvl, "-c"], input=p, capture_output=True, check=True
            ).stdout
            assert unlz4(frame) == p, (lvl, i)


@pytest.mark.skipif(_LZ4_BIN is None, reason="no lz4 binary on PATH")
def test_real_lz4_accepts_our_frames():
    import subprocess

    rng = random.Random(5)
    for p in (b"", b"x" * 40000, bytes(rng.randrange(256) for _ in range(3000))):
        frame = compress_records(_CODEC_LZ4, p)
        got = subprocess.run(
            [_LZ4_BIN, "-d", "-c"], input=frame, capture_output=True, check=True
        ).stdout
        assert got == p
