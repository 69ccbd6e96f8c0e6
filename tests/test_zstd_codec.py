"""zstd RecordBatch codec suite (RFC 8878): ``kafka_wire`` encodes and
decodes zstd records sections through pyarrow's native libzstd.

Anchors, in order of independence:
1. Spec goldens: the canonical 13-byte empty frame `zstd` emits,
   raw-block frames whose content checksum is the low half of a
   published xxHash64 value, and dictionary-id frames.
2. Frozen decoder-path frames, hand-assembled per the spec layouts
   (FSE-compressed Huffman weights, treeless literals, RLE / FSE /
   repeat sequence-table modes, 4-stream Huffman literals, repeat
   offsets, hand-computed canonical Huffman codes). Each was built and
   decoded by an independent pure-Python RFC 8878 decoder and is pinned
   here as hex with that decoder's output or error; libzstd agrees on
   every one except the offset-underflow frame noted in
   ``test_repeat_offsets_paths``.
3. Real `zstd` binary interop in both directions, and round-trips.
"""

from __future__ import annotations

import random
import struct

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nifi_minifi_cpp_spark.sources.kafka_wire import (
    _CODEC_ZSTD,
    compress_records,
    decompress_records,
)

ZSTD_MAGIC = 0xFD2FB528


def unzstd(frame: bytes) -> bytes:
    return decompress_records(_CODEC_ZSTD, frame)


def zstd(data: bytes) -> bytes:
    return compress_records(_CODEC_ZSTD, data)


def _raw_block_frame(data: bytes, checksum: int) -> bytes:
    """Single-segment FHD with the checksum flag + 1-byte FCS + one raw
    last block + the 4-byte content checksum — the layout real zstd
    emits for sub-minimum-match inputs."""
    return (
        struct.pack("<I", ZSTD_MAGIC)
        + bytes([0x24, len(data), (len(data) << 3) | 1, 0, 0])
        + data
        + struct.pack("<I", checksum)
    )


# ---------------------------------------------------------------------------
# spec goldens
# ---------------------------------------------------------------------------


def test_xxh64_known_vectors():
    """The content checksum is the low 32 bits of XXH64(content, seed
    0): frames carrying the published xxHash64 values decode, and the
    same frames with the checksum off by one are refused."""
    for data, xxh64 in ((b"", 0xEF46DB3751D8E999), (b"a", 0xD24EC4F1A98C6E5B)):
        assert unzstd(_raw_block_frame(data, xxh64 & 0xFFFFFFFF)) == data
        with pytest.raises(ValueError, match="checksum"):
            unzstd(_raw_block_frame(data, (xxh64 + 1) & 0xFFFFFFFF))


def test_empty_frame_golden():
    """The canonical 13-byte frame `zstd` produces for empty input."""
    frame = bytes.fromhex("28b52ffd240001000099e9d851")
    assert unzstd(frame) == b""


def test_skippable_frame_and_multi_frame():
    body = zstd(b"abc") + struct.pack("<II", 0x184D2A53, 4) + b"SKIP" + zstd(b"def")
    assert unzstd(body) == b"abcdef"


def test_checksum_mismatch_and_bad_magic():
    # raw-block frame of b"payload-x"; 0x30dd834c = XXH64 low half
    frame = bytearray(_raw_block_frame(b"payload-x", 0x30DD834C))
    assert unzstd(bytes(frame)) == b"payload-x"
    frame[-1] ^= 0xFF
    with pytest.raises(ValueError, match="checksum"):
        unzstd(bytes(frame))
    with pytest.raises(ValueError, match="zstd"):
        unzstd(b"\x00\x01\x02\x03rest")


def test_dictionary_frames_are_refused():
    """A frame referencing a dictionary must refuse loudly — decoding
    without the dictionary would produce silently wrong output. A
    dictionary id of 0 (explicitly written) means no dictionary."""
    data = b"hi"
    base = struct.pack("<I", ZSTD_MAGIC)
    # FHD: single-segment + 1-byte FCS + did_flag 1; dict id 7
    frame = base + bytes([0x21, 7, len(data)]) + bytes([(len(data) << 3) | 1, 0, 0]) + data
    with pytest.raises(ValueError, match="zstd.*[Dd]ictionary"):
        unzstd(frame)
    # same layout, dict id 0: decodes
    frame0 = base + bytes([0x21, 0, len(data)]) + bytes([(len(data) << 3) | 1, 0, 0]) + data
    assert unzstd(frame0) == data


# ---------------------------------------------------------------------------
# frozen decoder-path frames: Huffman literals
# ---------------------------------------------------------------------------


def test_huffman_canonical_table_hand_computed():
    """Explicit weights [2, 1] (direct description ``81 21``): the
    implied last weight completes 3 to 4, so symbol 2 gets weight 1;
    max_bits 2; canonical codes 0 -> '1', 1 -> '00', 2 -> '01'. The
    single-stream literals b'\\0\\1\\2\\0\\0\\1' are written with those
    codes by hand."""
    frame = bytes.fromhex("28b52ffda00600000045000062000181211c0300")
    assert unzstd(frame) == bytes([0, 1, 2, 0, 0, 1])


def test_huffman_power_of_two_explicit_sum():
    """Explicit sum already a power of two still implies a LAST
    weight completing to the NEXT power: weights [1, 1, 1, 1] -> total
    4, implied weight 3 for symbol 4 (code '1'), max_bits 3, symbols
    0-3 on the 3-bit codes 000-011."""
    frame = bytes.fromhex("28b52ffda0080000005500008280018311114f830100")
    assert unzstd(frame) == bytes([4, 0, 1, 4, 2, 3, 4, 4])


def test_fse_compressed_huffman_weights_decode():
    """An FSE-compressed weight description (header byte 0x06 < 128):
    weight-alphabet distribution [0, 20, 8, 4] at accuracy log 5, two
    interleaved states carrying the explicit weights [1, 2, 1, 3, 1, 2,
    2, 1] (implied weight 2 for symbol 8), then one literal stream."""
    frame = bytes.fromhex(
        "28b52ffda0360000000501006203070610a87b0c500943477d3b9c1c82a1a3be"
        "1d4e0ec1d051df0e27872000"
    )
    assert unzstd(frame) == bytes([0, 1, 2, 3, 4, 5, 6, 7, 8, 8, 3, 3, 1, 6, 5, 8, 0, 3] * 3)


def test_treeless_literals_reuse_previous_table():
    """Block 1 carries Huffman literals with a direct weight
    description; block 2 is treeless (literals type 3) and must reuse
    block 1's table."""
    lits = (b"abracadabra-alakazam" * 8)[:128]
    frame = bytes.fromhex(
        "28b52ffda00001000074030002881af90000000000000000000000000000000000000000"
        "000001000000000000000000000000000000000000000000000000000522200000011100"
        "0030000000e99c1c6b288293744e8e3514c1493a27c71a8ae0249d93630d457092cec9b1"
        "86223849e7e45843119ca473320085010003080be99c1c6b288293744e8e3514c1493a27"
        "c71a8ae0249d93630d457092cec9b186223849e7e45843119ca4733200"
    )
    assert unzstd(frame) == lits + lits


def test_treeless_without_table_is_an_error():
    """Treeless literals in a frame's first block have no table to
    reuse."""
    frame = bytes.fromhex("28b52ffda0290000002d00009342000100")
    with pytest.raises(ValueError, match="zstd"):
        unzstd(frame)


# 4-stream Huffman literals (size format 2, 1962 literals in 4 streams)
# over the 300 random words of _four_stream_words()
_FOUR_STREAM_FRAME = bytes.fromhex(
    "28b52ffd643807cd2400aa7a9410ef000000000000000000000000000000003000000000"
    "0000000000000000000000000000000000000000000000000000000211212212222222fa"
    "00fb00f9007620809a4dea69025d9f6e51ccf093041dc8f7e0d839738c671f6cf0da155a"
    "8f2847ce9f8509e184800c90b0d7b00a6330b88616ae5ef1c6912f6d9397ed1d459920ee"
    "f79050d14bdfa1dfd434fda01108c1670608773d9741b94eb80ed13238d7e1b1a388fd06"
    "ab21dfc54eb0e0ca790a2a9fc5b23cbd6640c27e001dc000012ed85f1b06b445dc06cdd4"
    "48f0368103563e8ea6057ccc858f6d2971b07b9bb75b91018d8e05e6c685813e103f4b78"
    "1b2764f4ec899484c7b714206df964bc50c115fcd9de58fb28ab8a443c10765be013e4c0"
    "b0a30230fb13b1e1a1fb73568374131c9bfabdb5b7004fc1ba7a93030fa2628877d7b096"
    "874e116712e23d08dcb96dc36526d478585b01ee8a08ea0055e957dce061c74c7c508cc7"
    "1708147733e6dc110f74947b066d02578c135801b7ed61c7038e6b32a8410920111722e3"
    "9e2c771fcdb7947a6f51e73d1e71754eb0fd2ad0e042867a7bebcb55c7b2f30e04392a7c"
    "337425861fcb94f2cd59b3679c27d84706047ae18efa181107a302cf557822330003e781"
    "850e5ac9de3c784fa9a4a8b3a70b7a0ab28f5d58e08024c8c8c38263a2d8e803cfd61997"
    "d6eb006091550ea89946c849e945c54f2b199a069858cf2cd7b5e1dd4a150e067b6c853a"
    "06709118460a0817e2cea0ea4c3d46ead2d787ba7cb9b4222abd10ba45331f13d319ce8a"
    "390209a42fb2a3c3c35c9e4eb0f830858172991bba1f9532f80359b410817c2f08199f35"
    "c888f0208c70c47d3bd4a7f296252e4b0742edbebb9cc2fa80040ef20817339836c6cb28"
    "4d3c7b6a3ed03a7c864ed560f2c54a7dc241d99b975bbc0baf049d2cfa2e72507c875adf"
    "3a7a8d2ecd019c8f56693cabfa447cafc15bda7d68ea001f8de0587a1eaaaedb032ecc14"
    "c7abc179da1f148680a02f1c8bf30e61eeb7a5c24e2d9ab2813e75f71e3ac8956714f92d"
    "5610f2903250f42759f327a93b7d503ac07d03607a0bb6fdc0316477f84c4c7e09640e96"
    "fa21392db828433a5d298b1f2fa734be45be42ea4f8c980be98ed60510e247045488065a"
    "38c2a74059335e420258fcb01ce1c3168a833e6f51e70b5ab2429f866993898bbc032b6c"
    "39eaa555f60b2956af462ba8dab5ace992832e533f72c8e629ed1bc62a98fc5a1065a05f"
    "169a397e0287808fcc90e01506f6359f0e41df5186475d4c58d1b943b8949cda2b9f52c8"
    "a3271e0e65a48f70277acf29b6a4e4788c35800f4a307c2a8409cbf24e3e29380ec97023"
    "9a1694cc56aeab75d248d3995b0e37e007e0a023c98c8dbcee84bce2fa99de96e795164c"
    "8c13add761388ea10f752f45149333f69ec4ae78cd8c8a7909adf675c4304d4df055dc35"
    "3e0d920e3d1800abdf3659d6f63e14e42bee3b43cb05ba500aa3e6c4bdfb2e230047cd11"
    "c8ced1f73287ebac84ebac00cb4bb4c41b2bb10197e40a73438e160896231a561110971c"
    "454896c33c9243ba07feac584fe58860c900e58d231e251114442b5022515c24f3849dbf"
    "8574bc6ed6a942b110b9943d0ceedad8412c2119d9028fad8e86b09d7bac060e6b90024e"
    "edc43d"
)


def _four_stream_words() -> bytes:
    rng = random.Random(3)
    words = [
        "".join(rng.choice("abcdefghijklmnop") for _ in range(rng.randrange(3, 10)))
        for _ in range(300)
    ]
    return " ".join(words).encode()


def test_four_stream_huffman_literals_roundtrip():
    """Many distinct low-entropy words give few matches and a large
    compressible literal run, encoded as 4-stream Huffman literals."""
    # FHD 0x64 + 2-byte FCS, then the block header; the literals
    # header's low nibble is type 2 (compressed) + size format 2
    assert _FOUR_STREAM_FRAME[10] & 0x0F == 0b1010
    assert unzstd(_FOUR_STREAM_FRAME) == _four_stream_words()


# ---------------------------------------------------------------------------
# frozen decoder-path frames: sequences
# ---------------------------------------------------------------------------


def test_sequences_rle_table_mode():
    """Two sequences sharing one (ll, of, ml) code triple, all three
    tables in RLE mode: ll=4, offset=4 (value 7, code 2), ml=6."""
    frame = bytes.fromhex("28b52ffda0140000007d000040616263645758595a02540402031f")
    # abcd | match 6 back 4 -> abcdab | WXYZ | match again
    assert unzstd(frame) == b"abcd" + b"abcdab" + b"WXYZ" + b"WXYZWX"


def test_sequences_fse_compressed_tables_and_repeat_mode():
    """Block 1 carries explicit FSE table descriptions (mode 2) for
    all three alphabets; block 2 uses repeat mode (3) and must reuse
    them. Both blocks: literals b'XYZ', sequences (ll, ml, offset)
    (1, 6, 1) and (2, 7, 5)."""
    frame = bytes.fromhex(
        "28b52ffda0200000009400001858595a02a810881f108a1f108c1f3821844d00"
        "001858595a02fc382184"
    )
    lits = b"XYZ"
    out = bytearray()
    for _block in range(2):
        lpos = 0
        for ll, ml, offset in ((1, 6, 1), (2, 7, 5)):
            out += lits[lpos : lpos + ll]
            lpos += ll
            for _ in range(ml):
                out.append(out[-offset])
        out += lits[lpos:]
    assert unzstd(frame) == bytes(out)


def test_repeat_offsets_paths():
    """Offset values 1-3 exercise the repeat-offset history, one RLE-mode
    sequence per block (history starts [1, 4, 8]):
    new offset 8 -> [8, 1, 4]; ll>0 value 2 -> rep2 (1), swap;
    ll==0 value 1 -> rep2 (8); ll>0 value 3 -> rep3 (4), rotate;
    ll==0 value 3 -> rep1 - 1 (3); ll>0 value 1 -> rep1 (3);
    ll==0 value 2 -> rep3 (8)."""
    frame = bytes.fromhex(
        "28b52ffda0250000007c000040616263646566676801540803010b4c000010585901"
        "54020100023c00000001540000010144000008510154010100033c00000001540001"
        "0003440000085a0154010002013d000000015400010002"
    )
    assert unzstd(frame) == (
        b"abcdefgh" + b"abcd"  # offset 8
        + b"XY" + b"YYY"  # rep2 = 1
        + b"bcdX"  # ll 0: rep2 = 8
        + b"Q" + b"cdX"  # rep3 = 4
        + b"cdX"  # ll 0: rep1 - 1 = 3
        + b"Z" + b"dXZdX"  # rep1 = 3
        + b"dXZ"  # ll 0: rep3 = 8
    )
    # b"ab" + 3 x rep1 (1), then ll 0 / value 3: rep1 - 1 == 0. RFC 8878
    # calls that offset corrupt and the pure-Python decoder the frame was
    # built with raised on it; libzstd instead forces the offset to 1.
    # Pinned so a change on either side shows up here.
    underflow = bytes.fromhex("28b52ffda0080000004c00001061620154020000013d000000015400010003")
    assert unzstd(underflow) == b"ab" + b"b" * 6


def test_match_offset_cannot_cross_frame_boundary():
    """The window resets per frame: a sequence in frame 2 (ll=4, ml=4,
    offset=8) whose offset reaches into frame 1's 8 bytes of output
    must raise, not silently copy."""
    frames = bytes.fromhex(
        "28b52ffd240841000031323334353637384afd7ccf"  # b"12345678"
        "28b52ffda0080000005d0000206162636401540403010b"
    )
    assert unzstd(frames[:21]) == b"12345678"
    with pytest.raises(ValueError, match="zstd"):
        unzstd(frames)


# ---------------------------------------------------------------------------
# round-trips
# ---------------------------------------------------------------------------


def test_roundtrip_corpus():
    rng = random.Random(20260816)
    cases = [
        b"",
        b"a",
        b"ab",
        b"x" * 100000,
        bytes(rng.randrange(256) for _ in range(5000)),
        (b"the quick brown fox jumps over the lazy dog. " * 3000),
        b"ab" * 70000,
        bytes(rng.choice(b"aab") for _ in range(50000)),
        ("json-ish " * 10 + '{"key": 1, "key": 2}' * 500).encode(),
    ]
    for i, c in enumerate(cases):
        assert unzstd(zstd(c)) == c, f"case {i}"


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    data=st.binary(max_size=4000),
    mode=st.sampled_from(["random", "repetitive", "texty"]),
)
def test_roundtrip_property(data, mode):
    if mode == "repetitive":
        data = data * 7
    elif mode == "texty":
        data = bytes(b % 64 + 32 for b in data) * 3
    assert unzstd(zstd(data)) == data


def test_kafka_batch_zstd_roundtrip():
    from nifi_minifi_cpp_spark.sources.kafka_wire import (
        decode_record_batches,
        encode_record_batch,
    )

    items = [
        (1700000000000 + i, b"k%d" % i, b"zstd-payload-%d" % i * 40, [("h", b"v")])
        for i in range(8)
    ]
    plain = encode_record_batch(3, items)
    comp = encode_record_batch(3, items, compression="zstd")
    assert len(comp) < len(plain)
    assert decode_record_batches(comp) == decode_record_batches(plain)


# ---------------------------------------------------------------------------
# REAL zstd interop
# ---------------------------------------------------------------------------

_ZSTD_BIN = __import__("shutil").which("zstd")


@pytest.mark.skipif(_ZSTD_BIN is None, reason="no zstd binary on PATH")
def test_real_zstd_output_decodes():
    """Frames produced by the reference implementation (all levels,
    with/without checksum or content size, long mode) decode
    byte-identically."""
    import subprocess

    rng = random.Random(99)
    payloads = [
        b"",
        b"a",
        b"hello zstd interop\n",
        bytes(rng.randrange(256) for _ in range(40000)),
        (b"the quick brown fox jumps over the lazy dog. " * 2000),
        b"ab" * 60000,
        bytes(rng.choice(b"aabbbc") for _ in range(120000)),
    ]
    for level in (1, 3, 19):
        for extra in ([], ["--no-check"], ["--no-content-size"], ["--long"]):
            for i, p in enumerate(payloads):
                frame = subprocess.run(
                    [_ZSTD_BIN, f"-{level}", *extra, "-c"],
                    input=p, capture_output=True, check=True,
                ).stdout
                assert unzstd(frame) == p, (level, extra, i)


@pytest.mark.skipif(_ZSTD_BIN is None, reason="no zstd binary on PATH")
def test_real_zstd_decodes_our_frames():
    """Frames from the producer path are accepted by the reference
    implementation — conformance in the PublishKafka direction."""
    import subprocess

    rng = random.Random(7)
    payloads = [
        b"",
        b"x" * 50000,
        bytes(rng.randrange(256) for _ in range(3000)),
        (b"json-ish {\"key\": 1} " * 4000),
        bytes(rng.choice(b"aab") for _ in range(90000)),
    ]
    for p in payloads:
        got = subprocess.run(
            [_ZSTD_BIN, "-d", "-c"], input=zstd(p), capture_output=True, check=True
        ).stdout
        assert got == p


@pytest.mark.skipif(_ZSTD_BIN is None, reason="no zstd binary on PATH")
def test_real_zstd_kafka_batch_interop():
    """A RecordBatch whose records section was compressed by REAL zstd
    decodes through decode_record_batches — what a librdkafka
    compression.type=zstd producer actually ships."""
    import subprocess

    from nifi_minifi_cpp_spark.sources.kafka_wire import (
        crc32c,
        decode_record_batches,
        encode_record_batch,
    )

    items = [
        (1700000000000 + i, b"k%d" % i, b"real-zstd-%d" % i * 30, [("h", b"v")])
        for i in range(6)
    ]
    plain = encode_record_batch(5, items)
    # splice: re-compress the records section with the real binary and
    # flip the codec bits, exactly as a real producer would have
    n_records_off = 12 + 4 + 1 + 4 + 2 + 4 + 8 + 8 + 8 + 2 + 4  # through baseSequence
    records_off = n_records_off + 4
    recs_plain = plain[records_off:]
    comp = subprocess.run(
        [_ZSTD_BIN, "-3", "-c"], input=recs_plain, capture_output=True, check=True
    ).stdout
    body = bytearray(plain[:records_off] + comp)
    body[21:23] = struct.pack(">h", _CODEC_ZSTD)
    body[17:21] = struct.pack(">I", crc32c(bytes(body[21:])))
    # batch_length covers everything after the length field
    body[8:12] = struct.pack(">i", len(body) - 12)
    assert decode_record_batches(bytes(body)) == decode_record_batches(plain)
