"""Property-based fuzz tests (r10, hypothesis): the RecordBatch codec
path and the wire-framing layers hold their invariants on arbitrary
inputs — round-trips are identity, and malformed bytes raise typed
errors (ValueError, never a bare OSError) instead of corrupting state
or looping."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from nifi_minifi_cpp_spark.sources.kafka_wire import (
    _CODEC_LZ4,
    _CODEC_SNAPPY,
    _CODEC_ZSTD,
    compress_records,
    decompress_records,
)

_payloads = st.one_of(
    st.binary(max_size=5000),
    # low-entropy inputs drive the match/copy paths hard
    st.builds(
        lambda chunk, reps, tail: chunk * reps + tail,
        st.binary(min_size=1, max_size=20),
        st.integers(min_value=1, max_value=400),
        st.binary(max_size=10),
    ),
)


@settings(max_examples=200, deadline=None)
@given(_payloads)
def test_snappy_roundtrip_identity(data):
    assert decompress_records(_CODEC_SNAPPY, compress_records(_CODEC_SNAPPY, data)) == data


@settings(max_examples=200, deadline=None)
@given(_payloads)
def test_lz4_roundtrip_identity(data):
    assert decompress_records(_CODEC_LZ4, compress_records(_CODEC_LZ4, data)) == data


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=1, max_size=200))
def test_snappy_decoder_never_hangs_on_garbage(garbage):
    """Arbitrary bytes either decode (by luck) or raise ValueError —
    any other exception fails the test."""
    try:
        decompress_records(_CODEC_SNAPPY, garbage)
    except ValueError:
        pass


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=300), st.integers(min_value=0, max_value=290))
def test_mqtt_buffered_parser_prefix_stability(data, cut):
    """The resumable parser is PREFIX-STABLE: feeding a truncated
    buffer either returns None (incomplete) or parses a packet it
    would also parse from the full buffer — a mid-packet cut can never
    yield a DIFFERENT packet (the desync class the r10 reader fix
    eliminates)."""
    from nifi_minifi_cpp_spark.sources.mqtt_wire import MqttProtocolError, _parse_buffered

    cut = min(cut, len(data))
    try:
        full = _parse_buffered(bytearray(data))
    except MqttProtocolError:
        return  # malformed varint: typed error is the contract
    try:
        part = _parse_buffered(bytearray(data[:cut]))
    except MqttProtocolError:
        return
    if part is not None:
        assert full is not None and part == full


@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=0, max_value=15),
    st.integers(min_value=0, max_value=15),
    st.binary(max_size=600),
)
def test_mqtt_packet_frame_roundtrip(ptype, flags, body):
    """_packet framing parses back to exactly what was framed, and a
    second packet appended to the buffer is untouched."""
    from nifi_minifi_cpp_spark.sources.mqtt_wire import _packet, _parse_buffered

    pkt = _packet(ptype, flags, body)
    buf = bytearray(pkt + b"\x30\x01X")  # trailing second packet
    got = _parse_buffered(buf)
    assert got == (ptype, flags, body, len(pkt))


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=1, max_size=200))
def test_lz4_decoder_never_hangs_on_garbage(garbage):
    try:
        decompress_records(_CODEC_LZ4, garbage)
    except ValueError:
        pass


@settings(max_examples=200, deadline=None)
@given(_payloads)
def test_zstd_roundtrip_identity(data):
    assert decompress_records(_CODEC_ZSTD, compress_records(_CODEC_ZSTD, data)) == data


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=400))
def test_zstd_decoder_never_hangs_on_garbage(garbage):
    """Arbitrary bytes either decode (vacuously, if they happen to be
    a valid frame) or raise ValueError — never loop or corrupt state.
    Includes garbage behind a valid magic+header prefix to reach the
    block/entropy layers."""
    for blob in (garbage, bytes.fromhex("28b52ffd2400") + garbage):
        try:
            decompress_records(_CODEC_ZSTD, blob)
        except ValueError:
            pass
