"""Kafka wire protocol over stdlib sockets (r8): a minimal client + an
in-process single-node broker speaking the PUBLIC Kafka binary
protocol (kafka.apache.org/protocol), so ConsumeKafka/PublishKafka
EXECUTE end-to-end in environments without the Spark Kafka connector
jars — messages travel over real TCP in the real format:

- RecordBatch v2 (magic 2): zigzag-varint records, CRC32C
  (Castagnoli) integrity over attributes..records — the format every
  modern broker stores and ships.
- Non-flexible protocol versions (fixed primitive framing):
  ApiVersions v0, Metadata v1, ListOffsets v1, Fetch v4, Produce v3.
- Consumer-group protocol (r14): FindCoordinator v0, JoinGroup v0,
  SyncGroup v0, Heartbeat v0, LeaveGroup v0, OffsetCommit v2,
  OffsetFetch v1, with the embedded 'consumer' protocol-type
  Subscription/Assignment blobs and the public RangeAssignor —
  ``KafkaGroupConsumer`` runs the full join/sync/heartbeat-rebalance/
  generation-fenced-commit loop the reference gets from librdkafka
  (Group ID / session-timeout / offset-commit-policy properties,
  ConsumeKafka.h:129-241).

Scope and honesty: the broker is a test/fixture implementation (one
node, no replication, no transactions — isolation level is accepted
and ignored because every batch here is committed; the group
coordinator is non-blocking: instead of parking JoinGroup until the
rebalance barrier, the first current-generation joiner leads, which
the deterministic assignor makes equivalent for conformance purposes;
the coordinator's liveness is CONNECTION-scoped rather than
heartbeat-timed: session_timeout is read and ignored, but a member
whose TCP connection closes without LeaveGroup is EVICTED and the
group rebalances (r15) — so a dead consumer cannot hold its
RangeAssignor partitions; a real broker evicts on missed heartbeats
instead, which also covers hung-but-connected clients;
compression: optional gzip/snappy/lz4/zstd serving modes). Every
RecordBatch codec goes through one table, ``_CODECS``, to pyarrow's
native gzip, snappy, LZ4-frame and zstd codecs — the reference leaves
them to librdkafka the same way (ConsumeKafka.cpp:370). pyarrow is the
one non-stdlib import: the Python Data Source worker that runs the
``kafkawire`` reader already requires it, and it is imported only when
a batch is compressed. Codec bits outside the table raise the NAMED
UnsupportedKafkaCodecError. The CLIENT is the piece the engine uses: the
``kafkawire`` streaming DataSource polls it with checkpointed
per-partition offsets, reusing ``consume_kafka_options``'s property
contract and ``kafka_records_to_flowfiles``'s attribute lifting
unchanged (ConsumeKafka.h:93-238, :267-277 parity). Interop against a
REAL broker remains the first action on a cluster with one — this
module removes the "never executed" caveat, not the interop one.
"""

from __future__ import annotations

import json
import socket
import socketserver
import struct
import threading
from datetime import datetime, timezone

# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------

_CRC32C_TABLE: list[int] = []


def _crc32c_init() -> None:
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
        _CRC32C_TABLE.append(c)


_crc32c_init()


def crc32c(data: bytes, crc: int = 0) -> int:
    crc ^= 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63) if n >= 0 else ((-n) << 1) - 1
    # NB: python's arbitrary ints make the usual C trick wrong for
    # negatives; the explicit form above is the zigzag definition


def _unzigzag(z: int) -> int:
    return (z >> 1) ^ -(z & 1)


def write_varint(n: int) -> bytes:
    z = _zigzag(n)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    z = 0
    while True:
        b = buf[pos]
        pos += 1
        z |= (b & 0x7F) << shift
        if not b & 0x80:
            return _unzigzag(z), pos
        shift += 7


def _s16(v: int) -> bytes:
    return struct.pack(">h", v)


def _s32(v: int) -> bytes:
    return struct.pack(">i", v)


def _s64(v: int) -> bytes:
    return struct.pack(">q", v)


def _string(s: str | None) -> bytes:
    if s is None:
        return _s16(-1)
    b = s.encode()
    return _s16(len(b)) + b


def _bytes32(b: bytes | None) -> bytes:
    if b is None:
        return _s32(-1)
    return _s32(len(b)) + b


class _Reader:
    """Big-endian struct reader over a response/request payload."""

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def i8(self) -> int:
        (v,) = struct.unpack_from(">b", self.buf, self.pos)
        self.pos += 1
        return v

    def i16(self) -> int:
        (v,) = struct.unpack_from(">h", self.buf, self.pos)
        self.pos += 2
        return v

    def i32(self) -> int:
        (v,) = struct.unpack_from(">i", self.buf, self.pos)
        self.pos += 4
        return v

    def i64(self) -> int:
        (v,) = struct.unpack_from(">q", self.buf, self.pos)
        self.pos += 8
        return v

    def string(self) -> str | None:
        n = self.i16()
        if n < 0:
            return None
        v = self.buf[self.pos : self.pos + n].decode()
        self.pos += n
        return v

    def bytes32(self) -> bytes | None:
        n = self.i32()
        if n < 0:
            return None
        v = self.buf[self.pos : self.pos + n]
        self.pos += n
        return v


# ---------------------------------------------------------------------------
# RecordBatch v2
# ---------------------------------------------------------------------------


_CODEC_NONE, _CODEC_GZIP, _CODEC_SNAPPY, _CODEC_LZ4, _CODEC_ZSTD = 0, 1, 2, 3, 4
# attribute codec bits -> pyarrow codec name; the one codec table
_CODECS = {_CODEC_GZIP: "gzip", _CODEC_SNAPPY: "snappy", _CODEC_LZ4: "lz4", _CODEC_ZSTD: "zstd"}
_CODEC_BITS = {name: bits for bits, name in _CODECS.items()}


class UnsupportedKafkaCodecError(ValueError):
    """A RecordBatch names a codec this client cannot decode: attribute
    bits outside ``_CODECS`` (a corrupt batch or a newer protocol
    revision), or a codec the installed pyarrow was built without."""

    def __init__(self, codec: int):
        self.codec = codec
        name = _CODECS.get(codec, f"codec-{codec}")
        super().__init__(
            f"RecordBatch compressed with {name} (attributes bits {codec}); "
            "this wire client decodes none/gzip/snappy/lz4/zstd through "
            "pyarrow — other attribute bits are corrupt or from a newer "
            "protocol revision, and a codec missing from the pyarrow build "
            "cannot be decoded"
        )


def _arrow_codec(codec: int) -> str:
    import pyarrow as pa

    name = _CODECS.get(codec)
    if name is None or not pa.Codec.is_available(name):
        raise UnsupportedKafkaCodecError(codec)
    return name


_XERIAL_HEADER = b"\x82SNAPPY\x00"
# a snappy tag stream regenerates at most 64 bytes per 3-byte copy tag,
# so a declared size above ~21x the block is corrupt, not just large —
# checked before Arrow allocates the output buffer
_SNAPPY_MAX_EXPANSION = 22


def _snappy_blocks(buf: bytes):
    """Raw snappy, or the xerial stream framing java producers used:
    ``\\x82SNAPPY\\x00`` + version/compat words + [4-byte BE length,
    raw block]*."""
    if not buf.startswith(_XERIAL_HEADER):
        yield buf
        return
    pos = len(_XERIAL_HEADER) + 8
    while pos < len(buf):
        if pos + 4 > len(buf):
            raise ValueError("snappy: truncated xerial block length")
        (blen,) = struct.unpack_from(">I", buf, pos)
        yield buf[pos + 4 : pos + 4 + blen]
        pos += 4 + blen


def _unsnappy(block: bytes) -> bytes:
    import pyarrow as pa

    size = shift = 0
    for b in block[:5]:  # uvarint32 preamble: the decompressed size
        size |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    else:
        raise ValueError("snappy: truncated or overlong length preamble")
    if size > _SNAPPY_MAX_EXPANSION * len(block):
        raise ValueError(f"snappy: declared size {size} is more than a {len(block)}-byte block can hold")
    return pa.decompress(block, decompressed_size=size, codec="snappy", asbytes=True)


def compress_records(codec: int, data: bytes) -> bytes:
    """Compress a records section with the codec for attribute bits
    ``codec`` — what a producer configured with that codec ships."""
    import pyarrow as pa

    return pa.compress(data, codec=_arrow_codec(codec), asbytes=True)


def decompress_records(codec: int, data: bytes) -> bytes:
    """Decode a records section compressed with attribute bits
    ``codec``. Malformed input raises ValueError naming the codec."""
    import pyarrow as pa

    name = _arrow_codec(codec)
    try:
        if codec == _CODEC_SNAPPY:
            return b"".join(_unsnappy(block) for block in _snappy_blocks(data))
        # streamed: gzip or zlib containers, LZ4 frames, and zstd frames
        # with no declared content size or several frames back to back
        return pa.CompressedInputStream(pa.BufferReader(data), name).read()
    except (OSError, pa.ArrowInvalid) as e:
        raise ValueError(f"{name} records section: {e}") from e


def encode_record_batch(
    base_offset: int,
    items: list[tuple[int, bytes | None, bytes | None, list[tuple[str, bytes | None]]]],
    partition_leader_epoch: int = 0,
    compression: str | None = None,
) -> bytes:
    """items: [(timestamp_ms, key, value, headers)] -> one magic-2 batch.
    ``compression`` (a ``_CODECS`` name, e.g. 'gzip' -> attribute bits
    001) compresses the records section, matching what a producer
    configured with that codec ships to the broker."""
    if not items:
        raise ValueError("empty batch")
    base_ts = items[0][0]
    max_ts = base_ts
    recs = bytearray()
    for i, (ts, key, value, headers) in enumerate(items):
        body = bytearray(b"\x00")  # record attributes (unused)
        body += write_varint(ts - base_ts)
        body += write_varint(i)
        if key is None:
            body += write_varint(-1)
        else:
            body += write_varint(len(key)) + key
        if value is None:
            body += write_varint(-1)
        else:
            body += write_varint(len(value)) + value
        body += write_varint(len(headers))
        for hk, hv in headers:
            hkb = hk.encode()
            body += write_varint(len(hkb)) + hkb
            if hv is None:
                body += write_varint(-1)
            else:
                body += write_varint(len(hv)) + hv
        recs += write_varint(len(body)) + body
        max_ts = max(max_ts, ts)
    if compression is None or compression == "none":
        attrs = _CODEC_NONE
        rec_bytes = bytes(recs)
    elif compression in _CODEC_BITS:
        attrs = _CODEC_BITS[compression]
        rec_bytes = compress_records(attrs, bytes(recs))
    else:
        raise ValueError(f"unsupported producer compression {compression!r}")
    after_crc = (
        _s16(attrs)  # batch attributes: codec bits 0-2, CreateTime
        + _s32(len(items) - 1)  # lastOffsetDelta
        + _s64(base_ts)
        + _s64(max_ts)
        + _s64(-1)  # producerId
        + _s16(-1)  # producerEpoch
        + _s32(-1)  # baseSequence
        + _s32(len(items))
        + rec_bytes
    )
    crc = crc32c(after_crc)
    tail = _s32(partition_leader_epoch) + b"\x02" + struct.pack(">I", crc) + after_crc
    return _s64(base_offset) + _s32(len(tail)) + tail


def decode_record_batches(buf: bytes) -> list[dict]:
    """Concatenated magic-2 batches -> flat [{offset, timestamp, key,
    value, headers}] (CRC-verified)."""
    out: list[dict] = []
    pos = 0
    while pos + 12 <= len(buf):
        (base_offset,) = struct.unpack_from(">q", buf, pos)
        (batch_len,) = struct.unpack_from(">i", buf, pos + 8)
        end = pos + 12 + batch_len
        if end > len(buf):
            break  # partial batch at the tail of a fetch — broker may truncate
        r = _Reader(buf, pos + 12)
        r.i32()  # partitionLeaderEpoch
        magic = r.i8()
        if magic != 2:
            raise ValueError(f"unsupported record batch magic {magic}")
        (crc,) = struct.unpack_from(">I", buf, r.pos)
        r.pos += 4
        if crc32c(buf[r.pos : end]) != crc:
            raise ValueError("record batch CRC32C mismatch")
        attrs = r.i16()
        codec = attrs & 0x07
        r.i32()  # lastOffsetDelta
        base_ts = r.i64()
        r.i64()  # maxTimestamp
        r.i64()  # producerId
        r.i16()  # producerEpoch
        r.i32()  # baseSequence
        n = r.i32()
        # compression covers only the records section (everything after
        # the record count); the batch header stays plain
        rdata = buf[r.pos : end]
        if codec != _CODEC_NONE:
            rdata = decompress_records(codec, rdata)
        p = 0
        for _ in range(n):
            _rec_len, p = read_varint(rdata, p)
            p += 1  # record attributes
            ts_delta, p = read_varint(rdata, p)
            off_delta, p = read_varint(rdata, p)
            klen, p = read_varint(rdata, p)
            key = None if klen < 0 else rdata[p : p + klen]
            p += max(klen, 0)
            vlen, p = read_varint(rdata, p)
            value = None if vlen < 0 else rdata[p : p + vlen]
            p += max(vlen, 0)
            hn, p = read_varint(rdata, p)
            headers: list[tuple[str, bytes | None]] = []
            for _h in range(hn):
                hklen, p = read_varint(rdata, p)
                hk = rdata[p : p + hklen].decode()
                p += hklen
                hvlen, p = read_varint(rdata, p)
                hv = None if hvlen < 0 else rdata[p : p + hvlen]
                p += max(hvlen, 0)
                headers.append((hk, hv))
            out.append(
                {
                    "offset": base_offset + off_delta,
                    "timestamp": base_ts + ts_delta,
                    "key": key,
                    "value": value,
                    "headers": headers,
                }
            )
        pos = end
    return out


# ---------------------------------------------------------------------------
# client
# ---------------------------------------------------------------------------

_API_PRODUCE = 0
_API_FETCH = 1
_API_LIST_OFFSETS = 2
_API_METADATA = 3
_API_OFFSET_COMMIT = 8
_API_OFFSET_FETCH = 9
_API_FIND_COORDINATOR = 10
_API_JOIN_GROUP = 11
_API_HEARTBEAT = 12
_API_LEAVE_GROUP = 13
_API_SYNC_GROUP = 14
_API_VERSIONS = 18

# group-coordinator error codes (kafka.apache.org/protocol#protocol_error_codes)
ERR_ILLEGAL_GENERATION = 22
ERR_UNKNOWN_MEMBER_ID = 25
ERR_REBALANCE_IN_PROGRESS = 27


class KafkaGroupError(ValueError):
    """A group-coordinator RPC returned a non-retriable error code."""

    def __init__(self, api: str, code: int):
        self.api, self.code = api, code
        super().__init__(f"{api} error {code}")


# -- consumer-protocol embedded blobs (the 'consumer' protocol type's
#    Subscription/Assignment wire format, kafka.apache.org/protocol
#    "The consumer protocol"; version 0) --------------------------------------


def encode_subscription(topics: list[str], user_data: bytes = b"") -> bytes:
    """ConsumerProtocolSubscription v0: version int16, topics
    array<string>, user_data bytes."""
    return (
        _s16(0)
        + _s32(len(topics))
        + b"".join(_string(t) for t in topics)
        + _bytes32(user_data)
    )


def decode_subscription(blob: bytes) -> list[str]:
    r = _Reader(blob)
    r.i16()  # version
    n = r.i32()
    return [r.string() or "" for _ in range(n)]


def encode_assignment(parts: dict[str, list[int]], user_data: bytes = b"") -> bytes:
    """ConsumerProtocolAssignment v0: version int16, assigned
    partitions array<(topic, array<int32>)>, user_data bytes."""
    out = _s16(0) + _s32(len(parts))
    for topic in sorted(parts):
        pids = parts[topic]
        out += _string(topic) + _s32(len(pids)) + b"".join(_s32(p) for p in sorted(pids))
    return out + _bytes32(user_data)


def decode_assignment(blob: bytes) -> dict[str, list[int]]:
    if not blob:
        return {}
    r = _Reader(blob)
    r.i16()  # version
    out: dict[str, list[int]] = {}
    for _ in range(r.i32()):
        topic = r.string() or ""
        out[topic] = [r.i32() for _ in range(r.i32())]
    return out


def range_assign(
    members: list[tuple[str, list[str]]], partitions: dict[str, list[int]]
) -> dict[str, dict[str, list[int]]]:
    """The public RangeAssignor: per topic, sort the subscribed member
    ids and the partition ids, split the partitions into contiguous
    ranges of size n/m with the first n%m members taking one extra —
    deterministic, so leader re-elections reproduce the layout."""
    out: dict[str, dict[str, list[int]]] = {m: {} for m, _ in members}
    for topic, pids in partitions.items():
        subs = sorted(m for m, topics in members if topic in topics)
        if not subs:
            continue
        pids = sorted(pids)
        n, m = len(pids), len(subs)
        base, extra = divmod(n, m)
        pos = 0
        for i, member in enumerate(subs):
            take = base + (1 if i < extra else 0)
            if take:
                out[member][topic] = pids[pos : pos + take]
            pos += take
    return out

EARLIEST = -2
LATEST = -1


class MiniKafkaClient:
    """Blocking single-connection client for the non-flexible protocol
    versions above. One instance per (host, port); not thread-safe."""

    def __init__(self, bootstrap: str, client_id: str = "nifi-minifi-cpp-spark", timeout: float = 10.0):
        host, _, port = bootstrap.partition(":")
        self.host, self.port = host, int(port or 9092)
        self.client_id = client_id
        self.timeout = timeout
        self._sock: socket.socket | None = None
        self._corr = 0

    def close(self) -> None:
        if self._sock is not None:
            try:
                self._sock.close()
            finally:
                self._sock = None

    def _request(self, api_key: int, api_version: int, body: bytes) -> _Reader:
        if self._sock is None:
            self._sock = socket.create_connection((self.host, self.port), timeout=self.timeout)
        self._corr += 1
        header = _s16(api_key) + _s16(api_version) + _s32(self._corr) + _string(self.client_id)
        payload = header + body
        try:
            self._sock.sendall(_s32(len(payload)) + payload)
            raw = self._recv_response()
        except OSError:
            # one reconnect (broker restarted / idle close)
            self.close()
            self._sock = socket.create_connection((self.host, self.port), timeout=self.timeout)
            self._sock.sendall(_s32(len(payload)) + payload)
            raw = self._recv_response()
        r = _Reader(raw)
        corr = r.i32()
        if corr != self._corr:
            raise ValueError(f"correlation mismatch {corr} != {self._corr}")
        return r

    def _recv_response(self) -> bytes:
        assert self._sock is not None
        size_b = self._read_exact(4)
        (size,) = struct.unpack(">i", size_b)
        return self._read_exact(size)

    def _read_exact(self, n: int) -> bytes:
        assert self._sock is not None
        chunks = bytearray()
        while len(chunks) < n:
            c = self._sock.recv(n - len(chunks))
            if not c:
                raise OSError("broker closed connection")
            chunks += c
        return bytes(chunks)

    def api_versions(self) -> list[tuple[int, int, int]]:
        r = self._request(_API_VERSIONS, 0, b"")
        err = r.i16()
        if err:
            raise ValueError(f"ApiVersions error {err}")
        n = r.i32()
        return [(r.i16(), r.i16(), r.i16()) for _ in range(n)]

    def metadata(self, topics: list[str] | None = None) -> dict[str, list[int]]:
        """{topic: [partition ids]} (leader checks elided: one node)."""
        if topics is None:
            body = _s32(-1)
        else:
            body = _s32(len(topics)) + b"".join(_string(t) for t in topics)
        r = self._request(_API_METADATA, 1, body)
        n_brokers = r.i32()
        for _ in range(n_brokers):
            r.i32(), r.string(), r.i32(), r.string()  # node, host, port, rack
        r.i32()  # controller id
        out: dict[str, list[int]] = {}
        n_topics = r.i32()
        for _ in range(n_topics):
            err = r.i16()
            name = r.string() or ""
            r.i8()  # is_internal
            parts = []
            n_parts = r.i32()
            for _p in range(n_parts):
                r.i16()  # partition error
                pid = r.i32()
                r.i32()  # leader
                for _arr in range(2):  # replicas, isr
                    cnt = r.i32()
                    for _i in range(cnt):
                        r.i32()
                parts.append(pid)
            if not err:
                out[name] = sorted(parts)
        return out

    def list_offsets(self, topic: str, partition: int, timestamp: int) -> int:
        """EARLIEST (-2) -> log start, LATEST (-1) -> next offset."""
        body = (
            _s32(-1)
            + _s32(1)
            + _string(topic)
            + _s32(1)
            + _s32(partition)
            + _s64(timestamp)
        )
        r = self._request(_API_LIST_OFFSETS, 1, body)
        n_topics = r.i32()
        for _ in range(n_topics):
            r.string()
            n_parts = r.i32()
            for _p in range(n_parts):
                r.i32()  # partition
                err = r.i16()
                r.i64()  # timestamp
                off = r.i64()
                if err:
                    raise ValueError(f"ListOffsets error {err}")
                return off
        raise ValueError("empty ListOffsets response")

    def fetch(
        self, topic: str, partition: int, offset: int, max_bytes: int = 1 << 20
    ) -> tuple[list[dict], int]:
        """-> (records with offset >= requested, high watermark)."""
        body = (
            _s32(-1)  # replica
            + _s32(100)  # max wait ms
            + _s32(1)  # min bytes
            + _s32(max_bytes)
            + b"\x00"  # isolation: read_uncommitted (single node, all committed)
            + _s32(1)
            + _string(topic)
            + _s32(1)
            + _s32(partition)
            + _s64(offset)
            + _s32(max_bytes)
        )
        r = self._request(_API_FETCH, 4, body)
        r.i32()  # throttle
        n_topics = r.i32()
        for _ in range(n_topics):
            r.string()
            n_parts = r.i32()
            for _p in range(n_parts):
                r.i32()  # partition
                err = r.i16()
                hw = r.i64()
                r.i64()  # last stable offset
                n_aborted = r.i32()
                for _a in range(max(n_aborted, 0)):
                    r.i64(), r.i64()
                record_set = r.bytes32() or b""
                if err:
                    raise ValueError(f"Fetch error {err}")
                recs = [x for x in decode_record_batches(record_set) if x["offset"] >= offset]
                return recs, hw
        raise ValueError("empty Fetch response")

    def produce(
        self,
        topic: str,
        partition: int,
        items: list[tuple[int, bytes | None, bytes | None, list[tuple[str, bytes | None]]]],
        compression: str | None = None,
    ) -> int:
        """-> base offset assigned by the broker. ``compression='gzip'``
        ships a gzip RecordBatch over the wire (what a
        compression.type=gzip producer sends). NOTE: the fixture broker
        decodes incoming batches and re-encodes them with ITS OWN
        compression mode before storing — a gzip produce to a plain
        broker is stored and served plain, so compressed FETCHES are
        exercised via MiniKafkaBroker(compression='gzip'), not via this
        flag."""
        batch = encode_record_batch(0, items, compression=compression)
        body = (
            _string(None)  # transactional id
            + _s16(-1)  # acks: all
            + _s32(10_000)  # timeout
            + _s32(1)
            + _string(topic)
            + _s32(1)
            + _s32(partition)
            + _bytes32(batch)
        )
        r = self._request(_API_PRODUCE, 3, body)
        n_topics = r.i32()
        for _ in range(n_topics):
            r.string()
            n_parts = r.i32()
            for _p in range(n_parts):
                r.i32()  # partition
                err = r.i16()
                base = r.i64()
                r.i64()  # log append time
                if err:
                    raise ValueError(f"Produce error {err}")
                return base
        raise ValueError("empty Produce response")

    # -- consumer-group protocol (r14): FindCoordinator v0, JoinGroup v0,
    #    SyncGroup v0, Heartbeat v0, LeaveGroup v0, OffsetCommit v2,
    #    OffsetFetch v1 — the RPCs librdkafka performs for the
    #    reference's Group ID / session-timeout / offset-commit
    #    properties (ConsumeKafka.h:129-241)

    def find_coordinator(self, group_id: str) -> tuple[str, int]:
        """-> (host, port) of the group's coordinator node."""
        r = self._request(_API_FIND_COORDINATOR, 0, _string(group_id))
        err = r.i16()
        r.i32()  # node id
        host = r.string() or ""
        port = r.i32()
        if err:
            raise KafkaGroupError("FindCoordinator", err)
        return host, port

    def join_group(
        self,
        group_id: str,
        topics: list[str],
        member_id: str = "",
        session_timeout_ms: int = 30_000,
        protocol_name: str = "range",
    ) -> dict:
        """-> {generation, member_id, leader_id, protocol, members}
        where members is [(member_id, subscribed topics)] — non-empty
        only for the elected leader, which must compute the assignment
        and SyncGroup it (the client side of the broker's
        leader-delegated assignment model)."""
        body = (
            _string(group_id)
            + _s32(session_timeout_ms)
            + _string(member_id)
            + _string("consumer")
            + _s32(1)
            + _string(protocol_name)
            + _bytes32(encode_subscription(topics))
        )
        r = self._request(_API_JOIN_GROUP, 0, body)
        err = r.i16()
        generation = r.i32()
        protocol = r.string() or ""
        leader = r.string() or ""
        me = r.string() or ""
        members = []
        for _ in range(r.i32()):
            mid = r.string() or ""
            meta = r.bytes32() or b""
            members.append((mid, decode_subscription(meta)))
        if err:
            raise KafkaGroupError("JoinGroup", err)
        return {
            "generation": generation,
            "member_id": me,
            "leader_id": leader,
            "protocol": protocol,
            "members": members,
        }

    def sync_group(
        self,
        group_id: str,
        generation: int,
        member_id: str,
        assignments: dict[str, dict[str, list[int]]] | None = None,
    ) -> dict[str, list[int]]:
        """Leader passes the computed group assignment; followers pass
        None. -> this member's assigned {topic: [partition]}."""
        body = _string(group_id) + _s32(generation) + _string(member_id)
        if assignments:
            body += _s32(len(assignments))
            for mid in sorted(assignments):
                body += _string(mid) + _bytes32(encode_assignment(assignments[mid]))
        else:
            body += _s32(0)
        r = self._request(_API_SYNC_GROUP, 0, body)
        err = r.i16()
        blob = r.bytes32() or b""
        if err:
            raise KafkaGroupError("SyncGroup", err)
        return decode_assignment(blob)

    def heartbeat(self, group_id: str, generation: int, member_id: str) -> int:
        """-> 0 when stable; ERR_REBALANCE_IN_PROGRESS when the member
        must rejoin (a member joined/left); raises on other errors."""
        body = _string(group_id) + _s32(generation) + _string(member_id)
        r = self._request(_API_HEARTBEAT, 0, body)
        err = r.i16()
        if err in (0, ERR_REBALANCE_IN_PROGRESS):
            return err
        raise KafkaGroupError("Heartbeat", err)

    def leave_group(self, group_id: str, member_id: str) -> None:
        r = self._request(_API_LEAVE_GROUP, 0, _string(group_id) + _string(member_id))
        err = r.i16()
        if err:
            raise KafkaGroupError("LeaveGroup", err)

    def offset_commit(
        self,
        group_id: str,
        offsets: dict[tuple[str, int], int],
        generation: int = -1,
        member_id: str = "",
    ) -> None:
        """OffsetCommit v2: {(topic, partition): offset}. generation -1
        = simple (non-group) commit, the reference's
        CommitFromIncomingFlowFiles shape (ConsumeKafka.h:228-231)."""
        topics: dict[str, list[tuple[int, int]]] = {}
        for (t, p), off in offsets.items():
            topics.setdefault(t, []).append((p, off))
        body = (
            _string(group_id)
            + _s32(generation)
            + _string(member_id)
            + _s64(-1)  # retention: broker default
            + _s32(len(topics))
        )
        for t in sorted(topics):
            parts = sorted(topics[t])
            body += _string(t) + _s32(len(parts))
            for p, off in parts:
                body += _s32(p) + _s64(off) + _string(None)  # metadata
        r = self._request(_API_OFFSET_COMMIT, 2, body)
        for _ in range(r.i32()):
            r.string()
            for _p in range(r.i32()):
                r.i32()
                err = r.i16()
                if err:
                    raise KafkaGroupError("OffsetCommit", err)

    def offset_fetch(
        self, group_id: str, partitions: list[tuple[str, int]]
    ) -> dict[tuple[str, int], int]:
        """OffsetFetch v1 -> {(topic, partition): committed offset}
        (-1 = no commit stored, the auto.offset.reset trigger)."""
        topics: dict[str, list[int]] = {}
        for t, p in partitions:
            topics.setdefault(t, []).append(p)
        body = _string(group_id) + _s32(len(topics))
        for t in sorted(topics):
            pids = sorted(topics[t])
            body += _string(t) + _s32(len(pids)) + b"".join(_s32(p) for p in pids)
        r = self._request(_API_OFFSET_FETCH, 1, body)
        out: dict[tuple[str, int], int] = {}
        for _ in range(r.i32()):
            t = r.string() or ""
            for _p in range(r.i32()):
                pid = r.i32()
                off = r.i64()
                r.string()  # metadata
                err = r.i16()
                if err:
                    raise KafkaGroupError("OffsetFetch", err)
                out[(t, pid)] = off
        return out


# ---------------------------------------------------------------------------
# broker
# ---------------------------------------------------------------------------


class _PartitionLog:
    __slots__ = ("batches", "next_offset")

    def __init__(self):
        self.batches: list[tuple[int, int, bytes]] = []  # (base, count, bytes)
        self.next_offset = 0


class _GroupState:
    """Coordinator-side state for one consumer group: the classic
    generation/member/assignment model. A membership change bumps the
    generation and clears assignments; members on the old generation
    learn about it from ERR_REBALANCE_IN_PROGRESS heartbeats and
    rejoin — the rebalance protocol every Kafka client implements."""

    __slots__ = ("generation", "members", "assignments", "joined_gen", "next_member", "owner")

    def __init__(self):
        self.generation = 0
        self.members: dict[str, bytes] = {}  # member_id -> subscription blob
        self.assignments: dict[str, bytes] = {}
        self.joined_gen: dict[str, int] = {}  # member_id -> generation it joined
        self.next_member = 0
        # member_id -> token of the connection that last joined it; a
        # close only evicts members it still OWNS, so a member that
        # rejoined over a new connection survives the old one's death
        # (ADVICE r15)
        self.owner: dict[str, int] = {}

    @property
    def leader(self) -> str:
        """First member that has (re)joined the CURRENT generation. A
        real broker blocks JoinGroup until every member rejoins and
        then elects among them; this non-blocking fixture instead lets
        the first current-generation joiner lead immediately — it sees
        the full member list, so its RangeAssignor plan covers members
        that haven't rejoined yet, and their later rejoin recomputes
        the identical deterministic plan."""
        return next(
            (m for m, g in self.joined_gen.items() if g == self.generation), ""
        )


class MiniKafkaBroker:
    """Single-node in-process broker: Metadata v1, ListOffsets v1,
    Fetch v4, Produce v3, ApiVersions v0. Topics auto-create on
    produce; ``append`` seeds without the wire.

    ``compression='gzip'`` stores (and therefore SERVES) gzip-compressed
    RecordBatches — the broker-side shape of a gzip-producing topic, so
    the wire consume path can be exercised against compressed fetches."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0, compression: str | None = None):
        self.compression = compression
        self._logs: dict[tuple[str, int], _PartitionLog] = {}
        self._groups: dict[str, _GroupState] = {}
        self._offsets: dict[tuple[str, str, int], int] = {}  # (group, topic, part)
        self._conn_tokens = 0
        self._lock = threading.Lock()
        broker = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self):
                # liveness is connection-scoped (the fixture analogue
                # of session-timeout eviction): members joined over
                # this connection are evicted when it closes without
                # LeaveGroup, so a dead consumer cannot hold its
                # partitions forever (r15, ADVICE r14)
                conn_members: set[tuple[str, str]] = set()
                conn_token = broker._next_conn_token()
                try:
                    while True:
                        size_b = self._read_exact(4)
                        if size_b is None:
                            return
                        (size,) = struct.unpack(">i", size_b)
                        payload = self._read_exact(size)
                        if payload is None:
                            return
                        resp = broker._dispatch(payload, conn_members, conn_token)
                        self.request.sendall(_s32(len(resp)) + resp)
                except OSError:
                    return
                finally:
                    broker._evict_members(conn_members, conn_token)

            def _read_exact(self, n):
                chunks = bytearray()
                while len(chunks) < n:
                    c = self.request.recv(n - len(chunks))
                    if not c:
                        return None
                    chunks += c
                return bytes(chunks)

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._server = Server((host, port), Handler)
        self.host, self.port = self._server.server_address
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    # -- lifecycle

    def start(self) -> "MiniKafkaBroker":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()

    @property
    def bootstrap(self) -> str:
        return f"{self.host}:{self.port}"

    # -- log management

    def create_topic(self, topic: str, partitions: int = 1) -> None:
        with self._lock:
            for p in range(partitions):
                self._logs.setdefault((topic, p), _PartitionLog())

    def append(
        self,
        topic: str,
        partition: int,
        items: list[tuple[int, bytes | None, bytes | None, list[tuple[str, bytes | None]]]],
    ) -> int:
        """Seed records directly (fixture path); returns base offset."""
        with self._lock:
            log = self._logs.setdefault((topic, partition), _PartitionLog())
            base = log.next_offset
            log.batches.append(
                (base, len(items), encode_record_batch(base, items, compression=self.compression))
            )
            log.next_offset = base + len(items)
            return base

    # -- dispatch

    def _dispatch(self, payload: bytes, conn_members: set | None = None, conn_token: int = 0) -> bytes:
        r = _Reader(payload)
        api_key = r.i16()
        api_version = r.i16()
        corr = r.i32()
        r.string()  # client id
        body: bytes
        if api_key == _API_VERSIONS:
            versions = [
                (_API_PRODUCE, 3, 3),
                (_API_FETCH, 4, 4),
                (_API_LIST_OFFSETS, 1, 1),
                (_API_METADATA, 1, 1),
                (_API_OFFSET_COMMIT, 2, 2),
                (_API_OFFSET_FETCH, 1, 1),
                (_API_FIND_COORDINATOR, 0, 0),
                (_API_JOIN_GROUP, 0, 0),
                (_API_HEARTBEAT, 0, 0),
                (_API_LEAVE_GROUP, 0, 0),
                (_API_SYNC_GROUP, 0, 0),
                (_API_VERSIONS, 0, 0),
            ]
            body = _s16(0) + _s32(len(versions)) + b"".join(
                _s16(k) + _s16(lo) + _s16(hi) for k, lo, hi in versions
            )
        elif api_key == _API_METADATA and api_version == 1:
            body = self._handle_metadata(r)
        elif api_key == _API_LIST_OFFSETS and api_version == 1:
            body = self._handle_list_offsets(r)
        elif api_key == _API_FETCH and api_version == 4:
            body = self._handle_fetch(r)
        elif api_key == _API_PRODUCE and api_version == 3:
            body = self._handle_produce(r)
        elif api_key == _API_FIND_COORDINATOR and api_version == 0:
            body = _s16(0) + _s32(0) + _string(self.host) + _s32(self.port)
        elif api_key == _API_JOIN_GROUP and api_version == 0:
            body = self._handle_join_group(r, conn_members, conn_token)
        elif api_key == _API_SYNC_GROUP and api_version == 0:
            body = self._handle_sync_group(r)
        elif api_key == _API_HEARTBEAT and api_version == 0:
            body = self._handle_heartbeat(r)
        elif api_key == _API_LEAVE_GROUP and api_version == 0:
            body = self._handle_leave_group(r)
        elif api_key == _API_OFFSET_COMMIT and api_version == 2:
            body = self._handle_offset_commit(r)
        elif api_key == _API_OFFSET_FETCH and api_version == 1:
            body = self._handle_offset_fetch(r)
        else:
            body = _s16(35)  # UNSUPPORTED_VERSION
        return _s32(corr) + body

    # -- group coordinator ------------------------------------------------

    def _next_conn_token(self) -> int:
        with self._lock:
            self._conn_tokens += 1
            return self._conn_tokens

    def _evict_members(self, pairs: set, conn_token: int = 0) -> None:
        """Connection-close eviction (r15): the fixture's analogue of
        session-timeout liveness — a member whose connection died
        without LeaveGroup is removed and the group rebalances, so its
        RangeAssignor partitions are reassigned instead of silently
        going unconsumed. A real broker does this on missed
        heartbeats; here liveness is connection-scoped by design.
        r16 (ADVICE r15): eviction is OWNERSHIP-gated — a member that
        rejoined over a NEWER connection keeps the same member_id, and
        the old connection's close must not evict the live member."""
        if not pairs:
            return
        with self._lock:
            for group_id, member_id in pairs:
                g = self._groups.get(group_id)
                if g is None or member_id not in g.members:
                    continue  # already left cleanly
                if g.owner.get(member_id, conn_token) != conn_token:
                    continue  # rejoined over a newer connection: still live
                del g.members[member_id]
                g.joined_gen.pop(member_id, None)
                g.owner.pop(member_id, None)
                g.generation += 1
                g.assignments.clear()

    def _handle_join_group(self, r: _Reader, conn_members: set | None = None, conn_token: int = 0) -> bytes:
        group_id = r.string() or ""
        r.i32()  # session timeout (liveness is connection-scoped here)
        member_id = r.string() or ""
        r.string()  # protocol type ('consumer')
        protocol_name, metadata = "", b""
        for i in range(r.i32()):
            name = r.string() or ""
            blob = r.bytes32() or b""
            if i == 0:
                protocol_name, metadata = name, blob
        with self._lock:
            g = self._groups.setdefault(group_id, _GroupState())
            if not member_id:
                g.next_member += 1
                member_id = f"member-{g.next_member}"
            if conn_members is not None:
                conn_members.add((group_id, member_id))
            g.owner[member_id] = conn_token
            if g.members.get(member_id) != metadata:
                # new member or changed subscription: rebalance
                g.generation += 1
                g.assignments.clear()
            g.members[member_id] = metadata
            g.joined_gen[member_id] = g.generation
            members_out = b""
            n_members = 0
            if member_id == g.leader:
                n_members = len(g.members)
                members_out = b"".join(
                    _string(mid) + _bytes32(blob) for mid, blob in g.members.items()
                )
            return (
                _s16(0)
                + _s32(g.generation)
                + _string(protocol_name)
                + _string(g.leader)
                + _string(member_id)
                + _s32(n_members)
                + members_out
            )

    def _handle_sync_group(self, r: _Reader) -> bytes:
        group_id = r.string() or ""
        generation = r.i32()
        member_id = r.string() or ""
        provided: dict[str, bytes] = {}
        for _ in range(r.i32()):
            mid = r.string() or ""
            provided[mid] = r.bytes32() or b""
        with self._lock:
            g = self._groups.get(group_id)
            if g is None or member_id not in g.members:
                return _s16(ERR_UNKNOWN_MEMBER_ID) + _bytes32(b"")
            if generation != g.generation:
                return _s16(ERR_ILLEGAL_GENERATION) + _bytes32(b"")
            if provided:  # the leader delegating the assignment
                g.assignments.update(provided)
            blob = g.assignments.get(member_id)
            if blob is None:
                # leader hasn't synced yet: follower retries
                return _s16(ERR_REBALANCE_IN_PROGRESS) + _bytes32(b"")
            return _s16(0) + _bytes32(blob)

    def _handle_heartbeat(self, r: _Reader) -> bytes:
        group_id = r.string() or ""
        generation = r.i32()
        member_id = r.string() or ""
        with self._lock:
            g = self._groups.get(group_id)
            if g is None or member_id not in g.members:
                return _s16(ERR_UNKNOWN_MEMBER_ID)
            if generation != g.generation:
                return _s16(ERR_REBALANCE_IN_PROGRESS)
            return _s16(0)

    def _handle_leave_group(self, r: _Reader) -> bytes:
        group_id = r.string() or ""
        member_id = r.string() or ""
        with self._lock:
            g = self._groups.get(group_id)
            if g is None or member_id not in g.members:
                return _s16(ERR_UNKNOWN_MEMBER_ID)
            del g.members[member_id]
            g.joined_gen.pop(member_id, None)
            g.owner.pop(member_id, None)
            g.generation += 1
            g.assignments.clear()
            return _s16(0)

    def _handle_offset_commit(self, r: _Reader) -> bytes:
        group_id = r.string() or ""
        generation = r.i32()
        member_id = r.string() or ""
        r.i64()  # retention
        err = 0
        with self._lock:
            if generation >= 0:  # group-aware commit: fence stale members
                g = self._groups.get(group_id)
                if g is None or member_id not in g.members:
                    err = ERR_UNKNOWN_MEMBER_ID
                elif generation != g.generation:
                    err = ERR_ILLEGAL_GENERATION
            out_topics = []
            for _ in range(r.i32()):
                topic = r.string() or ""
                parts = []
                for _p in range(r.i32()):
                    pid = r.i32()
                    off = r.i64()
                    r.string()  # metadata
                    if not err:
                        self._offsets[(group_id, topic, pid)] = off
                    parts.append(_s32(pid) + _s16(err))
                out_topics.append(_string(topic) + _s32(len(parts)) + b"".join(parts))
        return _s32(len(out_topics)) + b"".join(out_topics)

    def _handle_offset_fetch(self, r: _Reader) -> bytes:
        group_id = r.string() or ""
        out_topics = []
        with self._lock:
            for _ in range(r.i32()):
                topic = r.string() or ""
                parts = []
                for _p in range(r.i32()):
                    pid = r.i32()
                    off = self._offsets.get((group_id, topic, pid), -1)
                    parts.append(_s32(pid) + _s64(off) + _string(None) + _s16(0))
                out_topics.append(_string(topic) + _s32(len(parts)) + b"".join(parts))
        return _s32(len(out_topics)) + b"".join(out_topics)

    def _handle_metadata(self, r: _Reader) -> bytes:
        n = r.i32()
        wanted = [r.string() for _ in range(n)] if n >= 0 else None
        with self._lock:
            topics: dict[str, list[int]] = {}
            for (t, p) in self._logs:
                topics.setdefault(t, []).append(p)
        if wanted is not None:
            topics = {t: topics.get(t, [0]) for t in wanted if t is not None}
        out = _s32(1) + _s32(0) + _string(self.host) + _s32(self.port) + _string(None)
        out += _s32(0)  # controller id
        out += _s32(len(topics))
        for t, parts in topics.items():
            out += _s16(0) + _string(t) + b"\x00"
            out += _s32(len(parts))
            for p in sorted(parts):
                out += _s16(0) + _s32(p) + _s32(0) + _s32(1) + _s32(0) + _s32(1) + _s32(0)
        return out

    def _handle_list_offsets(self, r: _Reader) -> bytes:
        r.i32()  # replica
        n_topics = r.i32()
        out_topics = []
        for _ in range(n_topics):
            topic = r.string() or ""
            n_parts = r.i32()
            parts = []
            for _p in range(n_parts):
                pid = r.i32()
                ts = r.i64()
                with self._lock:
                    log = self._logs.get((topic, pid))
                    if log is None:
                        parts.append(_s32(pid) + _s16(3) + _s64(-1) + _s64(-1))  # UNKNOWN_TOPIC
                        continue
                    if ts == EARLIEST:
                        off = log.batches[0][0] if log.batches else 0
                    else:  # LATEST or a timestamp (timestamps resolve to latest here)
                        off = log.next_offset
                parts.append(_s32(pid) + _s16(0) + _s64(-1) + _s64(off))
            out_topics.append(_string(topic) + _s32(len(parts)) + b"".join(parts))
        return _s32(len(out_topics)) + b"".join(out_topics)

    def _handle_fetch(self, r: _Reader) -> bytes:
        r.i32(), r.i32(), r.i32(), r.i32(), r.i8()  # replica, wait, min, max, isolation
        n_topics = r.i32()
        out_topics = []
        for _ in range(n_topics):
            topic = r.string() or ""
            n_parts = r.i32()
            parts = []
            for _p in range(n_parts):
                pid = r.i32()
                fetch_off = r.i64()
                r.i32()  # partition max bytes
                with self._lock:
                    log = self._logs.get((topic, pid))
                    if log is None:
                        parts.append(
                            _s32(pid) + _s16(3) + _s64(-1) + _s64(-1) + _s32(0) + _bytes32(b"")
                        )
                        continue
                    hw = log.next_offset
                    record_set = b"".join(
                        raw for (base, cnt, raw) in log.batches if base + cnt > fetch_off
                    )
                parts.append(
                    _s32(pid) + _s16(0) + _s64(hw) + _s64(hw) + _s32(0) + _bytes32(record_set)
                )
            out_topics.append(_string(topic) + _s32(len(parts)) + b"".join(parts))
        return _s32(0) + _s32(len(out_topics)) + b"".join(out_topics)

    def _handle_produce(self, r: _Reader) -> bytes:
        r.string()  # transactional id
        r.i16()  # acks
        r.i32()  # timeout
        n_topics = r.i32()
        out_topics = []
        for _ in range(n_topics):
            topic = r.string() or ""
            n_parts = r.i32()
            parts = []
            for _p in range(n_parts):
                pid = r.i32()
                record_set = r.bytes32() or b""
                recs = decode_record_batches(record_set)
                items = [
                    (x["timestamp"], x["key"], x["value"], x["headers"]) for x in recs
                ]
                base = self.append(topic, pid, items) if items else 0
                parts.append(_s32(pid) + _s16(0) + _s64(base) + _s64(-1))
            out_topics.append(_string(topic) + _s32(len(parts)) + b"".join(parts))
        return _s32(len(out_topics)) + b"".join(out_topics) + _s32(0)


# ---------------------------------------------------------------------------
# group consumer: the join/sync/heartbeat/commit loop (r14)
# ---------------------------------------------------------------------------


class KafkaGroupConsumer:
    """The client side of the consumer-group protocol — what librdkafka
    runs for the reference's Group ID / session-timeout / offset-commit
    properties (ConsumeKafka.h:129-241): FindCoordinator, the
    JoinGroup/SyncGroup rebalance dance (leader computes the
    RangeAssignor layout and delegates it through the broker),
    Heartbeat-driven rejoin when membership changes, and
    generation-fenced OffsetCommit/OffsetFetch so a kicked member
    can't clobber the group's progress.

    Single-threaded: call :meth:`ensure_active` before polling (it
    heartbeats and transparently rejoins on rebalance), then
    :meth:`poll` / :meth:`commit`. ``auto_offset_reset`` mirrors the
    reference property (ConsumeKafka.h:139-141): where to start when
    the group has no committed offset."""

    def __init__(
        self,
        bootstrap: str,
        group_id: str,
        topics: list[str],
        client_id: str = "nifi-minifi-cpp-spark",
        auto_offset_reset: str = "earliest",
    ):
        if auto_offset_reset not in ("earliest", "latest"):
            raise ValueError(f"unknown auto.offset.reset {auto_offset_reset!r}")
        boot = MiniKafkaClient(bootstrap, client_id)
        try:
            host, port = boot.find_coordinator(group_id)
        finally:
            boot.close()
        self._cli = MiniKafkaClient(f"{host}:{port}", client_id)
        self.group_id = group_id
        self.topics = list(topics)
        self.auto_offset_reset = auto_offset_reset
        self.member_id = ""
        self.generation = -1
        self.assignment: dict[str, list[int]] = {}
        self._positions: dict[tuple[str, int], int] = {}

    # -- membership --------------------------------------------------------

    def join(self) -> dict[str, list[int]]:
        """Run the JoinGroup/SyncGroup dance until it lands a stable
        assignment; -> the assignment. Retriable coordinator errors
        re-enter the dance the way every real client does: a member
        joining CONCURRENTLY can bump the generation between our
        JoinGroup and SyncGroup (ILLEGAL_GENERATION / REBALANCE_IN_
        PROGRESS -> rejoin at the new generation), and a
        coordinator-side eviction (UNKNOWN_MEMBER_ID) means rejoin as
        a NEW member. Seeds fetch positions from committed offsets
        (or the reset policy) once the assignment lands."""
        import time

        deadline = time.time() + 30
        while True:
            try:
                self._join_once()
                break
            except KafkaGroupError as e:
                retriable = (ERR_REBALANCE_IN_PROGRESS, ERR_ILLEGAL_GENERATION, ERR_UNKNOWN_MEMBER_ID)
                if e.code not in retriable or time.time() > deadline:
                    raise
                if e.code == ERR_UNKNOWN_MEMBER_ID:
                    self.member_id = ""  # evicted: come back as a new member
                time.sleep(0.05)
        self._seed_positions()
        return self.assignment

    def _join_once(self) -> None:
        import time

        join = self._cli.join_group(self.group_id, self.topics, self.member_id)
        self.member_id = join["member_id"]
        self.generation = join["generation"]
        if join["member_id"] == join["leader_id"]:
            # one batched Metadata call for every subscribed topic
            topics = sorted({t for _m, subs in join["members"] for t in subs})
            meta = self._cli.metadata(topics) if topics else {}
            partitions = {t: meta.get(t, []) for t in topics}
            plan = range_assign(join["members"], partitions)
            self.assignment = self._cli.sync_group(
                self.group_id, self.generation, self.member_id, plan
            )
        else:
            deadline = time.time() + 10
            while True:  # follower: wait for the leader's sync
                try:
                    self.assignment = self._cli.sync_group(
                        self.group_id, self.generation, self.member_id
                    )
                    break
                except KafkaGroupError as e:
                    if e.code != ERR_REBALANCE_IN_PROGRESS or time.time() > deadline:
                        raise
                    time.sleep(0.05)

    def _seed_positions(self) -> None:
        pairs = [(t, p) for t, pids in self.assignment.items() for p in pids]
        committed = self._cli.offset_fetch(self.group_id, pairs) if pairs else {}
        self._positions = {}
        for t, p in pairs:
            off = committed.get((t, p), -1)
            if off < 0:
                ts = EARLIEST if self.auto_offset_reset == "earliest" else LATEST
                off = self._cli.list_offsets(t, p, ts)
            self._positions[(t, p)] = off

    def ensure_active(self) -> bool:
        """Heartbeat; on REBALANCE_IN_PROGRESS (or a coordinator-side
        eviction, UNKNOWN_MEMBER_ID) rejoin. -> True when the
        assignment changed (caller should re-plan its work)."""
        if self.generation < 0:
            self.join()
            return True
        try:
            stale = self._cli.heartbeat(self.group_id, self.generation, self.member_id)
        except KafkaGroupError as e:
            if e.code != ERR_UNKNOWN_MEMBER_ID:
                raise
            self.member_id = ""  # evicted: rejoin as a new member
            stale = ERR_REBALANCE_IN_PROGRESS
        if stale:
            before = self.assignment
            self.join()
            return self.assignment != before
        return False

    # -- consumption -------------------------------------------------------

    def poll(self, max_bytes: int = 1 << 20) -> list[dict]:
        """Fetch from every assigned partition at the current position;
        advances positions (commit is explicit — the reference's
        CommitAfterBatch policy)."""
        out: list[dict] = []
        for (t, p), pos in sorted(self._positions.items()):
            recs, _hw = self._cli.fetch(t, p, pos, max_bytes)
            for rec in recs:
                rec["topic"], rec["partition"] = t, p
            out.extend(recs)
            if recs:
                self._positions[(t, p)] = recs[-1]["offset"] + 1
        return out

    def commit(self) -> None:
        """Commit the current positions, fenced by the generation."""
        self._cli.offset_commit(
            self.group_id, dict(self._positions), self.generation, self.member_id
        )

    def close(self, leave: bool = True) -> None:
        if leave and self.member_id:
            try:
                self._cli.leave_group(self.group_id, self.member_id)
            except (KafkaGroupError, OSError):
                pass
        self._cli.close()


# ---------------------------------------------------------------------------
# streaming DataSource: readStream.format("kafkawire")
# ---------------------------------------------------------------------------

KAFKA_WIRE_SCHEMA = (
    "topic string, partition int, offset long, key binary, value binary, "
    "headers array<struct<key:string,value:binary>>, timestamp timestamp"
)


def _register_kafkawire_impl():
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class KafkaWireStreamReader(SimpleDataSourceStreamReader):
        def __init__(self, options):
            self.bootstrap = options.get("kafka.bootstrap.servers") or options.get(
                "bootstrap.servers"
            )
            if not self.bootstrap:
                raise ValueError("kafkawire source requires 'kafka.bootstrap.servers'")
            topics = options.get("subscribe")
            self.pattern = options.get("subscribepattern") or options.get(
                "subscribePattern"
            )
            if not topics and not self.pattern:
                raise ValueError(
                    "kafkawire source requires 'subscribe' or 'subscribePattern'"
                )
            if topics and self.pattern:
                raise ValueError("'subscribe' and 'subscribePattern' are exclusive")
            # Pattern subscription is CLIENT-side in Kafka (the consumer
            # lists all topics via Metadata and regex-matches locally —
            # librdkafka's topic_metadata regex path, ConsumeKafka's
            # Topic Name Format 'Patterns'). Resolved at stream start
            # (initialOffset) and RE-EVALUATED every micro-batch (r16):
            # topics/partitions that appear later join the subscription
            # at their EARLIEST offset — the Spark Kafka connector's
            # new-partition contract and librdkafka's metadata.max.age
            # re-evaluation rolled into the per-batch Metadata RPC.
            self.topics = (
                [t.strip() for t in topics.split(",") if t.strip()] if topics else []
            )
            self.starting = options.get("startingoffsets", options.get("startingOffsets", "earliest"))
            self.max_records = int(options.get("maxoffsetspertrigger", "10000"))
            # Group ID property (ConsumeKafka.h:129-132 -> kafka.group.id
            # via consume_kafka_options): committed group offsets seed
            # the start position (they beat auto.offset.reset, the
            # librdkafka contract), and every batch commits its end
            # offsets back (CommitAfterBatch, ConsumeKafka.h:228-231) so
            # external lag monitors see the stream's progress. Spark's
            # checkpoint remains the exactly-once source of truth —
            # the group is coordination/observability, which is also
            # how the real Spark Kafka connector treats kafka.group.id.
            self.group_id = options.get("kafka.group.id") or options.get("group.id")
            self._client: MiniKafkaClient | None = None

        def _cli(self) -> MiniKafkaClient:
            if self._client is None:
                self._client = MiniKafkaClient(self.bootstrap)
            return self._client

        def initialOffset(self) -> dict:
            import re as _re

            cli = self._cli()
            if self.pattern:
                rx = _re.compile(self.pattern)
                all_meta = cli.metadata(None)
                self.topics = sorted(t for t in all_meta if rx.fullmatch(t))
                if not self.topics:
                    raise ValueError(
                        f"subscribePattern {self.pattern!r} matches no topic"
                    )
            meta = cli.metadata(self.topics)
            pairs = [(t, p) for t in self.topics for p in meta.get(t, [0])]
            # ONE batched OffsetFetch for every (topic, partition) —
            # not one RPC per partition (r14 review finding)
            committed: dict[tuple[str, int], int] = {}
            if self.group_id and not self.starting.lstrip().startswith("{"):
                committed = cli.offset_fetch(self.group_id, pairs)
            state: dict[str, int] = {}
            explicit = None
            if self.starting.lstrip().startswith("{"):
                explicit = json.loads(self.starting)
            for t, p in pairs:
                if explicit is not None:
                    off = int(explicit.get(t, {}).get(str(p), 0))
                    # the connector contract's per-partition JSON
                    # uses Kafka's sentinels: -2=earliest, -1=latest
                    # (NOT literal offsets — a literal -1 would make
                    # the fetch filter pass everything and silently
                    # replay the whole log)
                    if off == EARLIEST:
                        off = cli.list_offsets(t, p, EARLIEST)
                    elif off == LATEST:
                        off = cli.list_offsets(t, p, LATEST)
                    elif off < 0:
                        raise ValueError(
                            f"startingOffsets for {t}/{p} is {off}; only "
                            "-2 (earliest), -1 (latest) or a non-negative "
                            "offset are valid"
                        )
                    state[f"{t}\x00{p}"] = off
                else:
                    off = committed.get((t, p), -1)
                    if off < 0:  # no committed offset: the reset policy
                        ts = EARLIEST if self.starting == "earliest" else LATEST
                        off = cli.list_offsets(t, p, ts)
                    state[f"{t}\x00{p}"] = off
            return {"offsets": json.dumps(state)}

        def _rows_between(self, state: dict[str, int], upto: dict[str, int] | None):
            cli = self._cli()
            rows = []
            new_state = dict(state)
            budget = self.max_records
            for tp, off in state.items():
                topic, _, part_s = tp.partition("\x00")
                part = int(part_s)
                limit = None if upto is None else upto.get(tp, off)
                cur = off
                while budget > 0:
                    recs, hw = cli.fetch(topic, part, cur)
                    if not recs:
                        break
                    for x in recs:
                        if limit is not None and x["offset"] >= limit:
                            break
                        if x["offset"] < cur:
                            continue
                        rows.append(
                            (
                                topic,
                                part,
                                x["offset"],
                                x["key"],
                                x["value"],
                                [(hk, hv) for hk, hv in x["headers"]],
                                datetime.fromtimestamp(x["timestamp"] / 1000.0, tz=timezone.utc).replace(tzinfo=None),
                            )
                        )
                        cur = x["offset"] + 1
                        budget -= 1
                        if budget <= 0:
                            break
                    if (limit is not None and cur >= limit) or cur >= hw:
                        break
                new_state[tp] = cur
            return rows, new_state

        def _refresh_pattern_topics(self, state: dict[str, int]) -> None:
            """Re-resolve the subscribe pattern against current broker
            metadata and admit NEW matching (topic, partition) pairs at
            their EARLIEST offset (the Spark Kafka connector's contract
            for partitions discovered mid-query; librdkafka refreshes
            the regex match on metadata.max.age the same way). Existing
            entries keep their checkpointed positions."""
            import re as _re

            cli = self._cli()
            rx = _re.compile(self.pattern)
            all_meta = cli.metadata(None)
            for t, parts in all_meta.items():
                if not rx.fullmatch(t):
                    continue
                for p in parts or [0]:
                    key = f"{t}\x00{p}"
                    if key not in state:
                        state[key] = cli.list_offsets(t, p, EARLIEST)

        def read(self, start: dict):
            state = {k: int(v) for k, v in json.loads(start.get("offsets", "{}")).items()}
            if self.pattern:
                self._refresh_pattern_topics(state)
            rows, new_state = self._rows_between(state, None)
            if self.group_id and new_state != state:
                # CommitAfterBatch: simple (generation -1) commit of the
                # batch-end offsets; failures never fail the stream —
                # the checkpoint, not the group, is the offset truth
                try:
                    self._cli().offset_commit(
                        self.group_id,
                        {
                            (tp.partition("\x00")[0], int(tp.partition("\x00")[2])): off
                            for tp, off in new_state.items()
                        },
                    )
                except (KafkaGroupError, OSError, ValueError):
                    pass
            return iter(rows), {"offsets": json.dumps(new_state)}

        def readBetweenOffsets(self, start: dict, end: dict):
            s = {k: int(v) for k, v in json.loads(start.get("offsets", "{}")).items()}
            e = {k: int(v) for k, v in json.loads(end.get("offsets", "{}")).items()}
            rows, _ = self._rows_between(s, e)
            return iter(rows)

    class KafkaWireDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "kafkawire"

        def schema(self):
            return KAFKA_WIRE_SCHEMA

        def simpleStreamReader(self, schema):
            return KafkaWireStreamReader(self.options)

    return KafkaWireDataSource


def register_kafkawire(spark) -> None:
    spark.dataSource.register(_register_kafkawire_impl())


# ---------------------------------------------------------------------------
# PublishKafka over the wire (executor-side)
# ---------------------------------------------------------------------------


def murmur2(data: bytes) -> int:
    """Kafka's DefaultPartitioner hash (murmur2, seed 0x9747b28c) —
    the public algorithm from the Kafka clients, so key->partition
    placement matches what a real producer would do."""
    length = len(data)
    seed = 0x9747B28C
    m = 0x5BD1E995
    r = 24
    h = (seed ^ length) & 0xFFFFFFFF
    i = 0
    while length - i >= 4:
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * m) & 0xFFFFFFFF
        k ^= k >> r
        k = (k * m) & 0xFFFFFFFF
        h = (h * m) & 0xFFFFFFFF
        h ^= k
        i += 4
    rem = length - i
    if rem >= 3:
        h ^= data[i + 2] << 16
    if rem >= 2:
        h ^= data[i + 1] << 8
    if rem >= 1:
        h ^= data[i]
        h = (h * m) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * m) & 0xFFFFFFFF
    h ^= h >> 15
    return h


def kafka_partition_for_key(key: bytes | None, n_partitions: int) -> int:
    if key is None or n_partitions <= 1:
        return 0
    return (murmur2(key) & 0x7FFFFFFF) % n_partitions


def publish_kafka_wire_handler(
    bootstrap: str, timestamp_ms: int | None = None, compression: str | None = None
):
    """foreachPartition handler producing (key, value, topic[, headers])
    rows over the wire — the PublishKafka execution path without
    connector jars. Key->partition placement uses Kafka's
    DefaultPartitioner (murmur2). One client + one produce per
    (topic, partition) per Spark partition. ``compression='gzip'``
    ships gzip RecordBatches (PublishKafka's compress.codec property)."""
    import time as _time

    def handle(rows) -> None:
        pending: dict[tuple[str, int], list] = {}
        cli: MiniKafkaClient | None = None
        n_parts: dict[str, int] = {}
        for row in rows:
            if cli is None:
                cli = MiniKafkaClient(bootstrap)
            topic = row["topic"]
            if topic not in n_parts:
                n_parts[topic] = max(len(cli.metadata([topic]).get(topic, [0])), 1)
            key = bytes(row["key"]) if row["key"] is not None else None
            value = bytes(row["value"]) if row["value"] is not None else None
            headers = [
                (h["key"], bytes(h["value"]) if h["value"] is not None else None)
                for h in (row["headers"] or [])
            ] if "headers" in row.__fields__ else []
            ts = timestamp_ms if timestamp_ms is not None else int(_time.time() * 1000)
            part = kafka_partition_for_key(key, n_parts[topic])
            pending.setdefault((topic, part), []).append((ts, key, value, headers))
        if cli is not None:
            try:
                for (topic, part), items in pending.items():
                    cli.produce(topic, part, items, compression=compression)
            finally:
                cli.close()

    return handle
