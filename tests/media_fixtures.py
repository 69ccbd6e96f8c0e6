"""Fixture encoders for the media tests: each writes the container
format that an ``analytics.codecs`` reader parses, so a test can build
its input bytes without a binary file."""

from __future__ import annotations

import numpy as np


def encode_ppm(arr: np.ndarray) -> bytes:
    """HxWx3 uint8 -> binary PPM (P6)."""
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(arr, dtype=np.uint8).tobytes()


def encode_avi_rawdib(frames_rgb: list[np.ndarray], fps: int = 10) -> bytes:
    """Minimal uncompressed-AVI writer (golden-fixture builder and the
    inverse of parse_avi): HxWx3 uint8 RGB frames -> RIFF/AVI with one
    'vids'/'DIB ' stream of bottom-up BGR '00db' chunks."""
    h, w = frames_rgb[0].shape[:2]
    stride = (w * 3 + 3) & ~3

    def dib(frame: np.ndarray) -> bytes:
        bgr = np.ascontiguousarray(frame[::-1, :, ::-1], dtype=np.uint8)  # bottom-up BGR
        if stride == w * 3:
            return bgr.tobytes()
        padded = np.zeros((h, stride), dtype=np.uint8)
        padded[:, : w * 3] = bgr.reshape(h, w * 3)
        return padded.tobytes()

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + len(body).to_bytes(4, "little") + body + (b"\x00" if len(body) & 1 else b"")

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    strf = (
        (40).to_bytes(4, "little") + w.to_bytes(4, "little") + h.to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + (stride * h).to_bytes(4, "little")
        + b"\x00" * 16
    )
    strh = (
        b"vids" + b"DIB " + b"\x00" * 12
        + (1).to_bytes(4, "little") + fps.to_bytes(4, "little")  # scale, rate
        + (0).to_bytes(4, "little") + len(frames_rgb).to_bytes(4, "little")
        + (stride * h).to_bytes(4, "little") + (0xFFFFFFFF).to_bytes(4, "little")
        + (0).to_bytes(4, "little") + b"\x00" * 8
    )
    avih = (
        int(1e6 / fps).to_bytes(4, "little") + (stride * h * fps).to_bytes(4, "little")
        + (0).to_bytes(4, "little") + (0).to_bytes(4, "little")
        + len(frames_rgb).to_bytes(4, "little") + (0).to_bytes(4, "little")
        + (1).to_bytes(4, "little") + (stride * h).to_bytes(4, "little")
        + w.to_bytes(4, "little") + h.to_bytes(4, "little") + b"\x00" * 16
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00db", dib(f)) for f in frames_rgb))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def encode_mp4_mjpeg(
    jpeg_frames: list[bytes], fps: int = 10, width: int = 64, height: int = 48,
    codec: bytes = b"jpeg",
) -> bytes:
    """Minimal MJPEG-in-MP4 writer (golden-fixture builder, the inverse
    of parse_mp4): one video track, one sample per chunk, stco offsets
    into a single mdat. ``codec`` overrides the stsd fourcc so tests
    can exercise the compressed-codec refusal path ('avc1')."""

    def box(fourcc: bytes, body: bytes) -> bytes:
        return (8 + len(body)).to_bytes(4, "big") + fourcc + body

    n = len(jpeg_frames)
    timescale = fps
    ftyp = box(b"ftyp", b"isom" + (0x200).to_bytes(4, "big") + b"isomiso2mp41")
    mdat_body = b"".join(jpeg_frames)
    mdat_start = len(ftyp) + 8  # first sample's byte offset
    offsets = []
    off = mdat_start
    for f in jpeg_frames:
        offsets.append(off)
        off += len(f)

    be32, be16 = lambda v: int(v).to_bytes(4, "big"), lambda v: int(v).to_bytes(2, "big")
    matrix = be32(0x10000) + be32(0) * 3 + be32(0x10000) + be32(0) * 3 + be32(0x40000000)
    mvhd = box(b"mvhd", be32(0) + be32(0) + be32(0) + be32(timescale) + be32(n)
               + be32(0x10000) + be16(0x100) + b"\x00" * 10 + matrix + b"\x00" * 24 + be32(2))
    tkhd = box(b"tkhd", b"\x00\x00\x00\x07" + be32(0) * 2 + be32(1) + be32(0) + be32(n)
               + b"\x00" * 8 + be16(0) * 2 + be16(0) + be16(0) + matrix
               + be32(width << 16) + be32(height << 16))
    mdhd = box(b"mdhd", be32(0) + be32(0) + be32(0) + be32(timescale) + be32(n)
               + be16(0x55C4) + be16(0))
    hdlr = box(b"hdlr", be32(0) + be32(0) + b"vide" + b"\x00" * 12 + b"VideoHandler\x00")
    sample_entry = box(codec, b"\x00" * 6 + be16(1) + be16(0) * 2 + b"\x00" * 12
                       + be16(width) + be16(height) + be32(0x480000) * 2 + be32(0)
                       + be16(1) + b"\x00" * 32 + be16(24) + be16(0xFFFF))
    stsd = box(b"stsd", be32(0) + be32(1) + sample_entry)
    stts = box(b"stts", be32(0) + be32(1) + be32(n) + be32(1))
    stsc = box(b"stsc", be32(0) + be32(1) + be32(1) + be32(1) + be32(1))
    stsz = box(b"stsz", be32(0) + be32(0) + be32(n) + b"".join(be32(len(f)) for f in jpeg_frames))
    stco = box(b"stco", be32(0) + be32(n) + b"".join(be32(o) for o in offsets))
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    vmhd = box(b"vmhd", b"\x00\x00\x00\x01" + b"\x00" * 8)
    dref = box(b"dref", be32(0) + be32(1) + box(b"url ", b"\x00\x00\x00\x01"))
    dinf = box(b"dinf", dref)
    minf = box(b"minf", vmhd + dinf + stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    return ftyp + box(b"mdat", mdat_body) + moov
