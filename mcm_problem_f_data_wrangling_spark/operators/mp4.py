"""MP4 (ISO BMFF, ISO/IEC 14496-12) container metadata — pure stdlib.

What's REAL here: the box-structure walk (``ftyp``/``moov``/``mvhd``/
``trak``/``tkhd``/``mdia``/``mdhd``/``stbl``/``stts``), 32- and
64-bit (version 0/1) header variants, 16.16 fixed-point track
geometry, and the sample-table frame count — i.e. everything a
training-data pipeline filters and partitions on (duration,
resolution, frame count) before any expensive frame decode.

Sample data: Motion-JPEG tracks (``jpeg``/``mjpa`` sample entries)
are REALLY decoded — :func:`parse_mp4_samples` walks
``stsc``/``stsz``/``stco``/``co64`` to each sample's byte range and
``decode_media`` hands the samples to the baseline-JPEG decoder
(``operators/jpeg.py``), so video ``mean_luma`` is real for that
codec; the encoder twin is :func:`encode_mp4_mjpeg_video`.
H.264/H.265 entropy decode stays honestly env-blocked (needs
libav/ffmpeg, absent from this container) — for those,
``decode_media`` fills geometry from the container and leaves
``mean_luma`` NULL.  The ``stub`` encoder twin
(:func:`encode_mp4_stub_video`) likewise writes a ``stub`` sample
entry and deterministic filler in ``mdat`` — spec-shaped boxes with
real metadata around fake samples; a real file would carry an
``avc1`` entry with an ``avcC`` config box.

Layout notes (public spec): every box is ``uint32 size (incl.
header) + fourcc``; full boxes add ``version(1) + flags(3)``.
``mvhd``/``mdhd`` v1 widen creation/modification/duration to 64 bits
(timescale stays 32); ``tkhd`` v1 widens creation/modification/
duration.  Track width/height live in ``tkhd`` as 16.16 fixed point.
Frame count is the sum of ``stts`` entry sample_counts.
"""

from __future__ import annotations

import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)


def _box(typ: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + typ + payload


def _fullbox(typ: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(typ, bytes([version]) + flags.to_bytes(3, "big") + payload)


_UNITY_MATRIX = struct.pack(
    ">9I", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
)


def encode_mp4_stub_video(
    width: int,
    height: int,
    n_frames: int,
    timescale: int = 600,
    frame_duration: int = 25,
) -> bytes:
    """Spec-shaped MP4 with REAL container metadata and STUB samples.

    The box tree (ftyp → mdat → moov{mvhd, trak{tkhd, mdia{mdhd,
    hdlr, minf{vmhd, dinf, stbl{stsd, stts, stsc, stsz, stco}}}}})
    is genuine ISO BMFF; the sample entry is the non-standard fourcc
    ``stub`` and ``mdat`` holds deterministic filler because this
    container cannot produce real H.264 — the metadata layer is what
    :func:`parse_mp4_metadata` (and any standard demuxer's header
    pass) reads.
    """
    duration = n_frames * frame_duration
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    sample_size = 16
    mdat_payload = bytes(
        (7 * i + 3 * j) % 251 for i in range(n_frames) for j in range(sample_size)
    )
    mdat = _box(b"mdat", mdat_payload)
    chunk_offset = len(ftyp) + 8  # mdat payload starts after its header

    mvhd = _fullbox(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)  # rate, volume, rsvd
        + b"\x00" * 8
        + _UNITY_MATRIX
        + b"\x00" * 24
        + struct.pack(">I", 2),  # next_track_id
    )
    tkhd = _fullbox(
        b"tkhd", 0, 0x3,  # enabled | in_movie
        struct.pack(">IIIII", 0, 0, 1, 0, duration)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)  # layer, alt_group, volume, rsvd
        + _UNITY_MATRIX
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = _fullbox(
        b"mdhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und'
    )
    hdlr = _fullbox(
        b"hdlr", 0, 0,
        struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"StubVideoHandler\x00",
    )
    vmhd = _fullbox(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dref = _fullbox(
        b"dref", 0, 0, struct.pack(">I", 1) + _fullbox(b"url ", 0, 1, b"")
    )
    dinf = _box(b"dinf", dref)
    # 'stub' sample entry: SampleEntry header (6 reserved + data_ref_
    # index) + the visual-sample-entry geometry fields a real avc1
    # carries — minus avcC, which only a real encoder can emit
    sample_entry = _box(
        b"stub",
        b"\x00" * 6 + struct.pack(">H", 1)
        + b"\x00" * 16
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)  # frame_count per sample
        + b"\x00" * 32  # compressorname
        + struct.pack(">Hh", 0x0018, -1),
    )
    stsd = _fullbox(b"stsd", 0, 0, struct.pack(">I", 1) + sample_entry)
    stts = _fullbox(
        b"stts", 0, 0, struct.pack(">III", 1, n_frames, frame_duration)
    )
    stsc = _fullbox(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, n_frames, 1))
    stsz = _fullbox(
        b"stsz", 0, 0, struct.pack(">II", sample_size, n_frames)
    )
    stco = _fullbox(b"stco", 0, 0, struct.pack(">II", 1, chunk_offset))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def encode_mp4_mjpeg_video(
    frames: list[bytes],
    width: int,
    height: int,
) -> bytes:
    """MP4 whose samples are REAL JPEG payloads (Motion-JPEG), 25 units
    of a 600/s timescale per frame (24 fps).

    Same genuine ISO BMFF box tree as :func:`encode_mp4_stub_video`,
    but the sample entry is the QuickTime MJPEG fourcc ``jpeg`` and
    every ``mdat`` sample is a complete baseline-JPEG image (one per
    frame), so a demuxer that walks ``stsc``/``stsz``/``stco`` can
    hand each sample straight to a JPEG decoder — which is exactly
    what :func:`..multimodal.decode_media` does with
    ``operators/jpeg.py``.  Variable frame sizes use the stsz
    sample-size-0 + per-sample table form.
    """
    if not frames:
        raise ValueError("MJPEG MP4 needs at least one frame")
    n_frames = len(frames)
    duration = n_frames * 25
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    mdat = _box(b"mdat", b"".join(frames))
    chunk_offset = len(ftyp) + 8  # mdat payload starts after its header

    mvhd = _fullbox(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, 600, duration)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + b"\x00" * 8
        + _UNITY_MATRIX
        + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    tkhd = _fullbox(
        b"tkhd", 0, 0x3,
        struct.pack(">IIIII", 0, 0, 1, 0, duration)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + _UNITY_MATRIX
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = _fullbox(
        b"mdhd", 0, 0,
        struct.pack(">IIII", 0, 0, 600, duration)
        + struct.pack(">HH", 0x55C4, 0),
    )
    hdlr = _fullbox(
        b"hdlr", 0, 0,
        struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"MJPEGVideoHandler\x00",
    )
    vmhd = _fullbox(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dref = _fullbox(
        b"dref", 0, 0, struct.pack(">I", 1) + _fullbox(b"url ", 0, 1, b"")
    )
    dinf = _box(b"dinf", dref)
    sample_entry = _box(
        b"jpeg",  # QuickTime Motion-JPEG visual sample entry
        b"\x00" * 6 + struct.pack(">H", 1)
        + b"\x00" * 16
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)
        + b"\x00" * 4
        + struct.pack(">H", 1)
        + b"\x00" * 32
        + struct.pack(">Hh", 0x0018, -1),
    )
    stsd = _fullbox(b"stsd", 0, 0, struct.pack(">I", 1) + sample_entry)
    stts = _fullbox(
        b"stts", 0, 0, struct.pack(">III", 1, n_frames, 25)
    )
    stsc = _fullbox(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, n_frames, 1))
    stsz = _fullbox(
        b"stsz", 0, 0,
        struct.pack(">II", 0, n_frames)
        + b"".join(struct.pack(">I", len(f)) for f in frames),
    )
    stco = _fullbox(b"stco", 0, 0, struct.pack(">II", 1, chunk_offset))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def _walk(payload: bytes, start: int, end: int) -> Iterator[tuple[bytes, int, int]]:
    """Yield (fourcc, body_start, body_end) for each box in [start, end)."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", payload[pos : pos + 4])
        typ = payload[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                raise ValueError("truncated MP4 box (largesize)")
            (size,) = struct.unpack(">Q", payload[pos + 8 : pos + 16])
            body = pos + 16
        elif size == 0:  # box extends to end of file
            size = end - pos
        if size < (body - pos) or pos + size > end:
            raise ValueError("truncated MP4 box")
        yield typ, body, pos + size
        pos += size
    if pos != end:
        raise ValueError("truncated MP4 box")


def _find(payload: bytes, start: int, end: int, typ: bytes) -> tuple[int, int]:
    for t, b, e in _walk(payload, start, end):
        if t == typ:
            return b, e
    raise ValueError(f"MP4 missing {typ.decode('latin1')} box")


def _fullbox_body(payload: bytes, b: int, e: int) -> tuple[int, int]:
    """(version, body_start_after_version_flags) of a full box."""
    if b + 4 > e:
        raise ValueError("truncated MP4 box")
    return payload[b], b + 4


def parse_mp4_metadata(payload: bytes) -> tuple[int, int, int, int, int]:
    """→ ``(width, height, n_frames, duration, timescale)``.

    ``duration`` is in ``timescale`` units (integer — seconds =
    duration / timescale, left to the caller so the value stays
    exact).  Width/height come from the first video ``tkhd`` (16.16
    fixed point, fractional part must be zero for the integer
    contract); ``n_frames`` is the ``stts`` sample-count sum.
    Raises ``ValueError`` on structural corruption — same clean error
    class as the PNG/WAV/JPEG decoders.
    """
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an MP4 (no ftyp box)")
    moov_b, moov_e = _find(payload, 0, len(payload), b"moov")

    mvhd_b, mvhd_e = _find(payload, moov_b, moov_e, b"mvhd")
    ver, p = _fullbox_body(payload, mvhd_b, mvhd_e)
    if ver == 1:
        if p + 28 > mvhd_e:
            raise ValueError("truncated MP4 mvhd")
        timescale, duration = struct.unpack(">IQ", payload[p + 16 : p + 28])
    else:
        if p + 16 > mvhd_e:
            raise ValueError("truncated MP4 mvhd")
        timescale, duration = struct.unpack(">II", payload[p + 8 : p + 16])

    trak_b, trak_e = _find(payload, moov_b, moov_e, b"trak")
    tkhd_b, tkhd_e = _find(payload, trak_b, trak_e, b"tkhd")
    ver, p = _fullbox_body(payload, tkhd_b, tkhd_e)
    # width/height are the LAST 8 bytes of tkhd in both versions
    if tkhd_e - 8 < p:
        raise ValueError("truncated MP4 tkhd")
    w_fixed, h_fixed = struct.unpack(">II", payload[tkhd_e - 8 : tkhd_e])
    width, height = w_fixed >> 16, h_fixed >> 16

    mdia_b, mdia_e = _find(payload, trak_b, trak_e, b"mdia")
    minf_b, minf_e = _find(payload, mdia_b, mdia_e, b"minf")
    stbl_b, stbl_e = _find(payload, minf_b, minf_e, b"stbl")
    stts_b, stts_e = _find(payload, stbl_b, stbl_e, b"stts")
    _, p = _fullbox_body(payload, stts_b, stts_e)
    if p + 4 > stts_e:
        raise ValueError("truncated MP4 stts")
    (entry_count,) = struct.unpack(">I", payload[p : p + 4])
    if p + 4 + 8 * entry_count > stts_e:
        raise ValueError("truncated MP4 stts")
    n_frames = 0
    for i in range(entry_count):
        cnt, _delta = struct.unpack(
            ">II", payload[p + 4 + 8 * i : p + 12 + 8 * i]
        )
        n_frames += cnt
    return width, height, n_frames, duration, timescale


def parse_mp4_codec_hint(payload: bytes) -> str:
    """Codec fourcc of the first track's first ``stsd`` sample entry
    (e.g. ``'avc1'``, ``'jpeg'``, ``'mjpa'``, ``'stub'``) — the cheap
    probe ``decode_media`` uses to decide whether sample decode is
    even possible before committing to the full sample-table walk."""
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an MP4 (no ftyp box)")
    moov_b, moov_e = _find(payload, 0, len(payload), b"moov")
    trak_b, trak_e = _find(payload, moov_b, moov_e, b"trak")
    mdia_b, mdia_e = _find(payload, trak_b, trak_e, b"mdia")
    minf_b, minf_e = _find(payload, mdia_b, mdia_e, b"minf")
    stbl_b, stbl_e = _find(payload, minf_b, minf_e, b"stbl")
    stsd_b, stsd_e = _find(payload, stbl_b, stbl_e, b"stsd")
    _, p = _fullbox_body(payload, stsd_b, stsd_e)
    if p + 16 > stsd_e:
        raise ValueError("truncated MP4 stsd")
    return payload[p + 8 : p + 12].decode("latin1")


def parse_mp4_samples(payload: bytes) -> tuple[str, list[bytes]]:
    """→ ``(codec_fourcc, [sample_bytes, ...])`` for the first track.

    The demuxer half of the MJPEG path: ``stsd`` names the codec of
    the first sample entry; ``stsc`` (first_chunk, samples_per_chunk
    runs, 1-based), ``stsz`` (fixed size or per-sample table) and
    ``stco``/``co64`` (chunk offsets, 32/64-bit) expand to absolute
    byte ranges, samples packed back-to-back within each chunk.
    Pure box arithmetic — no sample decompression happens here.
    Raises ``ValueError`` on structural corruption (sizes
    inconsistent with the file length, missing boxes), the same
    clean error class as the PNG/WAV/JPEG decoders.
    """
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an MP4 (no ftyp box)")
    moov_b, moov_e = _find(payload, 0, len(payload), b"moov")
    trak_b, trak_e = _find(payload, moov_b, moov_e, b"trak")
    mdia_b, mdia_e = _find(payload, trak_b, trak_e, b"mdia")
    minf_b, minf_e = _find(payload, mdia_b, mdia_e, b"minf")
    stbl_b, stbl_e = _find(payload, minf_b, minf_e, b"stbl")

    stsd_b, stsd_e = _find(payload, stbl_b, stbl_e, b"stsd")
    _, p = _fullbox_body(payload, stsd_b, stsd_e)
    if p + 16 > stsd_e:
        raise ValueError("truncated MP4 stsd")
    codec = payload[p + 8 : p + 12].decode("latin1")
    return codec, _stbl_samples(payload, stbl_b, stbl_e)


def _stbl_samples(payload: bytes, stbl_b: int, stbl_e: int) -> list[bytes]:
    """stsc/stsz/stco(co64) walk of ONE sample table → each sample's
    bytes (shared by the video path and the ``soun``-track demux)."""
    stsz_b, stsz_e = _find(payload, stbl_b, stbl_e, b"stsz")
    _, p = _fullbox_body(payload, stsz_b, stsz_e)
    if p + 8 > stsz_e:
        raise ValueError("truncated MP4 stsz")
    fixed_size, sample_count = struct.unpack(">II", payload[p : p + 8])
    if fixed_size:
        sizes = [fixed_size] * sample_count
    else:
        if p + 8 + 4 * sample_count > stsz_e:
            raise ValueError("truncated MP4 stsz table")
        sizes = list(
            struct.unpack(
                f">{sample_count}I", payload[p + 8 : p + 8 + 4 * sample_count]
            )
        )

    try:
        stco_b, stco_e = _find(payload, stbl_b, stbl_e, b"stco")
        off_fmt, off_len = ">I", 4
    except ValueError:
        stco_b, stco_e = _find(payload, stbl_b, stbl_e, b"co64")
        off_fmt, off_len = ">Q", 8
    _, p = _fullbox_body(payload, stco_b, stco_e)
    if p + 4 > stco_e:
        raise ValueError("truncated MP4 stco")
    (n_chunks,) = struct.unpack(">I", payload[p : p + 4])
    if p + 4 + off_len * n_chunks > stco_e:
        raise ValueError("truncated MP4 stco table")
    chunk_offsets = [
        struct.unpack(off_fmt, payload[p + 4 + off_len * i : p + 4 + off_len * (i + 1)])[0]
        for i in range(n_chunks)
    ]

    stsc_b, stsc_e = _find(payload, stbl_b, stbl_e, b"stsc")
    _, p = _fullbox_body(payload, stsc_b, stsc_e)
    if p + 4 > stsc_e:
        raise ValueError("truncated MP4 stsc")
    (n_runs,) = struct.unpack(">I", payload[p : p + 4])
    if p + 4 + 12 * n_runs > stsc_e:
        raise ValueError("truncated MP4 stsc table")
    runs = [
        struct.unpack(">III", payload[p + 4 + 12 * i : p + 16 + 12 * i])
        for i in range(n_runs)
    ]  # (first_chunk 1-based, samples_per_chunk, sample_desc_idx)
    if not runs or runs[0][0] != 1:
        raise ValueError("MP4 stsc must start at chunk 1")

    samples: list[bytes] = []
    si = 0
    for ci, base_off in enumerate(chunk_offsets, start=1):
        spc = next(r[1] for r in reversed(runs) if r[0] <= ci)
        off = base_off
        for _ in range(spc):
            if si >= sample_count:
                break
            size = sizes[si]
            if off + size > len(payload):
                raise ValueError("MP4 sample range beyond end of file")
            samples.append(payload[off : off + size])
            off += size
            si += 1
    if si != sample_count:
        raise ValueError(
            f"MP4 sample table inconsistent: placed {si} of {sample_count}"
        )
    return samples


def encode_mp4_av(
    frames: list[bytes],
    width: int,
    height: int,
    samples: list[int],
    sample_rate: int,
    channels: int = 1,
    audio_fmt: str = "sowt",
) -> bytes:
    """Two-track MP4: MJPEG video (24 fps, as
    :func:`encode_mp4_mjpeg_video`) + uncompressed 16-bit PCM audio.

    The audio track is a genuine ISO BMFF/QuickTime ``soun`` track —
    ``smhd`` + AudioSampleEntry (fourcc ``sowt`` = little-endian s16,
    ``twos`` = big-endian s16) with the PCM interleaved frame-per-
    sample layout real QuickTime PCM files use (sample size =
    2*channels bytes, one chunk).  Fixture twin of
    :func:`parse_mp4_audio_track`; ``samples`` is the interleaved
    int16 stream (``len(samples)`` must be a multiple of
    ``channels``).
    """
    if audio_fmt not in ("sowt", "twos"):
        raise ValueError(f"unsupported PCM audio fourcc: {audio_fmt!r}")
    if not frames:
        raise ValueError("AV MP4 needs at least one video frame")
    if channels < 1 or len(samples) % channels:
        raise ValueError("samples must interleave a whole number of frames")
    n_frames = len(frames)
    duration = n_frames * 25
    n_aframes = len(samples) // channels  # PCM frames (all channels)
    endian = "<" if audio_fmt == "sowt" else ">"
    pcm = struct.pack(f"{endian}{len(samples)}h", *samples)

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    mdat = _box(b"mdat", b"".join(frames) + pcm)
    video_offset = len(ftyp) + 8
    audio_offset = video_offset + sum(len(f) for f in frames)

    mvhd = _fullbox(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, 600, duration)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + b"\x00" * 8
        + _UNITY_MATRIX
        + b"\x00" * 24
        + struct.pack(">I", 3),  # next_track_id after video=1, audio=2
    )

    # --- video trak (same shape as encode_mp4_mjpeg_video) ---
    tkhd_v = _fullbox(
        b"tkhd", 0, 0x3,
        struct.pack(">IIIII", 0, 0, 1, 0, duration)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + _UNITY_MATRIX
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd_v = _fullbox(
        b"mdhd", 0, 0,
        struct.pack(">IIII", 0, 0, 600, duration)
        + struct.pack(">HH", 0x55C4, 0),
    )
    hdlr_v = _fullbox(
        b"hdlr", 0, 0,
        struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"MJPEGVideoHandler\x00",
    )
    vmhd = _fullbox(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dref = _fullbox(
        b"dref", 0, 0, struct.pack(">I", 1) + _fullbox(b"url ", 0, 1, b"")
    )
    dinf = _box(b"dinf", dref)
    entry_v = _box(
        b"jpeg",
        b"\x00" * 6 + struct.pack(">H", 1)
        + b"\x00" * 16
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)
        + b"\x00" * 4
        + struct.pack(">H", 1)
        + b"\x00" * 32
        + struct.pack(">Hh", 0x0018, -1),
    )
    stbl_v = _box(
        b"stbl",
        _fullbox(b"stsd", 0, 0, struct.pack(">I", 1) + entry_v)
        + _fullbox(b"stts", 0, 0, struct.pack(">III", 1, n_frames, 25))
        + _fullbox(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, n_frames, 1))
        + _fullbox(
            b"stsz", 0, 0,
            struct.pack(">II", 0, n_frames)
            + b"".join(struct.pack(">I", len(f)) for f in frames),
        )
        + _fullbox(b"stco", 0, 0, struct.pack(">II", 1, video_offset)),
    )
    trak_v = _box(
        b"trak",
        tkhd_v
        + _box(b"mdia", mdhd_v + hdlr_v + _box(b"minf", vmhd + dinf + stbl_v)),
    )

    # --- audio trak: soun handler, smhd, PCM sample entry ---
    a_duration = n_aframes  # mdhd timescale = sample_rate, 1 unit/frame
    tkhd_a = _fullbox(
        b"tkhd", 0, 0x3,
        struct.pack(">IIIII", 0, 0, 2, 0, duration)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0x0100, 0)  # audio volume 1.0
        + _UNITY_MATRIX
        + struct.pack(">II", 0, 0),  # no visual extent
    )
    mdhd_a = _fullbox(
        b"mdhd", 0, 0,
        struct.pack(">IIII", 0, 0, sample_rate, a_duration)
        + struct.pack(">HH", 0x55C4, 0),
    )
    hdlr_a = _fullbox(
        b"hdlr", 0, 0,
        struct.pack(">I", 0) + b"soun" + b"\x00" * 12 + b"PCMAudioHandler\x00",
    )
    smhd = _fullbox(b"smhd", 0, 0, struct.pack(">HH", 0, 0))
    entry_a = _box(
        audio_fmt.encode("latin1"),
        b"\x00" * 6 + struct.pack(">H", 1)  # reserved + data_ref_index
        + struct.pack(">HHI", 0, 0, 0)  # version, revision, vendor
        + struct.pack(">HH", channels, 16)  # channels, bits/sample
        + struct.pack(">HH", 0, 0)  # compression_id, packet_size
        + struct.pack(">I", sample_rate << 16),  # 16.16 fixed
    )
    stbl_a = _box(
        b"stbl",
        _fullbox(b"stsd", 0, 0, struct.pack(">I", 1) + entry_a)
        + _fullbox(b"stts", 0, 0, struct.pack(">III", 1, n_aframes, 1))
        + _fullbox(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, n_aframes, 1))
        + _fullbox(b"stsz", 0, 0, struct.pack(">II", 2 * channels, n_aframes))
        + _fullbox(b"stco", 0, 0, struct.pack(">II", 1, audio_offset)),
    )
    trak_a = _box(
        b"trak",
        tkhd_a
        + _box(b"mdia", mdhd_a + hdlr_a + _box(b"minf", smhd + dinf + stbl_a)),
    )
    moov = _box(b"moov", mvhd + trak_v + trak_a)
    return ftyp + mdat + moov


class NoAudioTrackError(ValueError):
    """The MP4 is structurally valid but carries no ``soun`` track.

    A dedicated type (not message-text matching) so callers like
    ``demux_mp4_audio`` can treat video-only inputs as a benign skip
    while every other ``ValueError`` (corrupt structure) still fails
    the job loudly.
    """


def parse_mp4_audio_track(payload: bytes) -> tuple[str, int, int, list[int]]:
    """Demux the first ``soun`` track → ``(fourcc, sample_rate,
    channels, samples)`` with ``samples`` the interleaved int16
    stream — the same shape ``decode_wav`` returns, so the demuxed
    audio feeds the existing spectral-fingerprint stack unchanged.

    Walks EVERY ``trak`` (unlike the video path's first-track
    contract) and picks the first whose ``hdlr`` handler type is
    ``soun``; decodes uncompressed 16-bit PCM sample entries
    (``sowt`` little-endian / ``twos`` big-endian — the QuickTime
    PCM forms; compressed codecs like ``mp4a``/AAC genuinely need an
    entropy decoder this container lacks and raise the same honest
    ``NotImplementedError`` class as the H.264 video branch).
    ``ValueError`` when no audio track exists or the structure is
    corrupt.
    """
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an MP4 (no ftyp box)")
    moov_b, moov_e = _find(payload, 0, len(payload), b"moov")
    for typ, trak_b, trak_e in _walk(payload, moov_b, moov_e):
        if typ != b"trak":
            continue
        mdia_b, mdia_e = _find(payload, trak_b, trak_e, b"mdia")
        hdlr_b, hdlr_e = _find(payload, mdia_b, mdia_e, b"hdlr")
        _, p = _fullbox_body(payload, hdlr_b, hdlr_e)
        if p + 8 > hdlr_e:
            raise ValueError("truncated MP4 hdlr")
        if payload[p + 4 : p + 8] != b"soun":
            continue
        minf_b, minf_e = _find(payload, mdia_b, mdia_e, b"minf")
        stbl_b, stbl_e = _find(payload, minf_b, minf_e, b"stbl")
        stsd_b, stsd_e = _find(payload, stbl_b, stbl_e, b"stsd")
        _, p = _fullbox_body(payload, stsd_b, stsd_e)
        if p + 12 > stsd_e:
            raise ValueError("truncated MP4 stsd")
        entry_b = p + 4  # first sample entry's box header
        fourcc = payload[entry_b + 4 : entry_b + 8].decode("latin1")
        body = entry_b + 8
        if body + 28 > stsd_e:
            raise ValueError("truncated MP4 audio sample entry")
        channels, bits = struct.unpack(
            ">HH", payload[body + 16 : body + 20]
        )
        (rate_fixed,) = struct.unpack(">I", payload[body + 24 : body + 28])
        sample_rate = rate_fixed >> 16
        if fourcc not in ("sowt", "twos"):
            raise NotImplementedError(
                f"MP4 audio codec {fourcc!r} needs an entropy decoder "
                f"unavailable in this environment (stdlib-only PCM "
                f"demux supports sowt/twos)"
            )
        if bits != 16:
            raise ValueError(f"PCM demux supports 16-bit only, got {bits}")
        if channels < 1 or sample_rate < 1:
            raise ValueError("corrupt MP4 audio sample entry")
        data = b"".join(_stbl_samples(payload, stbl_b, stbl_e))
        if len(data) % 2:
            raise ValueError("PCM track byte length must be even")
        fmt = "<" if fourcc == "sowt" else ">"
        n = len(data) // 2
        samples = list(struct.unpack(f"{fmt}{n}h", data))
        return fourcc, sample_rate, channels, samples
    raise NoAudioTrackError("MP4 has no soun track")


MP4_AUDIO_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("n_samples", LongType()),
    ]
)


def demux_mp4_audio(df: DataFrame) -> DataFrame:
    """Audio-track extraction stage for video corpora: one Arrow-
    batched ``mapInPandas`` crossing that demuxes each MP4's ``soun``
    PCM track and RE-ENCODES it as a WAV payload, so every existing
    audio operator (``audio.spectral_frames`` fingerprints, quality
    stats, chunk plans) runs on video corpora unchanged — the bridge
    that lets video↔audio duplicate evidence join in one pass.

    Output: ``(media_id, sample_rate, channels, n_samples, payload
    BINARY)`` — one row per input that HAS a decodable PCM track;
    inputs without a ``soun`` track emit nothing (NULL-payload
    precedent from ``spectral_frames``), while structurally corrupt
    payloads and compressed audio codecs fail fast with their honest
    error class.
    """
    from pyspark.sql.types import BinaryType

    schema = StructType(
        [*MP4_AUDIO_SCHEMA.fields, StructField("payload", BinaryType())]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .multimodal import encode_wav_pcm16

        for pdf in it:
            out: dict[str, list] = {f.name: [] for f in schema.fields}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                if p is None:
                    continue
                try:
                    _, sr, ch, samples = parse_mp4_audio_track(bytes(p))
                except NoAudioTrackError:
                    continue  # video-only MP4: nothing to demux
                out["media_id"].append(int(mid))
                out["sample_rate"].append(sr)
                out["channels"].append(ch)
                out["n_samples"].append(len(samples))
                out["payload"].append(encode_wav_pcm16(samples, sr, ch))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out["media_id"], dtype="int64"),
                    "sample_rate": pd.Series(out["sample_rate"], dtype="int32"),
                    "channels": pd.Series(out["channels"], dtype="int32"),
                    "n_samples": pd.Series(out["n_samples"], dtype="int64"),
                    "payload": pd.Series(out["payload"], dtype="object"),
                }
            )

    return df.select("media_id", "payload").mapInPandas(batches, schema)


MP4_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("duration", LongType()),
        StructField("timescale", IntegerType()),
    ]
)


def extract_mp4_metadata(df: DataFrame) -> DataFrame:
    """Container-metadata stage for video corpora: one Arrow-batched
    ``mapInPandas`` crossing parsing each payload's box tree —
    the pre-decode filter/partition surface (resolution, duration,
    frame count) a video pipeline runs BEFORE committing to the
    ~1000× more expensive frame decode."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k.name: [] for k in MP4_META_SCHEMA.fields}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                w, h, nf, dur, ts = parse_mp4_metadata(
                    bytes(p) if p is not None else b""
                )
                out["media_id"].append(int(mid))
                out["width"].append(w)
                out["height"].append(h)
                out["n_frames"].append(nf)
                out["duration"].append(dur)
                out["timescale"].append(ts)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out["media_id"], dtype="int64"),
                    "width": pd.Series(out["width"], dtype="int32"),
                    "height": pd.Series(out["height"], dtype="int32"),
                    "n_frames": pd.Series(out["n_frames"], dtype="int32"),
                    "duration": pd.Series(out["duration"], dtype="int64"),
                    "timescale": pd.Series(out["timescale"], dtype="int32"),
                }
            )

    return df.select("media_id", "payload").mapInPandas(batches, MP4_META_SCHEMA)
