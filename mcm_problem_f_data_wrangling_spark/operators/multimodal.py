"""Multimodal column plumbing (engine extension, BASELINE.json north
star): image/audio/video as opaque ``binary`` columns with typed
metadata.

The Spark-side plumbing — schema, batching, partition sizing, UDF
signatures — is real and tested.  The decode stage is REAL for the
three formats a pure-stdlib(+numpy) codec can handle:

- **PNG** (``zlib``): chunk walk with CRC verification, IHDR parse,
  IDAT inflate, full scanline un-filtering (None/Sub/Up/Average/Paeth)
  for 8-bit grayscale, RGB, and palette (PLTE-expanded to RGB) —
  :func:`decode_png`.
- **WAV** (``struct``): RIFF chunk walk, fmt parse, 16-bit PCM sample
  extraction — :func:`decode_wav`.
- **JPEG** (baseline sequential DCT, ``operators.jpeg``): Huffman
  entropy decode, dequantization, 8x8 IDCT, YCbCr→RGB, 4:2:0
  upsampling, restart markers — :func:`..jpeg.decode_jpeg`.
  Progressive/arithmetic JPEG raises ``NotImplementedError``.

The one format whose codec genuinely needs an external library
(MP4/H.264 needs libav) fails fast with an honest
``NotImplementedError``; any other payload falls back to the
clearly-marked deterministic STUB (a fake keyed on content bytes) so
the pipeline shape (decode → feature-extract → resize/frame-sample)
stays exercisable end-to-end on arbitrary bytes.

Design for scale:
- decode runs in ``mapInPandas`` (Arrow-batched iterator, streaming
  per-batch — never materializes a whole partition).
- metadata (byte length, content hash, magic-prefix sniff) stays
  JVM-side — no Python for the cheap 99%.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..materialize import materialize

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("media_type", StringType()),  # image|audio|video
        StructField("source_uri", StringType()),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("byte_len", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("mean_luma", DoubleType()),
        # audio-only columns (NULL for image/video rows)
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("mean_sample", DoubleType()),
    ]
)


def attach_binary_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """JVM-side metadata: byte length, md5, magic-byte prefix.

    Runs before any Python boundary — filtering/dedup on these columns
    prunes the expensive decode stage.
    """
    p = F.col(payload_col)
    return df.withColumns(
        {
            "byte_len": F.octet_length(p).cast("long"),
            "content_md5": F.md5(p),
            "magic_hex": F.lower(F.hex(F.substring(p, 1, 4))),
        }
    )


# --- real stdlib codecs ----------------------------------------------------

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png(
    samples: "bytes | bytearray | list[int]",
    width: int,
    height: int,
    channels: int = 1,
) -> bytes:
    """Minimal stdlib PNG writer (8-bit grayscale or RGB, no
    interlace) — the fixture/test-side twin of :func:`decode_png`.

    ``samples`` is the row-major flat sample stream (``width * height
    * channels`` bytes).  Each scanline is written with filter type
    ``row % 5``, cycling through all five PNG filters (None, Sub, Up,
    Average, Paeth) — a valid encoder choice that makes every decoder
    filter path load-bearing in round-trip tests and gates.
    """
    import struct
    import zlib

    if channels not in (1, 3):
        raise ValueError(f"channels must be 1 (gray) or 3 (RGB), got {channels}")
    raw = bytes(samples)
    stride = width * channels
    if len(raw) != stride * height:
        raise ValueError(f"need {stride * height} samples, got {len(raw)}")
    bpp = channels  # bytes per pixel at bit depth 8

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    color_type = 0 if channels == 1 else 2
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    out = bytearray()
    prior = bytes(stride)
    for r in range(height):
        line = raw[r * stride : (r + 1) * stride]
        f = r % 5
        out.append(f)
        for i in range(stride):
            x = line[i]
            left = line[i - bpp] if i >= bpp else 0
            up = prior[i]
            upleft = prior[i - bpp] if i >= bpp else 0
            if f == 1:
                x -= left
            elif f == 2:
                x -= up
            elif f == 3:
                x -= (left + up) >> 1
            elif f == 4:
                x -= _paeth(left, up, upleft)
            out.append(x & 0xFF)
        prior = line
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(out)))
        + chunk(b"IEND", b"")
    )


def encode_png_palette(
    indices: "bytes | bytearray | list[int]",
    width: int,
    height: int,
    palette: "list[tuple[int, int, int]]",
) -> bytes:
    """Minimal stdlib palette-PNG writer (color type 3, 8-bit indices)
    — the fixture/test-side twin of :func:`decode_png`'s PLTE path.
    Scanline filters cycle ``row % 5`` like :func:`encode_png`."""
    import struct
    import zlib

    raw = bytes(indices)
    if len(raw) != width * height:
        raise ValueError(f"need {width * height} indices, got {len(raw)}")
    if max(raw, default=0) >= len(palette):
        raise ValueError("index out of palette range")

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 3, 0, 0, 0)
    plte = b"".join(bytes(rgb) for rgb in palette)
    out = bytearray()
    prior = bytes(width)
    for r in range(height):
        line = raw[r * width : (r + 1) * width]
        f = r % 5
        out.append(f)
        for i in range(width):
            x = line[i]
            left = line[i - 1] if i >= 1 else 0
            up = prior[i]
            upleft = prior[i - 1] if i >= 1 else 0
            if f == 1:
                x -= left
            elif f == 2:
                x -= up
            elif f == 3:
                x -= (left + up) >> 1
            elif f == 4:
                x -= _paeth(left, up, upleft)
            out.append(x & 0xFF)
        prior = line
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(bytes(out)))
        + chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> tuple[int, int, int, bytes]:
    """Real stdlib PNG decoder → ``(width, height, channels,
    samples)`` with ``samples`` the row-major flat 8-bit stream.

    Full chunk walk with CRC verification, zlib inflate of the
    concatenated IDATs, and un-filtering of all five scanline filter
    types.  Supports bit depth 8, color types 0 (grayscale), 2 (RGB),
    and 3 (palette — indices expanded through the PLTE chunk to RGB,
    so downstream luma semantics match color type 2), no interlace —
    anything else raises ``NotImplementedError`` (an honest boundary,
    not a fake).
    """
    import struct
    import zlib

    if payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    ihdr = None
    idat = bytearray()
    plte = None
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        if pos + 12 + ln > len(payload):
            # corrupt input must fail with the same clean error class
            # as every other validation path, not a struct.error from
            # a short CRC slice (ADVICE r7)
            raise ValueError("truncated PNG chunk")
        data = payload[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack(">I", payload[pos + 8 + ln : pos + 12 + ln])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            if ln % 3:
                raise ValueError("PNG PLTE length not a multiple of 3")
            plte = data
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    width, height, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8 or color_type not in (0, 2, 3) or interlace != 0:
        raise NotImplementedError(
            f"PNG bit_depth={depth} color_type={color_type} "
            f"interlace={interlace} unsupported (8-bit gray/RGB/palette only)"
        )
    if color_type == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE chunk")
    channels = 1 if color_type in (0, 3) else 3
    stride = width * channels
    bpp = channels
    import numpy as np

    flat = zlib.decompress(bytes(idat))
    if len(flat) != (stride + 1) * height:
        raise ValueError("PNG IDAT length does not match dimensions")
    # un-filtering, vectorized where the recurrence allows it:
    # None is a view; Up is one whole-line uint8 add (wraps mod 256);
    # Sub is a per-byte-lane cumulative sum mod 256 (the recurrence
    # out[i] = raw[i] + out[i-bpp] telescopes).  Average and Paeth
    # are genuinely loop-carried (their left operand passes through a
    # shift / a branch, so no cumsum form exists) and run as tight
    # bytearray loops with the predictor inlined and the left/upleft
    # operands carried in locals — bytearray indexing is several
    # times faster than numpy scalar indexing for per-byte work.
    # Measured on 256x256 cycling-filter batches: 1.6x end-to-end vs
    # the all-bytearray form; all-vectorizable-filter batches are
    # ~5x (SCALE.md §media-decode).
    rows = np.frombuffer(flat, dtype=np.uint8).reshape(height, stride + 1)
    out = np.empty((height, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.uint8)
    prior_b = bytes(stride)
    for r in range(height):
        f = int(rows[r, 0])
        line = rows[r, 1:]
        cur_b = None
        if f == 0:
            cur = line
        elif f == 1:
            cur = (
                np.cumsum(line.reshape(-1, bpp), axis=0, dtype=np.uint64)
                .astype(np.uint8)
                .reshape(-1)
            )
        elif f == 2:
            cur = line + prior
        elif f == 3:
            la = bytearray(line.tobytes())
            pb = prior_b
            for lane in range(bpp):
                a = 0
                for i in range(lane, stride, bpp):
                    a = la[i] = (la[i] + ((a + pb[i]) >> 1)) & 0xFF
            cur = np.frombuffer(la, np.uint8)
            cur_b = bytes(la)
        elif f == 4:
            la = bytearray(line.tobytes())
            pb = prior_b
            for lane in range(bpp):
                a = 0
                c = 0
                for i in range(lane, stride, bpp):
                    b_up = pb[i]
                    p = a + b_up - c
                    pa = p - a
                    if pa < 0:
                        pa = -pa
                    pv = p - b_up
                    if pv < 0:
                        pv = -pv
                    pc = p - c
                    if pc < 0:
                        pc = -pc
                    if pa <= pv and pa <= pc:
                        pred = a
                    elif pv <= pc:
                        pred = b_up
                    else:
                        pred = c
                    a = la[i] = (la[i] + pred) & 0xFF
                    c = b_up
            cur = np.frombuffer(la, np.uint8)
            cur_b = bytes(la)
        else:
            raise ValueError(f"PNG scanline filter {f} invalid")
        out[r] = cur
        prior = out[r]
        prior_b = cur_b if cur_b is not None else prior.tobytes()
    if color_type == 3:
        # expand palette indices to RGB triples — one fancy-index; an
        # index past the palette is corrupt data, not a decode choice
        lut = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = out.reshape(-1)
        if idx.size and int(idx.max()) >= lut.shape[0]:
            raise ValueError("PNG palette index out of range")
        return width, height, 3, lut[idx].tobytes()
    return width, height, channels, out.tobytes()


def encode_wav_pcm16(
    samples: "list[int]", sample_rate: int, channels: int = 1
) -> bytes:
    """Minimal stdlib RIFF/WAVE writer (16-bit PCM, interleaved) —
    the fixture/test-side twin of :func:`decode_wav`."""
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate,
        sample_rate * channels * 2, channels * 2, 16,
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> tuple[int, int, int, "list[int]"]:
    """Real stdlib WAV decoder → ``(sample_rate, channels, n_samples,
    samples)`` with ``samples`` the interleaved 16-bit PCM stream
    (``n_samples`` counts individual samples across channels).

    RIFF chunk walk honoring word alignment; 16-bit PCM (format tag
    1) only — compressed/float WAVE raises ``NotImplementedError``.
    """
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV (bad RIFF/WAVE header)")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (ln,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if pos + 8 + ln > len(payload):
            # clean error class for corrupt input, not a struct.error
            # surfacing as an opaque task failure (ADVICE r7)
            raise ValueError("truncated WAV chunk")
        body = payload[pos + 8 : pos + 8 + ln]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated WAV fmt chunk")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    tag, channels, sample_rate, _, _, bits = fmt
    if tag != 1 or bits != 16:
        raise NotImplementedError(
            f"WAV format tag={tag} bits={bits} unsupported (16-bit PCM only)"
        )
    n = len(data) // 2
    return sample_rate, channels, n, list(struct.unpack(f"<{n}h", data[: n * 2]))


def _fake_decode(payload: bytes, media_type: str) -> tuple[int, int, int, float]:
    """STUB decoder — deterministic fake keyed on content bytes.

    This scalar form is the CONTRACT, not the implementation of
    record: the vectorized batch path inside :func:`decode_media` is
    what production runs, and tests pin the two to identical outputs.
    Replace with PIL/libav in production.  Raises for unknown types
    the same way a real decoder would.
    """
    if media_type not in {"image", "audio", "video"}:
        raise NotImplementedError(f"no decoder for media_type={media_type!r}")
    h = sum(payload[:64]) if payload else 0
    width = 64 + (h % 1024)
    height = 64 + ((h * 7) % 1024)
    n_frames = 1 if media_type == "image" else 1 + (h % 300)
    mean_luma = (h % 256) / 255.0
    return width, height, n_frames, mean_luma


def decode_media(df: DataFrame) -> DataFrame:
    """Decode/feature-extract via ``mapInPandas`` (Arrow-batched).

    The iterator form streams one Arrow batch at a time — a partition
    of large payloads never materializes fully in Python memory.

    Per-payload dispatch on the DECLARED ``media_type`` first, magic
    bytes second (ADVICE r7: magic-only dispatch mis-routes arbitrary
    binary that happens to contain ``ftyp``/RIFF/PNG bytes — the
    declared type gates which codecs are even considered):

    - image + PNG signature → :func:`decode_png` (REAL stdlib decode:
      width, height, mean over all decoded samples as ``mean_luma``)
    - image + JPEG magic → :func:`..jpeg.decode_jpeg` (REAL baseline
      sequential decode — operators/jpeg.py; same output contract as
      PNG)
    - audio + RIFF/WAVE → :func:`decode_wav` (REAL stdlib decode:
      ``sample_rate``, ``n_samples``, ``mean_sample``; the image
      geometry columns stay NULL)
    - video + MP4 magic → REAL container-metadata parse
      (:func:`..mp4.parse_mp4_metadata`: ISO BMFF box walk fills
      width/height/n_frames from tkhd + stts).  Motion-JPEG tracks
      (``jpeg``/``mjpa`` sample entries) additionally get REAL
      sample decode — :func:`..mp4.parse_mp4_samples` walks
      stsc/stsz/stco to each sample's bytes, ``..jpeg.decode_jpeg``
      decodes every frame, and ``mean_luma`` is the exact pixel mean
      over all frames.  H.264 stays honestly env-blocked (needs
      libav, absent from this container) — ``mean_luma`` NULL for
      that codec only
    - anything else → the deterministic STUB fake (vectorized over
      the batch), keyed on content bytes, clearly marked — this is
      the implementation of record for the stub path
      (:func:`_fake_decode` survives only as its scalar contract)
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            payloads = [
                bytes(p) if p is not None else b"" for p in pdf["payload"]
            ]
            mtypes = pdf["media_type"].to_numpy()
            bad = ~np.isin(mtypes, ("image", "audio", "video"))
            if bad.any():
                # same failure a real decoder would raise, same message
                raise NotImplementedError(
                    f"no decoder for media_type={mtypes[bad.argmax()]!r}"
                )
            n = len(payloads)
            width = np.full(n, np.nan)
            height = np.full(n, np.nan)
            n_frames = np.full(n, np.nan)
            mean_luma = np.full(n, np.nan)
            sample_rate = np.full(n, np.nan)
            n_samples = np.full(n, np.nan)
            mean_sample = np.full(n, np.nan)
            stub_idx = []
            for i, p in enumerate(payloads):
                mt = mtypes[i]
                if mt == "image" and p[:8] == PNG_MAGIC:
                    w, h, ch, flat = decode_png(p)
                    width[i], height[i], n_frames[i] = w, h, 1
                    arr = np.frombuffer(flat, dtype=np.uint8)
                    mean_luma[i] = float(arr.mean(dtype=np.float64)) / 255.0
                elif mt == "audio" and p[:4] == b"RIFF" and p[8:12] == b"WAVE":
                    sr, ch, ns, samples = decode_wav(p)
                    sample_rate[i], n_samples[i], n_frames[i] = sr, ns, 1
                    mean_sample[i] = float(
                        np.asarray(samples, dtype=np.float64).mean()
                    )
                elif mt == "image" and p[:3] == b"\xff\xd8\xff":
                    from .jpeg import decode_jpeg

                    w, h, ch, flat = decode_jpeg(p)
                    width[i], height[i], n_frames[i] = w, h, 1
                    arr = np.frombuffer(flat, dtype=np.uint8)
                    mean_luma[i] = float(arr.mean(dtype=np.float64)) / 255.0
                elif mt == "video" and p[4:8] == b"ftyp":
                    # REAL container-metadata parse (operators/mp4.py,
                    # ISO BMFF box walk).  Motion-JPEG sample entries
                    # (jpeg/mjpa) get REAL sample decode: walk
                    # stsc/stsz/stco to each sample's bytes and run
                    # the baseline-JPEG decoder — mean_luma is the
                    # pixel mean over ALL frames.  H.264 stays
                    # env-blocked (needs libav/ffmpeg, absent here),
                    # so mean_luma stays NULL for that codec.
                    from .mp4 import parse_mp4_codec_hint, parse_mp4_metadata

                    w, h, nf, _dur, _ts = parse_mp4_metadata(p)
                    width[i], height[i], n_frames[i] = w, h, nf
                    if parse_mp4_codec_hint(p) in ("jpeg", "mjpa"):
                        from .jpeg import decode_jpeg
                        from .mp4 import parse_mp4_samples

                        _, samples = parse_mp4_samples(p)
                        tot, cnt = 0.0, 0
                        for s in samples:
                            _, _, _, flat = decode_jpeg(s)
                            a = np.frombuffer(flat, dtype=np.uint8)
                            tot += float(a.sum(dtype=np.float64))
                            cnt += a.size
                        if cnt:
                            mean_luma[i] = tot / cnt / 255.0
                else:
                    stub_idx.append(i)
            if stub_idx:
                # STUB fake for unrecognized bytes, vectorized over the
                # stub subset (no per-row iterrows — measured ~6x on
                # the 200k-doc sf1 stub): a pure function of the
                # byte-sum h and media_type
                si = np.asarray(stub_idx)
                h = np.array(
                    [
                        np.frombuffer(
                            payloads[i][:64], dtype=np.uint8
                        ).sum(dtype=np.int64)
                        for i in stub_idx
                    ]
                )
                width[si] = 64 + h % 1024
                height[si] = 64 + (h * 7) % 1024
                n_frames[si] = np.where(mtypes[si] == "image", 1, 1 + h % 300)
                mean_luma[si] = (h % 256) / 255.0

            def as_int(col, dtype):
                s = pd.Series(col)
                return s.astype("Float64").astype(dtype)

            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "media_type": mtypes,
                    "byte_len": np.array(
                        [len(p) for p in payloads], dtype=np.int64
                    ),
                    "width": as_int(width, "Int32"),
                    "height": as_int(height, "Int32"),
                    "n_frames": as_int(n_frames, "Int32"),
                    # nullable Float64: NaN marks "not this modality"
                    # and must arrive as NULL, not NaN
                    "mean_luma": pd.Series(mean_luma).astype("Float64"),
                    "sample_rate": as_int(sample_rate, "Int32"),
                    "n_samples": as_int(n_samples, "Int64"),
                    "mean_sample": pd.Series(mean_sample).astype("Float64"),
                }
            )

    return df.mapInPandas(decode_batches, DECODED_SCHEMA)


def frame_sample_plan(decoded: DataFrame, every_n: int = 30) -> DataFrame:
    """Frame-sampling plan: (media_id, frame_idx) rows for videos.

    The sampling *plan* is pure Spark (sequence+explode); the actual
    frame extraction would run through :func:`decode_media`'s batch
    path with a real decoder.
    """
    return (
        decoded.filter(F.col("n_frames") > 1)
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
            ).alias("frame_idx"),
        )
    )


FEATURE_DIM = 8

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("embedding", ArrayType(DoubleType())),
    ]
)


def resize_plan(decoded: DataFrame) -> DataFrame:
    """Resize stage: target dims so the longest side is at most 256.

    The geometry (pure arithmetic) stays JVM-side; a real pixel
    resample would run through the same ``mapInPandas`` batch path as
    :func:`decode_media` with a real imaging library.
    """
    longest = F.greatest("width", "height")
    scale = F.when(longest > 256, F.lit(256.0) / longest).otherwise(F.lit(1.0))
    return decoded.select(
        "media_id",
        "media_type",
        F.ceil(F.col("width") * scale).cast("int").alias("width"),
        F.ceil(F.col("height") * scale).cast("int").alias("height"),
        F.round(scale, 6).alias("scale"),
    )


def extract_features(df: DataFrame) -> DataFrame:
    """Feature-extract stage via ``mapInPandas``: payload → fixed-dim
    embedding.

    STUB features — an L1-normalized 8-bucket byte histogram (a real
    deployment swaps in a vision/audio encoder; the Arrow batch shape,
    schema, and array<double> output column are what downstream
    similarity search consumes unchanged).
    """

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def hist_of(p) -> list[float]:
            # vectorized per payload: bincount over byte%DIM (no
            # per-byte Python loop); identical values to the naive form
            b = np.frombuffer(bytes(p) if p is not None else b"", dtype=np.uint8)
            hist = np.bincount(b[:4096] % FEATURE_DIM, minlength=FEATURE_DIM)
            total = int(hist.sum()) or 1
            return [float(v) / total for v in hist]

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "media_type": pdf["media_type"].to_numpy(),
                    "embedding": [hist_of(p) for p in pdf["payload"]],
                }
            )

    return df.mapInPandas(feats, FEATURES_SCHEMA)


def _dct32() -> "object":
    """Orthonormal 32-point DCT-II matrix (cached) — pure numpy, no
    scipy: D = C @ block @ C.T is the separable 2-D transform."""
    import numpy as np

    global _DCT32_CACHE
    try:
        return _DCT32_CACHE
    except NameError:
        pass
    n = 32
    k = np.arange(n)[:, None]
    m = np.arange(n)[None, :]
    C = np.cos(np.pi * (2 * m + 1) * k / (2 * n))
    C[0] *= np.sqrt(1.0 / n)
    C[1:] *= np.sqrt(2.0 / n)
    _DCT32_CACHE = C
    return C


def _area_pool_32(gray: "object") -> "object":
    """Exact area-average downscale of a 2-D float array to 32x32 via
    an integral image — deterministic for any input geometry (no
    interpolation kernel choices)."""
    import numpy as np

    h, w = gray.shape
    ii = np.zeros((h + 1, w + 1))
    ii[1:, 1:] = gray.cumsum(0).cumsum(1)
    ye = np.linspace(0, h, 33).round().astype(int)
    xe = np.linspace(0, w, 33).round().astype(int)
    y0, y1 = ye[:-1][:, None], ye[1:][:, None]
    x0, x1 = xe[:-1][None, :], xe[1:][None, :]
    area = (y1 - y0) * (x1 - x0)
    s = ii[y1, x1] - ii[y0, x1] - ii[y1, x0] + ii[y0, x0]
    return s / np.maximum(area, 1)


def phash64_png(payload: bytes) -> int:
    """REAL 64-bit perceptual hash of a PNG payload (classic pHash,
    Zauner 2010): decode → rec601 grayscale → exact 32x32
    area-average downscale → 2-D DCT-II → 8x8 low-frequency block →
    threshold each coefficient at the median of the 63 AC
    coefficients.  One-pixel perturbations move single coefficients
    slightly, so near-identical images land within Hamming ~0-3;
    structurally different images differ in ~half the bits.  Pure
    numpy (the DCT is two 32x32 matmuls); signed int64 for Spark's
    LONG.
    """
    return _phash64_decoded(decode_png(payload))


def phash64_jpeg(payload: bytes) -> int:
    """:func:`phash64_png` over a baseline JPEG payload
    (``operators.jpeg.decode_jpeg``) — same downscale/DCT/threshold,
    so PNG and JPEG encodings of the SAME image land within a few
    bits of each other (cross-format near-dup detection)."""
    from .jpeg import decode_jpeg

    return _phash64_decoded(decode_jpeg(payload))


def _phash64_decoded(decoded: "tuple[int, int, int, bytes]") -> int:
    import numpy as np

    w, h, ch, flat = decoded
    a = np.frombuffer(flat, dtype=np.uint8).astype(np.float64)
    if ch == 3:
        a = a.reshape(h, w, 3)
        gray = 0.299 * a[:, :, 0] + 0.587 * a[:, :, 1] + 0.114 * a[:, :, 2]
    else:
        gray = a.reshape(h, w)
    C = _dct32()
    d = C @ _area_pool_32(gray) @ C.T
    low = d[:8, :8].ravel()
    med = float(np.median(low[1:]))  # AC median; DC would drown it
    bits = (low > med).astype(np.uint64)
    v = int((bits << np.arange(64, dtype=np.uint64)).sum())
    return v - (1 << 64) if v >= (1 << 63) else v


def _phash64_fallback(payload: bytes) -> int:
    """md5-derived fallback for undecodable payloads: the first 64 bits
    of the payload's md5, as a signed BIGINT."""
    import hashlib

    v = int(hashlib.md5(payload).hexdigest()[:16], 16)
    return v - (1 << 64) if v >= (1 << 63) else v


# phash_kind: 'dct' when the payload decoded and the DCT hash was
# computed, 'md5' for the fallback — downstream policy can split on it
PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("phash", LongType()),
        StructField("phash_kind", StringType()),
    ]
)


def compute_phash(df: DataFrame) -> DataFrame:
    """Perceptual-hash column via Arrow-batched ``mapInPandas``:
    PNG and baseline-JPEG payloads get the REAL DCT hash
    (:func:`phash64_png` / :func:`phash64_jpeg`), anything
    undecodable gets the clearly-labeled md5 fallback
    (:func:`_phash64_fallback`: it finds identical payloads only,
    never visually-similar ones), with ``phash_kind`` ∈
    {'dct', 'md5'} recording which.

    Output: (media_id, phash LONG, phash_kind) — feeds
    ``operators.dedup.hamming_neardup_pairs(bits=64)`` unchanged.
    """

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids = pdf["media_id"].to_numpy()
            hashes = np.empty(len(ids), dtype=np.int64)
            kinds = []
            for i, p in enumerate(pdf["payload"]):
                b = bytes(p) if p is not None else b""
                if b[:8] == PNG_MAGIC:
                    hashes[i] = phash64_png(b)
                    kinds.append("dct")
                elif b[:3] == b"\xff\xd8\xff":
                    hashes[i] = phash64_jpeg(b)
                    kinds.append("dct")
                else:
                    hashes[i] = _phash64_fallback(b)
                    kinds.append("md5")
            yield pd.DataFrame(
                {"media_id": ids, "phash": hashes, "phash_kind": kinds}
            )

    return df.select("media_id", "payload").mapInPandas(hash_batches, PHASH_SCHEMA)


def phash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
) -> DataFrame:
    """Image near-dup candidate pairs by perceptual-hash Hamming
    distance — the standard image-dedup pipeline stage (pHash →
    pigeonhole bands → exact Hamming verify).  PNG and baseline-JPEG
    payloads hash with the real DCT pHash; undecodable payloads fall
    back to the md5 fingerprint (exact-dup detection only) — see
    :func:`compute_phash`."""
    from .dedup import hamming_neardup_pairs

    hashed = compute_phash(df).select("media_id", "phash")
    return hamming_neardup_pairs(
        hashed, "phash", "media_id", bits=64, max_hamming=max_hamming
    )


VIDEO_PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("phash", LongType()),
        StructField("n_frames", IntegerType()),
    ]
)


def video_phash_frames(df: DataFrame) -> DataFrame:
    """Per-frame DCT pHash sequence for decodable videos — the video
    twin of :func:`compute_phash`: MP4 payloads whose track codec is
    Motion-JPEG (``jpeg``/``mjpa`` sample entries) are demuxed with
    :func:`..mp4.parse_mp4_samples` and every frame runs the same
    decode → 32x32 pool → DCT-II → median-threshold hash as still
    images, inside ONE Arrow crossing.

    Output: ``(media_id, frame_idx, phash, n_frames)``.  NULL
    payloads and videos without a decodable codec (H.264 stays
    env-blocked) emit no rows — a pipeline dedups what it can decode
    and leaves the rest to container-metadata matching.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .jpeg import decode_jpeg
        from .mp4 import parse_mp4_codec_hint, parse_mp4_samples

        for pdf in it:
            out = {k.name: [] for k in VIDEO_PHASH_SCHEMA.fields}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                if p is None:
                    continue
                b = bytes(p)
                if len(b) < 12 or b[4:8] != b"ftyp":
                    continue
                if parse_mp4_codec_hint(b) not in ("jpeg", "mjpa"):
                    continue
                _, samples = parse_mp4_samples(b)
                for fi, s in enumerate(samples):
                    out["media_id"].append(int(mid))
                    out["frame_idx"].append(fi)
                    out["phash"].append(_phash64_decoded(decode_jpeg(s)))
                    out["n_frames"].append(len(samples))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out["media_id"], dtype="int64"),
                    "frame_idx": pd.Series(out["frame_idx"], dtype="int32"),
                    "phash": pd.Series(out["phash"], dtype="int64"),
                    "n_frames": pd.Series(out["n_frames"], dtype="int32"),
                }
            )

    return df.select("media_id", "payload").mapInPandas(batches, VIDEO_PHASH_SCHEMA)


def video_phash_neardup(
    df: DataFrame,
    max_hamming: int = 3,
) -> DataFrame:
    """Video near-duplicate pairs by ALIGNED per-frame pHash: two
    videos pair iff they have the same frame count and EVERY aligned
    frame pair is within ``max_hamming`` pHash bits — re-encoded or
    slightly-degraded copies of the same footage, which no container
    metadata or byte hash can relate.

    Scale shape: candidates come from FRAME 0 only — a true pair
    must match on every frame, so pigeonhole banding (Manku: 4 bands
    of 16 bits for Hamming <= 3) of the first frame's hash is a
    complete candidate generator at 1/n_frames the banding volume —
    then ONE equi-join per side aligns full sequences and a single
    aggregate verifies ``max(hamming) <= max_hamming`` over all
    frames with matched counts.  Never all-pairs.

    Output: ``(id_a, id_b, n_frames, max_frame_hamming)``,
    ``id_a < id_b``.
    """
    n_bands = max_hamming + 1
    width = 64 // n_bands
    mask = (1 << width) - 1
    # materialize: the frame-hash table feeds three branches (the
    # band explode plus both sides of the alignment join) and Spark's
    # ReuseExchange cannot unify a join exchange with an explode input,
    # so without this the whole demux+JPEG-decode Arrow stage runs 3x
    # (same discipline as dedup.py's PPJoin prefix table).
    frames = materialize(video_phash_frames(df))
    first = frames.where(F.col("frame_idx") == 0).select(
        "media_id",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("phash", b * width).bitwiseAND(F.lit(mask))
                    for b in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a, b = first.alias("a"), first.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"), F.col("b.media_id").alias("id_b")
        )
        .distinct()
    )
    fa = frames.select(
        F.col("media_id").alias("id_a"),
        F.col("frame_idx"),
        F.col("phash").alias("ph_a"),
        F.col("n_frames").alias("nf_a"),
    )
    fb = frames.select(
        F.col("media_id").alias("id_b"),
        F.col("frame_idx"),
        F.col("phash").alias("ph_b"),
        F.col("n_frames").alias("nf_b"),
    )
    aligned = cand.join(fa, "id_a").join(fb, ["id_b", "frame_idx"])
    verdict = aligned.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.max("nf_a").alias("nf_a"),
        F.max("nf_b").alias("nf_b"),
        F.max(
            F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).cast("int")
        ).alias("max_frame_hamming"),
    )
    return verdict.where(
        (F.col("n_matched") == F.col("nf_a"))
        & (F.col("nf_a") == F.col("nf_b"))
        & (F.col("max_frame_hamming") <= max_hamming)
    ).select(
        "id_a", "id_b", F.col("nf_a").alias("n_frames"), "max_frame_hamming"
    )


def video_clip_containment(
    df: DataFrame,
    max_hamming: int = 3,
) -> DataFrame:
    """Trimmed-clip containment: pairs where the SHORTER video's full
    frame sequence sits inside the longer one at ONE consistent
    offset with per-frame pHash Hamming <= ``max_hamming`` — the cut
    a same-length aligner (:func:`video_phash_neardup`) cannot see,
    and the video twin of ``audio.audio_shifted_neardup``'s
    offset-consistency rule.

    Scale shape: every frame's hash bands (Manku pigeonhole), the
    band equi-join VOTES (pair, offset) candidates — complete,
    because a contained clip's every aligned frame pair shares a
    band, so any one of them seeds the right offset — then one
    aligned equi-join per side verifies that the match count at that
    offset equals the shorter video's frame count.  A bag-of-frames
    decoy (same frames, scrambled order) dies here: at every voted
    offset some aligned pair exceeds the Hamming tolerance.
    At least 2 aligned matching frames are required — a 1-frame
    video "contained" on a single frame match is formally correct but
    weak.  Never all-pairs.

    Output: ``(id_a, id_b, offset, n_frames_matched,
    max_frame_hamming)``, ``id_a < id_b``; ``offset`` = the a-frame
    index aligned with b's frame 0.
    """
    n_bands = max_hamming + 1
    width = 64 // n_bands
    mask = (1 << width) - 1
    # one decode, three consumers (same discipline as video_phash_neardup)
    frames = materialize(video_phash_frames(df))
    banded = frames.select(
        "media_id",
        "frame_idx",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("phash", b * width).bitwiseAND(F.lit(mask))
                    for b in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    votes = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            (F.col("a.frame_idx") - F.col("b.frame_idx")).alias("offset"),
        )
        .distinct()
    )
    fa = frames.select(
        F.col("media_id").alias("id_a"),
        F.col("frame_idx").alias("fi_a"),
        F.col("phash").alias("ph_a"),
        F.col("n_frames").alias("nf_a"),
    )
    fb = frames.select(
        F.col("media_id").alias("id_b"),
        F.col("frame_idx").alias("fi_b"),
        F.col("phash").alias("ph_b"),
        F.col("n_frames").alias("nf_b"),
    )
    aligned = (
        votes.join(fa, "id_a")
        .withColumn("fi_b", F.col("fi_a") - F.col("offset"))
        .join(fb, ["id_b", "fi_b"])
    )
    verdict = aligned.groupBy("id_a", "id_b", "offset").agg(
        F.count(F.lit(1)).cast("int").alias("n_frames_matched"),
        F.max("nf_a").alias("nf_a"),
        F.max("nf_b").alias("nf_b"),
        F.max(
            F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).cast("int")
        ).alias("max_frame_hamming"),
    )
    return verdict.where(
        (F.col("n_frames_matched") == F.least("nf_a", "nf_b"))
        & (F.col("n_frames_matched") >= F.lit(2))
        & (F.col("max_frame_hamming") <= max_hamming)
    ).select("id_a", "id_b", "offset", "n_frames_matched", "max_frame_hamming")
