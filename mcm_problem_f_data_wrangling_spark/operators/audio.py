"""Audio spectral analysis over decoded WAV payloads.

Engine extension (the reference has no audio path — its multimodal
analogue is the opaque-binary contract in ``operators/multimodal.py``):
a large-scale training-data pipeline needs audio *content* signals,
not just byte-level metadata — near-duplicate detection must survive
re-encoding at a different amplitude/gain, which byte hashes (md5,
the md5 fallback of :func:`..multimodal.compute_phash`) cannot.

The pipeline here is the honest baseline of an audio-fingerprinting
stack (Shazam-style constellation maps are the production upgrade;
the dominant-band sequence is the deterministic, oracle-checkable
core both share):

- :func:`spectral_frames` — decode → mono → non-overlapping frames →
  vectorized ``np.fft.rfft`` → per-frame band energies → dominant
  band.  One Arrow-batched ``mapInPandas`` crossing; everything
  downstream is JVM-side.
- :func:`audio_fingerprint` — per-payload 64-bit fingerprint over the
  dominant-band sequence (``xxhash64`` of the canonical sequence
  string, computed JVM-side; the raw sequence is retained for exact
  verify so a hash collision can never produce a false pair).
- :func:`audio_neardup_pairs` — equi-join on the 8-byte fingerprint
  (never all-pairs) + exact sequence verify: finds payloads with the
  same spectral content even when their PCM bytes differ (gain
  change, re-synthesis).

Scale: the FFT stage streams one Arrow batch at a time (a partition
of large payloads never materializes fully in Python); frames are a
single ``(n_frames, FRAME_LEN)`` numpy matrix per payload so the FFT
is one vectorized call.  The pairs join shuffles 8-byte keys.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

FRAME_LEN = 256  # samples per analysis frame (an even number)
N_BANDS = 8  # equal band slices of the FRAME_LEN/2 spectrum bins

SPECTRAL_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("dom_band", IntegerType()),
        StructField("band_energy_frac", DoubleType()),
    ]
)


def resample_to_rate(sig, sr: int, rate: int):
    """Resample ``sig`` (numpy float64) from ``sr`` to ``rate`` Hz:
    windowed-sinc FIR low-pass at the TARGET Nyquist, then linear
    interpolation onto the target grid.

    The low-pass (Hamming-windowed sinc, unity DC gain, ``mode='same'``
    convolution) runs only when DOWNSAMPLING — without it, content
    between the canonical Nyquist and the source Nyquist folds down
    into the canonical bands (a 5.25 kHz tone in a 48 kHz stream lands
    at 2.75 kHz after naive decimation to 8 kHz) and a stream can
    fingerprint-match content it never contained; upsampling has no
    such folding (linear-interp imaging lands above the original
    content and inside the widened band span).  255 taps put the
    stopband ~0.6 kHz above an 8 kHz target's Nyquist at 48 kHz
    input — in-band content keeps its dominant band, folded content
    drops ~50 dB.
    """
    import numpy as np

    if sr == rate or not len(sig):
        return sig
    if sr > rate:
        n = np.arange(255, dtype=np.float64) - 127.0  # 255 centred taps
        fc = 0.5 * rate / sr  # target Nyquist, cycles/sample of sig
        h = 2.0 * fc * np.sinc(2.0 * fc * n) * np.hamming(255)
        h /= h.sum()
        sig = np.convolve(sig, h, mode="same")
    n_out = int(round(len(sig) * rate / sr))
    if n_out <= 0:
        return sig[:0]
    return np.interp(
        np.arange(n_out, dtype=np.float64) * (sr / rate),
        np.arange(len(sig), dtype=np.float64),
        sig,
    )


def spectral_frames(df: DataFrame, canonical_rate: int | None = None) -> DataFrame:
    """Framed FFT band analysis of the ``(media_id, payload)`` WAV
    payloads via ``mapInPandas``.

    Per payload: :func:`..multimodal.decode_wav` → channel-mean mono →
    non-overlapping frames of ``FRAME_LEN`` samples (hop =
    ``FRAME_LEN``; a trailing partial frame is dropped) → power
    spectrum ``|rfft|^2`` → bins ``1..FRAME_LEN/2`` (DC excluded —
    PCM offset is content-free) split into ``N_BANDS`` equal slices →
    per frame the argmax band (first band wins ties, so an all-zero
    frame deterministically reports band 0 with
    ``band_energy_frac = 0.0``).

    Output: ``(media_id, frame_idx, dom_band, band_energy_frac)``
    with ``band_energy_frac`` = dominant band energy / total energy
    (float — a confidence signal, keep it OUT of cross-engine value
    hashes).  NULL payloads emit no frames (like a stream shorter
    than one frame); truncated/corrupt NON-null payloads fail fast
    in ``decode_wav``.

    ``canonical_rate``: when set, every stream is resampled to this
    rate (:func:`resample_to_rate` — windowed-sinc low-pass at the
    canonical Nyquist before linear interpolation, so content above
    the canonical Nyquist is REMOVED instead of folding down into the
    canonical bands and corrupting the sequence) BEFORE framing.
    With it, a frame is a fixed TIME window (``FRAME_LEN/rate``
    seconds) and each band a fixed absolute-frequency range, so
    44.1 kHz and 48 kHz re-encodes of the same content produce the
    same band sequence — without it they never match, because
    sample-count framing makes both the window duration and the band
    edges functions of the file's own rate.
    """
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .multimodal import decode_wav

        for pdf in it:
            ids: list[int] = []
            fidx: list[int] = []
            dom: list[int] = []
            frac: list[float] = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                if p is None:
                    # NULL payload → no frames (tolerated, like a
                    # too-short stream); truncated/corrupt NON-null
                    # payloads still fail fast inside decode_wav
                    continue
                sr, ch, _, samples = decode_wav(bytes(p))
                sig = np.asarray(samples, dtype=np.float64)
                if ch > 1:
                    sig = sig[: (len(sig) // ch) * ch].reshape(-1, ch).mean(axis=1)
                if canonical_rate and sr != canonical_rate and len(sig):
                    sig = resample_to_rate(sig, sr, canonical_rate)
                    if not len(sig):
                        continue
                nf = len(sig) // FRAME_LEN
                if nf == 0:
                    continue
                frames = sig[: nf * FRAME_LEN].reshape(nf, FRAME_LEN)
                spec = np.abs(np.fft.rfft(frames, axis=1)) ** 2
                bins = spec[:, 1 : FRAME_LEN // 2 + 1]
                bands = bins.reshape(nf, N_BANDS, -1).sum(axis=2)
                d = bands.argmax(axis=1)
                tot = bands.sum(axis=1)
                f = bands[np.arange(nf), d] / np.where(tot > 0.0, tot, 1.0)
                ids.extend([int(mid)] * nf)
                fidx.extend(range(nf))
                dom.extend(int(x) for x in d)
                frac.extend(float(x) for x in f)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(fidx, dtype="int32"),
                    "dom_band": pd.Series(dom, dtype="int32"),
                    "band_energy_frac": pd.Series(frac, dtype="float64"),
                }
            )

    return df.select("media_id", "payload").mapInPandas(batches, SPECTRAL_SCHEMA)


def audio_fingerprint(df: DataFrame, canonical_rate: int | None = None) -> DataFrame:
    """Per-payload spectral fingerprint: ``(media_id, fingerprint
    LONG, band_seq STRING, n_frames INT)``.

    ``band_seq`` is the dominant-band sequence in frame order joined
    with ','; ``fingerprint = xxhash64(band_seq)`` is the compact
    8-byte shuffle key.  Both are computed JVM-side from the
    :func:`spectral_frames` output — the only Python crossing is the
    FFT stage itself.

    ``canonical_rate``: resample every stream to this rate before
    framing (see :func:`spectral_frames`) so re-encodes of the same
    content at different sample rates fingerprint-match — a real
    corpus dedups across 44.1 kHz/48 kHz re-encodes, which the
    rate-native fingerprint provably misses.
    """
    frames = spectral_frames(df, canonical_rate)
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("frame_idx"), F.col("dom_band")))
            ),
            lambda s: s["dom_band"].cast("string"),
        ),
        ",",
    )
    return frames.groupBy("media_id").agg(
        seq.alias("band_seq"), F.count("*").cast("int").alias("n_frames")
    ).select(
        "media_id",
        F.xxhash64("band_seq").alias("fingerprint"),
        "band_seq",
        "n_frames",
    )


def audio_neardup_pairs(
    df: DataFrame,
    mode: str = "pairs",
    canonical_rate: int | None = None,
) -> DataFrame:
    """Audio near-duplicate pairs by exact spectral-fingerprint match:
    payloads whose dominant-band sequences are identical, even when
    the PCM bytes differ (gain change, re-synthesis at a different
    amplitude).  Equi-join on the 8-byte fingerprint, exact
    ``band_seq`` verify so an ``xxhash64`` collision cannot fabricate
    a pair.

    ``mode='pairs'`` (default) emits every matching pair — what a
    near-dup AUDIT reports.  A degenerate corpus (one fingerprint
    class of m payloads) emits C(m,2) rows; the scale smoke measured
    25M pairs from 8 planted classes of 2500.  ``mode='star'`` emits
    only (min-id member → other member) per class — O(m) rows, the
    connectivity-preserving edge set CLUSTERING needs (identical
    connected components, same trick as ``duplicate_clusters``'
    star edges) — use it when the pairs feed a components pass.

    Output: ``(id_a, id_b, n_frames)`` with ``id_a < id_b``.
    """
    if mode not in ("pairs", "star"):
        raise ValueError(f"unknown mode {mode!r}")
    fps = audio_fingerprint(df, canonical_rate)
    if mode == "star":
        from pyspark.sql import Window

        w = Window.partitionBy("fingerprint", "band_seq")
        starred = fps.withColumn("root", F.min("media_id").over(w))
        return starred.where(F.col("media_id") != F.col("root")).select(
            F.col("root").alias("id_a"),
            F.col("media_id").alias("id_b"),
            "n_frames",
        )
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(b, on="fingerprint")
        .where(
            (F.col("a.media_id") < F.col("b.media_id"))
            & (F.col("a.band_seq") == F.col("b.band_seq"))
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            F.col("a.n_frames").alias("n_frames"),
        )
    )


def audio_chunk_plan(
    decoded: DataFrame,
    chunk_s: float = 30.0,
    hop_s: float = 25.0,
) -> DataFrame:
    """Segment long audio into fixed-duration windows (ASR-style
    pipelines train on ~30 s chunks with overlap so no speech is lost
    at boundaries) — the audio twin of ``chunking.chunk_documents``.

    Operates on DECODE METADATA only (``sample_rate``, ``n_samples``
    from :func:`..multimodal.decode_media`) — the plan is pure
    integer arithmetic (sequence + explode, zero exchange, zero
    Python), so a pipeline sizes its chunk workload before touching
    payload bytes.  Stepped-window semantics (the
    ``chunking.chunk_documents`` precedent): one window per hop
    start < ``n_samples``, each clamped to the stream end — trailing
    windows may overlap heavily, but no sample is ever silently
    dropped, which is the failure mode this guards.

    Output: ``(media_id, chunk_idx, start_sample, end_sample)`` with
    ``chunk_idx`` dense from 0 per media.  Rows with NULL/zero
    ``n_samples`` OR NULL/zero ``sample_rate`` (non-audio media,
    corrupt headers) produce no chunks.
    """
    if chunk_s <= 0 or hop_s <= 0 or hop_s > chunk_s:
        raise ValueError("need 0 < hop_s <= chunk_s")
    chunk = (F.col("sample_rate").cast("long") * F.lit(float(chunk_s))).cast("long")
    hop = (F.col("sample_rate").cast("long") * F.lit(float(hop_s))).cast("long")
    n = F.col("n_samples").cast("long")
    src = decoded.where(
        F.col("n_samples").isNotNull()
        & (F.col("n_samples") > 0)
        # NULL/zero sample_rate would make the hop NULL/zero and blow
        # up F.sequence at runtime with an opaque error (ADVICE r8)
        & F.col("sample_rate").isNotNull()
        & (F.col("sample_rate") > 0)
    ).select(
        "media_id",
        F.sequence(F.lit(0).cast("long"), n - 1, hop).alias("starts"),
        chunk.alias("chunk"),
        n.alias("n"),
    )
    return src.select(
        "media_id",
        F.posexplode("starts").alias("chunk_idx", "start_sample"),
        "chunk",
        "n",
    ).select(
        "media_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        "start_sample",
        F.least(F.col("start_sample") + F.col("chunk"), F.col("n")).alias(
            "end_sample"
        ),
    )


QUALITY_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("n_clipped", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("silence_frames", IntegerType()),
    ]
)


def audio_quality_stats(df: DataFrame) -> DataFrame:
    """Audio quality signals for corpus filtering — the audio twin of
    the text quality metrics: clipped audio (samples pinned at the
    int16 rail) and silence-dominated audio are the standard rejects
    before ASR/audio-model training.

    Integer outputs only (hash-stable cross-engine):
    ``n_clipped`` counts samples with ``|s| >= 32767``;
    ``silence_frames`` counts frames whose max ``|s|`` is ``<= 3``
    (mono-folded, non-overlapping frames of ``FRAME_LEN``, trailing
    partial dropped — same framing as
    :func:`spectral_frames`).  One Arrow crossing, all numpy.
    NULL payloads emit no stats row; corrupt non-null payloads fail
    fast in ``decode_wav``.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .multimodal import decode_wav

        out = {k.name: [] for k in QUALITY_SCHEMA.fields}
        for pdf in it:
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                if p is None:
                    # NULL payload → no stats row (skip, don't fail);
                    # corrupt non-null payloads still fail fast
                    continue
                _, ch, ns, samples = decode_wav(bytes(p))
                sig = np.asarray(samples, dtype=np.float64)
                clipped = int((np.abs(sig) >= 32767).sum())
                if ch > 1:
                    sig = sig[: (len(sig) // ch) * ch].reshape(-1, ch).mean(axis=1)
                nf = len(sig) // FRAME_LEN
                silent = 0
                if nf:
                    fr = np.abs(sig[: nf * FRAME_LEN]).reshape(nf, FRAME_LEN)
                    silent = int((fr.max(axis=1) <= 3).sum())
                out["media_id"].append(int(mid))
                out["n_samples"].append(ns)
                out["n_clipped"].append(clipped)
                out["n_frames"].append(nf)
                out["silence_frames"].append(silent)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out["media_id"], dtype="int64"),
                    "n_samples": pd.Series(out["n_samples"], dtype="int64"),
                    "n_clipped": pd.Series(out["n_clipped"], dtype="int64"),
                    "n_frames": pd.Series(out["n_frames"], dtype="int32"),
                    "silence_frames": pd.Series(out["silence_frames"], dtype="int32"),
                }
            )
            out = {k.name: [] for k in QUALITY_SCHEMA.fields}

    return df.select("media_id", "payload").mapInPandas(batches, QUALITY_SCHEMA)


def audio_shifted_neardup(df: DataFrame) -> DataFrame:
    """Shift-tolerant audio near-dup: the same content starting at a
    DIFFERENT point in the stream (clipped intro, prepended silence)
    defeats the whole-sequence fingerprint; this matcher indexes
    band-sequence 4-grams instead and requires 6 gram hits at ONE
    CONSISTENT frame offset — the banded-candidates +
    verify shape every LSH stage here uses, never all-pairs.

    Plan: frames → JVM window ``lead`` builds each position's 4-gram
    string → equi-join on ``xxhash64(gram)`` (8-byte key) with exact
    gram verify → group by (pair, offset) → count ≥ 6.
    A degenerate gram (one shared by m media) fans out like any LSH
    band bucket; AQE skew-split applies to the equi-join.

    Output: ``(id_a, id_b, offset, n_matches)`` with ``id_a < id_b``;
    ``offset`` = a's frame index minus b's for the aligned content
    (negative when b carries a prefix a lacks).
    """
    from pyspark.sql import Window

    frames = spectral_frames(df)
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    parts = [F.col("dom_band").cast("string")] + [
        F.lead("dom_band", j).over(w).cast("string") for j in range(1, 4)
    ]
    grams = (
        frames.select(
            "media_id",
            "frame_idx",
            F.concat_ws(",", *parts).alias("g"),
            F.lead("dom_band", 3).over(w).alias("_tail"),
        )
        .where(F.col("_tail").isNotNull())  # complete grams only
        .drop("_tail")
        .withColumn("gh", F.xxhash64("g"))
    )
    a = grams.alias("a")
    b = grams.alias("b")
    return (
        a.join(b, on="gh")
        .where(
            (F.col("a.media_id") < F.col("b.media_id"))
            & (F.col("a.g") == F.col("b.g"))
        )
        .groupBy(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            (F.col("a.frame_idx") - F.col("b.frame_idx")).alias("offset"),
        )
        .agg(F.count("*").cast("int").alias("n_matches"))
        .where(F.col("n_matches") >= 6)
    )
