"""Audio spectral analysis (operators/audio.py): framed FFT band
extraction, fingerprints, and gain-invariant near-dup pairs."""

from __future__ import annotations

import numpy as np
import pytest

from mcm_problem_f_data_wrangling_spark.operators.audio import (
    audio_fingerprint,
    audio_neardup_pairs,
    spectral_frames,
)
from mcm_problem_f_data_wrangling_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    encode_wav_pcm16,
)


def _tone_payload(bands: list[int], amp: float = 900.0, seg_len: int = 512,
                  frame_len: int = 256, channels: int = 1) -> bytes:
    """One segment per entry in ``bands``: a pure cosine at the center
    bin of that band (k = 16*b + 8 for frame_len=256 / 8 bands)."""
    u = np.arange(seg_len)
    samples: list[int] = []
    for b in bands:
        k = (frame_len // 16) * b + frame_len // 32
        tone = np.round(amp * np.cos(2.0 * np.pi * k * u / frame_len))
        if channels == 1:
            samples.extend(int(x) for x in tone)
        else:
            for x in tone:
                samples.extend([int(x)] * channels)
    return encode_wav_pcm16(samples, 8000, channels)


def test_spectral_frames_recovers_planted_bands(spark):
    media = spark.createDataFrame(
        [(0, _tone_payload([2, 5, 7]), "audio", "t://0")], MEDIA_SCHEMA
    )
    rows = spectral_frames(media).orderBy("frame_idx").collect()
    assert [r.dom_band for r in rows] == [2, 2, 5, 5, 7, 7]
    assert all(r.band_energy_frac > 0.999 for r in rows)
    assert [r.frame_idx for r in rows] == list(range(6))


def test_spectral_frames_stereo_folds_to_mono(spark):
    mono = _tone_payload([3, 1], channels=1)
    stereo = _tone_payload([3, 1], channels=2)
    media = spark.createDataFrame(
        [(0, mono, "audio", "t://m"), (1, stereo, "audio", "t://s")],
        MEDIA_SCHEMA,
    )
    rows = spectral_frames(media).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.media_id, []).append((r.frame_idx, r.dom_band))
    assert sorted(by_id[0]) == sorted(by_id[1])


def test_spectral_frames_zero_signal_is_deterministic(spark):
    media = spark.createDataFrame(
        [(0, encode_wav_pcm16([0] * 512, 8000), "audio", "t://z")],
        MEDIA_SCHEMA,
    )
    rows = spectral_frames(media).orderBy("frame_idx").collect()
    assert [(r.dom_band, r.band_energy_frac) for r in rows] == [(0, 0.0), (0, 0.0)]


def test_spectral_frames_short_payload_yields_no_frames(spark):
    media = spark.createDataFrame(
        [(0, encode_wav_pcm16([5] * 100, 8000), "audio", "t://short")],
        MEDIA_SCHEMA,
    )
    assert spectral_frames(media).count() == 0


def test_fingerprint_gain_invariant_bytes_differ(spark):
    loud = _tone_payload([4, 0, 6], amp=990.0)
    quiet = _tone_payload([4, 0, 6], amp=450.0)
    other = _tone_payload([4, 0, 5], amp=990.0)
    assert loud != quiet  # byte-level dedup would never pair these
    media = spark.createDataFrame(
        [(0, loud, "audio", "t://l"), (1, quiet, "audio", "t://q"),
         (2, other, "audio", "t://o")],
        MEDIA_SCHEMA,
    )
    fps = {r.media_id: (r.fingerprint, r.band_seq, r.n_frames)
           for r in audio_fingerprint(media).collect()}
    assert fps[0] == fps[1]
    assert fps[0][1] == "4,4,0,0,6,6"
    assert fps[0] != fps[2]

    pairs = audio_neardup_pairs(media).collect()
    assert [(p.id_a, p.id_b, p.n_frames) for p in pairs] == [(0, 1, 6)]


def test_truncated_wav_raises_clean_error(spark):
    good = _tone_payload([1])
    media = spark.createDataFrame(
        [(0, good[:40], "audio", "t://trunc")], MEDIA_SCHEMA
    )
    with pytest.raises(Exception) as ei:
        spectral_frames(media).collect()
    msg = str(ei.value)
    assert "ValueError" in msg and "WAV" in msg  # clean error class, not struct.error


def test_star_mode_preserves_components_linearly(spark):
    """mode='star' must emit O(m) edges per fingerprint class with
    the same connected components as all-pairs mode."""
    payloads = [_tone_payload([2, 6], amp=400.0 + 13 * i) for i in range(4)]
    other = _tone_payload([5, 5], amp=800.0)
    media = spark.createDataFrame(
        [(i, p, "audio", f"t://{i}") for i, p in enumerate(payloads)]
        + [(9, other, "audio", "t://9")],
        MEDIA_SCHEMA,
    )
    pairs = {(r.id_a, r.id_b) for r in audio_neardup_pairs(media).collect()}
    star = {(r.id_a, r.id_b) for r in
            audio_neardup_pairs(media, mode="star").collect()}
    assert pairs == {(a, b) for a in range(4) for b in range(a + 1, 4)}  # C(4,2)
    assert star == {(0, 1), (0, 2), (0, 3)}  # min-id star, O(m)
    with pytest.raises(ValueError):
        audio_neardup_pairs(media, mode="clique")


def test_audio_chunk_plan_covers_all_samples(spark):
    """Chunk windows must tile every sample: union of [start, end)
    ranges == [0, n_samples), last chunk clamped, partials emitted."""
    from mcm_problem_f_data_wrangling_spark.operators.audio import audio_chunk_plan

    meta = spark.createDataFrame(
        [(1, 16000, 16000 * 70), (2, 8000, 8000 * 3), (3, 16000, None),
         (4, 16000, 479999)],
        "media_id long, sample_rate int, n_samples long",
    )
    rows = audio_chunk_plan(meta, chunk_s=30.0, hop_s=25.0).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.media_id, []).append(r)
    # 70 s @16k: starts 0, 400k, 800k; ends clamp at 1.12M
    got1 = sorted((r.chunk_idx, r.start_sample, r.end_sample) for r in by_id[1])
    assert got1 == [(0, 0, 480000), (1, 400000, 880000), (2, 800000, 1120000)]
    # 3 s @8k: one partial chunk, not dropped
    assert [(r.start_sample, r.end_sample) for r in by_id[2]] == [(0, 24000)]
    assert 3 not in by_id  # NULL n_samples -> no chunks (non-audio row)
    # one sample short of a full chunk: stepped semantics still emit a
    # window per hop start < n (chunk_documents precedent) — the
    # second window is clamped to the stream end
    assert sorted((r.start_sample, r.end_sample) for r in by_id[4]) == [
        (0, 479999), (400000, 479999)
    ]
    # coverage law: every sample of media 1 is inside >=1 window
    covered = set()
    for r in by_id[1]:
        covered.update(range(r.start_sample // 16000, r.end_sample // 16000))
    assert covered == set(range(70))
    with pytest.raises(ValueError):
        audio_chunk_plan(meta, chunk_s=10.0, hop_s=20.0)


def test_audio_quality_stats_counts(spark):
    """Clipped samples and silent frames count exactly; stereo folds
    before framing; clip counting sees RAW samples (pre-fold)."""
    from mcm_problem_f_data_wrangling_spark.operators.audio import (
        audio_quality_stats,
    )

    # 2 frames: one silent, one constant 500 with 3 clipped samples
    mono = [0] * 256 + [500] * 253 + [32767] * 3
    # stereo: L=-32768 R=+32768-ish -> folds to ~0 (silent frame!) but
    # clip count uses raw interleaved samples
    stereo = [-32767, 32767] * 256
    media = spark.createDataFrame(
        [(1, encode_wav_pcm16(mono, 8000), "audio", "q://1"),
         (2, encode_wav_pcm16(stereo, 8000, channels=2), "audio", "q://2")],
        MEDIA_SCHEMA,
    )
    got = {r.media_id: r for r in audio_quality_stats(media).collect()}
    r1 = got[1]
    assert (r1.n_samples, r1.n_clipped, r1.n_frames, r1.silence_frames) == (
        512, 3, 2, 1)
    r2 = got[2]
    # 512 raw samples (256 stereo pairs -> ONE 256-sample mono frame),
    # ALL clipped; the folded mono is exactly 0 so the frame reads
    # silent: out-of-phase rail-to-rail content masquerades as silence
    # after the fold, which is why clip detection runs pre-fold
    assert (r2.n_samples, r2.n_clipped, r2.n_frames, r2.silence_frames) == (
        512, 512, 1, 1)


def test_shifted_neardup_finds_offset_pairs(spark):
    """A 1-frame-shifted copy must match at the right offset; the
    whole-sequence fingerprint must NOT (that's the gap this covers)."""
    from mcm_problem_f_data_wrangling_spark.operators.audio import (
        audio_shifted_neardup,
    )

    base = _tone_payload([1, 4, 2, 7, 3, 6, 0, 5, 2, 6], seg_len=256)
    shifted = _tone_payload([5, 1, 4, 2, 7, 3, 6, 0, 5, 2, 6], seg_len=256)  # prefix
    media = spark.createDataFrame(
        [(0, base, "audio", "s://0"), (1, shifted, "audio", "s://1")],
        MEDIA_SCHEMA,
    )
    fps = {r.media_id: r.fingerprint for r in audio_fingerprint(media).collect()}
    assert fps[0] != fps[1]  # whole-sequence fingerprint misses this
    got = audio_shifted_neardup(media).collect()
    assert [(r.id_a, r.id_b, r.offset, r.n_matches) for r in got] == [(0, 1, -1, 7)]


def test_null_payload_rows_are_skipped_not_fatal(spark):
    """A NULL payload row must not fail the stage (ADVICE r8): the
    None guard means tolerance — spectral_frames emits no frames and
    audio_quality_stats emits no stats row; the good row survives."""
    from mcm_problem_f_data_wrangling_spark.operators.audio import (
        audio_quality_stats,
    )

    good = _tone_payload([2, 5])
    media = spark.createDataFrame(
        [(0, good, "audio", "t://0"), (1, None, "audio", "t://null")],
        MEDIA_SCHEMA,
    )
    frames = spectral_frames(media).collect()
    assert {r.media_id for r in frames} == {0}
    stats = audio_quality_stats(media).collect()
    assert {r.media_id for r in stats} == {0}


def test_chunk_plan_null_or_zero_sample_rate_yields_no_chunks(spark):
    """NULL/zero sample_rate would make the hop NULL/zero and blow up
    F.sequence with an opaque runtime error (ADVICE r8) — those rows
    must be filtered like NULL n_samples, not crash the plan."""
    from mcm_problem_f_data_wrangling_spark.operators.audio import audio_chunk_plan

    meta = spark.createDataFrame(
        [(1, 16000, 16000 * 70), (2, None, 48000), (3, 0, 48000)],
        "media_id long, sample_rate int, n_samples long",
    )
    rows = audio_chunk_plan(meta, chunk_s=30.0, hop_s=25.0).collect()
    assert {r.media_id for r in rows} == {1}


def _tone_payload_at_rate(bands: list[int], sr: int, amp: float = 900.0,
                          canonical: int = 8000, frame_len: int = 256,
                          seg_frames: int = 8) -> bytes:
    """Tone sequence at an arbitrary NATIVE rate: each segment lasts
    seg_frames canonical frames (seg_frames*frame_len/canonical s) of
    a pure cosine at the CENTER FREQUENCY of band b on the canonical
    grid (f = (16b+8)*canonical/frame_len Hz) — the same analog
    content whatever sr it is sampled at."""
    dur = seg_frames * frame_len / canonical
    n = int(round(dur * sr))
    t = np.arange(n) / sr
    samples: list[int] = []
    for b in bands:
        f = (frame_len // 16 * b + frame_len // 32) * canonical / frame_len
        tone = np.round(amp * np.cos(2.0 * np.pi * f * t))
        samples.extend(int(x) for x in tone)
    return encode_wav_pcm16(samples, sr)


def test_rate_invariant_fingerprint_matches_resampled_twin(spark):
    """The same content at 44.1 kHz and 48 kHz: the rate-native
    fingerprint PROVABLY misses the pair (sample-count framing makes
    band edges a function of the file's own rate), and
    canonical_rate resampling recovers it without pairing different
    content."""
    from mcm_problem_f_data_wrangling_spark.operators.audio import (
        audio_neardup_pairs,
    )

    content = [2, 5, 1, 6]
    other = [3, 3, 7, 0]
    media = spark.createDataFrame(
        [
            (0, _tone_payload_at_rate(content, 44100), "audio", "r://44k"),
            (1, _tone_payload_at_rate(content, 48000), "audio", "r://48k"),
            (2, _tone_payload_at_rate(other, 44100), "audio", "r://other"),
        ],
        MEDIA_SCHEMA,
    )
    # the gap this closes: rate-native fingerprints never match
    fps = {r.media_id: r.fingerprint for r in audio_fingerprint(media).collect()}
    assert fps[0] != fps[1]
    # canonical-rate fingerprints pair the re-encodes, nothing else
    got = {(r.id_a, r.id_b)
           for r in audio_neardup_pairs(media, canonical_rate=8000).collect()}
    assert got == {(0, 1)}


def test_resample_anti_alias_kills_folded_content():
    """The aliasing trap the FIR low-pass exists for (r9 verdict):
    naive linear decimation of a 48 kHz stream folds a 5.25 kHz tone
    onto the 2.75 kHz band-5 center, so in-band band-2 content under
    a strong above-Nyquist tone fingerprints as band 5 — a FALSE
    match against content the stream never contained.  The naive
    decimation, computed here, pins the miss; resample_to_rate must
    keep band 2 dominant."""
    import numpy as np

    from mcm_problem_f_data_wrangling_spark.operators.audio import (
        resample_to_rate,
    )

    canonical, frame_len, sr = 8000, 256, 48000
    f2 = (16 * 2 + 8) * canonical / frame_len      # 1250 Hz, band 2
    f_alias = canonical - (16 * 5 + 8) * canonical / frame_len  # 5250 Hz
    t = np.arange(int(round(1.024 * sr))) / sr
    sig = 700.0 * np.cos(2 * np.pi * f2 * t) + 3000.0 * np.cos(
        2 * np.pi * f_alias * t
    )

    def dom_bands(res):
        nf = len(res) // frame_len
        spec = np.abs(np.fft.rfft(res[: nf * frame_len].reshape(nf, frame_len), axis=1)) ** 2
        return spec[:, 1 : frame_len // 2 + 1].reshape(nf, 8, -1).sum(axis=2).argmax(axis=1)

    n_out = int(round(len(sig) * canonical / sr))
    grid = np.arange(n_out, dtype=np.float64) * (sr / canonical)
    naive = dom_bands(np.interp(grid, np.arange(len(sig), dtype=np.float64), sig))
    fixed = dom_bands(resample_to_rate(sig, sr, canonical))
    assert set(naive) == {5}, "naive decimation must fold 5.25 kHz onto band 5"
    assert set(fixed) == {2}, "anti-aliased path must keep real content dominant"


def test_resample_preserves_in_band_content_and_upsampling():
    """In-band tones keep their band through the FIR at both common
    source rates, and upsampling (no folding risk) stays filter-free
    identical to naive interpolation."""
    import numpy as np

    from mcm_problem_f_data_wrangling_spark.operators.audio import (
        resample_to_rate,
    )

    canonical, frame_len = 8000, 256
    for sr in (44100, 48000):
        for b in (0, 3, 7):
            f = (16 * b + 8) * canonical / frame_len
            t = np.arange(int(round(0.512 * sr))) / sr
            res = resample_to_rate(900.0 * np.cos(2 * np.pi * f * t), sr, canonical)
            nf = len(res) // frame_len
            spec = np.abs(np.fft.rfft(res[: nf * frame_len].reshape(nf, frame_len), axis=1)) ** 2
            bands = spec[:, 1 : frame_len // 2 + 1].reshape(nf, 8, -1).sum(axis=2)
            assert set(bands.argmax(axis=1)) == {b}
    up_sig = np.cos(2 * np.pi * 300.0 * np.arange(4000) / 4000.0)
    up = resample_to_rate(up_sig, 4000, 8000)
    up_naive = np.interp(np.arange(8000) * 0.5, np.arange(4000.0), up_sig)
    assert np.array_equal(up, up_naive)
