"""Sources (readers/writers) + multimodal binary plumbing."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mcm_problem_f_data_wrangling_spark.operators.multimodal import (
    attach_binary_metadata,
    decode_media,
    frame_sample_plan,
)
from mcm_problem_f_data_wrangling_spark.sources.readers import (
    find_col,
    normalize_columns,
    read_csv,
    read_tsv,
)
from mcm_problem_f_data_wrangling_spark.sources.writers import write_csv_single


@pytest.fixture(scope="module")
def tsv_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("tsv") / "ce.data.sample.txt"
    p.write_text(
        "series_id\t  year \tperiod\t value\n"
        "CES001\t2024\tM01\t12.5\n"
        "CES001\t2024\tM13\t99.9\n"
        "CES002\t2024\tM02\tgarbage\n"
    )
    return str(p)


def test_read_tsv_all_string_header_strip(spark, tsv_file):
    df = read_tsv(spark, tsv_file)
    assert df.columns == ["series_id", "year", "period", "value"]  # stripped
    assert all(t == "string" for _, t in df.dtypes)  # all-string load
    assert df.count() == 3


def test_find_col_alias_resolution(spark, tsv_file):
    df = read_tsv(spark, tsv_file)
    assert find_col(df, ["SERIES_ID", "sid"]) == "series_id"
    with pytest.raises(KeyError):
        find_col(df, ["naics_code"])


def test_normalize_columns_lower(spark):
    df = spark.createDataFrame([(1,)], ["  MiXeD Col  "])
    assert normalize_columns(df).columns == ["mixed col"]


def test_csv_roundtrip_single_file(spark, tmp_path):
    df = spark.createDataFrame(
        [("2024-01-01", 1.5), ("2024-02-01", 2.5)], ["date", "v"]
    )
    out = str(tmp_path / "out.csv")
    write_csv_single(df, out)
    assert os.path.isfile(out)
    back = read_csv(spark, out, date_cols=["date"])
    assert dict(back.dtypes)["date"] == "date"
    assert back.count() == 2


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, b"\x89PNG\r\n" + b"x" * 100, "image", "s3://x/1.png"),
        (2, b"RIFF" + b"y" * 500, "audio", "s3://x/2.wav"),
        (3, b"\x00\x00\x01\xba" + b"z" * 900, "video", "s3://x/3.mpg"),
    ]
    return spark.createDataFrame(rows, ["media_id", "payload", "media_type", "source_uri"])


def test_binary_metadata_jvm_side(media):
    out = attach_binary_metadata(media).collect()
    by_id = {r["media_id"]: r for r in out}
    assert by_id[1]["byte_len"] == 106
    assert by_id[1]["magic_hex"] == "89504e47"  # PNG magic
    assert by_id[2]["magic_hex"] == "52494646"  # RIFF
    assert len(by_id[3]["content_md5"]) == 32


def test_decode_stub_shapes(media):
    decoded = decode_media(media)
    rows = {r["media_id"]: r for r in decoded.collect()}
    assert rows[1]["n_frames"] == 1  # image
    assert rows[3]["n_frames"] > 1  # video
    assert 0.0 <= rows[2]["mean_luma"] <= 1.0
    # determinism: same payload → same features
    again = {r["media_id"]: r for r in decode_media(media).collect()}
    assert rows[1] == again[1]


def test_decode_batch_matches_scalar_stub(media):
    """The vectorized Arrow-batch decode must agree row-for-row with
    the scalar _fake_decode contract (the function a real decoder
    swaps in for) — guards the 'replace one function' promise."""
    from mcm_problem_f_data_wrangling_spark.operators.multimodal import _fake_decode

    inputs = {
        r["media_id"]: (bytes(r["payload"]), r["media_type"])
        for r in media.collect()
    }
    for r in decode_media(media).collect():
        payload, mtype = inputs[r["media_id"]]
        w, h, nf, luma = _fake_decode(payload, mtype)
        assert (r["width"], r["height"], r["n_frames"]) == (w, h, nf)
        assert abs(r["mean_luma"] - luma) < 1e-12
        assert r["byte_len"] == len(payload)


def test_decode_unknown_media_type_raises(spark):
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, b"xx", "hologram", "u")],
        ["media_id", "payload", "media_type", "source_uri"],
    )
    with _pytest.raises(Exception, match="no decoder for media_type"):
        decode_media(df).collect()


def test_frame_sample_plan(media):
    decoded = decode_media(media)
    plan = frame_sample_plan(decoded, every_n=50).collect()
    vids = {r["media_id"] for r in plan}
    assert vids <= {2, 3}
    idx = sorted(r["frame_idx"] for r in plan if r["media_id"] == 3)
    assert idx[0] == 0 and all(i % 50 == 0 for i in idx)


def test_whitespace_tsv_scan(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("ws") / "ws.txt"
    p.write_text(
        "series_id  year   period\n"
        "CES001     2024   M01\n"
        "CES002     2025   M02\n"
    )
    from mcm_problem_f_data_wrangling_spark.sources.readers import read_whitespace_tsv

    df = read_whitespace_tsv(spark, str(p), 3, ["series_id", "year", "period"])
    rows = {tuple(r) for r in df.collect()}
    assert rows == {("CES001", "2024", "M01"), ("CES002", "2025", "M02")}


def test_download_file_idempotent_skip(tmp_path_factory):
    """S1's skip-if-non-empty guard must not touch the network."""
    from mcm_problem_f_data_wrangling_spark.sources.readers import download_file

    d = tmp_path_factory.mktemp("dl")
    pre = d / "ce.data.0.ALLCESSeries"
    pre.write_text("cached")
    # unroutable base_url: any network attempt would raise
    out = download_file("ce.data.0.ALLCESSeries", str(d), "http://192.0.2.1/")
    assert out == str(pre)
    assert pre.read_text() == "cached"


def test_excel_sink_writes_valid_ooxml(spark, tmp_path_factory):
    """S6 writes a real multi-sheet workbook with or without openpyxl
    (the fallback is a stdlib OOXML writer).  Validated structurally:
    the package is a zip whose workbook XML names both sheets, and the
    sheet XML round-trips the header + typed cell values."""
    import xml.etree.ElementTree as ET
    import zipfile

    from mcm_problem_f_data_wrangling_spark.sources.writers import write_excel_sheets

    df1 = spark.createDataFrame([("a", 1.5), ("b<&>", 2.0)], ["career", "value"])
    df2 = spark.createDataFrame([(1, "x")], ["k", "s"])
    path = str(tmp_path_factory.mktemp("xlsx") / "out.xlsx")
    out = write_excel_sheets({"sheet_one": df1, "sheet_two": df2}, path)
    assert os.path.getsize(out) > 0
    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(out) as z:
        names = set(z.namelist())
        assert "[Content_Types].xml" in names and "xl/workbook.xml" in names
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        sheets = [s.get("name") for s in wb.iter(f"{ns}sheet")]
        assert sheets == ["sheet_one", "sheet_two"]
        s1 = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
        texts = [t.text for t in s1.iter(f"{ns}t")]
        assert "career" in texts and "b<&>" in texts  # escaping round-trips
        vals = [v.text for v in s1.iter(f"{ns}v")]
        assert "1.5" in vals and "2.0" in vals


def test_resize_plan_geometry(media):
    from mcm_problem_f_data_wrangling_spark.operators.multimodal import (
        decode_media,
        resize_plan,
    )

    out = resize_plan(decode_media(media)).collect()
    assert out
    for r in out:
        assert max(r["width"], r["height"]) <= 256
        assert r["width"] >= 1 and r["height"] >= 1
        if r["scale"] == 1.0:
            continue
        assert 0.0 < r["scale"] < 1.0  # only shrink, never upscale


def test_extract_features_normalized(media):
    from mcm_problem_f_data_wrangling_spark.operators.multimodal import (
        FEATURE_DIM,
        extract_features,
    )

    rows = extract_features(media).collect()
    assert rows
    for r in rows:
        assert len(r["embedding"]) == FEATURE_DIM
        assert abs(sum(r["embedding"]) - 1.0) < 1e-9  # L1-normalized


def test_read_jsonl_permissive_quarantines_bad_lines(spark, tmp_path):
    from mcm_problem_f_data_wrangling_spark.sources.readers import (
        read_jsonl_permissive,
    )

    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "good line"}\n'
        '{"doc_id": 2, "text": "also good"}\n'
        'not json at all {{{\n'
        '{"doc_id": "NOT_A_NUMBER", "text": "type mismatch"}\n'
    )
    df = read_jsonl_permissive(spark, str(p), "doc_id long, text string")
    clean = df.filter(F.col("_corrupt_record").isNull())
    quarantined = df.filter(F.col("_corrupt_record").isNotNull())
    assert {r["doc_id"] for r in clean.collect()} == {1, 2}
    bad = [r["_corrupt_record"] for r in quarantined.collect()]
    assert len(bad) == 2  # both the syntax error and the type mismatch
    assert any("not json" in b for b in bad)


def test_schema_evolution_merge_schema(spark, tmp_path):
    """Lake reality: files written before a column existed must coexist
    with newer files. mergeSchema unifies; old rows read NULL."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(path + "/batch1")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.parquet(path + "/batch2")
    df = spark.read.option("mergeSchema", "true").parquet(path + "/batch1", path + "/batch2")
    assert set(df.columns) == {"id", "v", "score"}
    rows = {r["id"]: r["score"] for r in df.collect()}
    assert rows[1] is None and rows[2] == 9.5


def test_phash_neardup_finds_identical_payloads(spark):
    """md5-derived 64-bit stand-in: identical payloads collide at
    Hamming 0; distinct payloads land far apart (>> max_hamming) with
    overwhelming probability, so only the planted duplicate pair
    surfaces."""
    from mcm_problem_f_data_wrangling_spark.operators.multimodal import (
        phash_neardup_pairs,
    )

    rows = [
        (0, bytearray(b"cat picture bytes")),
        (1, bytearray(b"dog picture bytes")),
        (2, bytearray(b"cat picture bytes")),  # exact dup of 0
        (3, bytearray(b"sunset picture")),
    ]
    df = spark.createDataFrame(rows, "media_id INT, payload BINARY")
    pairs = phash_neardup_pairs(df, max_hamming=3).collect()
    assert [(r["media_id_1"], r["media_id_2"], r["hamming"]) for r in pairs] == [
        (0, 2, 0)
    ]


# --- real stdlib PNG/WAV codecs -------------------------------------------


def test_png_roundtrip_all_filters_gray_and_rgb():
    """encode_png cycles scanline filters 0-4 (height >= 5 exercises
    every filter); decode_png must recover the exact sample stream —
    inflate, CRC, and all five un-filter paths are load-bearing."""
    from mcm_problem_f_data_wrangling_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    for ch in (1, 3):
        w, h = 6, 8
        samples = bytes(((11 * i + 5) % 256) for i in range(w * h * ch))
        w2, h2, ch2, flat = decode_png(encode_png(samples, w, h, ch))
        assert (w2, h2, ch2) == (w, h, ch)
        assert flat == samples


def test_png_crc_corruption_detected():
    from mcm_problem_f_data_wrangling_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    p = bytearray(encode_png(bytes(9), 3, 3, 1))
    p[20] ^= 0xFF  # flip a bit inside IHDR
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(p))
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"not a png at all")


def test_wav_roundtrip_and_guards():
    from mcm_problem_f_data_wrangling_spark.operators.multimodal import (
        decode_wav,
        encode_wav_pcm16,
    )

    s = [((7 * i) % 2001) - 1000 for i in range(33)]
    sr, ch, n, got = decode_wav(encode_wav_pcm16(s, 44100))
    assert (sr, ch, n) == (44100, 1, 33) and got == s
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"RIFFxxxxNOPE")


def test_decode_media_real_png_wav_and_stub_in_one_batch(spark):
    """One Arrow batch mixing a real PNG, a real WAV, and a stub
    payload: per-row dispatch must keep columns aligned — geometry
    from the real decode, audio columns NULL on image rows and vice
    versa, stub laws intact on the fallback row."""
    from mcm_problem_f_data_wrangling_spark.operators.multimodal import (
        encode_png,
        encode_wav_pcm16,
    )

    px = bytes(((i * 3) % 256) for i in range(5 * 4))
    wv = [100, -100, 250, -250]
    rows = [
        (10, encode_png(px, 5, 4, 1), "image", "planted://png"),
        (11, encode_wav_pcm16(wv, 8000), "audio", "planted://wav"),
        (12, b"arbitrary bytes \x01\x02", "video", "planted://stub"),
    ]
    df = spark.createDataFrame(rows, ["media_id", "payload", "media_type", "source_uri"])
    got = {r["media_id"]: r for r in decode_media(df).collect()}
    png = got[10]
    assert (png["width"], png["height"], png["n_frames"]) == (5, 4, 1)
    assert png["mean_luma"] == pytest.approx(sum(px) / len(px) / 255.0)
    assert png["sample_rate"] is None and png["n_samples"] is None
    assert png["mean_sample"] is None
    wav = got[11]
    assert (wav["sample_rate"], wav["n_samples"]) == (8000, 4)
    assert wav["mean_sample"] == pytest.approx(sum(wv) / len(wv))
    assert wav["width"] is None and wav["height"] is None
    assert wav["mean_luma"] is None
    stub = got[12]
    h = sum(rows[2][1][:64])
    assert stub["width"] == 64 + h % 1024 and stub["n_frames"] == 1 + h % 300


def test_decode_media_jpeg_real_mp4_fail_fast(spark):
    """JPEG now decodes for real through operators/jpeg.py (round 8);
    a corrupt JPEG surfaces its clean decode error; a valid MP4 fills
    REAL container geometry (operators/mp4.py) with mean_luma NULL
    (sample decode stays env-blocked — H.264 needs libav); a corrupt
    MP4 surfaces the same clean ValueError class."""
    import numpy as np

    from mcm_problem_f_data_wrangling_spark.operators.jpeg import (
        encode_jpeg_gray,
    )

    img = np.full((16, 16), 200, dtype=np.uint8)
    jpeg = spark.createDataFrame(
        [(1, bytearray(encode_jpeg_gray(img.tobytes(), 16, 16)), "image", "x")],
        ["media_id", "payload", "media_type", "source_uri"],
    )
    got = decode_media(jpeg).collect()[0]
    assert (got["width"], got["height"], got["n_frames"]) == (16, 16, 1)
    # constant 200 → DC-only → decoded constant 128 + 2*36 = 200
    assert got["mean_luma"] == pytest.approx(200 / 255.0)
    corrupt = spark.createDataFrame(
        [(1, b"\xff\xd8\xff\xe0" + b"j" * 40, "image", "x")],
        ["media_id", "payload", "media_type", "source_uri"],
    )
    with pytest.raises(Exception, match="JPEG"):
        decode_media(corrupt).collect()
    from mcm_problem_f_data_wrangling_spark.operators.mp4 import (
        encode_mp4_stub_video,
    )

    mp4 = spark.createDataFrame(
        [(1, bytearray(encode_mp4_stub_video(320, 240, 48)), "video", "x")],
        ["media_id", "payload", "media_type", "source_uri"],
    )
    got = decode_media(mp4).collect()[0]
    assert (got["width"], got["height"], got["n_frames"]) == (320, 240, 48)
    assert got["mean_luma"] is None  # sample decode is env-blocked
    bad_mp4 = spark.createDataFrame(
        [(1, b"\x00\x00\x00\x18ftypmp42" + b"m" * 40, "video", "x")],
        ["media_id", "payload", "media_type", "source_uri"],
    )
    with pytest.raises(Exception, match="MP4"):
        decode_media(bad_mp4).collect()


def test_png_palette_roundtrip_and_guards():
    """Color type 3 (palette): indices expand through PLTE to RGB, so
    decode returns channels=3 with luma semantics matching truecolor;
    out-of-range indices and a missing PLTE are corrupt data."""
    from mcm_problem_f_data_wrangling_spark.operators.multimodal import (
        decode_png,
        encode_png_palette,
    )

    pal = [(255, 0, 0), (0, 128, 0), (0, 0, 255), (10, 20, 30)]
    w, h = 5, 7
    idx = bytes((3 * i + 1) % len(pal) for i in range(w * h))
    w2, h2, ch, flat = decode_png(encode_png_palette(idx, w, h, pal))
    assert (w2, h2, ch) == (w, h, 3)
    want = b"".join(bytes(pal[i]) for i in idx)
    assert flat == want
    with pytest.raises(ValueError, match="palette"):
        encode_png_palette(bytes([9]), 1, 1, pal)


def test_decode_media_palette_png_through_arrow_stage(spark):
    """A palette PNG through the mapInPandas decode: geometry + mean
    luma over the EXPANDED RGB samples."""
    from mcm_problem_f_data_wrangling_spark.operators.multimodal import (
        encode_png_palette,
    )

    pal = [(0, 0, 0), (30, 60, 90)]
    idx = bytes([0, 1, 1, 0, 1, 0])  # 3x2
    df = spark.createDataFrame(
        [(1, encode_png_palette(idx, 3, 2, pal), "image", "planted://plte")],
        ["media_id", "payload", "media_type", "source_uri"],
    )
    got = decode_media(df).collect()[0]
    assert (got["width"], got["height"], got["n_frames"]) == (3, 2, 1)
    samples = [c for i in idx for c in pal[i]]
    assert got["mean_luma"] == pytest.approx(sum(samples) / len(samples) / 255.0)


def test_wav_stereo_interleaved_roundtrip():
    """Two-channel PCM: interleaved samples survive the round trip and
    n_samples counts individual samples across channels."""
    from mcm_problem_f_data_wrangling_spark.operators.multimodal import (
        decode_wav,
        encode_wav_pcm16,
    )

    s = [((13 * i) % 2001) - 1000 for i in range(40)]  # 20 frames x 2ch
    sr, ch, n, got = decode_wav(encode_wav_pcm16(s, 16000, channels=2))
    assert (sr, ch, n) == (16000, 2, 40) and got == s


# --- real DCT pHash (round 8) ----------------------------------------------


def _planted_phash_images():
    import numpy as np

    plants = {}
    for mid in range(30):
        rs = np.random.RandomState(mid)
        base = rs.randint(0, 256, size=(8, 8)).astype(np.uint8)
        img = np.kron(base, np.ones((8, 8), dtype=np.uint8))
        tw = img.copy()
        tw[mid % 64, (3 * mid) % 64] ^= 0x10
        plants[mid] = (img, tw)
    return plants


def test_phash_dct_twin_within_3_distinct_beyond_20():
    """The perceptual-hash contract the x_multimodal_phash gate pins:
    a one-pixel perturbation stays within Hamming 3 of the original;
    structurally distinct images land beyond Hamming 20 (so the
    max_hamming=3 banding can never pair them)."""
    from mcm_problem_f_data_wrangling_spark.operators.multimodal import (
        encode_png,
        phash64_png,
    )

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    hashes = {}
    for mid, (img, tw) in _planted_phash_images().items():
        hashes[mid] = phash64_png(encode_png(img.tobytes(), 64, 64, 1))
        hashes[1000 + mid] = phash64_png(encode_png(tw.tobytes(), 64, 64, 1))
    twin = [ham(hashes[m], hashes[1000 + m]) for m in range(30)]
    assert max(twin) <= 3
    cross = [
        min(
            ham(hashes[i], hashes[j]),
            ham(hashes[i], hashes[1000 + j]),
            ham(hashes[1000 + i], hashes[j]),
            ham(hashes[1000 + i], hashes[1000 + j]),
        )
        for i in range(30)
        for j in range(i + 1, 30)
    ]
    assert min(cross) >= 20  # measured exactly 20 on one pair


def test_phash_rgb_path_and_fallback_matches_jvm(spark):
    """RGB PNGs hash through the rec601 grayscale path; undecodable
    payloads take the md5 fallback: the first 64 bits of the payload's
    md5 as a signed BIGINT."""
    import hashlib

    from mcm_problem_f_data_wrangling_spark.operators.multimodal import (
        compute_phash,
        encode_png,
        phash64_png,
    )

    rgb = bytes(((5 * i + 3) % 256) for i in range(16 * 12 * 3))
    png = encode_png(rgb, 16, 12, 3)
    raw = b"not an image, just bytes \x00\x01\x02"
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(raw))], "media_id LONG, payload BINARY"
    )
    got = {r["media_id"]: r for r in compute_phash(df).collect()}
    assert got[1]["phash_kind"] == "dct"
    assert got[1]["phash"] == phash64_png(png)
    assert got[2]["phash_kind"] == "md5"
    md5 = int.from_bytes(hashlib.md5(raw).digest()[:8], "big", signed=True)
    assert got[2]["phash"] == md5


def test_phash_neardup_pairs_uses_dct_for_png(spark):
    """End-to-end: a PNG and its one-pixel twin pair up through the
    Manku banding even though their payload BYTES differ (the md5
    stand-in of earlier rounds could never find this pair)."""
    from mcm_problem_f_data_wrangling_spark.operators.multimodal import (
        encode_png,
        phash_neardup_pairs,
    )

    plants = _planted_phash_images()
    img, tw = plants[7]
    rows = [
        (1, bytearray(encode_png(img.tobytes(), 64, 64, 1))),
        (2, bytearray(encode_png(tw.tobytes(), 64, 64, 1))),
        (3, bytearray(encode_png(plants[9][0].tobytes(), 64, 64, 1))),
    ]
    df = spark.createDataFrame(rows, "media_id INT, payload BINARY")
    pairs = phash_neardup_pairs(df, max_hamming=3).collect()
    assert [(r["media_id_1"], r["media_id_2"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["hamming"] <= 3


def test_decode_media_declared_type_gates_magic(spark):
    """ADVICE r7: content that happens to carry a codec's magic bytes
    must not route through that codec unless the DECLARED media_type
    matches — a 'video' payload with RIFF/WAVE bytes and an 'image'
    payload with 'ftyp' at offset 4 both fall back to the stub."""
    from mcm_problem_f_data_wrangling_spark.operators.multimodal import (
        encode_wav_pcm16,
    )

    wav_bytes = encode_wav_pcm16([1, 2, 3, 4], 8000)
    fake_mp4_text = b"\x00\x00\x00\x18ftyp looks like a box but is text"
    rows = [
        (1, bytearray(wav_bytes), "video", "x"),
        (2, bytearray(fake_mp4_text), "image", "x"),
        (3, bytearray(b"\xff\xd8\xff jpeg magic in audio"), "audio", "x"),
    ]
    df = spark.createDataFrame(rows, ["media_id", "payload", "media_type", "source_uri"])
    got = {r["media_id"]: r for r in decode_media(df).collect()}
    for mid, payload in ((1, wav_bytes), (2, fake_mp4_text)):
        h = sum(payload[:64])
        assert got[mid]["width"] == 64 + h % 1024  # stub law, no codec
    assert got[3]["sample_rate"] is None  # no WAV decode on audio+JPEG bytes


def test_truncated_png_wav_raise_clean_valueerror():
    """ADVICE r7: truncated chunk bodies surface as ValueError (the
    validation error class), never struct.error/zlib.error."""
    from mcm_problem_f_data_wrangling_spark.operators.multimodal import (
        decode_png,
        decode_wav,
        encode_png,
        encode_wav_pcm16,
    )

    png = encode_png(bytes(12), 4, 3, 1)
    with pytest.raises(ValueError, match="truncated PNG"):
        decode_png(png[:20])
    wav = encode_wav_pcm16([5, 6, 7], 8000)
    with pytest.raises(ValueError, match="truncated WAV"):
        decode_wav(wav[:30])  # cuts inside the fmt chunk body
    # fmt chunk declared shorter than the 16-byte PCM header
    import struct

    short_fmt = (
        b"RIFF" + struct.pack("<I", 24) + b"WAVE"
        + b"fmt " + struct.pack("<I", 4) + b"\x01\x00\x01\x00"
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(ValueError, match="truncated WAV fmt"):
        decode_wav(short_fmt)


def test_video_phash_frames_demux_decode_and_skips(spark):
    """Per-frame pHash rows come only from decodable MJPEG MP4s: one
    row per demuxed frame with the video's frame count attached;
    NULL payloads, stub-codec MP4s and non-MP4 bytes emit nothing."""
    import numpy as np

    from mcm_problem_f_data_wrangling_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )
    from mcm_problem_f_data_wrangling_spark.operators.mp4 import (
        encode_mp4_mjpeg_video,
        encode_mp4_stub_video,
        parse_mp4_samples,
    )
    from mcm_problem_f_data_wrangling_spark.operators.multimodal import (
        _phash64_decoded,
        video_phash_frames,
    )

    def frame(seed):
        rs = np.random.RandomState(seed)
        img = np.kron(
            rs.randint(0, 256, size=(8, 8)).astype(np.uint8),
            np.ones((8, 8), dtype=np.uint8),
        )
        return encode_jpeg_gray(img.tobytes(), 64, 64)

    vid = encode_mp4_mjpeg_video([frame(1), frame(2), frame(3)], 64, 64)
    rows = [
        (0, bytearray(vid)),
        (1, None),
        (2, bytearray(encode_mp4_stub_video(32, 32, 4))),
        (3, bytearray(b"not an mp4 at all, just bytes")),
    ]
    df = spark.createDataFrame(rows, "media_id LONG, payload BINARY")
    got = video_phash_frames(df).orderBy("frame_idx").collect()
    assert [(r["media_id"], r["frame_idx"], r["n_frames"]) for r in got] == [
        (0, 0, 3),
        (0, 1, 3),
        (0, 2, 3),
    ]
    # hashes equal the driver-side reference chain on the same samples
    _, samples = parse_mp4_samples(vid)
    want = [_phash64_decoded(decode_jpeg(s)) for s in samples]
    assert [r["phash"] for r in got] == want


def test_video_phash_neardup_aligned_verify(spark):
    """The frame-0 banding generates candidates, but ONLY the multi-
    frame verify decides: a twin (every frame within tolerance)
    pairs; a decoy sharing frame 0 byte-for-byte but diverging after
    is rejected; a truncated copy is rejected by the count check."""
    import numpy as np

    from mcm_problem_f_data_wrangling_spark.operators.jpeg import (
        encode_jpeg_gray,
    )
    from mcm_problem_f_data_wrangling_spark.operators.mp4 import (
        encode_mp4_mjpeg_video,
    )
    from mcm_problem_f_data_wrangling_spark.operators.multimodal import (
        video_phash_neardup,
    )

    def img(seed):
        rs = np.random.RandomState(seed)
        return np.kron(
            rs.randint(0, 256, size=(8, 8)).astype(np.uint8),
            np.ones((8, 8), dtype=np.uint8),
        )

    def enc(a):
        return encode_jpeg_gray(a.tobytes(), 64, 64)

    base = [img(7000 + f) for f in range(3)]
    twin = []
    for f, a in enumerate(base):
        t = a.astype(np.int16).copy()
        t[0:8, (5 * f) % 8 * 8 : ((5 * f) % 8 + 1) * 8] += 16
        twin.append(np.clip(t, 0, 255).astype(np.uint8))
    rows = [
        (0, bytearray(encode_mp4_mjpeg_video([enc(a) for a in base], 64, 64))),
        (1, bytearray(encode_mp4_mjpeg_video([enc(a) for a in twin], 64, 64))),
        # decoy: frame 0 identical, frames 1-2 unrelated noise
        (2, bytearray(encode_mp4_mjpeg_video(
            [enc(base[0]), enc(img(991)), enc(img(992))], 64, 64))),
        # truncated copy: base frames 0-1 only
        (3, bytearray(encode_mp4_mjpeg_video(
            [enc(a) for a in base[:2]], 64, 64))),
    ]
    df = spark.createDataFrame(rows, "media_id LONG, payload BINARY")
    got = video_phash_neardup(df, max_hamming=3).collect()
    assert [(r["id_a"], r["id_b"], r["n_frames"]) for r in got] == [(0, 1, 3)]
    assert got[0]["max_frame_hamming"] <= 3


def test_video_clip_containment_offsets_and_rejections(spark):
    """A 2-frame clip cut at offset 1 from a 4-frame base surfaces
    with that offset; a bag-of-frames decoy (same frames, swapped
    order) and a clip sharing only ONE frame are rejected by the
    aligned per-frame verify."""
    import numpy as np

    from mcm_problem_f_data_wrangling_spark.operators.jpeg import (
        encode_jpeg_gray,
    )
    from mcm_problem_f_data_wrangling_spark.operators.mp4 import (
        encode_mp4_mjpeg_video,
    )
    from mcm_problem_f_data_wrangling_spark.operators.multimodal import (
        video_clip_containment,
    )

    def img(seed):
        rs = np.random.RandomState(seed)
        return np.kron(
            rs.randint(0, 256, size=(8, 8)).astype(np.uint8),
            np.ones((8, 8), dtype=np.uint8),
        )

    def enc(a):
        return encode_jpeg_gray(a.tobytes(), 64, 64)

    base = [img(7000 + f) for f in range(4)]
    rows = [
        (0, bytearray(encode_mp4_mjpeg_video([enc(a) for a in base], 64, 64))),
        # exact 2-frame cut at offset 1
        (1, bytearray(encode_mp4_mjpeg_video(
            [enc(base[1]), enc(base[2])], 64, 64))),
        # swapped order of the same two frames: positional alignment
        # exists at the voted offsets but some aligned pair mismatches
        (2, bytearray(encode_mp4_mjpeg_video(
            [enc(base[2]), enc(base[1])], 64, 64))),
        # shares only frame 0 of the base, then diverges
        (3, bytearray(encode_mp4_mjpeg_video(
            [enc(base[0]), enc(img(991))], 64, 64))),
    ]
    df = spark.createDataFrame(rows, "media_id LONG, payload BINARY")
    got = {
        (r["id_a"], r["id_b"]): (r["offset"], r["n_frames_matched"])
        for r in video_clip_containment(df, max_hamming=3).collect()
    }
    assert got[(0, 1)] == (1, 2)
    assert (0, 2) not in got and (0, 3) not in got
    # the two clips share both frames but in swapped order => rejected
    assert (1, 2) not in got
