"""Multimodal plumbing: binary payload columns, metadata, mapInPandas
decode/featurize/frame-sample with the deterministic fake decoder."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
    attach_media_metadata,
    decode_and_featurize,
    sample_video_frames,
)


def _media(spark):
    rows = [
        ("m1", bytearray(b"payload-bytes-one")),
        ("m2", bytearray(b"payload-bytes-two")),
        ("m3", bytearray(b"payload-bytes-one")),  # same content as m1
    ]
    return spark.createDataFrame(rows, "media_id string, payload binary")


def test_metadata(spark):
    out = attach_media_metadata(_media(spark)).collect()
    by_id = {r["media_id"]: r for r in out}
    assert by_id["m1"]["n_bytes"] == len(b"payload-bytes-one")
    assert by_id["m1"]["content_md5"] == by_id["m3"]["content_md5"]
    assert by_id["m1"]["content_md5"] != by_id["m2"]["content_md5"]
    assert by_id["m1"]["modality"] == "image"


def test_decode_featurize_deterministic(spark):
    out = decode_and_featurize(_media(spark), height=32, width=32).collect()
    by_id = {r["media_id"]: r for r in out}
    assert len(out) == 3
    for r in out:
        assert (r["height"], r["width"]) == (32, 32)
        assert len(r["feature"]) == 64
        assert len(r["channel_means"]) == 3
        assert 0 <= r["mean_intensity"] <= 255
    # identical payload -> identical tensor -> identical features
    assert by_id["m1"]["feature"] == by_id["m3"]["feature"]
    assert by_id["m1"]["feature"] != by_id["m2"]["feature"]


def test_decode_featurize_under_8x8_has_null_feature(spark):
    """The 64-dim feature pools an 8x8 cell grid; a smaller output grid
    would leave every cell empty, so the feature is null, not 64 NaNs."""
    out = decode_and_featurize(_media(spark), height=4, width=4).collect()
    assert len(out) == 3
    for r in out:
        assert (r["height"], r["width"]) == (4, 4)
        assert r["feature"] is None
        assert len(r["channel_means"]) == 3


def test_real_decoder_dispatches_by_magic(spark):
    """decoder='real' decodes each payload with the codec its magic
    bytes name — PNG, JPEG, GIF and BMP side by side in one batch — and
    a payload of unknown magic fails loudly instead of featurizing."""
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        decode_image,
        encode_bmp,
        encode_gif,
        encode_jpeg,
        encode_png,
        nn_resize,
    )

    rng = np.random.RandomState(4)
    idx = rng.randint(0, 6, (8, 8))
    pal = rng.randint(0, 256, (6, 3)).astype(np.uint8)
    coefs = np.zeros((1, 1, 8, 8), np.int64)
    coefs[0, 0, :2, :2] = rng.randint(-20, 21, (2, 2))
    payloads = {
        "png": encode_png(pal[idx]),
        "jpeg": encode_jpeg([coefs], np.full((8, 8), 8), 8, 8),
        "gif": encode_gif([idx], pal),
        "bmp": encode_bmp(pal[idx]),
    }
    df = spark.createDataFrame(
        [(k, bytearray(v)) for k, v in payloads.items()],
        "media_id string, payload binary",
    )
    got = {r.media_id: r.intensity_sum for r in decode_and_featurize(
        df, height=4, width=4, decoder="real").collect()}
    assert got == {
        k: int(nn_resize(decode_image(v), 4, 4).sum())
        for k, v in payloads.items()
    }
    assert got["png"] == got["gif"] == got["bmp"] != got["jpeg"]
    with pytest.raises(Exception, match="no decoder for media format"):
        decode_and_featurize(_media(spark), decoder="real").collect()
    with pytest.raises(ValueError, match="unknown decoder"):
        decode_and_featurize(_media(spark), decoder="png")


def test_frame_sampling(spark):
    out = sample_video_frames(
        _media(spark).filter("media_id='m1'"), n_frames=4
    ).collect()
    assert len(out) == 4
    assert [r["frame_idx"] for r in out] == [0, 1, 2, 3]
    # frames differ from each other
    assert len({r["frame_md5"] for r in out}) == 4


def test_metadata_predicate_before_decode(spark):
    """Metadata-only filters run JVM-side before the decode stage — the
    pattern that lets Catalyst prune work at the scan."""
    df = attach_media_metadata(_media(spark))
    small = df.filter(F.col("n_bytes") > 0).filter(F.col("modality") == "image")
    out = decode_and_featurize(small).collect()
    assert len(out) == 3


def test_parse_jpeg_header_segment_walk(spark):
    """JPEG SOF parsing is a segment WALK, not a byte search: the decoy
    'FFC0' inside the APP1 payload must not be mistaken for the frame
    header; truncated/SOS-only/non-JPEG payloads survive as
    is_jpeg=false + NULLs."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        parse_jpeg_header,
    )

    app0 = "FFE000104A46494600010100000100010000"
    decoy = "FFE10008FFC0DEADBEEF"  # payload contains a fake SOF marker
    sof = "FFC00011" + "08" + "0140" + "00F0" + "03011100021101031101"
    good = bytes.fromhex("FFD8" + app0 + decoy + sof)
    no_decoy = bytes.fromhex("FFD8" + app0 + sof)
    truncated = bytes.fromhex("FFD8" + app0 + decoy + "FFC00011" + "08")
    sos_first = bytes.fromhex("FFD8" + "FFDA0008FFC0DEADBEEF")  # SOS, no SOF
    rows = [
        (1, good), (2, no_decoy), (3, truncated), (4, sos_first),
        (5, b"plain text"), (6, None),
    ]
    df = spark.createDataFrame(rows, "id int, payload binary")
    got = {r.id: (r.is_jpeg, r.width, r.height, r.precision, r.n_components)
           for r in parse_jpeg_header(df).collect()}
    assert got[1] == (True, 0x00F0, 0x0140, 8, 3)   # walk skipped the decoy
    assert got[2] == (True, 0x00F0, 0x0140, 8, 3)
    assert got[3][0] is False                        # SOF found but truncated
    assert got[4][0] is False                        # SOS payload decoy ignored
    assert got[5] == (False, None, None, None, None)
    assert got[6] == (False, None, None, None, None)


def test_parse_wav_header_riff_chunk_walk(spark):
    """WAV metadata comes from a little-endian RIFF chunk walk: the
    decoy 'fmt ' bytes inside a LIST chunk payload must not be mistaken
    for the fmt chunk; odd-sized chunk bodies hop with the RIFF even
    pad; non-RIFF/truncated payloads survive as is_wav=false + NULLs."""
    import struct

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        parse_wav_header,
    )

    def fmt_chunk(ch, rate, bits):
        body = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * bits // 8,
                           ch * bits // 8, bits)
        return b"fmt " + struct.pack("<I", len(body)) + body

    def riff(*chunks):
        body = b"WAVE" + b"".join(chunks)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    decoy = b"LIST" + struct.pack("<I", 6) + b"fmt \xaa\xbb"
    odd_chunk = b"JUNK" + struct.pack("<I", 3) + b"abc\x00"  # padded to even
    rows = [
        (1, riff(decoy, fmt_chunk(2, 44100, 16))),
        (2, riff(fmt_chunk(1, 8000, 8))),
        (3, riff(odd_chunk, fmt_chunk(2, 48000, 24))),
        (4, riff(decoy)),          # no fmt chunk at all
        (5, b"RIFFxxxxAVI LIST"),  # RIFF but not WAVE
        (6, b"plain text"),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "id int, payload binary")
    got = {r.id: (r.is_wav, r.audio_format, r.channels, r.sample_rate,
                  r.bits_per_sample)
           for r in parse_wav_header(df).collect()}
    assert got[1] == (True, 1, 2, 44100, 16)   # walked past the decoy
    assert got[2] == (True, 1, 1, 8000, 8)
    assert got[3] == (True, 1, 2, 48000, 24)   # odd-size pad respected
    assert got[4][0] is False
    assert got[5][0] is False
    assert got[6] == (False, None, None, None, None)
    assert got[7] == (False, None, None, None, None)


def test_decode_png_roundtrip_all_filters():
    """REAL PNG decode (stdlib zlib, r10): encode known pixels forcing
    every scanline filter type (None/Sub/Up/Average/Paeth), decode, and
    require EXACT pixel recovery — plus gray/gray+alpha/RGBA channel
    normalization to RGB."""
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(5, 4, 3), dtype=np.uint8)
    for filters in ([0] * 5, [1] * 5, [2] * 5, [3] * 5, [4] * 5,
                    [0, 1, 2, 3, 4]):
        got = decode_png(encode_png(img, color_type=2, filters=filters))
        assert np.array_equal(got, img), filters
    # gray -> replicated RGB
    g = rng.randint(0, 256, size=(3, 3, 1), dtype=np.uint8)
    got = decode_png(encode_png(g, color_type=0, filters=[4, 3, 1]))
    assert np.array_equal(got, np.repeat(g, 3, axis=2))
    # RGBA -> alpha dropped
    a = rng.randint(0, 256, size=(2, 2, 4), dtype=np.uint8)
    got = decode_png(encode_png(a, color_type=6, filters=[2, 4]))
    assert np.array_equal(got, a[:, :, :3])
    # non-PNG fails loudly
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_png(b"not a png")


def test_decode_png_16bit_high_byte_reduction():
    """16-bit PNG path (r11, VERDICT r10 #7): byte-doubled filter
    arithmetic (bpp = 2·channels), big-endian sample order, and the
    high-byte 16→8 reduction. The low byte is deliberate junk so a
    wrong byte order or low-byte pick changes the output; every filter
    type is exercised at depth 16. A stream RELABELED as interlaced
    (without re-splitting into passes) must fail loudly, not decode to
    silently shuffled pixels."""
    import numpy as np
    import pytest as _pytest

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(11)
    hi = rng.randint(0, 256, size=(6, 5, 3), dtype=np.uint16)
    img16 = (hi << 8) | ((hi * 7 + 3) % 256)
    for filters in ([0] * 6, [1] * 6, [2] * 6, [3] * 6, [4] * 6,
                    [3, 4, 0, 1, 2, 4]):
        got = decode_png(encode_png(img16, 2, filters, depth=16))
        assert np.array_equal(got, hi.astype(np.uint8)), filters
    # 16-bit gray+alpha: replicate gray, drop alpha — via high bytes
    ga = (rng.randint(0, 256, size=(3, 4, 2), dtype=np.uint16) << 8) | 0x5A
    got = decode_png(encode_png(ga, 4, [4, 2, 1], depth=16))
    assert np.array_equal(
        got, np.repeat((ga[:, :, :1] >> 8).astype(np.uint8), 3, axis=2)
    )
    # a NON-interlaced stream relabeled Adam7 (r13: interlace now
    # decodes for real) has too few bytes for the seven per-pass
    # filter-type prefixes — the decoder must reject it as truncated,
    # never emit silently shuffled pixels
    import struct as _struct

    raw = bytearray(encode_png(hi.astype(np.uint8), 2))
    # IHDR data starts at offset 16; interlace byte is the 13th data byte
    raw[16 + 12] = 1
    # fix the IHDR CRC so the failure is about the stream, not corruption
    import zlib as _zlib

    crc = _zlib.crc32(bytes(raw[12:29])) & 0xFFFFFFFF
    raw[29:33] = _struct.pack(">I", crc)
    with _pytest.raises(ValueError, match="truncated|invalid PNG filter"):
        decode_png(bytes(raw))


def test_decode_and_featurize_png_real_pixels(spark):
    """decoder='real' runs the REAL decode inside mapInPandas: a solid-
    color PNG must produce exactly-known intensity sums after the
    nearest-neighbor resize (no interpolation: NN preserves the solid
    value)."""
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        decode_and_featurize,
        encode_png,
    )

    solid = np.full((10, 7, 3), 200, dtype=np.uint8)
    grad = np.tile(
        np.arange(8, dtype=np.uint8)[None, :, None] * 30, (6, 1, 3)
    )
    df = spark.createDataFrame(
        [("solid", bytearray(encode_png(solid))),
         ("grad", bytearray(encode_png(grad)))],
        "media_id string, payload binary",
    )
    got = {r.media_id: r for r in
           decode_and_featurize(df, height=4, width=4, decoder="real").collect()}
    assert got["solid"].intensity_sum == 200 * 4 * 4 * 3
    assert got["solid"].height == 4 and got["solid"].width == 4
    # gradient: NN resize picks columns floor(x*8/4) = 0,2,4,6
    expect = sum(c * 30 for c in (0, 2, 4, 6)) * 4 * 3
    assert got["grad"].intensity_sum == expect


def test_decode_wav_and_audio_features(spark):
    """REAL WAV decode (stdlib wave, r10): a generated PCM16 stereo file
    decodes to the exact integer mono mixdown; audio_features reports
    exact duration/sumsq/zero-crossings and survives undecodable rows as
    is_decoded=false."""
    import io
    import struct
    import wave

    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        audio_features,
        decode_wav,
    )

    def make_wav(samples, ch=1, rate=8000):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(ch)
            wf.setsampwidth(2)
            wf.setframerate(rate)
            wf.writeframes(b"".join(struct.pack("<h", s) for s in samples))
        return buf.getvalue()

    # stereo: interleaved L/R — mixdown = trunc-toward-zero mean
    stereo = make_wav([100, 200, -301, 100, 0, -5], ch=2)
    x, rate = decode_wav(stereo)
    assert rate == 8000 and x.tolist() == [150, -100, -2]

    mono = make_wav([0, 1000, -1000, 1000, 0, -2000], rate=4000)
    df = spark.createDataFrame(
        [("a", bytearray(mono)), ("bad", bytearray(b"not audio"))],
        "media_id string, payload binary",
    )
    got = {r.media_id: r for r in audio_features(df).collect()}
    a = got["a"]
    assert (a.is_decoded, a.sample_rate, a.n_samples) == (True, 4000, 6)
    assert a.duration_ms == 6 * 1000 // 4000
    assert a.sumsq == sum(v * v for v in [0, 1000, -1000, 1000, 0, -2000])
    # sign changes: 0+,1000+,-1000-,1000+,0+,-2000- -> crossings at 3 spots
    assert a.zero_crossings == 3
    assert got["bad"].is_decoded is False and got["bad"].sumsq is None


def test_decode_jpeg_baseline_roundtrip():
    """REAL baseline JPEG decode (r11): encode known QUANTIZED
    coefficients with the standard Annex K tables and require exact
    coefficient-level recovery — DC prediction with negative diffs,
    run-length AC incl. ZRL and EOB, byte stuffing, dequant, float64
    IDCT, and the JFIF color transform all on the path. Expected pixels
    are computed independently from the same coefficients."""
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        _IDCT_M,
        decode_jpeg,
        encode_jpeg,
    )

    q = np.full((8, 8), 16, dtype=np.int64)

    def plane(c):
        by, bx = c.shape[:2]
        out = np.zeros((by * 8, bx * 8))
        for y in range(by):
            for x in range(bx):
                out[y*8:(y+1)*8, x*8:(x+1)*8] = (
                    _IDCT_M.T @ (c[y, x] * q).astype(float) @ _IDCT_M
                )
        return out

    rng = np.random.RandomState(3)
    # grayscale with sparse AC (runs > 16 force ZRL; tails force EOB)
    cg = np.zeros((3, 2, 8, 8), dtype=np.int64)
    mask = rng.rand(3, 2, 8, 8) < 0.15
    cg[mask] = rng.randint(-30, 31, mask.sum())
    cg[:, :, 0, 0] = rng.randint(-100, 101, (3, 2))
    got = decode_jpeg(encode_jpeg([cg], q, 24, 16))
    g = np.clip(np.floor(plane(cg) + 128.0 + 0.5), 0, 255).astype(np.uint8)
    assert np.array_equal(got, np.repeat(g[:, :, None], 3, axis=2))
    # 3-component 4:4:4 color
    cy = np.zeros((2, 2, 8, 8), dtype=np.int64)
    cb = np.zeros((2, 2, 8, 8), dtype=np.int64)
    cr = np.zeros((2, 2, 8, 8), dtype=np.int64)
    cy[:, :, 0, 0] = [[10, -5], [3, 60]]
    cb[:, :, 0, 0] = [[4, 0], [-6, 2]]
    cr[:, :, 0, 0] = [[-3, 8], [0, -1]]
    cb[0, 0, 2, 3], cr[1, 1, 5, 1], cy[0, 1, 1, 1] = 12, -9, 25
    got3 = decode_jpeg(encode_jpeg([cy, cb, cr], q, 16, 16))
    Y, CB, CR = plane(cy) + 128.0, plane(cb) + 128.0, plane(cr) + 128.0
    r = Y + 1.402 * (CR - 128.0)
    gg = Y - 0.344136 * (CB - 128.0) - 0.714136 * (CR - 128.0)
    b = Y + 1.772 * (CB - 128.0)
    exp3 = np.clip(
        np.floor(np.stack([r, gg, b], axis=2) + 0.5), 0, 255
    ).astype(np.uint8)
    assert np.array_equal(got3, exp3)
    # 4:2:0 subsampled chroma (the layout most real JPEGs use):
    # interleaved MCU order + replicated chroma upsampling
    cy4 = np.zeros((4, 4, 8, 8), dtype=np.int64)
    cy4[:, :, 0, 0] = rng.randint(-50, 51, (4, 4))
    m4 = rng.rand(4, 4, 8, 8) < 0.1
    cy4[m4] = rng.randint(-20, 21, m4.sum())
    cb4 = np.zeros((2, 2, 8, 8), dtype=np.int64)
    cr4 = np.zeros((2, 2, 8, 8), dtype=np.int64)
    cb4[:, :, 0, 0] = [[10, -10], [5, 0]]
    cr4[:, :, 0, 0] = [[-4, 8], [0, 12]]
    got420 = decode_jpeg(encode_jpeg(
        [cy4, cb4, cr4], q, 32, 32, sampling=[(2, 2), (1, 1), (1, 1)]
    ))
    Y4 = plane(cy4) + 128.0
    CB4 = np.repeat(np.repeat(plane(cb4) + 128.0, 2, axis=0), 2, axis=1)
    CR4 = np.repeat(np.repeat(plane(cr4) + 128.0, 2, axis=0), 2, axis=1)
    r4 = Y4 + 1.402 * (CR4 - 128.0)
    g4 = Y4 - 0.344136 * (CB4 - 128.0) - 0.714136 * (CR4 - 128.0)
    b4 = Y4 + 1.772 * (CB4 - 128.0)
    exp420 = np.clip(
        np.floor(np.stack([r4, g4, b4], axis=2) + 0.5), 0, 255
    ).astype(np.uint8)
    assert np.array_equal(got420, exp420)
    # restart intervals (DRI + RSTn resync, DC predictors reset —
    # what real encoders emit by default): byte-aligned restart
    # segments must reproduce the no-restart pixels exactly
    for ri in (1, 3, 7):
        got_r = decode_jpeg(encode_jpeg([cg], q, 24, 16,
                                        restart_interval=ri))
        assert np.array_equal(
            got_r, np.repeat(g[:, :, None], 3, axis=2)
        ), ri
    # a baseline stream relabeled SOF2 is an ILLEGAL progressive scan
    # (Ss=0 band with Se=63) — must refuse, not misdecode (r12: SOF2
    # itself now decodes for real, see the progressive tests below)
    pay = bytearray(encode_jpeg([cg], q, 24, 16))
    idx = bytes(pay).find(b"\xff\xc0")
    pay[idx + 1] = 0xC2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="progressive scan"):
        decode_jpeg(bytes(pay))
    # non-JPEG refuses loudly
    with _pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg")


def test_decode_jpeg_progressive_roundtrip():
    """REAL progressive JPEG decode (r12, T.81 Annex G): the SOF2
    fixture encoder's full successive-approximation ladder — DC first
    scan at Al=1, spectral-selection AC first scans (bands 1-5 / 6-63),
    DC refinement, AC refinement with EOB-run accumulation, ZRL and
    correction-bit buffering (G.1.2.3) — must reproduce the baseline
    decode of the SAME coefficients bit-exactly, across grayscale,
    4:4:4 and 4:2:0 layouts, sparse through dense spectra, and both
    al=0 (pure spectral selection) and al=1 ladders."""
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    q = np.full((8, 8), 16, dtype=np.int64)
    # grayscale sweep: density 0 (pure EOB runs) -> 0.9 (ZRL +
    # correction-heavy refinement), magnitudes up to +-500 (multi-bit
    # refinement history)
    for seed in range(8):
        rng = np.random.RandomState(seed)
        by, bx = rng.randint(1, 5), rng.randint(1, 5)
        c = np.zeros((by, bx, 8, 8), dtype=np.int64)
        dens = [0.0, 0.03, 0.3, 0.9][seed % 4]
        m = rng.rand(by, bx, 8, 8) < dens
        c[m] = rng.randint(-500, 501, m.sum())
        c[:, :, 0, 0] = rng.randint(-800, 801, (by, bx))
        base = decode_jpeg(encode_jpeg([c], q, by * 8, bx * 8))
        for al in (0, 1):
            prog = decode_jpeg(
                encode_jpeg_progressive([c], q, by * 8, bx * 8, al=al)
            )
            assert np.array_equal(prog, base), (seed, al, dens)
    # 3-component 4:4:4 and 4:2:0 color
    rng = np.random.RandomState(99)
    cy = np.zeros((4, 4, 8, 8), dtype=np.int64)
    cy[:, :, 0, 0] = rng.randint(-50, 51, (4, 4))
    m4 = rng.rand(4, 4, 8, 8) < 0.15
    cy[m4] = rng.randint(-20, 21, m4.sum())
    cb = np.zeros((2, 2, 8, 8), dtype=np.int64)
    cr = np.zeros((2, 2, 8, 8), dtype=np.int64)
    cb[:, :, 0, 0] = [[10, -10], [5, 0]]
    cr[:, :, 0, 0] = [[-4, 8], [0, 12]]
    cb[0, 0, 2, 3], cr[1, 1, 5, 1] = 12, -9
    s420 = [(2, 2), (1, 1), (1, 1)]
    base420 = decode_jpeg(encode_jpeg([cy, cb, cr], q, 32, 32, sampling=s420))
    for al in (0, 1):
        prog420 = decode_jpeg(
            encode_jpeg_progressive(
                [cy, cb, cr], q, 32, 32, sampling=s420, al=al
            )
        )
        assert np.array_equal(prog420, base420), al
    cyf = cy[:2, :2]
    s444 = [(1, 1)] * 3
    base444 = decode_jpeg(encode_jpeg([cyf, cb, cr], q, 16, 16, sampling=s444))
    prog444 = decode_jpeg(
        encode_jpeg_progressive([cyf, cb, cr], q, 16, 16, sampling=s444)
    )
    assert np.array_equal(prog444, base444)


def test_dhash_signature_brightness_invariant(spark):
    """dHash over the REAL PNG path: a uniform brightness shift leaves
    the signature untouched (gradient hash), a gradient-direction flip
    moves exactly the flipped bits, and the packed words match an
    independent bit-by-bit recomputation from the source pixels."""
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        dhash_signatures,
        encode_png,
        nn_resize,
    )

    rng = np.random.RandomState(7)
    base = rng.randint(10, 240, (16, 18, 3)).astype(np.uint8)
    shifted = np.clip(base.astype(np.int64) + 5, 0, 255).astype(np.uint8)
    rows = [
        (1, bytearray(encode_png(base, 2, [r % 5 for r in range(16)]))),
        (2, bytearray(encode_png(shifted, 2, [r % 5 for r in range(16)]))),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: (r.sig0, r.sig1) for r in
           dhash_signatures(df).collect()}
    # independent recomputation from the source array
    g = nn_resize(base, 8, 9).astype(np.int64)
    gray = (g[:, :, 0] * 299 + g[:, :, 1] * 587 + g[:, :, 2] * 114) // 1000
    bits = (gray[:, 1:] > gray[:, :-1]).astype(np.int64).reshape(64)
    pw = 1 << np.arange(32, dtype=np.int64)
    exp = (int((bits[:32] * pw).sum()), int((bits[32:] * pw).sum()))
    assert got[1] == exp
    # +5 everywhere cannot move any within-row comparison
    assert got[2] == got[1]
    assert 0 <= exp[0] < 2**32 and 0 <= exp[1] < 2**32


def test_dhash_band_prefilter_lossless(spark):
    """The 8x8-bit band join is a LOSSLESS prefilter at hamming <= 7
    (pigeonhole: 8 differing bands would mean hamming >= 8) — the
    banded pair set over the fixture corpus equals the brute-force
    all-pairs filter, and every reported hamming is the true bit
    distance."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        DHASH_T,
        _dhash_pairs,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in _dhash_pairs(spark, sf).collect()
    }
    # brute force over the same signatures
    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        dhash_signatures,
    )
    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        DHASH_MAX_ID,
        _dhash_fixture_media,
        _t,
    )

    docs = _t(spark, sf, "documents").filter(
        F.col("doc_id") < DHASH_MAX_ID
    ).select("doc_id")
    sigs = {
        r.doc_id: (r.sig0, r.sig1)
        for r in dhash_signatures(
            _dhash_fixture_media(docs), id_col="doc_id"
        ).collect()
    }
    exp = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sigs[a][0] ^ sigs[b][0]).count("1") + bin(
                sigs[a][1] ^ sigs[b][1]
            ).count("1")
            if h <= DHASH_T:
                exp[(a, b)] = h
    assert got == exp
    assert len(exp) > 0  # the fixture actually produces near-dups


def test_decode_pixels_roundtrip(spark):
    """decode_pixels emits the exact row-major pixel stream of the
    encoded image — the ground-truth seam for pixel-distance evals."""
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        decode_pixels,
        encode_png,
    )

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (6, 7, 3)).astype(np.uint8)
    df = spark.createDataFrame(
        [(9, bytearray(encode_png(img, 2, [r % 5 for r in range(6)])))],
        "media_id long, payload binary",
    )
    [row] = decode_pixels(df).collect()
    assert row.pixels == [int(v) for v in img.reshape(-1)]


def test_decode_jpeg_fill_bytes_and_tem():
    """T.81-legal noise real encoders emit: 0xFF fill bytes padding
    before a marker and the parameterless TEM (0x01) marker must not
    desync the marker walk (ADVICE r11)."""
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    q = np.full((8, 8), 16, dtype=np.int64)
    cg = np.zeros((2, 2, 8, 8), dtype=np.int64)
    cg[:, :, 0, 0] = [[4, -8], [2, 7]]
    clean = encode_jpeg([cg], q, 16, 16)
    expect = decode_jpeg(clean)
    # inject fill bytes + TEM right after SOI, and fill bytes before SOS
    sos = clean.find(b"\xff\xda")
    noisy = (
        clean[:2]
        + b"\xff\xff\xff\x01"  # fill, fill, TEM
        + clean[2:sos]
        + b"\xff"  # a fill byte gluing onto SOS's own 0xFF
        + clean[sos:]
    )
    got = decode_jpeg(noisy)
    assert np.array_equal(got, expect)


def test_phash_spectral_invariance(spark):
    """pHash (DCT sign hash) over the REAL PNG path: high-frequency
    edits that move EVERY pixel leave the signature untouched (the
    perceptual property), one planted low-block sign flip moves exactly
    one bit, and the packed words equal the planted coefficient signs —
    the inverse-DCT fixture's rounding drift provably stays below the
    planted magnitude."""
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        PHASH_N,
        _dct_matrix,
        encode_png,
        phash_signatures,
    )
    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        PHASH_AC,
        _phash_signs,
    )

    d = _dct_matrix(PHASH_N)

    def img_for(gid, m):
        s = _phash_signs(gid, m)
        c = np.zeros((PHASH_N, PHASH_N))
        c[:8, :8] = (2 * s - 1) * PHASH_AC
        c[0, 0] = 128.0 * PHASH_N
        if m == 1:
            c[17, 19] = 60.0
            c[25, 9] = -60.0
        g = np.floor(d.T @ c @ d + 0.5).astype(np.int64)
        assert g.min() >= 0 and g.max() <= 253  # no clip by construction
        return np.stack([g, g + 1, g + 2], axis=2).astype(np.uint8), s

    rows, expected = [], {}
    for did, (gid, m) in enumerate([(3, 0), (3, 1), (3, 2), (9, 0)]):
        img, s = img_for(gid, m)
        rows.append((did, bytearray(
            encode_png(img, 2, [r % 5 for r in range(PHASH_N)])
        )))
        bits = s.reshape(64)
        pw = 1 << np.arange(32, dtype=np.int64)
        expected[did] = (int((bits[:32] * pw).sum()),
                         int((bits[32:] * pw).sum()))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: (r.sig0, r.sig1) for r in
           phash_signatures(df).collect()}
    # the DCT recovered every planted sign
    assert got == expected
    # m=1 moved pixels (different payloads) but not the hash
    assert rows[0][1] != rows[1][1] and got[0] == got[1]
    # m=2 is exactly one bit away
    h = bin(got[0][0] ^ got[2][0]).count("1") + bin(
        got[0][1] ^ got[2][1]
    ).count("1")
    assert h == 1
    # a different group is far
    hg = bin(got[0][0] ^ got[3][0]).count("1") + bin(
        got[0][1] ^ got[3][1]
    ).count("1")
    assert hg > 7


def test_image_dup_clusters_chain_collapse(spark):
    """Transitive collapse: within a fixture group, members 0/1/2 are
    pairwise-or-chain connected (hamming 0/2/2) so they form ONE
    cluster with keep on the smallest doc_id, while member 3 (40 bits
    away) keeps itself."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        q_image_dup_clusters,
    )

    rows = {
        r.doc_id: r
        for r in q_image_dup_clusters(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    g0 = [rows[i] for i in (0, 1, 2)]
    assert {r.cluster for r in g0} == {0}  # one component, min-id label
    assert [r.keep for r in g0] == [True, False, False]
    assert rows[3].cluster == 3 and rows[3].keep  # m=3 independent singleton
    # every cluster's keeper is its min id, exactly one keeper per cluster
    by_cluster = {}
    for r in rows.values():
        by_cluster.setdefault(r.cluster, []).append(r)
    for cid, members in by_cluster.items():
        keepers = [r.doc_id for r in members if r.keep]
        assert keepers == [min(r.doc_id for r in members)] == [cid]
        assert all(r.cluster_size == len(members) for r in members)


def test_decode_wav_24bit_high_byte_normalization():
    """24-bit PCM (r12): 3-byte little-endian unpack, sign extension,
    and the arithmetic >>8 normalization to the 16-bit range — the
    low byte is deliberate junk so a wrong endianness, shift, or sign
    convention changes the output; negative samples exercise the
    floor-toward--inf shift."""
    import io
    import struct
    import wave

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        decode_wav,
    )

    samples = [0, 1000, -1000, 32767, -32768, -1]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(3)
        wf.setframerate(8000)
        wf.writeframes(b"".join(
            struct.pack("<i", (s << 8) | ((s * 7 + 13) % 256))[:3]
            for s in samples
        ))
    x, rate = decode_wav(buf.getvalue())
    assert rate == 8000
    assert list(x) == samples  # junk byte dropped exactly
    # sample width 4 still refuses loudly (the documented seam)
    buf2 = io.BytesIO()
    with wave.open(buf2, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(4)
        wf.setframerate(8000)
        wf.writeframes(b"\x00" * 8)
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_wav(buf2.getvalue())


def test_decode_jpeg_16bit_dqt():
    """16-bit DQT entries (r12): rewrite a baseline stream's 8-bit DQT
    segment into the 2-byte big-endian form with identical values —
    decode must be bit-identical to the 8-bit original."""
    import struct

    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    q = np.full((8, 8), 16, dtype=np.int64)
    cg = np.zeros((2, 3, 8, 8), dtype=np.int64)
    cg[:, :, 0, 0] = [[7, -3, 12], [0, 5, -9]]
    cg[0, 1, 1, 2], cg[1, 2, 3, 1] = 4, -6
    clean = encode_jpeg([cg], q, 16, 24)
    expect = decode_jpeg(clean)
    i = clean.find(b"\xff\xdb")
    (seg_len,) = struct.unpack(">H", clean[i + 2 : i + 4])
    entries = clean[i + 5 : i + 2 + seg_len]  # 64 8-bit values
    assert len(entries) == 64
    wide = b"".join(struct.pack(">H", v) for v in entries)
    seg16 = b"\xff\xdb" + struct.pack(">H", 2 + 1 + 128) + b"\x10" + wide
    noisy = clean[:i] + seg16 + clean[i + 2 + seg_len:]
    got = decode_jpeg(noisy)
    assert np.array_equal(got, expect)


def test_audio_delta_signature_gain_invariant(spark):
    """Audio sign-of-delta fingerprint over the REAL WAV path: a
    uniform gain offset leaves the signature untouched, a local edit
    flips only the touched deltas, and undecodable payloads yield NULL
    words instead of poisoning the batch."""
    import io
    import struct
    import wave

    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        AUDIO_SIG_POINTS,
        audio_delta_signatures,
    )

    rng = np.random.RandomState(3)
    base = rng.randint(-900, 900, 130)

    def wav(samples):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(b"".join(
                struct.pack("<h", int(x)) for x in samples
            ))
        return bytearray(buf.getvalue())

    edited = base.copy()
    edited[-4:] = [2000, -2000, 2000, -2000]  # touch the tail deltas only
    rows = [
        (1, wav(base)),
        (2, wav(base + 7)),     # uniform gain offset
        (3, wav(edited)),
        (4, bytearray(b"not audio")),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: (r.sig0, r.sig1) for r in
           audio_delta_signatures(df).collect()}
    # independent recompute from the raw samples
    idx = (np.arange(AUDIO_SIG_POINTS, dtype=np.int64) * 130) // AUDIO_SIG_POINTS
    env = base[idx]
    bits = (env[1:] > env[:-1]).astype(np.int64)
    pw = 1 << np.arange(32, dtype=np.int64)
    assert got[1] == (int((bits[:32] * pw).sum()), int((bits[32:] * pw).sum()))
    assert got[2] == got[1]  # gain offset: zero bits moved
    h = bin(got[1][0] ^ got[3][0]).count("1") + bin(
        got[1][1] ^ got[3][1]
    ).count("1")
    assert 0 < h <= 8  # local edit: few bits
    assert got[4] == (None, None)


def test_decode_jpeg_non_mcu_aligned_crop():
    """Non-MCU-aligned dims (r13, T.81 A.2.4): the encoder codes
    complete edge MCUs, SOF declares the true (smaller) dims, the
    decoder decodes the ceil-MCU grid and crops — so a non-aligned
    decode must equal the aligned decode of the same coefficient grid,
    cropped. Covers full-AC baseline gray, baseline 4:2:0 (interleaved
    pad MCUs), DRI resync across pad MCUs, and the progressive case
    where the non-interleaved AC raster grid (ceil(comp_dim/8)) is
    genuinely SMALLER than the padded MCU grid (17x18 at 4:2:0: Y
    raster 3x3 vs padded 4x4 — a desync bug shifts every later
    coefficient)."""
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    q = np.full((8, 8), 16, dtype=np.int64)
    rng = np.random.RandomState(7)

    def sparse(shape, lo, hi, keep):
        c = np.zeros(shape, dtype=np.int64)
        mask = rng.rand(*shape) < keep
        c[mask] = rng.randint(lo, hi, mask.sum())
        return c

    # baseline grayscale: 2x3 blocks, declared 13x20
    cg = sparse((2, 3, 8, 8), -20, 21, 0.2)
    full = decode_jpeg(encode_jpeg([cg], q, 16, 24))
    crop = decode_jpeg(encode_jpeg([cg], q, 13, 20))
    assert crop.shape == (13, 20, 3)
    assert np.array_equal(crop, full[:13, :20])

    # 4:2:0 color on a 2x2-MCU (32x32) grid, declared 17x18: the
    # divergent-grid case for progressive; interleaved for baseline
    cy = sparse((4, 4, 8, 8), -15, 16, 0.15)
    cb = sparse((2, 2, 8, 8), -8, 9, 0.15)
    cr = sparse((2, 2, 8, 8), -8, 9, 0.15)
    samp = [(2, 2), (1, 1), (1, 1)]
    full_b = decode_jpeg(encode_jpeg([cy, cb, cr], q, 32, 32, sampling=samp))
    crop_b = decode_jpeg(encode_jpeg([cy, cb, cr], q, 17, 18, sampling=samp))
    assert crop_b.shape == (17, 18, 3)
    assert np.array_equal(crop_b, full_b[:17, :18])

    # + restart intervals: RSTn resync MCU counting includes pad MCUs
    crop_r = decode_jpeg(
        encode_jpeg(
            [cy, cb, cr], q, 17, 18, sampling=samp, restart_interval=2
        )
    )
    assert np.array_equal(crop_r, full_b[:17, :18])

    # progressive 4:2:0, same divergent grid (AC scans code 3x3 luma
    # raster blocks while DC scans cover the padded 4x4)
    full_p = decode_jpeg(
        encode_jpeg_progressive([cy, cb, cr], q, 32, 32, sampling=samp)
    )
    crop_p = decode_jpeg(
        encode_jpeg_progressive([cy, cb, cr], q, 17, 18, sampling=samp)
    )
    assert crop_p.shape == (17, 18, 3)
    assert np.array_equal(crop_p, full_p[:17, :18])

    # progressive grayscale non-aligned
    cg2 = sparse((2, 2, 8, 8), -12, 13, 0.2)
    full_g = decode_jpeg(encode_jpeg_progressive([cg2], q, 16, 16))
    crop_g = decode_jpeg(encode_jpeg_progressive([cg2], q, 11, 14))
    assert np.array_equal(crop_g, full_g[:11, :14])


def test_decode_png_adam7_interlace():
    """Adam7 interlace (r13, PNG spec §8.2): seven independently
    filtered sub-images scattered onto the 8x8 lattice. An interlaced
    encode of any image must decode identically to its non-interlaced
    encode — across odd dims (empty passes), every filter type inside
    passes, all color types, and 16-bit depth."""
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        _ADAM7_PASSES,
        decode_png,
        encode_png,
    )

    # the lattice itself: every pixel covered exactly once
    cover = np.zeros((16, 16), int)
    for x0, y0, dx, dy in _ADAM7_PASSES:
        cover[y0::dy, x0::dx] += 1
    assert (cover == 1).all()

    rng = np.random.RandomState(11)
    for h, w, ct, ch, depth in [
        (13, 11, 2, 3, 8),   # odd dims: ragged pass grids
        (5, 3, 0, 1, 8),     # tiny: passes 2 and 4 partially empty
        (8, 8, 6, 4, 8),     # RGBA
        (1, 1, 2, 3, 8),     # single pixel: only pass 1 nonempty
        (2, 9, 4, 2, 8),     # gray+alpha
        (16, 10, 2, 3, 16),  # 16-bit: byte-doubled bpp in passes
        (7, 2, 0, 1, 16),
    ]:
        img = (
            rng.randint(0, 256, (h, w, ch), dtype=np.uint8)
            if depth == 8
            else rng.randint(0, 65536, (h, w, ch), dtype=np.uint16)
        )
        nrows = sum(
            -(-(h - y0) // dy)
            for x0, y0, dx, dy in _ADAM7_PASSES
            if h > y0 and w > x0 and -(-(w - x0) // dx) > 0
        )
        filters = [i % 5 for i in range(nrows)]
        got_i = decode_png(
            encode_png(img, ct, filters, depth=depth, interlace=1)
        )
        got_p = decode_png(encode_png(img, ct, depth=depth))
        assert np.array_equal(got_i, got_p), (h, w, ct, depth)


def test_video_dhash_majority_vote(spark):
    """Clip signatures (r13): per-frame dHash bits majority-voted
    across APNG frames — a bit flipped in a MINORITY of frames leaves
    the signature untouched; flipped in a majority it lands. Also: a
    whole-clip brightness shift is signature-invariant, and n_frames
    reports the real demux count."""
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        encode_apng,
        video_dhash_signatures,
    )

    def frame(bits, bright=0):
        # 8x9 cells, 2x2 px each: direction bits -> monotone gray walk
        eff = np.asarray(bits, dtype=np.int64).reshape(8, 8)
        s = np.concatenate(
            [np.zeros((8, 1), dtype=np.int64), np.cumsum(eff, axis=1)], axis=1
        )
        j = np.arange(9)
        g = 110 + 2 * np.arange(8)[:, None] + 12 * (2 * s - j[None, :]) + bright
        gp = np.repeat(np.repeat(g, 2, axis=0), 2, axis=1)
        return np.stack([gp, gp + 1, gp + 2], axis=2).astype(np.uint8)

    rng = np.random.RandomState(9)
    base = rng.randint(0, 2, 64)
    flip_one = base.copy()
    flip_one[17] = 1 - flip_one[17]
    clips = {
        # minority flip: frame 1 differs in one bit -> vote keeps base
        1: [frame(base), frame(flip_one), frame(base)],
        # majority flip: 2 of 3 frames differ -> vote takes the flip
        2: [frame(base), frame(flip_one), frame(flip_one)],
        # brightness-shifted copy of clip 1
        3: [frame(base, 4), frame(flip_one, 4), frame(base, 4)],
        # 4 frames incl. a 2-2 TIE on bit 17 -> tie breaks to 0
        4: [frame(base), frame(base), frame(flip_one), frame(flip_one)],
    }
    df = spark.createDataFrame(
        [(i, bytearray(encode_apng(f))) for i, f in clips.items()],
        "doc_id long, payload binary",
    )
    rows = {
        r.doc_id: r
        for r in video_dhash_signatures(df, id_col="doc_id").collect()
    }

    def bits_of(r):
        return [
            (r.sig0 >> k) & 1 if k < 32 else (r.sig1 >> (k - 32)) & 1
            for k in range(64)
        ]

    assert rows[1].n_frames == 3 and rows[4].n_frames == 4
    assert bits_of(rows[1]) == list(base)
    assert bits_of(rows[2]) == list(flip_one)
    assert (rows[3].sig0, rows[3].sig1) == (rows[1].sig0, rows[1].sig1)
    # the tie bit resolves to 0 regardless of base's value there
    assert bits_of(rows[4])[17] == (0 if base[17] == 1 else 0) == 0
    tie_expected = list(base)
    tie_expected[17] = 0
    assert bits_of(rows[4]) == tie_expected


def test_decode_jpeg_progressive_restart_intervals():
    """Progressive DRI (r13, closes the named seam): RSTn resync inside
    SOF2 scans — restart units are MCUs in the interleaved DC scan but
    BLOCKS in non-interleaved AC scans; predictors and EOB runs reset
    at each boundary and runs never span one. A restarted encode must
    decode identically to the unrestarted encode of the same
    coefficients, across gray/4:2:0, non-aligned dims, and the al=0
    ladder (no refinement scans)."""
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(5)
    q = np.full((8, 8), 16, dtype=np.int64)

    def sparse(shape, lo, hi, keep):
        c = np.zeros(shape, dtype=np.int64)
        m = rng.rand(*shape) < keep
        c[m] = rng.randint(lo, hi, m.sum())
        return c

    cg = sparse((4, 5, 8, 8), -20, 21, 0.2)
    ref = decode_jpeg(encode_jpeg_progressive([cg], q, 32, 40))
    for ri in (1, 2, 3, 7):
        got = decode_jpeg(
            encode_jpeg_progressive([cg], q, 32, 40, restart_interval=ri)
        )
        assert np.array_equal(got, ref), f"gray ri={ri}"

    cy = sparse((4, 4, 8, 8), -15, 16, 0.2)
    cb = sparse((2, 2, 8, 8), -8, 9, 0.2)
    cr = sparse((2, 2, 8, 8), -8, 9, 0.2)
    samp = [(2, 2), (1, 1), (1, 1)]
    ref3 = decode_jpeg(
        encode_jpeg_progressive([cy, cb, cr], q, 17, 18, sampling=samp)
    )
    for ri in (1, 2, 3):
        got = decode_jpeg(
            encode_jpeg_progressive(
                [cy, cb, cr], q, 17, 18, sampling=samp, restart_interval=ri
            )
        )
        assert np.array_equal(got, ref3), f"color ri={ri}"

    ref0 = decode_jpeg(encode_jpeg_progressive([cg], q, 32, 40, al=0))
    got0 = decode_jpeg(
        encode_jpeg_progressive([cg], q, 32, 40, al=0, restart_interval=2)
    )
    assert np.array_equal(got0, ref0)


def test_decode_wav_ieee_float():
    """IEEE-float WAV (r13, fmt code 3 — the DAW export the stdlib wave
    module refuses): manual RIFF walk + floor(clamp(f)·32768) mapped to
    the 16-bit range. Covers float32 exactness, the ±1.0 clamp edges
    (+1.0 floors to 32768 then clamps to 32767), float64, stereo exact
    integer mixdown, and a loud refusal for unknown format codes."""
    import struct

    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        decode_wav,
    )

    def wav(code, ch, rate, bits, data):
        fmt = struct.pack(
            "<HHIIHH", code, ch, rate, rate * ch * bits // 8,
            ch * bits // 8, bits,
        )
        body = (
            b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    vals = [0.0, 0.5, -0.5, 1.0, -1.0, 123 / 32768.0, -999 / 32768.0]
    f32 = wav(3, 1, 8000, 32, b"".join(struct.pack("<f", v) for v in vals))
    x, rate = decode_wav(f32)
    assert rate == 8000
    assert x.tolist() == [0, 16384, -16384, 32767, -32768, 123, -999]

    f64 = wav(3, 1, 16000, 64, b"".join(struct.pack("<d", v) for v in vals))
    x64, rate64 = decode_wav(f64)
    assert rate64 == 16000 and x64.tolist() == x.tolist()

    # the walk skips a LIST chunk's sub-chunks (even one named 'data')
    # and keeps a data body cut short by the end of the payload
    info = b"LIST" + struct.pack("<I", 16) + b"INFO"
    info += b"data" + struct.pack("<I", 4) + b"\0" * 4
    assert decode_wav(f32[:12] + info + f32[12:-4])[0].tolist() == x.tolist()[:-1]

    # out-of-range input clamps before scaling
    loud = wav(3, 1, 8000, 32, struct.pack("<ff", 2.5, -3.0))
    assert decode_wav(loud)[0].tolist() == [32767, -32768]

    # stereo mixdown: exact trunc-toward-zero mean
    st = wav(3, 2, 8000, 32, struct.pack(
        "<ffff", 100 / 32768.0, 101 / 32768.0, -100 / 32768.0, -101 / 32768.0
    ))
    assert decode_wav(st)[0].tolist() == [100, -100]

    # unknown compressed format still refuses loudly
    import pytest as _pytest

    alaw = wav(6, 1, 8000, 8, b"\x00" * 8)
    with _pytest.raises(NotImplementedError, match="format code 6"):
        decode_wav(alaw)


def test_gif_lzw_roundtrip_and_compositing(spark):
    """REAL GIF codec (r13): variable-width LSB-first LZW round-trips
    across table growth, width bumps, the 4096 CLEAR boundary, and
    repetitive KwKwK-heavy data; still/interlaced/LCT decode recovers
    exact palette pixels; animation compositing honors sub-region
    placement, transparency (pixels keep the previous canvas),
    dispose=2 (region restored to background) and dispose=3 (region
    reverted to its pre-render contents); malformed streams fail with
    the codec's ValueError contract, never a raw IndexError."""
    import numpy as np
    import pytest as _pytest

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
        decode_gif,
        decode_gif_frames,
        encode_gif,
    )

    rng = np.random.RandomState(13)
    for n, mcs in [(50, 2), (500, 4), (5000, 8), (20000, 6), (1, 2),
                   (257, 3), (60000, 8), (4095, 2)]:
        seq = rng.randint(0, 1 << mcs, n).tolist()
        assert _gif_lzw_decode(_gif_lzw_encode(seq, mcs), mcs) == seq, (n, mcs)
    seq = [3] * 4000 + [1, 2, 3] * 2000  # deep chains + KwKwK
    assert _gif_lzw_decode(_gif_lzw_encode(seq, 2), 2) == seq

    i = np.arange(64)
    gpal = np.stack(
        [(i * 37 + 11) % 256, (i * 59 + 23) % 256, (i * 83 + 47) % 256], 1
    ).astype(np.uint8)
    lpal = np.stack(
        [(i * 29 + 5) % 256, (i * 53 + 17) % 256, (i * 71 + 31) % 256], 1
    ).astype(np.uint8)
    idx = rng.randint(0, 64, (7, 9))
    assert np.array_equal(decode_gif(encode_gif([idx], gpal)), gpal[idx])
    assert np.array_equal(
        decode_gif(encode_gif([idx], gpal, interlace=[True])), gpal[idx]
    )
    assert np.array_equal(
        decode_gif(encode_gif([idx], gpal, local_palettes=[lpal])), lpal[idx]
    )

    f0 = rng.randint(0, 64, (8, 10))
    f1 = rng.randint(0, 64, (3, 4))
    f1[1, 2] = 7  # transparent pixel keeps the f0 canvas underneath
    frames = decode_gif_frames(encode_gif(
        [f0, f1, np.full((2, 2), 5)], gpal,
        rects=[(0, 0), (2, 1), (0, 0)],
        transparent=[None, 7, None],
        dispose=[0, 2, 0],
    ))
    assert len(frames) == 3
    assert np.array_equal(frames[0], gpal[f0])
    exp1 = gpal[f0].copy()
    sub, mask = gpal[f1].copy(), f1 != 7
    exp1[1:4, 2:6][mask] = sub[mask]
    assert np.array_equal(frames[1], exp1)
    exp2 = gpal[f0].copy()
    exp2[1:4, 2:6] = gpal[0]  # dispose=2: back to background color
    exp2[0:2, 0:2] = gpal[5]
    assert np.array_equal(frames[2], exp2)

    # dispose=3 (restore previous): the patched region reverts fully
    f3 = decode_gif_frames(encode_gif(
        [f0, f1, np.full((2, 2), 5)], gpal,
        rects=[(0, 0), (2, 1), (0, 0)], dispose=[0, 3, 0],
    ))[2]
    exp3 = gpal[f0].copy()
    exp3[0:2, 0:2] = gpal[5]
    assert np.array_equal(f3, exp3)
    with _pytest.raises(ValueError):
        decode_gif(b"not a gif")
    # truncated stream / out-of-range first LZW code: ValueError, not
    # IndexError (code-review r13)
    with _pytest.raises(ValueError):
        decode_gif(encode_gif([f0], gpal)[:40])
    with _pytest.raises(ValueError, match="bad first LZW code"):
        _gif_lzw_decode(b"\x07", 2)


def test_apng_compositing_subregion_over_dispose():
    """APNG canvas compositing (r13, closes the r12 seam): sub-region
    frames render at fcTL offsets; blend OVER is Porter-Duff
    non-premultiplied alpha compositing (checked against an
    independently computed float expectation); dispose background
    clears the region to transparent black and dispose previous
    reverts it."""
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        decode_apng_frames,
        encode_apng,
    )

    rng = np.random.RandomState(4)
    f0 = rng.randint(0, 256, (8, 10, 3), np.uint8)
    sub = rng.randint(0, 256, (3, 4, 3), np.uint8)

    # sub-region SOURCE patch at x=2, y=1
    got = decode_apng_frames(encode_apng([f0, sub], rects=[(0, 0), (2, 1)]))
    exp1 = f0.copy()
    exp1[1:4, 2:6] = sub
    assert np.array_equal(got[0], f0) and np.array_equal(got[1], exp1)

    # OVER: 50%-alpha overlay onto an opaque canvas
    f0a = np.dstack([f0, np.full((8, 10), 255, np.uint8)])
    ov = np.zeros((3, 4, 4), np.uint8)
    ov[:, :, :3], ov[:, :, 3] = 200, 128
    got = decode_apng_frames(encode_apng(
        [f0a, ov], color_type=6, rects=[(0, 0), (2, 1)], blend=[0, 1]
    ))
    sa = 128 / 255.0
    exp = f0.astype(np.float64)
    exp[1:4, 2:6] = 200 * sa + exp[1:4, 2:6] * (1 - sa)
    exp = np.clip(np.floor(exp + 0.5), 0, 255).astype(np.uint8)
    assert np.array_equal(got[1], exp)

    # dispose background (region -> transparent black) then a new frame
    f2 = rng.randint(0, 256, (2, 2, 3), np.uint8)
    got = decode_apng_frames(encode_apng(
        [f0, sub, f2], rects=[(0, 0), (2, 1), (0, 0)], dispose=[0, 1, 0]
    ))
    exp2 = f0.copy()
    exp2[1:4, 2:6] = 0
    exp2[0:2, 0:2] = f2
    assert np.array_equal(got[2], exp2)

    # dispose previous: the patch reverts entirely
    got = decode_apng_frames(encode_apng(
        [f0, sub, f2], rects=[(0, 0), (2, 1), (0, 0)], dispose=[0, 2, 0]
    ))
    exp2p = f0.copy()
    exp2p[0:2, 0:2] = f2
    assert np.array_equal(got[2], exp2p)


def test_decode_jpeg_sampling_factor_four():
    """Sampling factors up to 4 (r13, T.81 allows 1-4): 4:1:1 (one
    32x8 MCU, four horizontal Y blocks), a (4,2) deep-chroma layout,
    and a three-tier (4,4)/(2,2)/(1,1) mix — baseline AND progressive,
    aligned and cropped, with DRI. Expectations are reconstructed
    independently (IDCT per block, replication upsample, crop, JFIF
    transform). Non-divisible mixes still refuse loudly."""
    import numpy as np
    import pytest as _pytest

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        _IDCT_M,
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(9)
    q = np.full((8, 8), 16, dtype=np.int64)

    def plane(c):
        by, bx = c.shape[:2]
        out = np.zeros((by * 8, bx * 8))
        for y in range(by):
            for x in range(bx):
                out[y*8:(y+1)*8, x*8:(x+1)*8] = (
                    _IDCT_M.T @ (c[y, x] * q).astype(float) @ _IDCT_M
                )
        return out

    def expected(cy, cb, cr, samp, h, w):
        hm = max(s for s, _ in samp)
        vm = max(s for _, s in samp)
        planes = []
        for c, (sh, sv) in zip([cy, cb, cr], samp):
            pl = plane(c)
            pl = np.repeat(np.repeat(pl, vm // sv, 0), hm // sh, 1)
            planes.append(pl[:h, :w] + 128.0)
        Y, CB, CR = planes
        r = Y + 1.402 * (CR - 128)
        g = Y - 0.344136 * (CB - 128) - 0.714136 * (CR - 128)
        b = Y + 1.772 * (CB - 128)
        return np.clip(
            np.floor(np.stack([r, g, b], 2) + 0.5), 0, 255
        ).astype(np.uint8)

    def sparse(shape, keep=0.15):
        c = np.zeros(shape, np.int64)
        m = rng.rand(*shape) < keep
        c[m] = rng.randint(-10, 11, m.sum())
        return c

    samp = [(4, 1), (1, 1), (1, 1)]  # 4:1:1
    cy = sparse((2, 8, 8, 8))
    cb, cr = sparse((2, 2, 8, 8)), sparse((2, 2, 8, 8))
    got = decode_jpeg(encode_jpeg([cy, cb, cr], q, 16, 64, sampling=samp))
    assert np.array_equal(got, expected(cy, cb, cr, samp, 16, 64))
    got_c = decode_jpeg(encode_jpeg([cy, cb, cr], q, 13, 57, sampling=samp))
    assert np.array_equal(got_c, expected(cy, cb, cr, samp, 13, 57))

    samp2 = [(4, 2), (1, 1), (1, 1)]
    cy2 = sparse((4, 8, 8, 8))
    cb2, cr2 = sparse((2, 2, 8, 8)), sparse((2, 2, 8, 8))
    got2 = decode_jpeg(encode_jpeg([cy2, cb2, cr2], q, 32, 64, sampling=samp2))
    assert np.array_equal(got2, expected(cy2, cb2, cr2, samp2, 32, 64))

    samp3 = [(4, 4), (2, 2), (1, 1)]  # three-tier divisible mix
    cy3, cb3, cr3 = sparse((4, 4, 8, 8)), sparse((2, 2, 8, 8)), sparse((1, 1, 8, 8))
    got3 = decode_jpeg(encode_jpeg([cy3, cb3, cr3], q, 32, 32, sampling=samp3))
    assert np.array_equal(got3, expected(cy3, cb3, cr3, samp3, 32, 32))

    gotp = decode_jpeg(
        encode_jpeg_progressive([cy, cb, cr], q, 16, 64, sampling=samp)
    )
    assert np.array_equal(gotp, expected(cy, cb, cr, samp, 16, 64))
    gotpc = decode_jpeg(encode_jpeg_progressive(
        [cy, cb, cr], q, 13, 57, sampling=samp, restart_interval=1
    ))
    assert np.array_equal(gotpc, expected(cy, cb, cr, samp, 13, 57))

    # 3-vs-2 non-divisible mix (r13: the fractional-resampling seam
    # closed via NN index gather) — expectation mirrors the gather
    _pytest  # noqa: B018 — kept for other refusal checks above

    def expected_gather(cy_, cb_, cr_, samp_, h_, w_):
        hm = max(s for s, _ in samp_)
        vm = max(s for _, s in samp_)
        planes = []
        for c, (sh, sv) in zip([cy_, cb_, cr_], samp_):
            pl = plane(c)
            ys = (np.arange(h_) * sv) // vm
            xs = (np.arange(w_) * sh) // hm
            planes.append(pl[np.ix_(ys, xs)] + 128.0)
        Y, CB, CR = planes
        r = Y + 1.402 * (CR - 128)
        g = Y - 0.344136 * (CB - 128) - 0.714136 * (CR - 128)
        b = Y + 1.772 * (CB - 128)
        return np.clip(
            np.floor(np.stack([r, g, b], 2) + 0.5), 0, 255
        ).astype(np.uint8)

    samp32 = [(3, 2), (2, 2), (2, 2)]
    cy32 = sparse((2, 3, 8, 8))
    cb32, cr32 = sparse((2, 2, 8, 8)), sparse((2, 2, 8, 8))
    got32 = decode_jpeg(
        encode_jpeg([cy32, cb32, cr32], q, 16, 24, sampling=samp32)
    )
    assert np.array_equal(
        got32, expected_gather(cy32, cb32, cr32, samp32, 16, 24)
    )
    # and cropped
    got32c = decode_jpeg(
        encode_jpeg([cy32, cb32, cr32], q, 11, 20, sampling=samp32)
    )
    assert np.array_equal(
        got32c, expected_gather(cy32, cb32, cr32, samp32, 11, 20)
    )


def test_apng_interlaced_default_image():
    """An APNG whose DEFAULT IMAGE (IDAT, fcTL-before-IDAT) is
    Adam7-interlaced must decode frame 0 through the interlaced path —
    a silent interlace=0 misread passes the truncation check and
    returns garbage pixels (code-review r13). fdAT frames stay
    non-interlaced per spec."""
    import struct
    import zlib

    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        _ADAM7_PASSES,
        decode_apng_frames,
        encode_png,
    )

    rng = np.random.RandomState(6)
    img = rng.randint(0, 256, (9, 7, 3), np.uint8)
    nrows = sum(
        -(-(9 - y0) // dy)
        for x0, y0, dx, dy in _ADAM7_PASSES
        if 9 > y0 and 7 > x0 and -(-(7 - x0) // dx) > 0
    )
    png = encode_png(img, 2, [i % 5 for i in range(nrows)], interlace=1)

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr_end = 8 + 12 + 13
    apng = (
        png[:ihdr_end]
        + chunk(b"acTL", struct.pack(">II", 1, 0))
        + chunk(b"fcTL", struct.pack(">IIIIIHHBB", 0, 7, 9, 0, 0, 1, 10, 0, 0))
        + png[ihdr_end:]
    )
    frames = decode_apng_frames(apng)
    assert len(frames) == 1 and np.array_equal(frames[0], img)


def test_avi_mjpeg_demux_and_auto_dispatch(spark):
    """AVI Motion-JPEG (r13): RIFF tree walk finds LIST movi, decodes
    each ..dc chunk through the real JPEG decoder (even-padding
    honored); video_dhash_signatures dispatches a MIXED corpus (APNG /
    GIF / AVI) per payload by magic bytes and yields identical
    signatures for identical content across containers."""
    import numpy as np
    import pytest as _pytest

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        decode_avi_mjpeg_frames,
        decode_jpeg,
        encode_apng,
        encode_avi_mjpeg,
        encode_gif,
        encode_jpeg,
        video_dhash_signatures,
    )
    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        _dhash_gcell,
        _dhash_gpix_image,
    )

    q = np.full((8, 8), 16, dtype=np.int64)
    rng = np.random.RandomState(8)

    # demux round-trip incl. odd-length JPEG chunk (RIFF even padding)
    jf = []
    for _ in range(3):
        c = np.zeros((2, 2, 8, 8), np.int64)
        c[:, :, 0, 0] = rng.randint(-8, 9, (2, 2))
        jf.append(encode_jpeg([c], q, 16, 16))
    got = decode_avi_mjpeg_frames(encode_avi_mjpeg(jf, 16, 16))
    assert len(got) == 3
    for g, j in zip(got, jf):
        assert np.array_equal(g, decode_jpeg(j))
    with _pytest.raises(ValueError):
        decode_avi_mjpeg_frames(b"RIFFxxxxWAVE")
    with _pytest.raises(ValueError, match="truncated AVI chunk"):
        decode_avi_mjpeg_frames(encode_avi_mjpeg(jf, 16, 16)[:-3])

    # same clip content in all three containers -> identical signatures
    gid, m = 3, 0
    apng = encode_apng([_dhash_gpix_image(gid, m, frame_flip=f)
                        for f in range(3)])
    gpixs = [np.repeat(np.repeat(_dhash_gcell(gid, m, frame_flip=f),
                                 2, 0), 2, 1) for f in range(3)]
    vals = np.unique(np.stack(gpixs))
    pal = np.stack([vals, vals + 1, vals + 2], 1).astype(np.uint8)
    gif = encode_gif([np.searchsorted(vals, g) for g in gpixs], pal)
    jfr = []
    for f in range(3):
        coefs = np.zeros((8, 9, 8, 8), np.int64)
        coefs[:, :, 0, 0] = (_dhash_gcell(gid, m, frame_flip=f) - 128) // 2
        jfr.append(encode_jpeg([coefs], q, 64, 72))
    avi = encode_avi_mjpeg(jfr, 72, 64)
    df = spark.createDataFrame(
        [(1, bytearray(apng)), (2, bytearray(gif)), (3, bytearray(avi))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: (r.sig0, r.sig1, r.n_frames)
            for r in video_dhash_signatures(df, id_col="doc_id").collect()}
    assert rows[1] == rows[2] == rows[3]
    assert rows[1][2] == 3


def test_decode_bmp_roundtrip():
    """REAL BMP decode (r13 — the fourth still codec behind the
    dispatcher): 24/32-bit BGR(A) and 8-bit paletted, 4-byte row
    padding (odd widths), bottom-up AND top-down row order (the sign
    convention sniff_media reports), compressed/deep refusals loud."""
    import numpy as np
    import pytest as _pytest

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, (7, 5, 3), np.uint8)  # odd width: padding
    for td in (False, True):
        assert np.array_equal(decode_bmp(encode_bmp(img, 24, top_down=td)), img)
    assert np.array_equal(decode_bmp(encode_bmp(img, 32)), img)

    pal = rng.randint(0, 256, (64, 3)).astype(np.uint8)
    idx = rng.randint(0, 64, (6, 9))
    assert np.array_equal(decode_bmp(encode_bmp(idx, 8, palette=pal)), pal[idx])
    assert np.array_equal(
        decode_bmp(encode_bmp(idx, 8, top_down=True, palette=pal)), pal[idx]
    )

    with _pytest.raises(ValueError):
        decode_bmp(b"not a bmp")
    # RLE8 compression: loud seam
    rle = bytearray(encode_bmp(idx, 8, palette=pal))
    rle[30:34] = (1).to_bytes(4, "little")
    with _pytest.raises(NotImplementedError, match="compression"):
        decode_bmp(bytes(rle))


def test_dhash_decoder_bmp_matches_png():
    """A BMP decodes to the same pixels as the PNG of the same image, so
    dhash_signatures (which dispatches by magic bytes) yields the same
    signatures for both — the codec-flip invariance the other three
    codecs already pin."""
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        decode_bmp,
        decode_png,
        encode_bmp,
        encode_png,
    )

    rng = np.random.RandomState(12)
    img = rng.randint(0, 256, (16, 18, 3), np.uint8)
    assert np.array_equal(
        decode_bmp(encode_bmp(img)), decode_png(encode_png(img, 2))
    )


def test_decode_png_paletted():
    """Paletted PNG (r13, color type 3 — the indexed files the web is
    full of): PLTE lookup at depth 8 (sequential AND Adam7), sub-byte
    depths 4/2/1 with MSB-first unpacking and partial trailing bytes
    (odd widths), filters over the packed byte stream (bpp=1), and the
    narrowed seams loud (no PLTE, Adam7 at sub-byte)."""
    import numpy as np
    import pytest as _pytest

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(9)
    pal = rng.randint(0, 256, (64, 3)).astype(np.uint8)
    idx = rng.randint(0, 64, (7, 9))
    got = decode_png(encode_png(
        idx, 3, [r % 5 for r in range(7)], depth=8, palette=pal
    ))
    assert np.array_equal(got, pal[idx])
    got_i = decode_png(encode_png(idx, 3, depth=8, interlace=1, palette=pal))
    assert np.array_equal(got_i, pal[idx])

    for d in (4, 2, 1):
        idxd = rng.randint(0, 1 << d, (5, 11))  # odd width: partial byte
        pald = rng.randint(0, 256, (1 << d, 3)).astype(np.uint8)
        got = decode_png(encode_png(
            idxd, 3, [r % 5 for r in range(5)], depth=d, palette=pald
        ))
        assert np.array_equal(got, pald[idxd]), d

    # paletted without PLTE: loud
    raw = bytearray(encode_png(idx, 3, depth=8, palette=pal))
    # excise the PLTE chunk (starts right after IHDR)
    import struct

    plte_start = 8 + 12 + 13
    (plte_len,) = struct.unpack(">I", raw[plte_start : plte_start + 4])
    del raw[plte_start : plte_start + 12 + plte_len]
    with _pytest.raises(ValueError, match="PLTE"):
        decode_png(bytes(raw))


def test_decode_png_subbyte_grayscale():
    """Sub-byte GRAYSCALE PNG (r13, depths 1/2/4 — 1-bit document
    scans, 2/4-bit gray): bpp=1 BYTEwise filters over the packed
    stream, MSB-first unpack, max-scale to 8-bit (v·255/(2^d−1): 1-bit
    maps to exactly 0/255), odd widths with partial trailing bytes."""
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(3)
    for d in (1, 2, 4):
        v = rng.randint(0, 1 << d, (6, 11))
        got = decode_png(encode_png(v, 0, [r % 5 for r in range(6)], depth=d))
        exp = (v * 255 // ((1 << d) - 1)).astype(np.uint8)
        assert np.array_equal(got, np.repeat(exp[:, :, None], 3, 2)), d
    # 1-bit checkerboard: pure black/white
    cb = np.indices((4, 4)).sum(axis=0) % 2
    got = decode_png(encode_png(cb, 0, depth=1))
    assert set(np.unique(got)) == {0, 255}


def test_allpairs_l1_truth_matches_join_form(spark):
    """r13: the recall-eval ground truth runs as ONE numpy pass over the
    fixture-bounded decoded arrays — pin it against the definitional
    posexplode/position-join form on a corpus with known L1 geometry
    (including an exact-threshold tie and an unsorted id order)."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import _allpairs_l1_truth

    rows = [
        (30, [0, 0, 0, 0]),
        (10, [1, 2, 3, 4]),   # d(10,30)=10, d(10,20)=4
        (20, [1, 2, 3, 0]),   # d(20,30)=6
        (40, [100, 100, 100, 100]),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, arr array<bigint>")
    got = sorted(
        (r.doc_a, r.doc_b)
        for r in _allpairs_l1_truth(df, "arr", 6).collect()
    )
    # threshold 6 keeps (10,20)=4 and the EXACT tie (20,30)=6; drops 10
    assert got == [(10, 20), (20, 30)]

    px = df.select("doc_id", F.posexplode("arr").alias("pos", "val"))
    ref = sorted(
        (r.doc_a, r.doc_b)
        for r in (
            px.alias("a")
            .join(px.alias("b"), "pos")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(F.sum(F.abs(F.col("a.val") - F.col("b.val"))).alias("d"))
            .filter(F.col("d") <= 6)
            .collect()
        )
    )
    assert got == ref


def _golden_media_cases():
    """Fixed-seed inputs through every fixture encoder: all PNG color
    types at 8 and 16 bits, sequential and Adam7, paletted and sub-byte
    gray; APNG with sub-region rects, OVER blend and every dispose; GIF
    with interlace, a local palette, transparency and an LZW table
    overflow; BMP 24/32/8-bit; baseline JPEG gray, 4:4:4 and 4:2:0 with
    restarts; progressive JPEG at al 0 and 1 with restarts; AVI-MJPEG."""
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators import multimodal as mm

    def filt(n):  # every filter type, cycling over n rows
        return [r % 5 for r in range(n)]

    rng = np.random.RandomState(1313)
    q = rng.randint(1, 40, (8, 8)).astype(np.int64)
    c = {}
    for ct, ch in ((0, 1), (2, 3), (4, 2), (6, 4)):
        img = rng.randint(0, 256, (7, 9, ch)).astype(np.uint8)
        c[f"png_ct{ct}"] = mm.encode_png(img, ct, filt(7))
        img16 = rng.randint(0, 65536, (5, 6, ch)).astype(np.uint16)
        c[f"png16_ct{ct}"] = mm.encode_png(img16, ct, filt(5), depth=16)
        c[f"png_adam7_ct{ct}"] = mm.encode_png(img, ct, filt(15), interlace=1)
        c[f"png16_adam7_ct{ct}"] = mm.encode_png(
            img16, ct, depth=16, interlace=1
        )
    pal = rng.randint(0, 256, (40, 3)).astype(np.uint8)
    idx = rng.randint(0, 40, (7, 11))
    c["png_pal8"] = mm.encode_png(idx, 3, filt(7), palette=pal)
    c["png_pal8_adam7"] = mm.encode_png(
        idx, 3, filt(15), interlace=1, palette=pal
    )
    for d in (1, 2, 4):
        sub = rng.randint(0, 1 << d, (5, 11))
        c[f"png_pal{d}"] = mm.encode_png(sub, 3, filt(5), depth=d, palette=pal)
        c[f"png_gray{d}"] = mm.encode_png(sub, 0, filt(5), depth=d)
    frames = [rng.randint(0, 256, (6, 8, 4)).astype(np.uint8),
              rng.randint(0, 256, (3, 4, 4)).astype(np.uint8),
              rng.randint(0, 256, (2, 5, 4)).astype(np.uint8)]
    c["apng_rects"] = mm.encode_apng(
        frames, 6, [[1, 2, 3, 4, 0, 1], [4, 3, 2], [0, 1]],
        rects=[(0, 0), (2, 1), (3, 4)], blend=[0, 1, 1], dispose=[0, 2, 1])
    c["apng16_gray"] = mm.encode_apng(
        [rng.randint(0, 65536, (4, 5, 1)).astype(np.uint16) for _ in range(2)],
        0, depth=16,
    )
    gpal = rng.randint(0, 256, (5, 3)).astype(np.uint8)
    lpal = rng.randint(0, 256, (20, 3)).astype(np.uint8)
    gframes = [rng.randint(0, 5, (9, 7)), rng.randint(0, 20, (4, 3)),
               rng.randint(0, 5, (9, 7))]
    c["gif_interlaced_local"] = mm.encode_gif(
        gframes, gpal, interlace=[True, False, True],
        rects=[(0, 0), (2, 3), (0, 0)], transparent=[None, 1, 2],
        dispose=[0, 3, 2], bg=1, local_palettes=[None, lpal, None],
    )
    big = (np.arange(64 * 64).reshape(64, 64) * 7919 % 251)
    c["gif_lzw_overflow"] = mm.encode_gif(
        [big], rng.randint(0, 256, (251, 3)).astype(np.uint8)
    )
    img = rng.randint(0, 256, (5, 7, 3)).astype(np.uint8)
    c["bmp24"] = mm.encode_bmp(img)
    c["bmp32_topdown"] = mm.encode_bmp(img, 32, top_down=True)
    c["bmp8"] = mm.encode_bmp(rng.randint(0, 40, (6, 9)), 8, palette=pal)

    def coefs(by, bx):
        k = np.zeros((by, bx, 8, 8), np.int64)
        k[:, :, :3, :3] = rng.randint(-40, 41, (by, bx, 3, 3))
        k[:, :, 7, 7] = rng.randint(-2, 3, (by, bx))
        return k

    gray = coefs(3, 2)
    c["jpeg_gray"] = mm.encode_jpeg([gray], q, 24, 16)
    ycc = [coefs(4, 4), coefs(2, 2), coefs(2, 2)]
    s420 = [(2, 2), (1, 1), (1, 1)]
    c["jpeg_420_rst"] = mm.encode_jpeg(
        ycc, q, 30, 27, sampling=s420, restart_interval=3
    )
    c["jpeg_444"] = mm.encode_jpeg([coefs(2, 3) for _ in range(3)], q, 16, 24)
    for al in (0, 1):
        c[f"jpegp_al{al}_rst"] = mm.encode_jpeg_progressive(
            ycc, q, 30, 27, sampling=s420, al=al, restart_interval=2
        )
        c[f"jpegp_al{al}_gray"] = mm.encode_jpeg_progressive(
            [gray], q, 24, 16, al=al
        )
    c["avi_mjpeg"] = mm.encode_avi_mjpeg(
        [c["jpeg_gray"], c["jpeg_444"][:-1]], 16, 24, fps=12
    )
    return c


# md5 of each encoder output above; the encoders must stay byte-identical
_GOLDEN_ENCODED = {
    "png_ct0": "e6e45c3cf73c9d77ad4a46f7059fc43f",
    "png16_ct0": "399066c4f62723ac81bdb2fa49f22227",
    "png_adam7_ct0": "e614c292226d6140ed62018600f0caa5",
    "png16_adam7_ct0": "cd3bd264e4259c560f0f5442d4e83bb3",
    "png_ct2": "5279c980e88c9926f0245c590881e552",
    "png16_ct2": "21301622957b11a0e4ed7e62d0f38f91",
    "png_adam7_ct2": "bd056635cd457c5b70acde1415cad4c3",
    "png16_adam7_ct2": "abbef5f4b20e9a5584c6e3baf7690f84",
    "png_ct4": "df45a06bbe87cc404929dadb13bee7c2",
    "png16_ct4": "9e261acd66901bfb0bd39ac8f8950004",
    "png_adam7_ct4": "96c32d70c7d2d550212d7c71b161023c",
    "png16_adam7_ct4": "14cd806049531cc368ff66f332b539fa",
    "png_ct6": "73e565f0ca2d568fe1ec440a7a4d8e4f",
    "png16_ct6": "da5159cdc1ade8193c72cb05f34f6c6d",
    "png_adam7_ct6": "1c359b9a78b532739c6b1dea3c75dcf2",
    "png16_adam7_ct6": "b90ffdf78725056188c6600c8945b9a4",
    "png_pal8": "651c6ecdf43671402b14d1028a7acff6",
    "png_pal8_adam7": "26310f608e48fd25f429118cda46c36c",
    "png_pal1": "b8706eab71e634c14a480e6c3442e3ed",
    "png_gray1": "b69145ed515b8d1967a9ef7093a66892",
    "png_pal2": "7e838534d7a7a7436dfc8859f637737a",
    "png_gray2": "b964fbff0818dd538c291e9596025b13",
    "png_pal4": "60df7f6776ddf039a9126a7f6e6672b2",
    "png_gray4": "871704045c50159ec9484700f36cbbb9",
    "apng_rects": "3f1597c0c9678aed3605b6afff7b5b2b",
    "apng16_gray": "bb73766794bf18eabd457a022e9b5fc2",
    "gif_interlaced_local": "b15d3033753a22d1d663f7499d7ebad1",
    "gif_lzw_overflow": "7a9ff2177698b8e283f078b88a582358",
    "bmp24": "1b0c1e914adfec40be041c58288e1c6f",
    "bmp32_topdown": "dfe20b6bfab889b215a63d86664143a4",
    "bmp8": "778c2b2d754b1ca6bfb38a3e23f3d17c",
    "jpeg_gray": "32a206cd29e02dc3f020c475b9142038",
    "jpeg_420_rst": "bd845634932230a79f21761bea8b3828",
    "jpeg_444": "28691417621830134373c0c8b27999b6",
    "jpegp_al0_rst": "16826afcc590def487627a57b7cf31b9",
    "jpegp_al0_gray": "340e618fd1252991cc029f954adef5f7",
    "jpegp_al1_rst": "102bd80918497cdc9e6f748973f85902",
    "jpegp_al1_gray": "a7ebda9997e650494997f32d4090bbb7",
    "avi_mjpeg": "7c3041471527aaec93c11b64a169fc28",
}

# md5 of each payload's decoded frames (uint8 RGB, frames concatenated)
_GOLDEN_DECODED = {
    "png_ct0": "368a3fbf0c8664343947cf5abb88674b",
    "png16_ct0": "97157bd072743bbbbc47c394b436b441",
    "png_adam7_ct0": "368a3fbf0c8664343947cf5abb88674b",
    "png16_adam7_ct0": "97157bd072743bbbbc47c394b436b441",
    "png_ct2": "5cb198069772dcbdbb9d16f40448cc3a",
    "png16_ct2": "4c4db0fe13364ccef8385f9f698d784b",
    "png_adam7_ct2": "5cb198069772dcbdbb9d16f40448cc3a",
    "png16_adam7_ct2": "4c4db0fe13364ccef8385f9f698d784b",
    "png_ct4": "676819720f9e5c0c0683964840d4f9c0",
    "png16_ct4": "80fd0c0c85e4645cbdf77b58522e08a4",
    "png_adam7_ct4": "676819720f9e5c0c0683964840d4f9c0",
    "png16_adam7_ct4": "80fd0c0c85e4645cbdf77b58522e08a4",
    "png_ct6": "be93765812a4f1d5e9b7805593922619",
    "png16_ct6": "037588998b9eb9650ab129e9a148359c",
    "png_adam7_ct6": "be93765812a4f1d5e9b7805593922619",
    "png16_adam7_ct6": "037588998b9eb9650ab129e9a148359c",
    "png_pal8": "26377a8134593ff160f6b552649892ca",
    "png_pal8_adam7": "26377a8134593ff160f6b552649892ca",
    "png_pal1": "94a134bdb79c578b97fc237ed944e043",
    "png_gray1": "ff42bfaa03865c22ae0ded20e0488357",
    "png_pal2": "9792272b90a1907a4bee8897ee159f64",
    "png_gray2": "06b0f27619ee828bbb8e41a6d7f874aa",
    "png_pal4": "b78a8eb527be951809411d1f8e75fe73",
    "png_gray4": "0c4883a90d37174d28167256a007f6c7",
    "apng_rects": "1aa60d981e7e1dc40654911e0d18ff5f",
    "apng16_gray": "f785a8516ad601cfc9b4d86f56cbc379",
    "gif_interlaced_local": "cd2e3828473893ef44182177ec413db0",
    "gif_lzw_overflow": "b274ec6e059a67e5d368cbb6c2ff31f9",
    "bmp24": "f3a17f8d34966f0da5dda98a5478a31a",
    "bmp32_topdown": "f3a17f8d34966f0da5dda98a5478a31a",
    "bmp8": "afba397697e9d77e81bf2973b871943d",
    "jpeg_gray": "1a35d0b9a967e035eb5a659195296507",
    "jpeg_420_rst": "5d4dad46a5aec80d3681f9c00c21b1e5",
    "jpeg_444": "bcaaacbc43e509ef7ffed3fb21786a85",
    "jpegp_al0_rst": "5d4dad46a5aec80d3681f9c00c21b1e5",
    "jpegp_al0_gray": "1a35d0b9a967e035eb5a659195296507",
    "jpegp_al1_rst": "5d4dad46a5aec80d3681f9c00c21b1e5",
    "jpegp_al1_gray": "1a35d0b9a967e035eb5a659195296507",
    "avi_mjpeg": "bb0813305403b9ca1fac037a6876aaa6",
}


def _golden_decode(name, payload):
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators import multimodal as mm

    if name.startswith("apng"):
        frames = mm.decode_apng_frames(payload)
    elif name.startswith("png"):
        frames = [mm.decode_png(payload)]
    elif name.startswith("gif"):
        frames = mm.decode_gif_frames(payload)
    elif name.startswith("bmp"):
        frames = [mm.decode_bmp(payload)]
    elif name.startswith("jpeg"):
        frames = [mm.decode_jpeg(payload)]
    else:
        frames = mm.decode_avi_mjpeg_frames(payload)
    return b"".join(np.ascontiguousarray(f).tobytes() for f in frames)



def test_fixture_encoders_golden_bytes():
    """Every fixture encoder's output is pinned byte for byte, so a
    refactor of the shared PNG/JPEG primitives cannot move a fixture."""
    import hashlib

    got = {k: hashlib.md5(v).hexdigest() for k, v in _golden_media_cases().items()}
    assert got == _GOLDEN_ENCODED


def test_decoders_golden_pixels():
    """The real decoders' pixels for the golden payloads are pinned too;
    each progressive file decodes equal to its baseline twin."""
    import hashlib

    got = {
        k: hashlib.md5(_golden_decode(k, v)).hexdigest()
        for k, v in _golden_media_cases().items()
    }
    assert got == _GOLDEN_DECODED
    for al in (0, 1):
        assert got[f"jpegp_al{al}_rst"] == got["jpeg_420_rst"]
        assert got[f"jpegp_al{al}_gray"] == got["jpeg_gray"]


def _jpeg_one_scan_per_component(coefs, q, height, width, sampling):
    """A legal T.81 sequential file with one SOS per component: each
    component's entropy data comes from a one-component encode_jpeg and
    is re-wrapped under a single 3-component SOF0."""
    import struct

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        encode_jpeg,
    )

    full = encode_jpeg(coefs, q, height, width, sampling=sampling)
    head = full[: full.index(b"\xff\xda")]  # SOI, DQT, DHT, SOF0
    scans = b""
    for ci, c in enumerate(coefs):
        one = encode_jpeg([c], q, c.shape[0] * 8, c.shape[1] * 8)
        sos = one.index(b"\xff\xda")
        (ln,) = struct.unpack(">H", one[sos + 2 : sos + 4])
        entropy = one[sos + 2 + ln : -2]
        scans += (
            b"\xff\xda" + struct.pack(">HB", 8, 1)
            + bytes([ci + 1, 0x00, 0, 63, 0]) + entropy
        )
    return head + scans + b"\xff\xd9"


def test_jpeg_one_scan_per_component_matches_interleaved():
    """A baseline JPEG may code each component in its own scan (T.81
    sequential, non-interleaved); it must decode equal to the
    interleaved file of the same coefficients, not as grayscale."""
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(21)
    q = np.full((8, 8), 4, dtype=np.int64)
    for sampling, grids in (
        ([(1, 1)] * 3, [(2, 3)] * 3),
        ([(2, 2), (1, 1), (1, 1)], [(4, 4), (2, 2), (2, 2)]),
    ):
        coefs = []
        for by, bx in grids:
            c = np.zeros((by, bx, 8, 8), np.int64)
            c[:, :, :2, :2] = rng.randint(-30, 31, (by, bx, 2, 2))
            coefs.append(c)
        h, w = grids[0][0] * 8, grids[0][1] * 8
        interleaved = decode_jpeg(encode_jpeg(coefs, q, h, w, sampling=sampling))
        assert not np.array_equal(interleaved[:, :, 0], interleaved[:, :, 1])
        split = decode_jpeg(_jpeg_one_scan_per_component(coefs, q, h, w, sampling))
        assert np.array_equal(split, interleaved)
