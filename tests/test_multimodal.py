"""Multimodal binary plumbing: schemas, batch shapes and determinism. PNM
(binary PGM/PPM) decodes for REAL via the pure-Python parser, and the raster
dispatcher routes it there by magic; undecodable payloads become error
rows."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from engine.multimodal import (
    ImageDecodeError,
    decode_images,
    decode_pnm,
    extract_binary_meta,
    resize_decoded,
    resize_images,
    _decode_raster,
)


@pytest.fixture()
def payloads(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    return docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))


def test_binary_meta_schema_and_values(spark, payloads):
    rows = extract_binary_meta(payloads).collect()
    assert len(rows) == 50
    for r in rows:
        assert r["fake_width"] == r["n_bytes"] % 640
        assert len(r["payload_sha"]) == 64


def test_resize_produces_bounded_binary(spark, payloads):
    rows = resize_images(payloads, 32, 32).collect()
    for r in rows:
        assert len(r["thumb"]) <= 32 * 32
        assert r["thumb_sha"] == hashlib.sha256(bytes(r["thumb"])).hexdigest()
        assert (r["width"], r["height"]) == (32, 32)


def test_deterministic_across_runs(spark, payloads):
    a = sorted(map(tuple, resize_images(payloads).collect()))
    b = sorted(map(tuple, resize_images(payloads).collect()))
    assert a == b


def test_decode_pnm_real_path():
    pix = bytes(range(24))  # 4x2 RGB
    assert decode_pnm(b"P6\n# c\n4 2\n255\n" + pix) == (4, 2, 3, pix)
    assert decode_pnm(b"P5 2 2 255\n" + bytes(4))[:3] == (2, 2, 1)
    # the raster dispatcher routes PNM to the native parser by magic
    assert _decode_raster(b"P6\n4 2\n255\n" + pix) == (4, 2, 3, pix)
    for bad in (
        b"GIF89a",                      # unsupported magic
        b"P6\n4 2\n255\n" + pix[:7],    # truncated raster
        b"P6\n4 2\n65535\n" + pix,      # 16-bit maxval
        b"P6\nx 2\n255\n" + pix,        # non-numeric dim
    ):
        with pytest.raises(ImageDecodeError):
            decode_pnm(bad)


def test_decode_images_stage_emits_error_rows(spark):
    """Corrupt payloads become status='error:*' rows (S1 convention), good
    ones decode for real — in one Arrow batch, never raising."""
    pix = bytes(range(18))  # 3x2 RGB
    rows = spark.createDataFrame(
        [(1, b"P6\n3 2\n255\n" + pix), (2, b"NOTANIMAGE"), (3, b"P6\n3 2\n255\nxy")],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r for r in decode_images(rows).collect()}
    assert got[1]["status"] == "ok"
    assert (got[1]["width"], got[1]["height"], got[1]["channels"]) == (3, 2, 3)
    assert got[1]["pixel_sha"] == hashlib.sha256(pix).hexdigest()
    assert got[2]["status"] == "error:unsupported"
    assert got[3]["status"] == "error:truncated raster"


def test_resize_decoded_nearest_neighbor(spark):
    """2x2 thumb of a 4x3 RGB ramp: source pixels (0,0),(0,2),(1,0),(1,2)."""
    w, h = 4, 3
    pix = bytes(range(w * h * 3))
    rows = spark.createDataFrame(
        [(7, b"P6\n4 3\n255\n" + pix)], "doc_id long, payload binary"
    )
    r = resize_decoded(rows, out_w=2, out_h=2).collect()[0]
    exp = b"".join(
        pix[((ti * h // 2) * w + (tj * w // 2)) * 3:][:3]
        for ti in range(2) for tj in range(2)
    )
    assert r["status"] == "ok"
    assert r["thumb_sha"] == hashlib.sha256(exp).hexdigest()


# --- PNG: pure-Python decode (zlib + unfiltering), VERDICT r2 #3 ---

from engine.multimodal import ImageDecodeError, decode_png, encode_png  # noqa: E402
import pytest  # noqa: E402


def _ramp(w, h, c, seed=0):
    return bytes((seed + i * 7) % 256 for i in range(w * h * c))


@pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
def test_png_roundtrip_every_filter_type(ft):
    """encode->decode is pixel-identical under each of the five spec
    scanline filters (None/Sub/Up/Average/Paeth)."""
    w, h, c = 9, 5, 3
    pix = _ramp(w, h, c, seed=ft)
    png = encode_png(w, h, c, pix, filter_of_row=lambda r: ft)
    assert decode_png(png) == (w, h, c, pix)


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_png_roundtrip_color_types(channels):
    """Gray / gray+alpha / RGB / RGBA all round-trip (color types 0/4/2/6)."""
    w, h = 6, 4
    pix = _ramp(w, h, channels, seed=channels)
    png = encode_png(w, h, channels, pix, filter_of_row=lambda r: (r + 1) % 5)
    assert decode_png(png) == (w, h, channels, pix)


def test_png_mixed_filters_per_row():
    w, h, c = 11, 7, 4
    pix = _ramp(w, h, c, seed=3)
    png = encode_png(w, h, c, pix, filter_of_row=lambda r: r % 5)
    assert decode_png(png) == (w, h, c, pix)


def test_png_corrupt_crc_rejected():
    png = bytearray(encode_png(4, 3, 3, _ramp(4, 3, 3)))
    png[-5] ^= 0xFF  # flip a byte inside the IEND CRC
    with pytest.raises(ImageDecodeError, match="crc"):
        decode_png(bytes(png))


def test_png_truncated_rejected():
    png = encode_png(4, 3, 3, _ramp(4, 3, 3))
    with pytest.raises(ImageDecodeError, match="truncated"):
        decode_png(png[:16])
    with pytest.raises(ImageDecodeError, match="truncated|crc"):
        decode_png(png[: len(png) - 7])


def test_png_bad_deflate_rejected():
    # valid chunk structure (CRC recomputed) around garbage IDAT bytes
    from engine.multimodal import _png_chunk, _PNG_MAGIC  # noqa: PLC2701
    import struct

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    png = (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", b"\x00garbage")
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ImageDecodeError, match="deflate"):
        decode_png(png)


def test_png_bad_interlace_and_depth_rejected():
    """Adam7 (method 1) is SUPPORTED since r4; methods > 1 and 16-bit depth
    are rejected loudly. A 2x2 Adam7 raster here is pass-structured (four
    1-pixel passes), so the sequential-shaped IDAT must be rejected too."""
    from engine.multimodal import _png_chunk, _PNG_MAGIC  # noqa: PLC2701
    import struct
    import zlib

    def mk(depth, interlace):
        ihdr = struct.pack(">IIBBBBB", 2, 2, depth, 2, 0, 0, interlace)
        raw = zlib.compress(b"\x00" + b"\x01" * 6 + b"\x00" + b"\x02" * 6)
        return (
            _PNG_MAGIC
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", raw)
            + _png_chunk(b"IEND", b"")
        )

    with pytest.raises(ImageDecodeError, match="bad interlace"):
        decode_png(mk(8, 2))
    with pytest.raises(ImageDecodeError, match="truncated raster"):
        decode_png(mk(8, 1))  # sequential-length IDAT under Adam7 header
    with pytest.raises(ImageDecodeError, match="bit depth"):
        decode_png(mk(16, 0))


def test_decode_images_dispatches_png(spark):
    """The Arrow decode stage handles PNM and PNG side by side in one batch,
    with corrupt PNGs becoming error rows."""
    pix = _ramp(3, 2, 3)
    png = encode_png(3, 2, 3, pix, filter_of_row=lambda r: 4)
    rows = spark.createDataFrame(
        [(1, png), (2, b"P6\n3 2\n255\n" + pix), (3, png[:16])],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r for r in decode_images(rows).collect()}
    assert got[1]["status"] == "ok" and got[2]["status"] == "ok"
    assert got[1]["pixel_sha"] == got[2]["pixel_sha"]
    assert got[3]["status"] == "error:truncated chunk"


# --- BMP / GIF / WAV: real lossless decode paths (r3) ---

from engine.multimodal import (  # noqa: E402
    AudioDecodeError,
    decode_audio,
    decode_bmp,
    decode_gif,
    decode_wav,
    encode_bmp,
    encode_gif,
    encode_wav,
)


def test_bmp_roundtrip_and_padding():
    for w, h in ((3, 2), (4, 3), (1, 1)):  # odd widths exercise row padding
        pix = bytes((i * 11) % 256 for i in range(w * h * 3))
        assert decode_bmp(encode_bmp(w, h, pix)) == (w, h, 3, pix)


def test_bmp_corrupt_rejected():
    with pytest.raises(ImageDecodeError, match="truncated header"):
        decode_bmp(b"BM" + b"\x00" * 10)
    good = encode_bmp(3, 2, bytes(18))
    with pytest.raises(ImageDecodeError, match="truncated raster"):
        decode_bmp(good[: len(good) - 4])
    with pytest.raises(ImageDecodeError, match="unsupported"):
        decode_bmp(b"XX" + good[2:])


def test_gif_roundtrip_real_lzw():
    pal = bytes(v for i in range(8) for v in (40 + i * 10,) * 3)
    for w, h in ((4, 3), (11, 7)):
        ids = [(i * 5 + i // 3) % 8 for i in range(w * h)]
        got = decode_gif(encode_gif(w, h, pal, ids))
        exp = b"".join(pal[i * 3 : i * 3 + 3] for i in ids)
        assert got == (w, h, 3, exp)


def test_gif_dictionary_growth_through_width_changes():
    """A long low-entropy stream forces the LZW dictionary through several
    code-width increases — the classic off-by-one trap; spec decoder and
    simulated-state encoder must stay in lockstep."""
    pal = bytes(v for i in range(4) for v in (10 + i * 30,) * 3)
    w, h = 64, 64
    ids = [(i // 7) % 4 for i in range(w * h)]
    got = decode_gif(encode_gif(w, h, pal, ids))
    assert got[3] == b"".join(pal[i * 3 : i * 3 + 3] for i in ids)


def test_gif_corrupt_rejected():
    pal = bytes(v for i in range(4) for v in (10 + i * 30,) * 3)
    gif = encode_gif(3, 2, pal, [0, 1, 2, 3, 0, 1])
    with pytest.raises(ImageDecodeError, match="truncated"):
        decode_gif(gif[:12])
    with pytest.raises(ImageDecodeError, match="truncated"):
        decode_gif(gif[: len(gif) - 3])
    # flipping the interlace flag on sequential data is not an error since
    # r4 (interlace is supported) — it just permutes rows; dims unchanged
    broken = bytearray(gif)
    # image descriptor starts after header(13) + gct(12): 0x2C then 9 bytes
    assert broken[25] == 0x2C
    broken[25 + 9] |= 0x40
    w2, h2, c2, _ = decode_gif(bytes(broken))
    assert (w2, h2, c2) == (3, 2, 3)


def test_wav_roundtrip_and_corruption():
    samples = [(i * 37) % 2001 - 1000 for i in range(300)]
    assert decode_wav(encode_wav(16000, 1, samples)) == (
        16000, 1, 300, sum(s * s for s in samples),
    )
    with pytest.raises(AudioDecodeError, match="unsupported"):
        decode_wav(b"RIFFxxxxNOPE")
    wav = encode_wav(8000, 2, samples)
    with pytest.raises(AudioDecodeError, match="truncated"):
        decode_wav(wav[: len(wav) - 5])


def test_decode_images_dispatches_bmp_and_gif(spark):
    pal = bytes(v for i in range(8) for v in (40 + i * 10,) * 3)
    pix = bytes(range(18))
    bmp = encode_bmp(3, 2, pix)
    gif = encode_gif(3, 2, pal, [0, 1, 2, 3, 4, 5])
    rows = spark.createDataFrame(
        [(1, bmp), (2, gif), (3, bmp[:20])], "doc_id long, payload binary"
    )
    got = {r["doc_id"]: r for r in decode_images(rows).collect()}
    assert got[1]["status"] == "ok"
    assert got[1]["pixel_sha"] == hashlib.sha256(pix).hexdigest()
    assert got[2]["status"] == "ok" and got[2]["n_pixel_bytes"] == 18
    assert got[3]["status"] == "error:truncated header"


def test_decode_audio_stage(spark):
    samples = [100, -100, 500]
    wav = encode_wav(44100, 1, samples)
    rows = spark.createDataFrame(
        [(1, wav), (2, b"NOTAUDIO")], "doc_id long, payload binary"
    )
    got = {r["doc_id"]: r for r in decode_audio(rows).collect()}
    assert got[1]["status"] == "ok"
    assert (got[1]["sample_rate"], got[1]["n_samples"]) == (44100, 3)
    assert got[1]["sum_sq"] == sum(s * s for s in samples)
    assert got[2]["status"] == "error:unsupported"


def test_gif_animated_frames_demux(spark):
    """VERDICT r3 #5: real multi-frame demux — an animated GIF89a with
    graphic-control extensions yields one row per frame with the exact
    palette-mapped RGB sha; single-frame decode still returns frame 0."""
    import hashlib

    from engine.multimodal import (
        _gif_frame_iter,
        encode_gif_animated,
        gif_frames,
    )

    pal = bytes(v for i in range(8) for v in (40 + i * 10,) * 3)
    w, h = 5, 4
    frame_ids = [[(i + f) % 8 for i in range(w * h)] for f in range(3)]
    g = encode_gif_animated(w, h, pal, frame_ids, delays_cs=[5, 10, 15])

    want = []
    for ids in frame_ids:
        rgb = b"".join(pal[i * 3 : i * 3 + 3] for i in ids)
        want.append(hashlib.sha256(rgb).hexdigest())
    assert [hashlib.sha256(f[2]).hexdigest() for f in _gif_frame_iter(g)] == want

    df = spark.createDataFrame([(1, g)], "doc_id long, payload binary")
    rows = sorted(
        (r["frame_idx"], r["status"], r["width"], r["height"], r["n_bytes"],
         r["frame_sha"])
        for r in gif_frames(df).collect()
    )
    assert rows == [(f, "ok", w, h, w * h * 3, want[f]) for f in range(3)]


def test_gif_frames_partial_container_emits_prefix_plus_error(spark):
    """A container corrupt AFTER its first frame keeps the decoded prefix
    and adds one error row at the failure index (corrupt->error-row)."""
    from engine.multimodal import encode_gif_animated, gif_frames

    pal = bytes(v for i in range(8) for v in (40 + i * 10,) * 3)
    g = encode_gif_animated(4, 3, pal, [[i % 8 for i in range(12)]] * 2)
    # cut inside the second frame's data (after frame 1's image block)
    cut = g[: len(g) - 6]
    df = spark.createDataFrame(
        [(1, cut), (2, b"XX"), (3, g)], "doc_id long, payload binary"
    )
    got = {}
    for r in gif_frames(df).collect():
        got.setdefault(r["doc_id"], []).append((r["frame_idx"], r["status"]))
    assert sorted(got[3]) == [(0, "ok"), (1, "ok")]
    assert sorted(got[2]) == [(0, "error:unsupported")]
    assert got[1][0] == (0, "ok") and got[1][-1][1].startswith("error:")


def test_png_adam7_interlace_roundtrip():
    """VERDICT r3 #8: Adam7 reassembly — pass-ordered, independently
    filtered scanlines (all five filter types cycling) must decode back to
    the exact raster for every channel count and awkward dimension,
    including sizes where some passes are empty."""
    import random

    from engine.multimodal import decode_png, encode_png

    rng = random.Random(5)
    for w, h, c in ((8, 8, 3), (13, 7, 3), (1, 1, 1), (5, 3, 1), (16, 16, 4),
                    (9, 10, 2), (2, 2, 3), (7, 1, 3), (1, 9, 3)):
        pix = bytes(rng.randrange(256) for _ in range(w * h * c))
        il = encode_png(w, h, c, pix, filter_of_row=lambda r: r % 5,
                        interlace=True)
        assert decode_png(il) == (w, h, c, pix), (w, h, c)
        # interlaced bytes genuinely differ from the sequential encoding
        assert il != encode_png(w, h, c, pix, filter_of_row=lambda r: r % 5)


def test_png_adam7_corrupt_rejected():
    from engine.multimodal import ImageDecodeError, decode_png, encode_png

    pix = bytes(i % 256 for i in range(8 * 8 * 3))
    il = encode_png(8, 8, 3, pix, interlace=True)
    with pytest.raises(ImageDecodeError):
        decode_png(il[:30])
    # interlaced raster byte count is validated against the Adam7 pass sum:
    # a sequential-length IDAT under an interlaced header must be rejected
    seq = encode_png(8, 8, 3, pix)  # interlace=0 raster
    forged = bytearray(seq)
    forged[16 + 12] = 1  # flip IHDR interlace byte (13th data byte)
    import struct as _s
    import zlib as _z
    ihdr = bytes(forged[16 : 16 + 13])
    forged[16 + 13 : 16 + 17] = _s.pack(">I", _z.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    with pytest.raises(ImageDecodeError, match="truncated raster"):
        decode_png(bytes(forged))


def test_gif_interlaced_roundtrip():
    """r4: four-pass GIF interlacing (spec appendix E) — the encoder twin
    writes pass-ordered rows + the interlace flag, the decoder scatters
    them back; pixels identical to the sequential encoding, and the
    interlaced bytes genuinely differ."""
    from engine.multimodal import decode_gif, encode_gif_animated

    pal = bytes(v for i in range(8) for v in (40 + i * 10,) * 3)
    for w, h in ((4, 3), (5, 9), (8, 8), (3, 1), (2, 17)):
        ids = [(i * 5 + 3) % 8 for i in range(w * h)]
        seq = encode_gif_animated(w, h, pal, [list(ids)])
        il = encode_gif_animated(w, h, pal, [list(ids)], interlace=True)
        assert decode_gif(il) == decode_gif(seq), (w, h)
        if h > 1:
            assert il != seq, (w, h)
