"""JVM-native media decode (engine/java/mediadec) vs the pure-Python oracle
decoders (engine/multimodal, engine/jpeg) — the fast-path/reference-twin
discipline (VERDICT r3 next-round #1): the production decode path runs
javax.imageio / javax.sound inside the JVM (no Arrow hop, no per-pixel
Python), and these differential tests pin it row-identical to the Python
decoders on synthesized corpora covering every live format branch.

JPEG exactness caveat: JPEG is lossy and libjpeg's integer IDCT may differ
from our float IDCT by ±1-2 per sample on general coefficients, so exact
sha parity is asserted only on the float-exact DC-only subset (the same
subset the gate query hash-pins); general streams assert structural parity
(status/dims/channels/byte count)."""

from __future__ import annotations

import random

import pytest

from engine.jpeg import build_jpeg
from engine.multimodal import (
    decode_audio,
    decode_audio_jvm,
    decode_images,
    decode_images_jvm,
    encode_bmp,
    encode_gif,
    encode_png,
    encode_wav,
    resize_decoded,
    resize_decoded_jvm,
)

pytestmark = pytest.mark.usefixtures("spark")


def _rows(df):
    return {r["doc_id"]: tuple(r)[1:] for r in df.collect()}


def _gray(n: int, seed: int) -> bytes:
    rng = random.Random(seed)
    return bytes(rng.randrange(256) for _ in range(n))


def _payload_df(spark, payloads):
    rows = [(i, p) for i, p in enumerate(payloads)]
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def test_jvm_image_decode_matches_python_on_all_formats(spark):
    """Pixel-sha parity on every live format branch: PPM, PGM, PNG
    (RGB with all five scanline filters, gray, RGBA), BMP, GIF, and the
    float-exact DC-only JPEG subset."""
    pal = bytes(v for i in range(8) for v in (40 + i * 10,) * 3)
    rgb = _gray(36, 1)
    payloads = [
        b"P6\n4 3\n255\n" + rgb,
        b"P5\n# comment\n6 4\n255\n" + _gray(24, 2),
        encode_png(4, 3, 3, rgb, filter_of_row=lambda r: r % 5),
        encode_png(3, 5, 3, _gray(45, 3), filter_of_row=lambda r: (r + 2) % 5),
        encode_png(6, 4, 1, _gray(24, 4)),
        encode_png(4, 4, 4, _gray(64, 5)),
        encode_bmp(4, 3, rgb),
        encode_bmp(7, 5, _gray(105, 6)),
        encode_gif(4, 3, pal, [i % 8 for i in range(12)]),
        encode_gif(9, 2, pal, [(i * 3) % 8 for i in range(18)]),
        build_jpeg(10, 6, [8] * 64, [[[16] + [0] * 63, [-32] + [0] * 63]]),
    ]
    df = _payload_df(spark, payloads)
    py, jv = _rows(decode_images(df)), _rows(decode_images_jvm(df))
    assert py == jv
    assert all(v[0] == "ok" for v in py.values()), py


def test_jvm_jpeg_general_streams_structural_parity(spark):
    """Random-coefficient gray + 4:2:0/4:2:2 color + restart-marker JPEGs:
    the JVM decode must succeed with identical dims/channels/byte counts
    (shas may differ by IDCT rounding — exactness for the lossy format is
    pinned on the DC-only subset above and against the independent textbook
    IDCT in tests/test_jpeg.py)."""
    random.seed(7)
    q = [1 + random.randrange(4) for _ in range(64)]
    blk = [random.randrange(-18, 19) for _ in range(64)]
    gray = build_jpeg(8, 8, q, [[list(blk)]])
    flat = [8] + [0] * 63
    color420 = build_jpeg(
        16, 16, [8] * 64, [[list(flat)] * 4, [list(flat)], [list(flat)]],
        sampling=((2, 2), (1, 1), (1, 1)),
    )
    rst = build_jpeg(
        48, 8, [8] * 64,
        [[[dc] + [0] * 63 for dc in (16, -32, 48, 0, 8, -8)]],
        restart_interval=2,
    )
    df = _payload_df(spark, [gray, color420, rst])
    py, jv = _rows(decode_images(df)), _rows(decode_images_jvm(df))
    for k in py:
        assert jv[k][0] == "ok", (k, jv[k])
        assert py[k][:4] == jv[k][:4], (k, py[k], jv[k])  # status..n_pixel_bytes


def test_jvm_corrupt_payloads_are_error_rows(spark):
    """Corrupt/unknown payloads: unknown magic -> error:unsupported on BOTH
    paths (same pre-decode dispatch); known-magic-but-broken -> error:* on
    both (the JVM path normalizes Python's truncation flavors into
    error:decode). Never a task failure."""
    payloads = [
        b"",
        b"XX nothing",
        encode_png(2, 2, 3, _gray(12, 8))[:16],
        encode_bmp(3, 3, _gray(27, 9))[:20],
        encode_gif(3, 3, bytes(24), [0] * 9)[:12],
        build_jpeg(8, 8, [8] * 64, [[[0] * 64]])[:8],
        b"P6\n4 3\n255\n" + b"\x00" * 5,  # truncated raster
        b"P6\n0 0\n255\n",  # non-positive dims
    ]
    df = _payload_df(spark, payloads)
    py, jv = _rows(decode_images(df)), _rows(decode_images_jvm(df))
    for k in py:
        assert py[k][0].startswith("error:"), (k, py[k])
        assert jv[k][0].startswith("error:"), (k, jv[k])
        assert py[k][1:] == jv[k][1:] == (0, 0, 0, 0, "")
        # unknown-magic classification agrees exactly
        if py[k][0] == "error:unsupported":
            assert jv[k][0] == "error:unsupported"


def test_jvm_audio_decode_matches_python(spark):
    """16-bit PCM WAV parity: sample_rate/channels/n_samples and the exact
    integer sum of squares agree (n_samples counts SAMPLES across channels,
    matching decode_wav). Corrupt -> error rows on both."""
    mono = [(i * 37) % 2001 - 1000 for i in range(777)]
    stereo = [(i * 91) % 4001 - 2000 for i in range(404)]  # 202 frames x 2ch
    payloads = [
        encode_wav(16000, 1, mono),
        encode_wav(8000, 2, stereo),
        encode_wav(44100, 1, [0, 32767, -32768, -1]),
        b"XX not audio",
        encode_wav(16000, 1, mono)[:10],
    ]
    df = _payload_df(spark, payloads)
    py, jv = _rows(decode_audio(df)), _rows(decode_audio_jvm(df))
    for k in (0, 1, 2):
        assert py[k] == jv[k] and py[k][0] == "ok", (k, py[k], jv[k])
    for k in (3, 4):
        assert py[k][0].startswith("error:") and jv[k][0].startswith("error:")


def test_jvm_resize_nn_matches_python_and_extends_it(spark):
    """NN thumbnail sha parity on PNM (the Python twin's only format) at
    several output sizes; the JVM path additionally resizes formats the
    Python twin rejects (PNG) with the sha the Python INDEX MATH predicts."""
    import hashlib

    w, h = 9, 7
    pix = _gray(w * h * 3, 10)
    ppm = b"P6\n%d %d\n255\n" % (w, h) + pix
    df = _payload_df(spark, [ppm])
    for ow, oh in ((2, 2), (3, 2), (1, 1), (4, 4)):
        py = _rows(resize_decoded(df, ow, oh))
        jv = _rows(resize_decoded_jvm(df, ow, oh))
        assert py == jv and py[0][0] == "ok", (ow, oh, py, jv)

    png = encode_png(w, h, 3, pix)
    jv = _rows(resize_decoded_jvm(_payload_df(spark, [png]), 2, 2))
    want = b"".join(
        pix[((ti * h // 2) * w + (tj * w // 2)) * 3:][:3]
        for ti in range(2)
        for tj in range(2)
    )
    assert jv[0] == ("ok", 2, 2, hashlib.sha256(want).hexdigest())


def test_jvm_decode_plan_has_no_python_stage(spark, tmp_path):
    """The point of the JVM twin: reading payloads from parquet and decoding
    must produce a plan with NO Python evaluation operator of any kind —
    the decode is a JVM Project over the scan."""
    df = _payload_df(spark, [encode_png(4, 3, 3, _gray(36, 11))])
    p = str(tmp_path / "payloads.parquet")
    df.write.parquet(p)
    plan = (
        decode_images_jvm(spark.read.parquet(p))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for op in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "PythonMapInArrow"):
        assert op not in plan, plan


def test_jvm_decodes_progressive_jpeg(spark):
    """Cross-decoder pin for progressive SOF2 (r4): libjpeg (via
    javax.imageio) must decode our progressive constructions — DC-only
    streams byte-exactly (float-exact subset), general streams with
    identical structure; and Python progressive decode == Python baseline
    decode is pinned in tests/test_jpeg.py, closing the triangle."""
    import random

    from engine.jpeg import build_jpeg, build_jpeg_progressive

    random.seed(13)
    q = [8] * 64
    flat = [[16] + [0] * 63, [-32] + [0] * 63]
    dc_base = build_jpeg(10, 6, q, [[list(b) for b in flat]])
    dc_prog = build_jpeg_progressive(10, 6, q, [[list(b) for b in flat]])
    rq = [1 + random.randrange(4) for _ in range(64)]
    rblks = [[random.randrange(-15, 16) for _ in range(64)] for _ in range(6)]
    rnd_base = build_jpeg(24, 16, rq, [[list(b) for b in rblks]])
    rnd_prog = build_jpeg_progressive(24, 16, rq, [[list(b) for b in rblks]])

    df = _payload_df(spark, [dc_base, dc_prog, rnd_base, rnd_prog])
    py, jv = _rows(decode_images(df)), _rows(decode_images_jvm(df))
    # DC-only: all four decoders (py-base, py-prog, jvm-base, jvm-prog)
    # produce the SAME pixels
    assert py[0] == py[1] == jv[0] == jv[1] and py[0][0] == "ok"
    # general: python prog == python base exactly; jvm prog == jvm base
    # exactly; py vs jvm structural (IDCT rounding may differ)
    assert py[2] == py[3] and py[2][0] == "ok"
    assert jv[2] == jv[3] and jv[2][0] == "ok"
    assert py[2][:4] == jv[2][:4]


def test_jvm_decodes_adam7_interlaced_png(spark):
    """Cross-decoder pin for Adam7 (r4): javax.imageio's PNG reader
    deinterlaces natively, so both paths must produce the IDENTICAL raster
    sha for interlaced payloads (lossless format — exact equality)."""
    payloads = []
    for w, h, c in ((8, 8, 3), (13, 7, 3), (16, 16, 4), (5, 3, 1)):
        pix = _gray(w * h * c, seed=w * 100 + h)
        payloads.append(
            encode_png(w, h, c, pix, filter_of_row=lambda r: r % 5,
                       interlace=True)
        )
    df = _payload_df(spark, payloads)
    py, jv = _rows(decode_images(df)), _rows(decode_images_jvm(df))
    assert py == jv
    assert all(v[0] == "ok" for v in py.values()), py


def test_jvm_gif_frames_matches_python(spark):
    """Animated-GIF demux parity (r4): the JVM path (ImageIO multi-frame +
    JVM-side explode) emits the SAME per-frame rows as the Python demux on
    valid containers — and its plan has zero Python operators."""
    from engine.multimodal import encode_gif_animated, gif_frames, gif_frames_jvm

    pal = bytes(v for i in range(8) for v in (40 + i * 10,) * 3)
    payloads = [
        encode_gif_animated(4, 3, pal, [[(i + f) % 8 for i in range(12)]
                                        for f in range(3)], delays_cs=[5] * 3),
        encode_gif_animated(7, 5, pal, [[(i * 3) % 8 for i in range(35)]]),
        encode_gif_animated(5, 9, pal, [[(i + f * 2) % 8 for i in range(45)]
                                        for f in range(2)], interlace=True),
        b"XX not a gif",
    ]
    df = _payload_df(spark, payloads)

    def rows(frame_df):
        return sorted(tuple(r) for r in frame_df.collect())

    py, jv = rows(gif_frames(df)), rows(gif_frames_jvm(df))
    assert py == jv
    assert sum(1 for r in py if r[2] == "ok") == 6  # 3 + 1 + 2 frames

    plan = gif_frames_jvm(df)._jdf.queryExecution().executedPlan().toString()
    for op in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "PythonMapInArrow"):
        assert op not in plan, plan


def test_jvm_libjpeg_agrees_on_per_component_dc_scans(spark):
    """Review r4 fix, externally validated: libjpeg decodes our
    per-component-DC-scan progressive 4:2:0 stream to the SAME pixels as
    the baseline stream (flat DC values -> float-exact), and our Python
    progressive decoder matches byte-for-byte — three decoders, one
    convention."""
    from engine.jpeg import build_jpeg, build_jpeg_progressive

    q = [8] * 64
    flat = lambda v: [v] + [0] * 63  # noqa: E731
    yb = [list(flat(8))] * 16
    cb = [list(flat(-4))] * 4
    cr = [list(flat(6))] * 4
    kw = {"sampling": [(2, 2), (1, 1), (1, 1)]}
    scans = [([0], 0, 0, 0, 0), ([1], 0, 0, 0, 0), ([2], 0, 0, 0, 0),
             ([0], 1, 63, 0, 0), ([1], 1, 63, 0, 0), ([2], 1, 63, 0, 0)]
    mk = lambda f: f(32, 32, q, [[list(b) for b in yb], [list(b) for b in cb],  # noqa: E731
                                 [list(b) for b in cr]],
                     **({"scans": scans} if f is build_jpeg_progressive else {}),
                     **kw)
    df = _payload_df(spark, [mk(build_jpeg), mk(build_jpeg_progressive)])
    jv, py = _rows(decode_images_jvm(df)), _rows(decode_images(df))
    assert jv[0] == jv[1] == py[0] == py[1] and jv[0][0] == "ok"


def test_register_falls_back_to_python_twins_when_jar_unavailable(
    spark, monkeypatch
):
    """VERDICT r7 #1: in a session where the mediadec class cannot load AND
    the jar file is absent, the ``*_jvm`` entry points must return the
    value-pinned Python twins instead of raising — the driver gate runs the
    registry in its own session. Simulated by pointing registration at a
    bogus class and the jar resolver at a missing path."""
    import engine.multimodal as mm

    spark.conf.unset("spark.mediadec.registered")
    monkeypatch.setattr(
        mm, "_JVM_UDFS",
        tuple((n, "mediadec.NoSuchClass", d) for n, _, d in mm._JVM_UDFS),
    )
    monkeypatch.setattr(mm, "_mediadec_jar_path", lambda: "/nonexistent/x.jar")
    try:
        with pytest.warns(RuntimeWarning, match="fall back to the Python twins"):
            assert mm.register_jvm_media(spark) is False
        # flag caches the decision for the session
        assert spark.conf.get("spark.mediadec.registered") == "fallback"
        pal = bytes(v for i in range(8) for v in (40 + i * 10,) * 3)
        df = _payload_df(
            spark,
            [b"P6\n4 3\n255\n" + _gray(36, 11), encode_bmp(4, 3, _gray(36, 12)),
             encode_gif(4, 3, pal, [i % 8 for i in range(12)]), b"XX bad"],
        )
        assert _rows(mm.decode_images_jvm(df)) == _rows(decode_images(df))
        wav = _payload_df(spark, [encode_wav(16000, 1, [5, -5, 100])])
        assert _rows(mm.decode_audio_jvm(wav)) == _rows(decode_audio(wav))
    finally:
        spark.conf.unset("spark.mediadec.registered")


def test_register_add_jar_recovers_in_bare_session(tmp_path):
    """A session created WITHOUT spark.jars (exactly the driver gate's
    environment) must still get the live JVM path: register_jvm_media
    resolves dist/mediadec.jar and ADD JARs it onto the running session.
    Needs a fresh JVM (the shared fixture's context already carries the
    jar), so it runs in a subprocess."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.exists(os.path.join(repo, "dist", "mediadec.jar")):
        pytest.skip("dist/mediadec.jar not built")
    code = r"""
import sys
sys.path.insert(0, %r)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .appName("bare-addjar-test").config("spark.ui.enabled", "false")
         .getOrCreate())
import engine.multimodal as mm
assert mm.register_jvm_media(spark) is True, "ADD JAR retry did not register"
from engine.multimodal import decode_images, decode_images_jvm, encode_bmp
df = spark.createDataFrame(
    [(0, encode_bmp(4, 3, bytes(range(36))))], "doc_id long, payload binary")
jv = {r["doc_id"]: tuple(r)[1:] for r in decode_images_jvm(df).collect()}
py = {r["doc_id"]: tuple(r)[1:] for r in decode_images(df).collect()}
assert jv == py and jv[0][0] == "ok", (jv, py)
print("ADDJAR_OK")
spark.stop()
"""
    out = subprocess.run(
        [sys.executable, "-c", code % repo],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    assert "ADDJAR_OK" in out.stdout, out.stdout + out.stderr
