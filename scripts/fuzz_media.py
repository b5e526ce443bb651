"""Structured media-decoder fuzz (r4 long-soak sibling of
fuzz_differential.py): mutate VALID payloads of every live decode path —
sequential + Adam7 PNG, baseline + progressive JPEG, sequential/interlaced/
animated GIF, BMP, PNM, WAV, and whole WARC records — with byte flips,
truncations, and splices, then assert the never-crash contract:

- pure-Python decoders raise ONLY their typed errors (ImageDecodeError /
  AudioDecodeError / JpegError) or succeed;
- the WARC stream parser yields rows, never raises;
- (no sha assertions on mutated payloads: formats without checksums can
  legitimately decode corrupted bytes to different-but-valid rasters, and
  decoder-specific error recovery may differ between the Python oracle and
  libjpeg — equality is pinned on VALID payloads in pytest instead.)

    python scripts/fuzz_media.py [--n 4000] [--seed 7]
"""

from __future__ import annotations

import argparse
import os
import random
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _mutate(rng: random.Random, payload: bytes) -> bytes:
    mode = rng.randrange(5)
    b = bytearray(payload)
    if not b:
        return b"\x00"
    if mode == 0:  # flip 1-4 bytes
        for _ in range(rng.randrange(1, 5)):
            b[rng.randrange(len(b))] ^= rng.randrange(1, 256)
        return bytes(b)
    if mode == 1:  # truncate
        return bytes(b[: rng.randrange(len(b))])
    if mode == 2:  # splice a random window from elsewhere in the payload
        i, j = sorted(rng.randrange(len(b)) for _ in range(2))
        k = rng.randrange(len(b))
        b[k : k + (j - i)] = b[i:j]
        return bytes(b)
    if mode == 3:  # append garbage
        return bytes(b) + bytes(rng.randrange(256) for _ in range(rng.randrange(1, 64)))
    return bytes(b)  # unmutated control


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=4000)
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    rng = random.Random(args.seed)

    from datetime import datetime

    from engine.jpeg import JpegError, build_jpeg, build_jpeg_progressive, decode_jpeg
    from engine.multimodal import (
        AudioDecodeError,
        ImageDecodeError,
        _gif_frame_iter,
        decode_bmp,
        decode_png,
        decode_pnm,
        decode_wav,
        encode_bmp,
        encode_gif_animated,
        encode_png,
        encode_wav,
    )
    from engine.sources import _parse_stream, encode_warc_record

    pal = bytes(v for i in range(8) for v in (40 + i * 10,) * 3)

    def seeds():
        w, h = 4 + rng.randrange(12), 3 + rng.randrange(9)
        pix3 = bytes(rng.randrange(256) for _ in range(w * h * 3))
        pix1 = bytes(rng.randrange(256) for _ in range(w * h))
        ids = [rng.randrange(8) for _ in range(w * h)]
        blk = [rng.randrange(-20, 21) for _ in range(64)]
        mcus = ((w + 7) // 8) * ((h + 7) // 8)
        blks = [[rng.randrange(-20, 21) for _ in range(64)] for _ in range(mcus)]
        samples = [rng.randrange(-32768, 32768) for _ in range(64 + rng.randrange(64))]
        return [
            ("png", decode_png, ImageDecodeError,
             encode_png(w, h, 3, pix3, filter_of_row=lambda r: r % 5)),
            ("png-adam7", decode_png, ImageDecodeError,
             encode_png(w, h, 3, pix3, interlace=True)),
            ("pnm", decode_pnm, ImageDecodeError, b"P6\n%d %d\n255\n" % (w, h) + pix3),
            ("pgm", decode_pnm, ImageDecodeError, b"P5\n%d %d\n255\n" % (w, h) + pix1),
            ("bmp", decode_bmp, ImageDecodeError, encode_bmp(w, h, pix3)),
            ("gif", None, ImageDecodeError,
             encode_gif_animated(w, h, pal, [list(ids)])),
            ("gif-anim", None, ImageDecodeError,
             encode_gif_animated(w, h, pal, [list(ids), list(ids)],
                                 delays_cs=[5, 7], interlace=bool(rng.getrandbits(1)))),
            ("jpeg", decode_jpeg, JpegError,
             build_jpeg(w, h, [8] * 64, [[list(b) for b in blks]])),
            ("jpeg-prog", decode_jpeg, JpegError,
             build_jpeg_progressive(w, h, [8] * 64, [[list(b) for b in blks]])),
            ("wav", decode_wav, AudioDecodeError, encode_wav(16000, 1, samples)),
        ]

    counts = {"ok": 0, "typed_error": 0}
    leaks = []
    for i in range(args.n):
        for name, fn, etype, payload in seeds():
            mutated = _mutate(rng, payload)
            try:
                if fn is None:  # gif demux path
                    list(_gif_frame_iter(mutated))
                else:
                    fn(mutated)
                counts["ok"] += 1
            except etype:
                counts["typed_error"] += 1
            except Exception as exc:  # noqa: BLE001 — the invariant under test
                leaks.append((name, type(exc).__name__, str(exc)[:80]))
        # WARC record: mutate + parse the stream (never raises)
        rec = encode_warc_record(
            f"https://f.example/{i}", datetime(2026, 1, 1), b"<p>x</p>" * rng.randrange(1, 9), "en"
        )
        import gzip

        blob = gzip.compress(rec)
        try:
            list(_parse_stream(_mutate(rng, blob), "fuzz", "response"))
            counts["ok"] += 1
        except Exception as exc:  # noqa: BLE001
            leaks.append(("warc", type(exc).__name__, str(exc)[:80]))

    total = args.n * 11
    print(f"media fuzz: {total} mutated payloads; ok={counts['ok']} "
          f"typed_error={counts['typed_error']} leaks={len(leaks)}")
    for name, et, msg in leaks[:10]:
        print(f"  LEAK {name}: {et}: {msg}")
    sys.exit(1 if leaks else 0)


if __name__ == "__main__":
    main()
