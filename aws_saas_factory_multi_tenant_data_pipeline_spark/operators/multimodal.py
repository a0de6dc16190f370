"""Multimodal column plumbing (SURVEY.md §2 B10).

Images/audio/video are opaque ``binary`` columns + typed metadata structs.
The Spark-side plumbing — schema, partition-preserving mapInPandas, Arrow
batch shapes — is real and tested. The codec step is REAL for the
dependency-free formats — PPM images (P6/P3, pure numpy), PNG images
(stdlib ``zlib`` inflate + numpy unfiltering: all five scanline filters,
color types 0/2/3/4/6 at 8-bit depth), and PCM WAV audio (stdlib
``wave``) are actually decoded to pixel/sample arrays and summarized
into features. JPEG is ALSO a real decode as of round 6 —
``operators/jpeg.py`` implements BOTH baseline sequential DCT and
progressive (SOF2) modes from ITU-T T.81 (Huffman,
4:4:4/4:2:0/4:2:2, restart markers, grayscale, spectral selection +
successive approximation), and FLAC audio is a real decode
(``operators/flac.py``: fixed + LPC predictors, Rice residuals,
stereo decorrelation, STREAMINFO md5 cross-check — the format speech
corpora like LibriSpeech actually ship). The MP4 CONTAINER layer is
real too (``operators/mp4.py``: ISO-BMFF box walk, track metadata,
sample tables, byte-exact frame extraction —
:func:`sample_video_frames`), MJPEG tracks decode END-TO-END (each
access unit is a JPEG — :func:`mjpeg_frame_hashes`), and as of round 9
H.264 KEYFRAMES decode for real through the scoped intra-only decoder
(``operators/h264.py``, :func:`avc_frame_hashes`; inter frames and
CABAC remain declared per-row boundaries). MP3 has a REAL scoped
Layer III decode as of round 7 (``operators/mp3.py``: full chain with
three declared ValueError boundaries — Huffman tables 11-31, intensity
stereo, computed synthesis prototype). The generic feature path's
digest-derived fallback and the ``decoded`` output column say which
path a row took.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: canonical multimodal record schema
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                    T.StructField("mime", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("payload_sha256", T.StringType(), True),
        T.StructField("payload_bytes", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        T.StructField("decoded", T.BooleanType(), True),
    ]
)


def decode_ppm(payload: bytes):
    """Real PPM decode (P6 binary / P3 ascii), pure numpy: returns
    (pixels HxWx3 uint8, width, height) or raises ValueError."""
    import numpy as np

    if not payload or payload[:2] not in (b"P6", b"P3"):
        raise ValueError("not a PPM payload")
    # tokenize the header, honoring '#' comments
    toks, i, n = [], 2, len(payload)
    while len(toks) < 3 and i < n:
        c = payload[i : i + 1]
        if c == b"#":
            while i < n and payload[i : i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < n and not payload[j : j + 1].isspace():
                j += 1
            toks.append(payload[i:j])
            i = j
    if len(toks) < 3:
        raise ValueError("truncated PPM header")
    w, h, maxval = (int(t) for t in toks)
    if maxval != 255:
        raise ValueError("only maxval=255 PPM supported")
    if payload[:2] == b"P6":
        body = payload[i + 1 : i + 1 + w * h * 3]  # single whitespace after maxval
        if len(body) != w * h * 3:
            raise ValueError("truncated PPM body")
        px = np.frombuffer(body, dtype=np.uint8)
    else:
        px = np.array(payload[i:].split(), dtype=np.uint8)
        if px.size != w * h * 3:
            raise ValueError("truncated P3 body")
    return px.reshape(h, w, 3), w, h


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_JPEG_SIG = b"\xff\xd8"


def decode_png(payload: bytes):
    """Real PNG decode, stdlib zlib + numpy (no codec libraries): parses
    the chunk stream (CRC-verified), inflates IDAT, reverses all five
    scanline filters (None/Sub/Up/Average/Paeth, RFC 2083 §6), and
    normalizes to RGB. Supports 8-bit depth, color types 0 (gray),
    2 (RGB), 3 (palette via PLTE), 4 (gray+alpha), 6 (RGBA); rejects
    interlaced and 16-bit images with a clear error. Returns
    (pixels HxWx3 uint8, width, height) or raises ValueError — ALWAYS
    ValueError, whatever the tear: struct/zlib errors on torn input are
    normalized so per-row decode guards need exactly one except type."""
    if not payload or not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    try:
        return _decode_png_inner(payload)
    except ValueError:
        raise
    except Exception as exc:  # struct.error / zlib.error on torn input
        raise ValueError(f"malformed PNG: {exc}") from exc


def _decode_png_inner(payload: bytes):
    import struct
    import zlib

    import numpy as np

    i, n = 8, len(payload)
    ihdr, plte, idat = None, None, []
    while i + 12 <= n:
        (length,) = struct.unpack(">I", payload[i : i + 4])
        typ = payload[i + 4 : i + 8]
        data = payload[i + 8 : i + 8 + length]
        if len(data) != length:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack(">I", payload[i + 8 + length : i + 12 + length])
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC on {typ!r} chunk")
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        i += 12 + length
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if depth != 8:
        raise ValueError(f"only 8-bit PNG supported (depth={depth})")
    if comp != 0 or filt != 0:
        raise ValueError("nonstandard PNG compression/filter method")
    if interlace:
        raise ValueError("interlaced (Adam7) PNG not supported")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise ValueError(f"bad PNG color type {color}")
    if w * h > 1 << 26:
        # declared decode bound (64 Mpx, same as GIF/JPEG): oversized
        # headers quarantine instead of licensing multi-GB allocations
        raise ValueError(f"image {w}x{h} exceeds the 64 Mpx decode bound")
    stride = w * channels
    expected = (stride + 1) * h
    # CAPPED inflate: zlib.decompress without a bound is a zip-bomb
    # vector — a few-KB IDAT stream may inflate to GBs BEFORE the length
    # check. Cap at expected+1: exactly-expected output with the stream
    # fully consumed is the only valid shape; anything longer or with
    # unconsumed input is a mismatch.
    dec = zlib.decompressobj()
    raw = dec.decompress(b"".join(idat), expected + 1)
    # not dec.eof: a stream truncated before its adler32 trailer can
    # still yield exactly `expected` bytes — that's a TORN payload (and
    # unverified integrity), not a decode (r8 self-review repro)
    if (
        len(raw) != expected
        or dec.unconsumed_tail
        or dec.decompress(b"", 1)
        or not dec.eof
    ):
        raise ValueError("PNG pixel data length mismatch")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    ftypes = rows[:, 0]
    out = np.zeros((h, stride), dtype=np.int32)
    bpp = channels  # bytes per pixel at 8-bit depth
    for y in range(h):
        f = int(ftypes[y])
        line = rows[y, 1:].astype(np.int32)
        prev = out[y - 1] if y else np.zeros(stride, dtype=np.int32)
        if f == 0:
            out[y] = line
        elif f == 2:  # Up
            out[y] = (line + prev) % 256
        elif f in (1, 3, 4):  # Sub / Average / Paeth: serial in x, vector in channels
            rec = out[y]
            for x0 in range(0, stride, bpp):
                a = rec[x0 - bpp : x0] if x0 else np.zeros(bpp, dtype=np.int32)
                b = prev[x0 : x0 + bpp]
                cur = line[x0 : x0 + bpp]
                if f == 1:
                    rec[x0 : x0 + bpp] = (cur + a) % 256
                elif f == 3:
                    rec[x0 : x0 + bpp] = (cur + (a + b) // 2) % 256
                else:
                    c = prev[x0 - bpp : x0] if x0 else np.zeros(bpp, dtype=np.int32)
                    p = a + b - c
                    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                    pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
                    rec[x0 : x0 + bpp] = (cur + pred) % 256
        else:
            raise ValueError(f"bad PNG scanline filter {f}")
    px = out.astype(np.uint8).reshape(h, w, channels)
    if color == 2:
        rgb = px
    elif color == 6:
        rgb = px[..., :3]
    elif color == 0:
        rgb = np.repeat(px, 3, axis=2)
    elif color == 4:
        rgb = np.repeat(px[..., :1], 3, axis=2)
    else:  # palette
        if plte is None or len(plte) % 3:
            raise ValueError("palette PNG missing/invalid PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = px[..., 0]
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("palette index out of range")
        rgb = pal[idx]
    return np.ascontiguousarray(rgb), w, h


def encode_png(pixels) -> bytes:
    """Real PNG encode, stdlib zlib + numpy: 8-bit RGB (color type 2),
    filter 0 scanlines, single zlib-compressed IDAT. The exact inverse of
    :func:`decode_png` for RGB input (round-trip is pixel-exact)."""
    import struct
    import zlib

    import numpy as np

    px = np.ascontiguousarray(np.asarray(pixels, dtype=np.uint8))
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("encode_png expects HxWx3 uint8")
    h, w = px.shape[:2]

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 9))
        + chunk(b"IEND", b"")
    )


def decode_wav(payload: bytes):
    """Real WAV decode — integer PCM 8/16-bit plus G.711 μ-law/A-law
    voice WAVs (fmt codes 6/7, incl. WAVE_FORMAT_EXTENSIBLE wrapping):
    returns (mono float64 samples in [-1, 1], sample_rate, n_channels)
    or raises ValueError (the quarantine contract — the stdlib ``wave``
    module this replaced raised ``wave.Error`` on any non-PCM file,
    which would abort a batch instead of quarantining the row)."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.g711 import (
        parse_wav,
    )

    return parse_wav(payload)


# --- codec registry: the swap seam ------------------------------------------
#
# Every feature/hash/dedup operator decodes through ONE dispatch table keyed
# by sniffed format, so swapping a pure-Python codec for a native binding
# (libjpeg-turbo, libFLAC) at 100 TB is a registry call, not a code edit —
# the contract SCALE.md documents, made executable (tested in
# tests/test_codec_registry.py). The mapInPandas wrappers snapshot the
# tables at PLAN-BUILD time and close over the snapshot, so a driver-side
# registration reaches the Python workers via cloudpickle; worker processes
# re-importing this module otherwise only ever see the stdlib defaults.
# A registered decoder must honor the same contract as the stdlib one:
# images -> (uint8 pixels [h,w,3], width, height); audio -> (mono float64
# samples in [-1, 1], sample_rate, n_channels); ValueError on torn input.


def _decode_jpeg_rgb(payload: bytes):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.jpeg import (
        decode_jpeg,
    )

    return decode_jpeg(payload)


def _decode_flac_mono(payload: bytes):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.flac import (
        decode_flac,
    )

    samples, sr, ch, bps = decode_flac(payload)
    x = samples.astype("float64") / float(1 << (bps - 1))
    x = x.mean(axis=1) if ch > 1 else x[:, 0]
    return x, sr, ch


def _decode_gif_rgb(payload: bytes):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.gif import (
        decode_gif,
    )

    return decode_gif(payload)


def _decode_ico_rgb(payload: bytes):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.ico import (
        decode_ico,
    )

    return decode_ico(payload)


def _decode_bmp_rgb(payload: bytes):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.ico import (
        decode_bmp,
    )

    return decode_bmp(payload)


def _decode_h264_rgb(payload: bytes):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.h264 import (
        decode_idr,
    )

    return decode_idr(payload)


def _decode_qoi_rgb(payload: bytes):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.qoi import (
        decode_qoi,
    )

    return decode_qoi(payload)


def _decode_tiff_rgb(payload: bytes):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.tiff import (
        decode_tiff,
    )

    return decode_tiff(payload)


def _decode_tga_rgb(payload: bytes):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.tga import (
        decode_tga,
    )

    return decode_tga(payload)


def _decode_webp_rgb(payload: bytes):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.webp import (
        decode_webp,
    )

    return decode_webp(payload)


def _decode_ras_rgb(payload: bytes):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.ras import (
        decode_ras,
    )

    return decode_ras(payload)


def _decode_sgi_rgb(payload: bytes):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.sgi import (
        decode_sgi,
    )

    return decode_sgi(payload)


def _decode_exr_rgb(payload: bytes):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.exr import (
        decode_exr_rgb,
    )

    return decode_exr_rgb(payload)


def _decode_pnm_rgb(payload: bytes):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.pnm import (
        decode_pnm_rgb,
    )

    return decode_pnm_rgb(payload)


def _decode_xbm_rgb(payload: bytes):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.xbm import (
        decode_xbm_rgb,
    )

    return decode_xbm_rgb(payload)


def _decode_heif_rgb(payload: bytes):
    # r13: the HEIC quarantine is CLOSED — HEIF items route through the
    # from-spec HEVC intra decoder (operators/heif.py; grid + irot
    # supported; pinned pixel-exact vs the system libheif on full-range
    # streams, tests/test_heif.py)
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.heif import (
        decode_heif,
    )

    return decode_heif(payload)


def _quarantine_avif(payload: bytes):
    raise ValueError(
        "AVIF still (ISO-BMFF ftyp avif): AV1 intra decode is a declared "
        "boundary — swap in a native decoder via "
        "register_image_decoder('avif', ...)"
    )


def _stdlib_image_decoders() -> dict:
    return {
        "png": decode_png,
        "jpeg": _decode_jpeg_rgb,
        "ppm": decode_ppm,
        "gif": _decode_gif_rgb,
        "ico": _decode_ico_rgb,
        "bmp": _decode_bmp_rgb,
        # an Annex-B H.264 keyframe access unit decodes like a still
        # image (intra-only scope; operators/h264.py)
        "h264": _decode_h264_rgb,
        "qoi": _decode_qoi_rgb,
        "tiff": _decode_tiff_rgb,
        # VP8L lossless from spec (operators/webp.py, RFC 9649); lossy
        # VP8 key frames from spec too (operators/vp8.py, RFC 6386,
        # r11 — bit-exact vs libwebp on the real python.webp)
        "webp": _decode_webp_rgb,
        # TGA has no magic number: never sniffed from payload bytes —
        # reachable only via extension routing or an explicit decoders
        # dict (operators/tga.py docstring)
        "tga": _decode_tga_rgb,
        # r11 raster wave — every entry real-file-pinned against the
        # CPython imghdrdata twins of the same logo
        "ras": _decode_ras_rgb,
        "sgi": _decode_sgi_rgb,
        "exr": _decode_exr_rgb,
        "pnm": _decode_pnm_rgb,
        "xbm": _decode_xbm_rgb,
        # r13: HEIC decodes from spec (HEIF items -> HEVC intra)
        "heif": _decode_heif_rgb,
        # named quarantine boundary (never a silent unknown): decode
        # needs AV1 intra; operators/av1.py carries the OBU probe, and
        # a native decoder can swap in via register_image_decoder
        "avif": _quarantine_avif,
    }


def _decode_mp3_mono(payload: bytes):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.mp3 import (
        decode_mp3,
    )

    samples, sr, ch = decode_mp3(payload)
    x = samples.mean(axis=1) if ch > 1 else samples[:, 0]
    return x, sr, ch


def _decode_aiff_mono(payload: bytes):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.aiff import (
        parse_aiff,
    )

    return parse_aiff(payload)


def _decode_au_mono(payload: bytes):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.au import (
        parse_au,
    )

    return parse_au(payload)


def _decode_8svx_mono(payload: bytes):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.svx import (
        parse_8svx,
    )

    return parse_8svx(payload)


def _quarantine_ogg(payload: bytes):
    raise ValueError(
        "Ogg audio (Vorbis/Opus transform decode) is a declared boundary "
        "- container probing is supported (operators/ogg.py probe_ogg); "
        "swap a native decoder in via register_audio_decoder('ogg', ...)"
    )


def _stdlib_audio_decoders() -> dict:
    return {
        "ogg": _quarantine_ogg,
        "wav": decode_wav,
        "flac": _decode_flac_mono,
        "mp3": _decode_mp3_mono,
        "aiff": _decode_aiff_mono,
        # Sun/NeXT .au (operators/au.py); G.711 rides the same tables
        # as the WAV path
        "au": _decode_au_mono,
        # Amiga 8SVX (operators/svx.py) incl. Fibonacci-delta
        "8svx": _decode_8svx_mono,
    }


IMAGE_DECODERS: dict = _stdlib_image_decoders()
AUDIO_DECODERS: dict = _stdlib_audio_decoders()


def sniff_image_format(payload: bytes) -> str | None:
    """Magic-sniff an image payload to its registry key (or None)."""
    if not payload:
        return None
    if payload[:8] == _PNG_SIG:
        return "png"
    if payload[:2] == _JPEG_SIG:
        return "jpeg"
    if payload[:2] in (b"P6", b"P3"):
        return "ppm"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if payload[:4] == b"\x00\x00\x01\x00" and len(payload) >= 6:
        return "ico"
    if payload[:4] == b"qoif" and len(payload) >= 14:
        return "qoi"
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        return "webp"
    if payload[:2] == b"BM" and len(payload) >= 18:
        return "bmp"
    if payload[:4] == b"\x00\x00\x00\x01" or payload[:3] == b"\x00\x00\x01":
        return "h264"  # Annex-B start code: an H.264 access unit
    # r11 raster wave (all real-file-pinned against CPython twins)
    if payload[:4] == b"\x59\xa6\x6a\x95":
        return "ras"
    if payload[:2] == b"\x01\xda":
        return "sgi"
    if payload[:4] == b"\x76\x2f\x31\x01":
        return "exr"
    if payload[:2] in (b"P1", b"P2", b"P4", b"P5"):
        return "pnm"
    if payload[:8].lstrip()[:7] == b"#define":
        return "xbm"
    # ISO-BMFF stills: ftyp major brands (HEIC/AVIF) — sniffed so real
    # crawls QUARANTINE them with a named boundary instead of a silent
    # unknown-format row (decode needs HEVC/AV1 intra, out of scope)
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        brand = payload[8:12]
        if brand in (b"heic", b"heix", b"heim", b"heis", b"mif1", b"msf1"):
            return "heif"
        if brand in (b"avif", b"avis"):
            return "avif"
    return None


def sniff_audio_format(payload: bytes) -> str | None:
    """Magic-sniff an audio payload to its registry key (or None)."""
    if not payload:
        return None
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if payload[:4] == b"FORM" and payload[8:12] in (b"AIFF", b"AIFC"):
        return "aiff"
    if payload[:4] == b".snd":
        return "au"
    if payload[:4] == b"FORM" and payload[8:12] == b"8SVX":
        return "8svx"
    if payload[:4] == b"fLaC":
        return "flac"
    if payload[:4] == b"OggS":
        return "ogg"  # container probe in operators/ogg.py; transform
        # decode (Vorbis/Opus) is a named quarantine below
    if payload[:3] == b"ID3" or (
        len(payload) >= 2
        and payload[0] == 0xFF
        and (payload[1] & 0xE0) == 0xE0
        and (payload[1] >> 1) & 0x3 == 1  # Layer III
        and (payload[1] >> 3) & 0x3 != 1
    ):
        return "mp3"
    return None


def register_image_decoder(fmt: str, fn) -> None:
    """Swap the decoder for a sniffable image format (e.g. a libjpeg
    binding at scale). Plans built AFTER the call use ``fn``; plans built
    before keep the decoder set they closed over."""
    if fmt not in _stdlib_image_decoders():
        raise ValueError(f"unknown image format {fmt!r} (no sniffer routes to it)")
    IMAGE_DECODERS[fmt] = fn


def register_audio_decoder(fmt: str, fn) -> None:
    """Audio counterpart of :func:`register_image_decoder`."""
    if fmt not in _stdlib_audio_decoders():
        raise ValueError(f"unknown audio format {fmt!r} (no sniffer routes to it)")
    AUDIO_DECODERS[fmt] = fn


def reset_decoders() -> None:
    """Restore the stdlib codecs for every format."""
    IMAGE_DECODERS.clear()
    IMAGE_DECODERS.update(_stdlib_image_decoders())
    AUDIO_DECODERS.clear()
    AUDIO_DECODERS.update(_stdlib_audio_decoders())


def decode_image(payload: bytes, decoders: dict | None = None):
    """Decode any sniffable image payload to (uint8 pixels [h,w,3],
    width, height) through the registry — the shared entry every image
    operator (features, aHash, pHash, dedup) dispatches through."""
    fmt = sniff_image_format(payload)
    if fmt is None:
        raise ValueError("unrecognized image payload")
    return (decoders if decoders is not None else IMAGE_DECODERS)[fmt](payload)


def decode_audio(payload: bytes, decoders: dict | None = None):
    """Decode a PCM WAV or FLAC payload to (mono float64 samples in
    [-1, 1], sample_rate, n_channels) — the shared entry every audio
    operator (features, envelope hash, dedup) dispatches through."""
    fmt = sniff_audio_format(payload)
    if fmt is None:
        raise ValueError("unrecognized audio payload")
    return (decoders if decoders is not None else AUDIO_DECODERS)[fmt](payload)


def _real_decode_features(
    payload: bytes,
    dim: int = 8,
    image_decoders: dict | None = None,
    audio_decoders: dict | None = None,
):
    """Decode-and-summarize for the real formats; None when not decodable."""
    import numpy as np

    try:
        if sniff_image_format(payload) is not None:
            px, w, h = decode_image(payload, image_decoders)
            f = px.astype(np.float64) / 255.0
            vals = [
                w / 10000.0,
                h / 10000.0,
                f[..., 0].mean(),
                f[..., 1].mean(),
                f[..., 2].mean(),
                f[..., 0].std(),
                f[..., 1].std(),
                f[..., 2].std(),
            ]
        elif sniff_audio_format(payload) is not None:
            x, sr, ch = decode_audio(payload, audio_decoders)
            zc = float((x[:-1] * x[1:] < 0).mean()) if x.size > 1 else 0.0
            vals = [
                sr / 100000.0,
                x.size / 1e6,
                float(x.mean()),
                float(np.sqrt((x ** 2).mean())) if x.size else 0.0,
                float(x.min()) if x.size else 0.0,
                float(x.max()) if x.size else 0.0,
                zc,
                ch / 10.0,
            ]
        else:
            return None
    except Exception:
        return None
    return [round(float(v), 6) for v in vals[:dim]]


def _fake_decode_features(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for decode→feature-extract.

    REAL decode (PIL/torchaudio/ffmpeg) is not available in this container;
    this derives a stable pseudo-feature from the payload digest so the
    distributed plumbing (batching, schema, partitioning) is fully testable.
    """
    h = hashlib.sha256(payload or b"").digest()
    return [round(b / 255.0, 6) for b in h[:dim]]


def extract_features(media: DataFrame, batch_dim: int = 8) -> DataFrame:
    """mapInPandas feature extraction: Arrow-batched, partition-preserving.

    At scale: no shuffle — each executor decodes its own partitions; put a
    ``repartition(n)`` upstream only to right-size decode parallelism.
    """

    img_dec, aud_dec = dict(IMAGE_DECODERS), dict(AUDIO_DECODERS)  # plan-time snapshot

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            real = payloads.map(
                lambda p: _real_decode_features(p or b"", batch_dim, img_dec, aud_dec)
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload_sha256": payloads.map(
                        lambda p: hashlib.sha256(p or b"").hexdigest()
                    ),
                    "payload_bytes": payloads.map(lambda p: len(p or b"")),
                    "feature": [
                        r if r is not None else _fake_decode_features(p or b"", batch_dim)
                        for r, p in zip(real, payloads)
                    ],
                    "decoded": [r is not None for r in real],
                }
            )

    return media.mapInPandas(op, FEATURE_SCHEMA)


def resize_ppm(payload: bytes, width: int, height: int) -> bytes:
    """REAL nearest-neighbor resize for PPM payloads, pure numpy: decode,
    index-map ``src = (dst * src_dim) // dst_dim`` per axis, re-encode as
    binary P6. Deterministic — exact pixel values are unit-tested against
    a hand-computed reference."""
    import numpy as np

    px, w, h = decode_ppm(payload)
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    out = px[ys][:, xs]
    return b"P6\n%d %d\n255\n" % (width, height) + out.tobytes()


def resize_png(payload: bytes, width: int, height: int) -> bytes:
    """REAL nearest-neighbor resize for PNG payloads: stdlib decode
    (any supported color type), the same ``src = (dst * src_dim) //
    dst_dim`` index map as :func:`resize_ppm`, re-encode as RGB PNG."""
    import numpy as np

    px, w, h = decode_png(payload)
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    return encode_png(px[ys][:, xs])


def resize_jpeg(payload: bytes, width: int, height: int, quality: int = 90) -> bytes:
    """REAL nearest-neighbor resize for baseline JPEG payloads: full
    decode (`operators/jpeg.py`), the same ``(dst*src)//dst`` index map
    as :func:`resize_ppm`, re-encode as baseline 4:4:4."""
    import numpy as np

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    px, w, h = decode_jpeg(payload)
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    return encode_jpeg(px[ys][:, xs], quality=quality)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize: REAL nearest-neighbor for PPM, PNG, and baseline
    JPEG payloads (pure numpy/zlib, decode → index-map → re-encode);
    remaining compressed formats pass through payload-unchanged with
    updated meta (codec libs absent — the documented stub path, flagged
    by meta.mime). Arrow-batched mapInPandas either way; schema and
    partitioning are preserved.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for payload in pdf["payload"]:
                try:
                    b = bytes(payload)
                    if b[:8] == _PNG_SIG:
                        payloads.append(resize_png(b, width, height))
                    elif b[:2] == _JPEG_SIG:
                        payloads.append(resize_jpeg(b, width, height))
                    else:
                        payloads.append(resize_ppm(b, width, height))
                except (ValueError, TypeError):
                    payloads.append(payload)  # stub path: not PPM/PNG/JPEG
            meta = pdf["meta"].map(
                lambda m: {**(m or {}), "width": width, "height": height}
            )
            yield pdf.assign(payload=payloads, meta=meta)

    return media.mapInPandas(op, MEDIA_SCHEMA)


def resample_wav(payload: bytes, target_sr: int) -> bytes:
    """REAL linear-interpolation resample for PCM WAV payloads: decode to
    mono float, interpolate onto the target-rate time grid (index map
    ``src_pos = dst_i * src_sr / dst_sr``, endpoints clamped), re-encode
    16-bit mono WAV. Pure stdlib wave + numpy; deterministic."""
    import io
    import wave

    import numpy as np

    x, sr, _ch = decode_wav(payload)
    if len(x) == 0:
        raise ValueError("empty WAV payload")
    n_out = max(1, int(round(len(x) * target_sr / sr)))
    src_pos = np.arange(n_out, dtype=np.float64) * (sr / target_sr)
    lo = np.clip(np.floor(src_pos).astype(np.int64), 0, len(x) - 1)
    hi = np.clip(lo + 1, 0, len(x) - 1)
    frac = src_pos - lo
    y = x[lo] * (1.0 - frac) + x[hi] * frac
    pcm = np.clip(np.round(y * 32767.0), -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(target_sr)
        wf.writeframes(pcm.tobytes())
    return buf.getvalue()


def resample_audio(media: DataFrame, target_sr: int) -> DataFrame:
    """Audio resample: REAL linear interpolation for PCM WAV payloads;
    compressed formats pass through payload-unchanged with updated meta
    (the documented stub path). Arrow-batched mapInPandas."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for payload in pdf["payload"]:
                try:
                    payloads.append(resample_wav(bytes(payload), target_sr))
                except Exception:
                    payloads.append(payload)  # stub path: not decodable PCM
            meta = pdf["meta"].map(lambda m: {**(m or {}), "sample_rate": target_sr})
            yield pdf.assign(payload=payloads, meta=meta)

    return media.mapInPandas(op, MEDIA_SCHEMA)


def average_hash(
    payload: bytes, hash_size: int = 8, decoders: dict | None = None
) -> int:
    """Perceptual average-hash of an image payload (PPM, PNG, or
    baseline JPEG): decode,
    integer grayscale ``(r+g+b) // 3``, nearest-neighbor subsample to
    ``hash_size²`` pixels (the same ``(dst*src)//dst`` index map as
    resize), then one bit per pixel — set iff the pixel exceeds the FLOOR
    mean. Every step is integer arithmetic, so for a synthesized image
    the expected hash is computable in plain SQL and the corpus query
    oracle-checks the bits (`multimodal_image_ahash_dedup`).

    This is the image-level near-dup primitive (LAION-style corpus
    dedup): near-identical images differ in few bits, and candidate
    pairs come from exact-matching 16-bit bands of the hash — hamming
    distance ≤ 3 GUARANTEES a shared band (pigeonhole over 4 bands), so
    the banded equi-join finds every pair the threshold admits without
    an all-pairs comparison."""
    px, w, h = decode_image(payload, decoders)
    return _ahash_pixels(px, w, h, hash_size)


def _ahash_pixels(px, w: int, h: int, hash_size: int = 8) -> int:
    """Array-level aHash core shared by payload and video-frame paths."""
    import numpy as np

    gray = px.astype(np.int64).sum(axis=2) // 3
    ys = (np.arange(hash_size) * h) // hash_size
    xs = (np.arange(hash_size) * w) // hash_size
    g = gray[ys][:, xs].reshape(-1)
    mean = int(g.sum()) // g.size
    bits = 0
    for i, v in enumerate(g.tolist()):
        if v > mean:
            bits |= 1 << i
    # two's-complement signed 64-bit: hash bit 63 must survive a LongType
    # column (and the SQL oracle builds the same signed value, bit 63
    # contributing -2^63) — xor/and/popcount are representation-identical
    if bits & (1 << 63):
        bits -= 1 << 64
    return bits


def with_average_hash(
    media: DataFrame, hash_size: int = 8, out_col: str = "ahash", fmt: str | None = None
) -> DataFrame:
    """Arrow-batched aHash column over MEDIA_SCHEMA rows; rows whose
    payload cannot be decoded get NULL (the stub formats).

    ``fmt`` bypasses payload sniffing and decodes every row with the
    named registry entry — the path for extension-routed formats with
    no magic number (TGA is the canonical case)."""
    decoders = dict(IMAGE_DECODERS)  # plan-time snapshot (registry seam)
    if fmt is not None and fmt not in decoders:
        raise ValueError(f"unknown image format {fmt!r}")

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            def h(p):
                try:
                    if fmt is not None:
                        px, w, hh = decoders[fmt](bytes(p))
                        return _ahash_pixels(px, w, hh, hash_size)
                    return average_hash(bytes(p), hash_size, decoders)
                except Exception:
                    return None

            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    out_col: pdf["payload"].map(h),
                }
            )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField(out_col, T.LongType(), True),
        ]
    )
    return media.mapInPandas(op, schema)


def ahash_near_duplicates(
    hashes: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "ahash",
    max_hamming: int = 3,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with hamming(hash_a, hash_b) ≤
    ``max_hamming`` over 64-bit aHashes. Candidates come from an exact
    equi-join on 16-bit bands — complete for max_hamming ≤ 3 (pigeonhole
    over the 4 bands) — then the xor-popcount verifies. Never all-pairs;
    the shuffle key is (band_idx, band_value)."""
    if not 0 <= max_hamming <= 3:
        raise ValueError("band guarantee holds for max_hamming in [0, 3]")
    h = hashes.where(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("__id"), F.col(hash_col).alias("__h")
    )
    banded = h.select(
        "__id",
        "__h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright(F.col("__h"), 16 * b)
                        .bitwiseAND(0xFFFF)
                        .alias("band_val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bv"),
    ).select("__id", "__h", F.col("bv.band_idx"), F.col("bv.band_val"))
    a = banded.select(
        F.col("__id").alias("id_a"), F.col("__h").alias("__ha"), "band_idx", "band_val"
    )
    b = banded.select(
        F.col("__id").alias("id_b"), F.col("__h").alias("__hb"), "band_idx", "band_val"
    )
    return (
        a.join(b, ["band_idx", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def sample_frames(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plumbing for video rows: one output row per sampled frame."""
    n_frames = F.coalesce(F.col("meta.n_frames"), F.lit(0))
    frame_idx = F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every_n))
    return (
        media.where(F.col("kind") == "video")
        .withColumn("frame_idx", F.explode(frame_idx))
        .select("media_id", "frame_idx", "payload", "meta")
    )


_EXT_KIND = {
    "ppm": ("image", "image/x-portable-pixmap"),
    "png": ("image", "image/png"),
    "jpg": ("image", "image/jpeg"),
    "jpeg": ("image", "image/jpeg"),
    "gif": ("image", "image/gif"),
    "bmp": ("image", "image/bmp"),
    "ico": ("image", "image/vnd.microsoft.icon"),
    "qoi": ("image", "image/qoi"),
    "tif": ("image", "image/tiff"),
    "tiff": ("image", "image/tiff"),
    "tga": ("image", "image/x-tga"),
    "wav": ("audio", "audio/wav"),
    "flac": ("audio", "audio/flac"),
    "mp3": ("audio", "audio/mpeg"),
    "aif": ("audio", "audio/aiff"),
    "aiff": ("audio", "audio/aiff"),
    "aifc": ("audio", "audio/aiff"),
    "mp4": ("video", "video/mp4"),
}


def ingest_media_dir(spark, path: str, glob: str = "*") -> DataFrame:
    """Ingest raw media files into the canonical MEDIA_SCHEMA via Spark's
    built-in ``binaryFile`` source (distributed file read — payload bytes
    go straight to executors, the driver only lists paths). ``media_id`` is
    the xxhash64 of the file path (stable across re-ingests); kind/mime are
    derived from the extension; codec-dependent meta stays NULL until the
    decode step (stubbed, module docstring).
    """
    ext = F.lower(F.element_at(F.split(F.col("path"), "\\."), -1))
    kind_expr = F.lit(None).cast("string")
    mime_expr = F.lit(None).cast("string")
    for e, (kind, mime) in _EXT_KIND.items():
        kind_expr = F.when(ext == e, kind).otherwise(kind_expr)
        mime_expr = F.when(ext == e, mime).otherwise(mime_expr)
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    return raw.select(
        F.xxhash64("path").alias("media_id"),
        kind_expr.alias("kind"),
        F.col("content").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
            mime_expr.alias("mime"),
        ).alias("meta"),
    )


def _ahash_banded(hashes: DataFrame, id_col: str, hash_col: str) -> DataFrame:
    h = hashes.where(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("media_id"), F.col(hash_col).alias("ahash")
    )
    return h.select(
        "media_id",
        "ahash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright(F.col("ahash"), 16 * b)
                        .bitwiseAND(0xFFFF)
                        .alias("band_val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bv"),
    ).select("media_id", "ahash", F.col("bv.band_idx"), F.col("bv.band_val"))


def build_ahash_index(
    hashes: DataFrame,
    root: str,
    id_col: str = "media_id",
    hash_col: str = "ahash",
    mode: str = "overwrite",
) -> None:
    """Persist the image near-dup index: the banded aHash table
    (band_idx, band_val, media_id, ahash), partitioned by band_idx — the
    image analog of the text MinHash band index. Incremental batches
    probe it with an equi-join (cost O(batch)+collisions, never
    O(corpus) re-hash) and append themselves."""
    (
        _ahash_banded(hashes, id_col, hash_col)
        .repartition("band_idx")
        .write.mode(mode)
        .partitionBy("band_idx")
        .parquet(root)
    )


def incremental_ahash_duplicates(
    new_hashes: DataFrame,
    root: str,
    id_col: str = "media_id",
    hash_col: str = "ahash",
    max_hamming: int = 3,
    update_index: bool = True,
) -> DataFrame:
    """Dedup a NEW image batch against the persisted aHash index:
    candidates from the band equi-join (complete for hamming ≤ 3),
    verified by xor-popcount. Returns (new_id, matched_id, hamming);
    when ``update_index`` the batch's own bands append so the next batch
    sees them. The match set is frozen executor-side (localCheckpoint)
    BEFORE the append — the same isolation rule as the text incremental
    path, with no driver round-trip."""
    if not 0 <= max_hamming <= 3:
        raise ValueError("band guarantee holds for max_hamming in [0, 3]")
    spark = new_hashes.sparkSession
    index = spark.read.parquet(root)
    banded = _ahash_banded(new_hashes, id_col, hash_col).select(
        F.col("media_id").alias("new_id"),
        F.col("ahash").alias("__hn"),
        "band_idx",
        "band_val",
    )
    result = (
        banded.join(
            index.select(
                "band_idx",
                "band_val",
                F.col("media_id").alias("matched_id"),
                F.col("ahash").alias("__hi"),
            ),
            ["band_idx", "band_val"],
        )
        .select(
            "new_id",
            "matched_id",
            F.bit_count(F.col("__hn").bitwiseXOR(F.col("__hi"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    if update_index:
        result = result.localCheckpoint(eager=True)
        build_ahash_index(new_hashes, root, id_col, hash_col, mode="append")
    return result


def audio_hash(
    payload: bytes, n_frames: int = 64, decoders: dict | None = None
) -> int:
    """Perceptual audio hash over a PCM WAV or FLAC payload: decode to
    mono,
    split into ``n_frames`` equal windows, one bit per window — set iff
    the window's RMS energy exceeds the overall mean RMS. The energy
    envelope survives volume-preserving edits (re-encoding, small
    amplitude noise) while distinguishing different material — the audio
    analog of :func:`average_hash`, and with n_frames=64 the hash feeds
    the SAME banded near-dup machinery (:func:`ahash_near_duplicates`).
    Signed-64 two's complement, LongType-safe."""
    import numpy as np

    x, _sr, _ch = decode_audio(payload, decoders)
    if x.size < n_frames:
        raise ValueError(f"audio too short for {n_frames} frames")
    edges = (np.arange(n_frames + 1) * x.size) // n_frames
    rms = np.array(
        [np.sqrt(np.mean(x[edges[i] : edges[i + 1]] ** 2)) for i in range(n_frames)]
    )
    mean = rms.mean()
    bits = 0
    for i, v in enumerate(rms.tolist()):
        if v > mean:
            bits |= 1 << i
    if bits & (1 << 63):
        bits -= 1 << 64
    return bits


def with_audio_hash(
    media: DataFrame, n_frames: int = 64, out_col: str = "ahash"
) -> DataFrame:
    """Arrow-batched audio-hash column over MEDIA_SCHEMA rows; undecodable
    payloads get NULL. Output column name defaults to ``ahash`` so the
    result plugs straight into :func:`ahash_near_duplicates`."""
    decoders = dict(AUDIO_DECODERS)  # plan-time snapshot (registry seam)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            def h(p):
                try:
                    return audio_hash(bytes(p), n_frames, decoders)
                except Exception:
                    return None

            yield pd.DataFrame(
                {"media_id": pdf["media_id"], out_col: pdf["payload"].map(h)}
            )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField(out_col, T.LongType(), True),
        ]
    )
    return media.mapInPandas(op, schema)


VIDEO_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("is_keyframe", T.BooleanType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("frame_bytes", T.BinaryType(), True),
        # avcC parameter sets (complete SPS/PPS NALs) for AVC tracks —
        # the decoder needs them alongside the length-prefixed samples —
        # and the record's NAL length-prefix size (1/2/4 bytes)
        T.StructField("sps", T.BinaryType(), True),
        T.StructField("pps", T.BinaryType(), True),
        T.StructField("nal_len_size", T.IntegerType(), True),
        T.StructField("parse_error", T.StringType(), True),
    ]
)


def sample_video_frames(
    media: DataFrame, every_n: int = 10, keyframes_only: bool = False
) -> DataFrame:
    """REAL frame sampling for MP4 payloads: the ISO-BMFF container
    parser (`operators/mp4.py`) reads the sample tables and extracts the
    raw access-unit bytes of every ``every_n``-th sample (or sync
    samples only) — byte-exact, no codec involved. avcC parameter sets
    ride along in the sps/pps columns so AVC keyframes decode downstream
    (:func:`avc_frame_hashes` via the scoped intra-only decoder in
    ``operators/h264.py``; inter frames remain a declared boundary).
    Non-MP4 / torn payloads become parse_error rows, the A5 quarantine
    convention. Partition-preserving Arrow pass."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.mp4 import (
        extract_samples,
        probe_mp4,
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in VIDEO_SAMPLE_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                mid = int(mid)
                try:
                    data = bytes(payload)
                    info = probe_mp4(data)
                    vids = [
                        t for t in info["tracks"] if t.get("handler") == "vide"
                    ] or info["tracks"]
                    tr = vids[0]
                    kf = set(tr["keyframes"])
                    if keyframes_only:
                        idxs = sorted(k - 1 for k in kf)
                    else:
                        idxs = list(range(0, tr["n_samples"], every_n))
                    frames = extract_samples(data, tr, idxs)
                    avcc = tr.get("avcc") or {}
                    sps_l, pps_l = avcc.get("sps") or [], avcc.get("pps") or []
                    hvcc = tr.get("hvcc")
                    if hvcc and not sps_l:
                        # [r12] HEVC tracks: the hvcC parameter sets ride
                        # in the sps column as one Annex-B blob; the NAL
                        # length size comes from the hvcC record
                        sps_l = [
                            b"".join(
                                b"\x00\x00\x00\x01" + n
                                for n in hvcc["param_sets"]
                            )
                        ]
                        avcc = {"len_size": hvcc["nal_length_size"]}
                    for i, fb in zip(idxs, frames):
                        rows.append(
                            {
                                "media_id": mid,
                                "frame_idx": i,
                                "is_keyframe": (i + 1) in kf,
                                "codec": tr.get("codec"),
                                "width": tr.get("width"),
                                "height": tr.get("height"),
                                "frame_bytes": fb,
                                "sps": sps_l[0] if sps_l else None,
                                "pps": pps_l[0] if pps_l else None,
                                "nal_len_size": avcc.get("len_size"),
                                "parse_error": None,
                            }
                        )
                except Exception as exc:
                    rows.append(
                        {
                            "media_id": mid,
                            "frame_idx": -1,
                            "is_keyframe": None,
                            "codec": None,
                            "width": None,
                            "height": None,
                            "frame_bytes": None,
                            "sps": None,
                            "pps": None,
                            "nal_len_size": None,
                            "parse_error": str(exc),
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    return media.where(F.col("kind") == "video").select(
        "media_id", "payload"
    ).mapInPandas(op, VIDEO_SAMPLE_SCHEMA)


#: MP4 sample-entry fourccs whose access units are plain JPEG images
MJPEG_FOURCCS = ("jpeg", "mjpa", "mjpb", "MJPG", "AVDJ", "dmb1")

FRAME_HASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("is_keyframe", T.BooleanType(), True),
        T.StructField("ahash", T.LongType(), True),
    ]
)


def mjpeg_frame_hashes(frames: DataFrame, hash_size: int = 8) -> DataFrame:
    """Decode MJPEG video frames END-TO-END with zero new codec code:
    for MJPEG-fourcc tracks each access unit :func:`sample_video_frames`
    extracts IS a complete JPEG, so the T.81 decoder + aHash already in
    the engine apply per frame. Input is VIDEO_SAMPLE_SCHEMA rows;
    output (media_id, frame_idx, is_keyframe, ahash) plugs straight into
    :func:`ahash_near_duplicates` (key the id on
    media_id * max_frames + frame_idx for frame-level dedup). Non-MJPEG
    codecs and torn frames yield NULL hashes (AVC tracks route through
    :func:`avc_frame_hashes` instead). Arrow pass, partition-preserving;
    decode goes through the registry seam, so a libjpeg swap covers
    video frames too."""
    decoders = dict(IMAGE_DECODERS)  # plan-time snapshot (registry seam)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in FRAME_HASH_SCHEMA.fields]
        for pdf in batches:
            def h(row):
                codec, fb = row
                if codec not in MJPEG_FOURCCS or fb is None:
                    return None
                try:
                    return average_hash(bytes(fb), hash_size, decoders)
                except Exception:
                    return None

            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_idx": pdf["frame_idx"],
                    "is_keyframe": pdf["is_keyframe"],
                    "ahash": [
                        h(r) for r in zip(pdf["codec"], pdf["frame_bytes"])
                    ],
                }
            )
            # keep payload-level quarantine rows (frame_idx -1, NULL
            # hash) — a torn MP4 stays per-row visible, distinguishable
            # from a zero-frame track
            yield out[cols]

    return frames.mapInPandas(op, FRAME_HASH_SCHEMA)


#: MP4 sample-entry fourccs carrying H.264/AVC access units
AVC_FOURCCS = ("avc1", "avc3", "h264", "H264")
HEVC_FOURCCS = ("hvc1", "hev1")


def avc_frame_hashes(frames: DataFrame, hash_size: int = 8) -> DataFrame:
    """Decode H.264 KEYFRAMES end-to-end: for AVC-fourcc tracks each
    sync sample from :func:`sample_video_frames` is an IDR access unit
    (length-prefixed NALs; the avcC SPS/PPS ride in the sps/pps
    columns), decoded by the scoped intra-only decoder in
    ``operators/h264.py`` and aHashed — real video-frame dedup for the
    north-star multimodal pipeline. Non-keyframes (inter prediction),
    non-AVC codecs and torn/boundary frames yield NULL hashes: the
    declared boundaries stay per-row visible, the MJPEG convention.
    Output schema equals :func:`mjpeg_frame_hashes`; rows plug straight
    into :func:`ahash_near_duplicates`. Arrow pass,
    partition-preserving."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.h264 import (
        decode_access_unit,
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in FRAME_HASH_SCHEMA.fields]
        for pdf in batches:
            def h(row):
                codec, key, fb, sps, pps, lsz = row
                if codec not in AVC_FOURCCS or fb is None or not key:
                    return None
                try:
                    px, w, hh = decode_access_unit(
                        bytes(fb),
                        bytes(sps) if sps is not None else None,
                        bytes(pps) if pps is not None else None,
                        int(lsz) if lsz is not None and lsz == lsz else 4,
                    )
                    return _ahash_pixels(px, w, hh, hash_size)
                except Exception:
                    return None

            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_idx": pdf["frame_idx"],
                    "is_keyframe": pdf["is_keyframe"],
                    "ahash": [
                        h(r)
                        for r in zip(
                            pdf["codec"],
                            pdf["is_keyframe"],
                            pdf["frame_bytes"],
                            pdf["sps"],
                            pdf["pps"],
                            pdf["nal_len_size"],
                        )
                    ],
                }
            )
            yield out[cols]

    return frames.mapInPandas(op, FRAME_HASH_SCHEMA)


def hevc_frame_hashes(frames: DataFrame, hash_size: int = 8) -> DataFrame:
    """[r12] Decode HEVC KEYFRAMES end-to-end — the H.265 twin of
    :func:`avc_frame_hashes`: for hvc1/hev1 tracks each sync sample
    from :func:`sample_video_frames` is an IRAP access unit
    (length-prefixed NALs; the hvcC parameter sets ride in the sps
    column as an Annex-B blob), converted via hvcc_sample_to_annexb
    and decoded by the intra decoder in ``operators/hevc_decode.py``
    (libde265-bit-exact in tests), then aHashed. Non-keyframes,
    non-HEVC codecs, and out-of-scope/torn frames yield NULL hashes —
    declared boundaries stay per-row visible. Arrow pass,
    partition-preserving."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.hevc import (
        hvcc_sample_to_annexb,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.hevc_decode import (
        decode_hevc_intra,
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        cols = [f.name for f in FRAME_HASH_SCHEMA.fields]
        for pdf in batches:
            def h(row):
                codec, key, fb, sps, lsz = row
                if codec not in HEVC_FOURCCS or fb is None or not key:
                    return None
                if sps is None:
                    return None
                try:
                    annexb = bytes(sps) + hvcc_sample_to_annexb(
                        bytes(fb),
                        int(lsz) if lsz is not None and lsz == lsz else 4,
                    )
                    y, _u, _v = decode_hevc_intra(annexb, max_frames=1)[0]
                    px = np.repeat(y[:, :, None], 3, axis=2)
                    return _ahash_pixels(px, y.shape[1], y.shape[0],
                                         hash_size)
                except Exception:
                    return None

            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_idx": pdf["frame_idx"],
                    "is_keyframe": pdf["is_keyframe"],
                    "ahash": [
                        h(r)
                        for r in zip(
                            pdf["codec"],
                            pdf["is_keyframe"],
                            pdf["frame_bytes"],
                            pdf["sps"],
                            pdf["nal_len_size"],
                        )
                    ],
                }
            )
            yield out[cols]

    return frames.mapInPandas(op, FRAME_HASH_SCHEMA)


def perceptual_hash(
    payload: bytes, hash_size: int = 8, decoders: dict | None = None
) -> int:
    """DCT perceptual hash (pHash) of an image payload — the robust
    upgrade over :func:`average_hash`: decode, grayscale, subsample to
    32×32, 2-D DCT-II (the same orthonormal basis the JPEG codec uses,
    extended to 32 points), keep the top-left ``hash_size²`` low-
    frequency coefficients minus DC, one bit per coefficient — set iff
    it exceeds the MEDIAN. Because bits threshold on low-frequency
    structure rather than raw means, pHash survives brightness/contrast
    shifts and recompression that flip aHash bits. Signed-64 two's
    complement, LongType-safe; plugs into the SAME banded near-dup
    machinery (:func:`ahash_near_duplicates`)."""
    import numpy as np

    px, w, h = decode_image(payload, decoders)
    gray = px.astype(np.float64).mean(axis=2)
    ys = (np.arange(32) * h) // 32
    xs = (np.arange(32) * w) // 32
    g = gray[ys][:, xs]
    # 32-point orthonormal DCT-II basis (same construction as jpeg._C)
    n = 32
    u = np.arange(n)[:, None]
    x = np.arange(n)[None, :]
    c = np.where(u == 0, 1.0 / np.sqrt(2.0), 1.0)
    D = np.sqrt(2.0 / n) * c * np.cos((2 * x + 1) * u * np.pi / (2 * n))
    coef = D @ g @ D.T
    block = coef[:hash_size, :hash_size].reshape(-1)[1:]  # drop DC
    med = np.median(block)
    bits = 0
    for i, v in enumerate(block.tolist()):
        if v > med:
            bits |= 1 << i
    if bits & (1 << 63):
        bits -= 1 << 64
    return bits


def with_perceptual_hash(
    media: DataFrame, hash_size: int = 8, out_col: str = "ahash"
) -> DataFrame:
    """Arrow-batched pHash column over MEDIA_SCHEMA rows; undecodable
    payloads get NULL. Output column defaults to ``ahash`` so results
    plug straight into :func:`ahash_near_duplicates`."""
    decoders = dict(IMAGE_DECODERS)  # plan-time snapshot (registry seam)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            def h(p):
                try:
                    return perceptual_hash(bytes(p), hash_size, decoders)
                except Exception:
                    return None

            yield pd.DataFrame(
                {"media_id": pdf["media_id"], out_col: pdf["payload"].map(h)}
            )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField(out_col, T.LongType(), True),
        ]
    )
    return media.mapInPandas(op, schema)


def spectral_fingerprint(
    payload: bytes,
    n_windows: int = 16,
    top_k: int = 4,
    decoders: dict | None = None,
) -> int:
    """Spectral audio fingerprint: decode (WAV or FLAC), split into
    ``n_windows`` equal segments, per segment take the ``top_k``
    strongest rFFT magnitude bins (quantized to 16 bands), fold the
    band set into 4 bits per window — a constellation-style fingerprint
    (Wang 2003's landmark idea reduced to bands) that survives volume
    changes AND moderate additive noise, unlike the RMS envelope hash.
    Signed-64 two's complement; same banded near-dup machinery."""
    import numpy as np

    x, sr, _ch = decode_audio(payload, decoders)
    if x.size < n_windows * 16:
        raise ValueError("audio too short for spectral fingerprint")
    edges = (np.arange(n_windows + 1) * x.size) // n_windows
    bits = 0
    for i in range(n_windows):
        seg = x[edges[i] : edges[i + 1]]
        mag = np.abs(np.fft.rfft(seg))
        mag[0] = 0.0  # ignore DC
        nbins = mag.size
        top = np.argsort(mag)[::-1][:top_k]
        floor = 0.1 * float(mag[top[0]]) if mag[top[0]] > 0 else 0.0
        word = 0
        for b in top.tolist():
            if mag[b] < floor:
                break  # only REAL peaks: spectral-leakage noise below 10%
                # of the strongest peak would make the bits volume-fragile
            word |= 1 << ((b * 16) // nbins)  # quantize bin → 16 bands
        # fold ALL 16 bands into the nibble (xor of the four 4-bit
        # groups) — a plain `& 0xF` would discard bands 4-15, making
        # every >Nyquist/4 tone collide at Hamming distance 0
        nib = (word ^ (word >> 4) ^ (word >> 8) ^ (word >> 12)) & 0xF
        bits |= nib << (4 * i)
    if bits & (1 << 63):
        bits -= 1 << 64
    return bits


def with_spectral_fingerprint(
    media: DataFrame, out_col: str = "ahash"
) -> DataFrame:
    """Arrow-batched spectral-fingerprint column over MEDIA_SCHEMA rows;
    undecodable payloads get NULL."""
    decoders = dict(AUDIO_DECODERS)  # plan-time snapshot (registry seam)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            def h(p):
                try:
                    return spectral_fingerprint(bytes(p), decoders=decoders)
                except Exception:
                    return None

            yield pd.DataFrame(
                {"media_id": pdf["media_id"], out_col: pdf["payload"].map(h)}
            )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField(out_col, T.LongType(), True),
        ]
    )
    return media.mapInPandas(op, schema)


def encode_wav(x, sample_rate: int) -> bytes:
    """Encode mono float samples in [-1, 1] as 16-bit PCM WAV (stdlib)."""
    import io
    import wave

    import numpy as np

    pcm = np.clip(np.round(np.asarray(x, np.float64) * 32767.0), -32768, 32767)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes(pcm.astype("<i2").tobytes())
    return buf.getvalue()


def transcode_audio(
    media: DataFrame, target_sr: int | None = None
) -> DataFrame:
    """Normalize a heterogeneous audio corpus to mono 16-bit PCM WAV:
    every payload the registry can decode (WAV, FLAC, decodable MP3)
    becomes a WAV payload — optionally linear-interp resampled to
    ``target_sr`` — with ``transcoded = true``; everything else (torn
    payloads, the declared MP3/H.264 boundaries) passes through
    UNCHANGED with ``transcoded = false``, so nothing is silently
    dropped. This is the prep step before uniform-format training
    shards: downstream feature/envelope jobs then see one format. Arrow
    pass, partition-preserving; decode dispatches through the codec
    registry (plan-time snapshot), so a native-codec swap accelerates
    transcode too."""
    import numpy as np

    decoders = dict(AUDIO_DECODERS)  # plan-time snapshot (registry seam)

    out_schema = T.StructType(
        list(MEDIA_SCHEMA.fields)
        + [T.StructField("transcoded", T.BooleanType(), False)]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            metas = []
            flags = []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                try:
                    x, sr, _ch = decode_audio(bytes(payload), decoders)
                    if len(x) == 0:
                        raise ValueError("empty audio")
                    if target_sr is not None and target_sr != sr:
                        n_out = max(1, int(round(len(x) * target_sr / sr)))
                        pos = np.arange(n_out, dtype=np.float64) * (sr / target_sr)
                        lo = np.clip(np.floor(pos).astype(np.int64), 0, len(x) - 1)
                        hi = np.clip(lo + 1, 0, len(x) - 1)
                        x = x[lo] * (1.0 - (pos - lo)) + x[hi] * (pos - lo)
                        sr = target_sr
                    payloads.append(encode_wav(x, sr))
                    metas.append(
                        {**(meta or {}), "sample_rate": sr, "mime": "audio/wav"}
                    )
                    flags.append(True)
                except Exception:
                    payloads.append(payload)
                    metas.append(meta)
                    flags.append(False)
            yield pdf.assign(payload=payloads, meta=metas, transcoded=flags)

    return media.where(F.col("kind") == "audio").mapInPandas(op, out_schema)


def frames_to_media(frames: DataFrame, codecs=MJPEG_FOURCCS) -> DataFrame:
    """Promote extracted video frames (VIDEO_SAMPLE_SCHEMA) whose codec
    has a real image decode (MJPEG family by default) into MEDIA_SCHEMA
    image rows — so video keyframes flow into the SAME dedup / feature /
    EXIF / shard machinery as still images. media_id =
    xxhash64(media_id, frame_idx); rows with parse errors, other codecs,
    or missing bytes are excluded (they stay visible in the frame
    frame)."""
    return (
        frames.where(
            F.col("parse_error").isNull()
            & F.col("frame_bytes").isNotNull()
            & F.col("codec").isin(*codecs)
        )
        .select(
            F.xxhash64("media_id", "frame_idx").alias("media_id"),
            F.lit("image").alias("kind"),
            F.col("frame_bytes").alias("payload"),
            F.struct(
                F.col("width"),
                F.col("height"),
                F.lit(None).cast("int").alias("sample_rate"),
                F.lit(None).cast("int").alias("n_frames"),
                F.lit("image/jpeg").alias("mime"),
            ).alias("meta"),
        )
    )
