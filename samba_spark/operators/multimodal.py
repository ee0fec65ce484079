"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Design (per the north-star spec): media rides in ordinary ``BinaryType``
columns — the same machinery as FileGroup ``files.content`` — with a typed
metadata struct alongside. Decode / feature-extraction run as Arrow-batched
``mapInPandas`` stages. Codec paths, in preference order:

1. REAL pure-stdlib codecs, no external libs: RIFF/WAV header parse, PNG
   IHDR parse, a full PNG pixel codec (zlib inflate, all five scanline
   filters, nearest-neighbor resize, re-encode), and a full baseline-JPEG
   SOF0 codec (Huffman entropy decode, IDCT, chroma upsampling, restart
   markers — jpegcodec.py) — these execute in any environment and are
   what decode/resize use for PNG and baseline-JPEG payloads.
2. PIL, when installed, for every other image format (progressive JPEG,
   WebP, GIF, ...).
3. A deterministic byte-level stub, ONLY behind an explicit
   ``allow_stub=True``, for other formats without PIL — pipelines stay
   testable end-to-end, and the fake is loud, opt-in, and shape-identical.
"""

from __future__ import annotations

import hashlib
from typing import Iterable, Optional

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("mime", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.MapType(T.StringType(), T.StringType()),
        ),
    ]
)

BYTE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("byte_mean", T.DoubleType()),
        T.StructField("byte_histogram", T.ArrayType(T.LongType())),  # 16 bins
    ]
)


def media_from_files(spark, paths: list[str], kind: str) -> DataFrame:
    """Build a media table from files via the distributed binaryFile source."""
    raw = spark.read.format("binaryFile").load(paths)
    return raw.select(
        F.xxhash64("path").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        F.col("content"),
        F.create_map(
            F.lit("path"), F.col("path"), F.lit("size"), F.col("length").cast("string")
        ).alias("meta"),
    )


def extract_byte_features(media: DataFrame) -> DataFrame:
    """Deterministic byte-level features (size, sha256, mean, 16-bin
    histogram) — real distributed feature extraction with the exact batch
    shape a codec-backed extractor would use."""

    def _extract(batches: Iterable[pd.DataFrame]):
        import numpy as np

        def _feats(v) -> tuple:
            content = bytes(v or b"")
            arr = np.frombuffer(content, dtype=np.uint8)
            hist = (
                np.bincount(arr >> 4, minlength=16).astype("int64").tolist()
                if arr.size
                else [0] * 16
            )
            return (
                len(content),
                hashlib.sha256(content).hexdigest(),
                float(arr.mean()) if arr.size else 0.0,
                hist,
            )

        for batch in batches:
            if not len(batch):
                continue
            # vectorized column ops (pandas .map), not iterrows — the
            # binary payloads dominate, but the row bookkeeping is free
            feats = batch["content"].map(_feats)
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"].values,
                    "kind": batch["kind"].values,
                    "n_bytes": feats.map(lambda t: t[0]).values,
                    "sha256": feats.map(lambda t: t[1]).values,
                    "byte_mean": feats.map(lambda t: t[2]).values,
                    "byte_histogram": feats.map(lambda t: t[3]).values,
                }
            )

    return media.select("media_id", "kind", "content").mapInPandas(
        _extract, BYTE_FEATURES_SCHEMA
    )


IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
    ]
)


PNG_SIG = b"\x89PNG\r\n\x1a\n"

# channels per PNG color type (8-bit; type 3 = palette, one index byte)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_images(media: DataFrame, *, allow_stub: bool = False) -> DataFrame:
    """Image decode → (width, height, channels). REAL for PNG payloads via
    the pure-stdlib codec (PIL handles other formats when installed; the
    opt-in ``allow_stub`` fake covers non-PNG-without-PIL plumbing runs)."""
    _d1 = decode_one  # factory-made → cloudpickle ships it by value

    def _decode(batches: Iterable[pd.DataFrame]):
        for batch in batches:
            out = []
            for _, row in batch.iterrows():
                w, h, c = _d1(
                    bytes(row["content"] or b""), allow_stub=allow_stub
                )
                out.append(
                    {
                        "media_id": row["media_id"],
                        "width": w,
                        "height": h,
                        "channels": c,
                    }
                )
            if out:
                yield pd.DataFrame(out)

    return media.select("media_id", "content").mapInPandas(
        _decode, IMAGE_FEATURES_SCHEMA
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def resize_images(
    media: DataFrame,
    *,
    width: int = 64,
    height: int = 64,
    allow_stub: bool = False,
) -> DataFrame:
    """Image resize → (media_id, width, height, content). REAL for PNG via
    the pure-stdlib pixel codec (decode → nearest-neighbor → re-encode);
    PIL for other formats when installed; the opt-in ``allow_stub`` fake
    keeps the binary-in → binary-out batch shape — the expensive
    multimodal pattern at 100 TB — exercisable anywhere."""
    _r1 = resize_one  # factory-made → cloudpickle ships it by value

    def _resize(batches: Iterable[pd.DataFrame]):
        for batch in batches:
            out = []
            for _, row in batch.iterrows():
                payload = _r1(
                    bytes(row["content"] or b""),
                    width,
                    height,
                    allow_stub=allow_stub,
                )
                out.append(
                    {
                        "media_id": row["media_id"],
                        "width": width,
                        "height": height,
                        "content": payload,
                    }
                )
            if out:
                yield pd.DataFrame(out)

    return media.select("media_id", "content").mapInPandas(
        _resize, RESIZED_SCHEMA
    )


def sample_frames(
    media: DataFrame, *, every_n_bytes: int = 4096, max_frames: int = 8
) -> DataFrame:
    """Video frame-sampling plumbing: emits one row per 'frame' (fixed-stride
    byte windows standing in for decoded frames — real codec stubbed). Shows
    the 1-row→N-rows fan-out shape a real sampler has."""
    idx = F.explode(
        F.sequence(
            F.lit(0),
            F.least(
                F.floor(F.length("content") / every_n_bytes).cast("int"),
                F.lit(max_frames - 1),
            ),
        )
    ).alias("frame_idx")
    return media.select("media_id", idx, F.lit(every_n_bytes).alias("stride"))


# --- WAV audio: a REAL codec path (no external libs needed) ---------------
# RIFF/WAVE canonical-header layout is pure struct arithmetic, so unlike
# the PIL-gated image path this decode is fully functional in any
# environment — the audio half of the multimodal surface parses actual
# bytes, validated against the stdlib `wave` writer in tests.

WAV_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("channels", T.LongType()),
        T.StructField("bits_per_sample", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)


# The codec functions are built by factories so their qualnames are not
# importable — cloudpickle then serializes them BY VALUE into executor
# closures, which must work in sessions that never exported the package
# to worker PYTHONPATH (the driver's plain SparkSession; same rule every
# mapInPandas body in this repo follows).
def _make_wav_codec():
    import struct

    def wav_bytes(sample_rate, channels, bits, n_samples):
        """Canonical 44-byte-header PCM WAV blob with a zeroed payload."""
        block = channels * bits // 8
        data = b"\x00" * (n_samples * block)
        return (
            b"RIFF"
            + struct.pack("<I", 36 + len(data))
            + b"WAVEfmt "
            + struct.pack(
                "<IHHIIHH",
                16,
                1,
                channels,
                sample_rate,
                sample_rate * block,
                block,
                bits,
            )
            + b"data"
            + struct.pack("<I", len(data))
            + data
        )

    def parse_wav_header(content):
        """(sample_rate, channels, bits, n_samples, duration_ms) from a PCM
        WAV blob; walks RIFF chunks, so non-canonical layouts (extra
        LIST/fact chunks before data) parse too. Raises ValueError on
        non-WAV bytes."""
        if (
            len(content) < 12
            or content[:4] != b"RIFF"
            or content[8:12] != b"WAVE"
        ):
            raise ValueError("not a RIFF/WAVE blob")
        pos, rate, channels, bits, data_len = 12, None, None, None, None
        while pos + 8 <= len(content):
            cid = content[pos : pos + 4]
            (size,) = struct.unpack("<I", content[pos + 4 : pos + 8])
            if cid == b"fmt ":
                _, channels, rate, _, block, bits = struct.unpack(
                    "<HHIIHH", content[pos + 8 : pos + 24]
                )
            elif cid == b"data":
                data_len = size
            pos += 8 + size + (size % 2)  # RIFF chunks are word-aligned
        if rate is None or data_len is None:
            raise ValueError("missing fmt/data chunk")
        block = channels * bits // 8
        n_samples = data_len // block if block else 0
        return rate, channels, bits, n_samples, n_samples * 1000 // rate

    return wav_bytes, parse_wav_header


wav_bytes, parse_wav_header = _make_wav_codec()


def parse_wav_headers(
    media: DataFrame, id_col: str = "media_id", content_col: str = "content"
) -> DataFrame:
    """Distributed WAV metadata extraction over a binary column —
    Arrow-batched ``mapInPandas``, header-only reads (the payload bytes
    never leave the batch), one row out per blob in."""

    def _parse(batches):
        for batch in batches:
            out = []
            for mid, content in zip(batch[id_col], batch[content_col]):
                rate, ch, bits, n, ms = parse_wav_header(bytes(content))
                out.append(
                    {
                        "media_id": mid,
                        "sample_rate": rate,
                        "channels": ch,
                        "bits_per_sample": bits,
                        "n_samples": n,
                        "duration_ms": ms,
                    }
                )
            if out:
                yield pd.DataFrame(out)

    return media.select(
        F.col(id_col), F.col(content_col)
    ).mapInPandas(_parse, WAV_META_SCHEMA)


def synth_wavs(
    df: DataFrame,
    id_col: str = "doc_id",
    rate_col: str = "_rate",
    channels_col: str = "_ch",
    samples_col: str = "_n",
) -> DataFrame:
    """Deterministic WAV synthesis from parameter columns (16-bit PCM) —
    the fixture generator for the audio path and a real binary-encode
    exercise of the Arrow boundary."""

    def _synth(batches):
        for batch in batches:
            out = []
            for mid, rate, ch, n in zip(
                batch[id_col], batch[rate_col], batch[channels_col], batch[samples_col]
            ):
                out.append(
                    {
                        "media_id": mid,
                        "content": wav_bytes(int(rate), int(ch), 16, int(n)),
                    }
                )
            if out:
                yield pd.DataFrame(out)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    return df.select(
        F.col(id_col), F.col(rate_col), F.col(channels_col), F.col(samples_col)
    ).mapInPandas(_synth, schema)


# PNG sibling of the WAV codec: IHDR metadata is pure struct arithmetic
# too, so image dimensions/bit-depth parse for real without PIL. Same
# by-value serialization rule as the WAV pair.
def _make_png_codec():
    import struct
    import zlib

    SIG = b"\x89PNG\r\n\x1a\n"

    def png_bytes(width, height, bit_depth=8, color_type=2):
        """Minimal well-formed PNG: signature + IHDR + IEND (no IDAT —
        header-level fixture, like a truncated-but-parseable file)."""
        ihdr = struct.pack(
            ">IIBBBBB", width, height, bit_depth, color_type, 0, 0, 0
        )
        chunk = (
            struct.pack(">I", len(ihdr))
            + b"IHDR"
            + ihdr
            + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
        )
        iend = struct.pack(">I", 0) + b"IEND" + struct.pack(
            ">I", zlib.crc32(b"IEND") & 0xFFFFFFFF
        )
        return SIG + chunk + iend

    def parse_png_header(content):
        """(width, height, bit_depth, color_type) from PNG bytes; verifies
        the signature and the IHDR CRC. Raises ValueError otherwise."""
        if len(content) < 33 or content[:8] != SIG:
            raise ValueError("not a PNG")
        (length,) = struct.unpack(">I", content[8:12])
        if content[12:16] != b"IHDR" or length != 13:
            raise ValueError("first chunk is not IHDR")
        body = content[16:29]
        (crc,) = struct.unpack(">I", content[29:33])
        if crc != (zlib.crc32(b"IHDR" + body) & 0xFFFFFFFF):
            raise ValueError("IHDR CRC mismatch")
        w, h, depth, color, _, _, _ = struct.unpack(">IIBBBBB", body)
        return w, h, depth, color

    return png_bytes, parse_png_header


png_bytes, parse_png_header = _make_png_codec()


# Pixel-level PNG codec — REAL, pure stdlib (zlib + struct), no Pillow.
# Supports 8-bit gray / gray+alpha / RGB / RGBA, all five scanline filters
# on decode, selectable filter on encode (so the decoder's Sub/Up/Average/
# Paeth reconstruction is testable without any external writer). This is
# what makes decode_one/resize_one's non-PIL path real instead of a stub.
def _make_png_pixel_codec():
    import struct
    import zlib

    SIG = b"\x89PNG\r\n\x1a\n"
    CH = {0: 1, 2: 3, 4: 2, 6: 4}  # palette (3) unsupported at pixel level
    COLOR = {1: 0, 2: 4, 3: 2, 4: 6}

    def _chunk(typ, body):
        return (
            struct.pack(">I", len(body))
            + typ
            + body
            + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF)
        )

    def _paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        if pb <= pc:
            return b
        return c

    def encode_png_pixels(width, height, channels, raw, filter_type=0):
        """8-bit raw interleaved pixels → complete PNG (IHDR+IDAT+IEND).
        ``filter_type`` applies to every scanline (0=None 1=Sub 2=Up
        3=Average 4=Paeth) — non-zero values exist to exercise decode."""
        bpp = channels
        stride = width * bpp
        raw = bytes(raw)
        if len(raw) != stride * height:
            raise ValueError(
                f"raw pixel buffer is {len(raw)} bytes, want {stride * height}"
            )
        out = bytearray()
        prev = bytes(stride)
        for y in range(height):
            line = raw[y * stride : (y + 1) * stride]
            out.append(filter_type)
            if filter_type == 0:
                out += line
            else:
                for x in range(stride):
                    a = line[x - bpp] if x >= bpp else 0
                    b = prev[x]
                    c = prev[x - bpp] if x >= bpp else 0
                    if filter_type == 1:
                        pred = a
                    elif filter_type == 2:
                        pred = b
                    elif filter_type == 3:
                        pred = (a + b) // 2
                    elif filter_type == 4:
                        pred = _paeth(a, b, c)
                    else:
                        raise ValueError(f"bad filter {filter_type}")
                    out.append((line[x] - pred) & 0xFF)
            prev = line
        ihdr = struct.pack(">IIBBBBB", width, height, 8, COLOR[channels], 0, 0, 0)
        return (
            SIG
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(out)))
            + _chunk(b"IEND", b"")
        )

    def decode_png_pixels(content):
        """PNG bytes → (width, height, channels, raw interleaved pixels).
        CRC-verifies every chunk, reconstructs all five filters. Raises
        ValueError on non-PNG, interlaced, palette, non-8-bit, or
        header-only (no IDAT) input — loud, never garbage."""
        content = bytes(content)
        if content[:8] != SIG:
            raise ValueError("not a PNG")
        pos = 8
        w = h = color = None
        idat = bytearray()
        while pos + 12 <= len(content):
            (length,) = struct.unpack(">I", content[pos : pos + 4])
            typ = content[pos + 4 : pos + 8]
            body = content[pos + 8 : pos + 8 + length]
            (crc,) = struct.unpack(
                ">I", content[pos + 8 + length : pos + 12 + length]
            )
            if crc != (zlib.crc32(typ + body) & 0xFFFFFFFF):
                raise ValueError(f"{typ!r} CRC mismatch")
            if typ == b"IHDR":
                w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                    ">IIBBBBB", body
                )
                if depth != 8:
                    raise ValueError(f"bit depth {depth} unsupported (8 only)")
                if color not in CH:
                    raise ValueError(f"color type {color} unsupported")
                if interlace:
                    raise ValueError("interlaced PNG unsupported")
            elif typ == b"IDAT":
                idat += body
            elif typ == b"IEND":
                break
            pos += 12 + length
        if w is None:
            raise ValueError("no IHDR")
        if not idat:
            raise ValueError("no IDAT (header-only PNG)")
        raw = zlib.decompress(bytes(idat))
        ch = CH[color]
        bpp = ch
        stride = w * bpp
        if len(raw) != (stride + 1) * h:
            raise ValueError("pixel payload size mismatch")
        out = bytearray(stride * h)
        prev = bytes(stride)
        for y in range(h):
            f = raw[y * (stride + 1)]
            line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
            if f == 0:
                pass
            elif f == 1:
                for x in range(bpp, stride):
                    line[x] = (line[x] + line[x - bpp]) & 0xFF
            elif f == 2:
                for x in range(stride):
                    line[x] = (line[x] + prev[x]) & 0xFF
            elif f == 3:
                for x in range(stride):
                    a = line[x - bpp] if x >= bpp else 0
                    line[x] = (line[x] + (a + prev[x]) // 2) & 0xFF
            elif f == 4:
                for x in range(stride):
                    a = line[x - bpp] if x >= bpp else 0
                    c = prev[x - bpp] if x >= bpp else 0
                    line[x] = (line[x] + _paeth(a, prev[x], c)) & 0xFF
            else:
                raise ValueError(f"bad scanline filter {f}")
            out[y * stride : (y + 1) * stride] = line
            prev = bytes(line)
        return w, h, ch, bytes(out)

    def resize_nearest(raw, w, h, ch, new_w, new_h):
        """Nearest-neighbor resample of raw interleaved 8-bit pixels."""
        out = bytearray(new_w * new_h * ch)
        for y in range(new_h):
            sy = y * h // new_h
            row = sy * w
            for x in range(new_w):
                src = (row + x * w // new_w) * ch
                dst = (y * new_w + x) * ch
                out[dst : dst + ch] = raw[src : src + ch]
        return bytes(out)

    return encode_png_pixels, decode_png_pixels, resize_nearest


encode_png_pixels, decode_png_pixels, resize_nearest = _make_png_pixel_codec()


# decode_one/resize_one are factory-built (same by-value serialization rule
# as the codecs: their qualnames are not importable, so cloudpickle ships
# them — and the codec closures they capture — into executor closures of
# sessions that never put samba_spark on worker PYTHONPATH).
def _make_image_ops():
    import hashlib as _hashlib

    from samba_spark.operators.jpegcodec import (
        decode_jpeg_pixels as _dec_jpg,
        parse_jpeg_header as _parse_jpg_hdr,
    )

    _sig = PNG_SIG
    _jpg_sig = b"\xff\xd8"
    _chmap = dict(_PNG_CHANNELS)
    _parse_hdr = parse_png_header
    _dec_px = decode_png_pixels
    _enc_px = encode_png_pixels
    _rsz = resize_nearest

    def _pil_image():
        """The PIL Image module, or None when Pillow is absent. Resolved
        at call time (per worker) so the switch is decided where the row
        is processed."""
        try:
            from PIL import Image

            return Image
        except ImportError:
            return None

    def decode_one(content, *, allow_stub=False):
        """Per-row decode contract: bytes → (width, height, channels),
        same types and value ranges on every path. Path order: the REAL
        pure-stdlib PNG parse (CRC-verified IHDR) for PNG payloads and
        the REAL baseline-JPEG SOF0 header parse for JPEG payloads —
        environment-independent, and a header read beats a full PIL
        open; PIL for other formats (and non-baseline JPEG); else the
        deterministic stub only when explicitly allowed — fails loudly
        otherwise."""
        if bytes(content[:8]) == _sig:
            w, h, _depth, color = _parse_hdr(content)
            return int(w), int(h), _chmap[color]
        if bytes(content[:2]) == _jpg_sig:
            try:
                return _parse_jpg_hdr(content)
            except ValueError:
                pass  # non-baseline JPEG: fall through to PIL/stub
        Image = _pil_image()
        if Image is not None:
            import io

            img = Image.open(io.BytesIO(content))
            w, h = img.size
            return int(w), int(h), len(img.getbands())
        if not allow_stub:
            raise NotImplementedError(
                "non-PNG image decode requires Pillow, which is not "
                "installed; pass allow_stub=True for the deterministic fake"
            )
        digest = _hashlib.sha256(content).digest()
        return 16 + digest[0] % 240, 16 + digest[1] % 240, 3

    def resize_one(content, width, height, *, allow_stub=False):
        """Per-row resize contract: bytes → bytes (a valid PNG on the real
        paths). Path order: the REAL pure-stdlib PNG pixel path for PNG
        payloads — full IDAT decode, filter reconstruction,
        nearest-neighbor resample, re-encode; PIL for other formats when
        installed; else the opt-in stub.

        PNG payloads take the stdlib path even when PIL is installed: the
        output must be bit-identical across environments (the x89
        perceptual-hash scale-invariance and its SQL oracle encode OUR
        nearest rule, src = (i*src_dim)//dst_dim; PIL's default resample
        is bicubic and even its NEAREST center-samples differently). PIL
        handles only non-PNG formats, with NEAREST for the same
        semantics. Baseline-JPEG payloads take the pure-stdlib JPEG
        decoder (full entropy decode, IDCT, chroma upsampling) and
        re-encode the resample as PNG — resizing is a pixel operation,
        so the output stays in the lossless container."""
        if bytes(content[:8]) == _sig:
            w, h, ch, raw = _dec_px(content)
            return _enc_px(
                width, height, ch, _rsz(raw, w, h, ch, width, height)
            )
        if bytes(content[:2]) == _jpg_sig:
            try:
                w, h, ch, raw = _dec_jpg(content)
            except ValueError:
                w = None  # non-baseline JPEG: fall through to PIL/stub
            if w is not None:
                return _enc_px(
                    width, height, ch, _rsz(raw, w, h, ch, width, height)
                )
        Image = _pil_image()
        if Image is not None:
            import io

            nearest = getattr(
                getattr(Image, "Resampling", Image), "NEAREST", 0
            )  # 0 == PIL's historical NEAREST constant
            img = Image.open(io.BytesIO(content)).resize(
                (width, height), nearest
            )
            buf = io.BytesIO()
            img.save(buf, format="PNG")
            return buf.getvalue()
        if not allow_stub:
            raise NotImplementedError(
                "non-PNG image resize requires Pillow, which is not "
                "installed; pass allow_stub=True for the deterministic fake"
            )
        n_out = width * height * 3
        digest = _hashlib.sha256(content).digest()
        return (digest * (n_out // len(digest) + 1))[:n_out]

    return decode_one, resize_one


decode_one, resize_one = _make_image_ops()


def synth_pixel_pngs(
    df: DataFrame,
    id_col: str = "doc_id",
    width_col: str = "_w",
    height_col: str = "_h",
    pattern_col: Optional[str] = None,
) -> DataFrame:
    """Deterministic FULL PNGs (real IDAT pixel data, 8-bit RGB) from
    dimension columns; the scanline filter cycles with the id so decode
    exercises all five reconstructions in distributed runs. The pixel
    pattern is keyed by ``pattern_col`` when given (distinct ids sharing a
    pattern value get bit-identical pixels — the dedup-fixture knob),
    else by the id itself."""
    _enc = encode_png_pixels
    pat_col = pattern_col or id_col

    def _synth(batches):
        for batch in batches:
            out = []
            for mid, w, h, pat in zip(
                batch[id_col], batch[width_col], batch[height_col], batch[pat_col]
            ):
                mid, w, h, pat = int(mid), int(w), int(h), int(pat)
                raw = bytes(
                    (x * 7 + y * 13 + c * 29 + pat * 31) % 256
                    for y in range(h)
                    for x in range(w)
                    for c in range(3)
                )
                out.append(
                    {
                        "media_id": mid,
                        "content": _enc(w, h, 3, raw, filter_type=mid % 5),
                    }
                )
            if out:
                yield pd.DataFrame(out)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    proj = [id_col, width_col, height_col]
    if pat_col not in proj:
        proj.append(pat_col)
    return df.select(*[F.col(c) for c in proj]).mapInPandas(_synth, schema)

def synth_jpegs(
    df: DataFrame,
    id_col: str = "doc_id",
    pattern_col: Optional[str] = None,
) -> DataFrame:
    """Deterministic baseline JPEGs (REAL entropy-coded streams from the
    pure-stdlib SOF0 codec): 16x16 grayscale, four constant 8x8 blocks
    whose EVEN values derive from ``pattern_col`` (default the id) — the
    even-value constant-block contract under which the lossy pipeline is
    exactly invertible (jpegcodec.decoded_constant_block_value), so an
    external oracle can replay decoded pixel VALUES. The restart
    interval cycles with the id (0, 1, 2 MCUs) so distributed decodes
    exercise the DRI/RSTn resync path — restarts change the bitstream,
    never the pixels (asserted in tests)."""
    from samba_spark.operators.jpegcodec import encode_jpeg_baseline

    _enc = encode_jpeg_baseline
    pat_col = pattern_col or id_col

    def _synth(batches):
        import numpy as np

        for batch in batches:
            out = []
            for mid, pat in zip(batch[id_col], batch[pat_col]):
                mid, pat = int(mid), int(pat)
                vals = [2 * ((pat * 37 + b * 53) % 128) for b in range(4)]
                img = np.zeros((16, 16), dtype=np.uint8)
                img[:8, :8] = vals[0]
                img[:8, 8:] = vals[1]
                img[8:, :8] = vals[2]
                img[8:, 8:] = vals[3]
                out.append(
                    {
                        "media_id": mid,
                        "content": _enc(
                            16, 16, 1, img.tobytes(),
                            restart_interval=mid % 3,
                        ),
                    }
                )
            if out:
                yield pd.DataFrame(out)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    proj = [id_col] + ([pat_col] if pat_col != id_col else [])
    return df.select(*[F.col(c) for c in proj]).mapInPandas(_synth, schema)


PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("px_min", T.IntegerType()),
        T.StructField("px_max", T.IntegerType()),
    ]
)


def image_pixel_stats(
    media: DataFrame, id_col: str = "media_id", content_col: str = "content"
) -> DataFrame:
    """Full pixel decode → (dims, exact pixel sum/min/max) per image.
    REAL decode on both stdlib codecs — PNG (zlib inflate + filter
    reconstruction) and baseline JPEG (Huffman + IDCT + upsampling);
    other formats raise (no stub: pixel STATS from a fake would be
    silently wrong, unlike shape-only plumbing). Arrow-batched
    mapInPandas, one pass, no shuffle."""
    from samba_spark.operators.jpegcodec import decode_jpeg_pixels

    _dec_png = decode_png_pixels
    _dec_jpg = decode_jpeg_pixels
    _sig = PNG_SIG

    def _stats(batches):
        import numpy as np

        for batch in batches:
            out = []
            for mid, content in zip(batch[id_col], batch[content_col]):
                b = bytes(content or b"")
                if b[:8] == _sig:
                    w, h, ch, raw = _dec_png(b)
                elif b[:2] == b"\xff\xd8":
                    w, h, ch, raw = _dec_jpg(b)
                else:
                    raise ValueError(
                        "image_pixel_stats decodes PNG and baseline JPEG "
                        "payloads only"
                    )
                arr = np.frombuffer(raw, dtype=np.uint8)
                out.append(
                    {
                        "media_id": int(mid),
                        "width": int(w),
                        "height": int(h),
                        "channels": int(ch),
                        "px_sum": int(arr.sum(dtype=np.int64)),
                        "px_min": int(arr.min()),
                        "px_max": int(arr.max()),
                    }
                )
            if out:
                yield pd.DataFrame(out)

    return media.select(id_col, content_col).mapInPandas(
        _stats, PIXEL_STATS_SCHEMA
    )


PNG_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("bit_depth", T.LongType()),
        T.StructField("color_type", T.LongType()),
    ]
)


def parse_png_headers(
    media: DataFrame, id_col: str = "media_id", content_col: str = "content"
) -> DataFrame:
    """Distributed PNG metadata extraction — Arrow-batched, header-only,
    CRC-verified; the functional (non-PIL) half of the image path."""
    _hdr = parse_png_header

    def _parse(batches):
        for batch in batches:
            out = []
            for mid, content in zip(batch[id_col], batch[content_col]):
                w, h, depth, color = _hdr(bytes(content))
                out.append(
                    {
                        "media_id": mid,
                        "width": w,
                        "height": h,
                        "bit_depth": depth,
                        "color_type": color,
                    }
                )
            if out:
                yield pd.DataFrame(out)

    return media.select(F.col(id_col), F.col(content_col)).mapInPandas(
        _parse, PNG_META_SCHEMA
    )


def synth_pngs(
    df: DataFrame,
    id_col: str = "doc_id",
    width_col: str = "_w",
    height_col: str = "_h",
) -> DataFrame:
    """Deterministic PNG synthesis from dimension columns (8-bit RGB)."""
    _png = png_bytes

    def _synth(batches):
        for batch in batches:
            out = []
            for mid, w, h in zip(batch[id_col], batch[width_col], batch[height_col]):
                out.append(
                    {"media_id": mid, "content": _png(int(w), int(h))}
                )
            if out:
                yield pd.DataFrame(out)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    return df.select(
        F.col(id_col), F.col(width_col), F.col(height_col)
    ).mapInPandas(_synth, schema)


def synth_pcm_wavs(
    df: DataFrame,
    id_col: str = "doc_id",
    *,
    sample_rate: int = 8000,
    n_samples: int = 800,
) -> DataFrame:
    """Deterministic mono 16-bit PCM WAV synthesis with a REAL waveform:
    sample i of blob ``id`` is ``((id*31 + i*17) % 4096) - 2048`` — pure
    integer math both engines can replay exactly, unlike the zero-payload
    fixture of :func:`synth_wavs`. The audio-feature fixture generator."""
    import struct

    def _synth(batches):
        for batch in batches:
            out = []
            for mid in batch[id_col]:
                mid = int(mid)
                pcm = struct.pack(
                    f"<{n_samples}h",
                    *[((mid * 31 + i * 17) % 4096) - 2048 for i in range(n_samples)],
                )
                blob = wav_bytes(sample_rate, 1, 16, 0)
                # wav_bytes emits a zero-length payload for n=0; splice the
                # real PCM in by rebuilding the two RIFF size fields
                blob = (
                    b"RIFF"
                    + struct.pack("<I", 36 + len(pcm))
                    + blob[8:40]
                    + struct.pack("<I", len(pcm))
                    + pcm
                )
                out.append({"media_id": mid, "content": blob})
            if out:
                yield pd.DataFrame(out)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    return df.select(F.col(id_col)).mapInPandas(_synth, schema)


def frame_features(
    media: DataFrame,
    *,
    frame_len: int = 160,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Audio frame sampling + feature extraction over a binary WAV column:
    decode 16-bit PCM (real RIFF walk via parse_wav_header), split into
    ``frame_len``-sample frames, emit per-frame integer energy features
    (sum of |sample|, peak |sample|, n). The audio leg of the multimodal
    north star: at 100 TB this is the Arrow-batched fan-out stage before
    any model-based featurizer — payload bytes never leave the executor
    batch, output rows carry only O(1) integers per frame. Trailing
    partial frames are dropped (the standard framing contract)."""
    import struct

    def _frames(batches):
        for batch in batches:
            out = []
            for mid, content in zip(batch[id_col], batch[content_col]):
                blob = bytes(content)
                rate, ch, bits, n, _ms = parse_wav_header(blob)
                if bits != 16 or ch != 1:
                    raise ValueError("frame_features expects mono 16-bit PCM")
                # locate the data chunk payload (same RIFF walk as the parser)
                pos = 12
                data = b""
                while pos + 8 <= len(blob):
                    cid = blob[pos : pos + 4]
                    (size,) = struct.unpack("<I", blob[pos + 4 : pos + 8])
                    if cid == b"data":
                        data = blob[pos + 8 : pos + 8 + size]
                        break
                    pos += 8 + size + (size % 2)
                samples = struct.unpack(f"<{len(data)//2}h", data)
                for fi in range(len(samples) // frame_len):
                    fr = samples[fi * frame_len : (fi + 1) * frame_len]
                    out.append(
                        {
                            "media_id": int(mid),
                            "frame_idx": fi,
                            "sum_abs": sum(abs(s) for s in fr),
                            "peak": max(abs(s) for s in fr),
                        }
                    )
            if out:
                yield pd.DataFrame(out)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.LongType()),
            T.StructField("sum_abs", T.LongType()),
            T.StructField("peak", T.LongType()),
        ]
    )
    return media.select(F.col(id_col), F.col(content_col)).mapInPandas(
        _frames, schema
    )


# Video sibling of the WAV/PNG codecs: ISO-BMFF (MP4) containers are a
# flat tree of [size:u32be][type:4cc] boxes, so container metadata parses
# with the same struct arithmetic — no codec library. Actual frame
# DECODING stays out of scope in this container (no video libs here, per
# the multimodal stub policy); the box walk, sizes, and offsets are real.
def _make_bmff_codec():
    import struct

    def mp4_bytes(free_size: int, mdat_size: int):
        """Minimal well-formed ISO-BMFF blob: ftyp + free(+payload) +
        mdat(+payload). Sizes include the 8-byte box header."""
        ftyp = struct.pack(">I", 16) + b"ftypisom" + struct.pack(">I", 0)
        free = struct.pack(">I", free_size) + b"free" + b"\x00" * (free_size - 8)
        mdat = struct.pack(">I", mdat_size) + b"mdat" + b"\x00" * (mdat_size - 8)
        return ftyp + free + mdat

    def parse_boxes(content: bytes):
        """Top-level box walk: [(type, size, offset)] in file order.
        Handles the 64-bit largesize escape (size==1) and
        size==0 (box extends to EOF). Raises ValueError on a truncated
        or non-BMFF blob."""
        if len(content) < 8 or content[4:8] != b"ftyp":
            raise ValueError("not an ISO-BMFF blob (no leading ftyp)")
        out, pos = [], 0
        while pos + 8 <= len(content):
            (size,) = struct.unpack(">I", content[pos : pos + 4])
            btype = content[pos + 4 : pos + 8].decode("latin-1")
            if size == 1:
                (size,) = struct.unpack(">Q", content[pos + 8 : pos + 16])
            elif size == 0:
                size = len(content) - pos
            if size < 8 or pos + size > len(content):
                raise ValueError(f"truncated box {btype!r} at {pos}")
            out.append((btype, size, pos))
            pos += size
        if pos != len(content):
            raise ValueError("trailing bytes after last box")
        return out

    return mp4_bytes, parse_boxes


mp4_bytes, parse_boxes = _make_bmff_codec()


# Full video container path: a moov/trak/mdia/minf/stbl tree with REAL
# sample tables (mdhd timescale, stts time-to-sample runs, stsc
# sample-to-chunk map, stsz sample sizes, stco chunk offsets) per
# ISO/IEC 14496-12. Frame PIXEL decode stays out of scope (no video codec
# libs in this container, same policy as the flat-box path above), but
# everything a frame-sampling pipeline needs — which byte range is frame
# i, when is it presented — is parsed from the bytes, not assumed.
def _make_bmff_video_codec():
    import struct

    VIDEO_TIMESCALE = 30000
    CONTAINERS = {"moov", "trak", "mdia", "minf", "stbl"}

    def _box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    def _fullbox(btype: bytes, payload: bytes) -> bytes:
        return _box(btype, b"\x00\x00\x00\x00" + payload)

    def video_params(d: int):
        """Deterministic per-doc sample-table parameters — the single
        source of truth shared by the synthesizer, the tests, and the SQL
        oracle. n samples in two stts runs (delta1 then 2*delta1); sample
        sizes and fill bytes from integer formulas."""
        n = 6 + d % 5
        n1 = n // 2  # first stts run length
        delta1 = 1000 + (d % 3) * 250
        sizes = [12 + ((d * 31 + i * 7) % 48) for i in range(n)]
        fills = [(d + i) % 251 for i in range(n)]
        return n, n1, delta1, sizes, fills

    def mp4_video_bytes(d: int) -> bytes:
        """Well-formed single-track MP4: ftyp + moov(mvhd, trak(tkhd,
        mdia(mdhd, minf(stbl(stts, stsc, stsz, stco))))) + mdat. Samples
        land in TWO chunks (first ceil(n/2), then the rest) laid out
        contiguously in mdat, so the chunk walk is exercised for real."""
        n, n1, delta1, sizes, fills = video_params(d)
        stts = _fullbox(
            b"stts",
            struct.pack(">I", 2)
            + struct.pack(">II", n1, delta1)
            + struct.pack(">II", n - n1, delta1 * 2),
        )
        c1 = (n + 1) // 2  # chunk 1 sample count (differs from n1 on odd n)
        stsc = _fullbox(
            b"stsc",
            struct.pack(">I", 2)
            + struct.pack(">III", 1, c1, 1)
            + struct.pack(">III", 2, n - c1, 1),
        )
        stsz = _fullbox(
            b"stsz",
            struct.pack(">II", 0, n)
            + b"".join(struct.pack(">I", s) for s in sizes),
        )
        # stco needs absolute file offsets -> assemble with a placeholder,
        # measure, then patch (stco's own size is offset-independent).
        def build(off1: int, off2: int) -> bytes:
            stco = _fullbox(b"stco", struct.pack(">III", 2, off1, off2))
            stbl = _box(b"stbl", stts + stsc + stsz + stco)
            mdhd = _fullbox(
                b"mdhd",
                struct.pack(
                    ">IIIII",
                    0,
                    0,
                    VIDEO_TIMESCALE,
                    sum(
                        delta1 if i < n1 else 2 * delta1 for i in range(n)
                    ),
                    0x55C40000,  # language 'und' + pre_defined
                ),
            )
            minf = _box(b"minf", stbl)
            mdia = _box(b"mdia", mdhd + minf)
            tkhd = _fullbox(b"tkhd", b"\x00" * 80)
            trak = _box(b"trak", tkhd + mdia)
            mvhd = _fullbox(b"mvhd", b"\x00" * 96)
            moov = _box(b"moov", mvhd + trak)
            ftyp = struct.pack(">I", 16) + b"ftypisom" + struct.pack(">I", 0)
            mdat = _box(
                b"mdat",
                b"".join(bytes([f]) * s for s, f in zip(sizes, fills)),
            )
            return ftyp + moov + mdat

        probe = build(0, 0)
        mdat_payload = len(probe) - sum(sizes)
        off1 = mdat_payload
        off2 = mdat_payload + sum(sizes[:c1])
        return build(off1, off2)

    def parse_sample_table(content: bytes):
        """Parse the sample tables out of a single-track MP4:
        ``(timescale, [(idx, dts, size, offset)])`` with offsets absolute
        into the file. General decode — multi-run stts, multi-entry stsc
        over the stco chunk list (co64 handled), no assumption that
        chunks are contiguous."""
        def children(buf: bytes, base: int, end: int):
            pos = base
            while pos + 8 <= end:
                (size,) = struct.unpack(">I", buf[pos : pos + 4])
                btype = buf[pos + 4 : pos + 8].decode("latin-1")
                hdr = 8
                if size == 1:
                    (size,) = struct.unpack(">Q", buf[pos + 8 : pos + 16])
                    hdr = 16
                elif size == 0:
                    size = end - pos
                if size < hdr or pos + size > end:
                    raise ValueError(f"truncated box {btype!r} at {pos}")
                yield btype, pos + hdr, pos + size
                pos += size

        tables: dict = {}

        def walk(base: int, end: int):
            for btype, body, bend in children(content, base, end):
                if btype in CONTAINERS:
                    walk(body, bend)
                elif btype in ("mdhd", "stts", "stsc", "stsz", "stco", "co64"):
                    tables[btype] = (body, bend)

        if len(content) < 8 or content[4:8] != b"ftyp":
            raise ValueError("not an ISO-BMFF blob (no leading ftyp)")
        walk(0, len(content))
        for need in ("mdhd", "stts", "stsc", "stsz", "stco"):
            if need not in tables and not (need == "stco" and "co64" in tables):
                raise ValueError(f"missing {need} box")

        def full(name: str):
            body, bend = tables[name]
            return body + 4, bend  # skip version/flags

        b, _ = full("mdhd")
        timescale = struct.unpack(">I", content[b + 8 : b + 12])[0]

        b, _ = full("stsz")
        uniform, count = struct.unpack(">II", content[b : b + 8])
        if uniform:
            sizes = [uniform] * count
        else:
            sizes = list(
                struct.unpack(f">{count}I", content[b + 8 : b + 8 + 4 * count])
            )

        b, _ = full("stts")
        (n_runs,) = struct.unpack(">I", content[b : b + 4])
        dts, t = [], 0
        for r in range(n_runs):
            cnt, delta = struct.unpack(
                ">II", content[b + 4 + 8 * r : b + 12 + 8 * r]
            )
            for _ in range(cnt):
                dts.append(t)
                t += delta
        if len(dts) != count:
            raise ValueError("stts/stsz sample count mismatch")

        if "stco" in tables:
            b, _ = full("stco")
            (n_chunks,) = struct.unpack(">I", content[b : b + 4])
            chunk_offs = list(
                struct.unpack(
                    f">{n_chunks}I", content[b + 4 : b + 4 + 4 * n_chunks]
                )
            )
        else:
            b, _ = full("co64")
            (n_chunks,) = struct.unpack(">I", content[b : b + 4])
            chunk_offs = list(
                struct.unpack(
                    f">{n_chunks}Q", content[b + 4 : b + 4 + 8 * n_chunks]
                )
            )

        b, _ = full("stsc")
        (n_ent,) = struct.unpack(">I", content[b : b + 4])
        stsc = [
            struct.unpack(">III", content[b + 4 + 12 * e : b + 16 + 12 * e])
            for e in range(n_ent)
        ]

        # Chunk walk: for 1-based chunk k, the applicable stsc entry is the
        # last one with first_chunk <= k; samples are laid sequentially
        # from the chunk's stco offset.
        offsets, sample = [0] * count, 0
        for k in range(1, n_chunks + 1):
            spc = 0
            for first_chunk, samples_per_chunk, _desc in stsc:
                if first_chunk <= k:
                    spc = samples_per_chunk
            off = chunk_offs[k - 1]
            for _ in range(spc):
                if sample >= count:
                    raise ValueError("stsc maps more samples than stsz has")
                offsets[sample] = off
                off += sizes[sample]
                sample += 1
        if sample != count:
            raise ValueError("chunk walk covered fewer samples than stsz")

        return timescale, [
            (i, dts[i], sizes[i], offsets[i]) for i in range(count)
        ]

    return VIDEO_TIMESCALE, video_params, mp4_video_bytes, parse_sample_table


VIDEO_TIMESCALE, video_params, mp4_video_bytes, parse_sample_table = (
    _make_bmff_video_codec()
)


def synth_mp4_videos(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic single-track MP4 synthesis with real sample tables
    (``video_params`` arithmetic) — the fixture generator for the
    frame-sampling path."""

    def _synth(batches):
        for batch in batches:
            out = []
            for mid in batch[id_col]:
                mid = int(mid)
                out.append(
                    {"media_id": mid, "content": mp4_video_bytes(mid)}
                )
            if out:
                yield pd.DataFrame(out)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    return df.select(F.col(id_col)).mapInPandas(_synth, schema)


def sample_video_frames(
    media: DataFrame,
    every_k: int = 3,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Frame sampling over a binary MP4 column: parse the REAL sample
    tables, keep every ``every_k``-th sample, and extract that frame's
    byte range from mdat — (media_id, sample_idx, dts, timescale,
    frame_size, frame_offset, byte_sum), where byte_sum totals the
    EXTRACTED payload bytes, proving the offsets address real data.

    Scale contract: Arrow-batched ``mapInPandas``; each blob is touched
    once, output is O(kept frames), nothing leaves the executor but the
    per-frame metadata row. At 100 TB the same stage runs unchanged —
    frame payload bytes themselves would be carried as binary columns (or
    spilled via ``spill_binary_column``) only when a downstream decode
    actually needs them. Reference ships no video surface at all; its
    nearest analogue is opaque FileGroup bytes
    (core/src/main/java/br/uff/spark/advancedpipe/FileGroup.java:20-29).
    """
    if every_k < 1:
        raise ValueError(f"every_k must be >= 1, got {every_k}")

    def _sample(batches):
        for batch in batches:
            out = []
            for mid, content in zip(batch[id_col], batch[content_col]):
                blob = bytes(content)
                timescale, samples = parse_sample_table(blob)
                for i, dts, size, off in samples:
                    if i % every_k:
                        continue
                    frame = blob[off : off + size]
                    if len(frame) != size:
                        raise ValueError(
                            f"frame {i} of media {mid} out of bounds"
                        )
                    out.append(
                        {
                            "media_id": int(mid),
                            "sample_idx": i,
                            "dts": dts,
                            "timescale": timescale,
                            "frame_size": size,
                            "frame_offset": off,
                            "byte_sum": sum(frame),
                        }
                    )
            if out:
                yield pd.DataFrame(out)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("sample_idx", T.LongType()),
            T.StructField("dts", T.LongType()),
            T.StructField("timescale", T.LongType()),
            T.StructField("frame_size", T.LongType()),
            T.StructField("frame_offset", T.LongType()),
            T.StructField("byte_sum", T.LongType()),
        ]
    )
    return media.select(F.col(id_col), F.col(content_col)).mapInPandas(
        _sample, schema
    )


def parse_mp4_boxes(
    media: DataFrame, id_col: str = "media_id", content_col: str = "content"
) -> DataFrame:
    """Distributed MP4/ISO-BMFF container metadata over a binary column:
    one output row per top-level box (type, size, offset). Same scale
    contract as the WAV/PNG paths — Arrow-batched, header arithmetic only,
    payload bytes never leave the executor batch."""

    def _parse(batches):
        for batch in batches:
            out = []
            for mid, content in zip(batch[id_col], batch[content_col]):
                for btype, size, offset in parse_boxes(bytes(content)):
                    out.append(
                        {
                            "media_id": int(mid),
                            "box_type": btype,
                            "box_size": size,
                            "offset": offset,
                        }
                    )
            if out:
                yield pd.DataFrame(out)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("box_type", T.StringType()),
            T.StructField("box_size", T.LongType()),
            T.StructField("offset", T.LongType()),
        ]
    )
    return media.select(F.col(id_col), F.col(content_col)).mapInPandas(
        _parse, schema
    )


def synth_mp4s(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic ISO-BMFF synthesis: blob of doc d is
    ftyp(16) + free(16 + d % 64) + mdat(16 + (d * 7) % 128) — box sizes
    from integer formulas both engines replay exactly (the fixture
    generator for the container-metadata path)."""

    def _synth(batches):
        for batch in batches:
            out = []
            for mid in batch[id_col]:
                mid = int(mid)
                out.append(
                    {
                        "media_id": mid,
                        "content": mp4_bytes(
                            16 + (mid % 64), 16 + ((mid * 7) % 128)
                        ),
                    }
                )
            if out:
                yield pd.DataFrame(out)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    return df.select(F.col(id_col)).mapInPandas(_synth, schema)


def spill_binary_column(
    df: DataFrame,
    col: str = "content",
    *,
    blob_root: str,
    threshold: int = 1 << 20,
) -> DataFrame:
    """Generic media-column spill — the FileGroup ``spill_contents``
    policy for ANY BinaryType column: payloads ≥ ``threshold`` move to a
    sha256-addressed blob dir and the column is replaced by a
    ``struct(content binary, content_ref string)`` (exactly one side
    set). Downstream shuffles/Arrow batches then carry O(ref) bytes for
    big media while small blobs stay inline — the mixed-size reality of
    a 100 TB image/audio table. ``hydrate_binary_column`` is the
    inverse. ``blob_root`` must be reachable from every executor (shared
    FS locally, object store at cluster scale); writes are
    content-addressed and atomic (``artifacts.put_blob``), so duplicates
    store once."""
    import os as _os

    from samba_spark.artifacts import put_blob

    blob_dir = _os.path.join(blob_root, "blobs")
    _os.makedirs(blob_dir, exist_ok=True)
    out_field = T.StructType(
        [
            T.StructField("content", T.BinaryType()),
            T.StructField("content_ref", T.StringType()),
        ]
    )
    schema = T.StructType(
        [
            f if f.name != col else T.StructField(col, out_field)
            for f in df.schema.fields
        ]
    )

    def _spill(batches):
        for batch in batches:
            recs = []
            for content in batch[col]:
                if content is None:
                    recs.append({"content": None, "content_ref": None})
                    continue
                content = bytes(content)
                if len(content) < threshold:
                    recs.append({"content": content, "content_ref": None})
                    continue
                _, path = put_blob(blob_dir, content)
                recs.append({"content": None, "content_ref": path})
            batch = batch.copy()
            batch[col] = recs
            yield batch

    return df.mapInPandas(_spill, schema)


def hydrate_binary_column(df: DataFrame, col: str = "content") -> DataFrame:
    """Inverse of :func:`spill_binary_column`: resolve refs back to an
    inline BinaryType column (executor-side reads)."""
    flat = T.StructType(
        [
            f if f.name != col else T.StructField(col, T.BinaryType())
            for f in df.schema.fields
        ]
    )

    def _hydrate(batches):
        for batch in batches:
            out = []
            for rec in batch[col]:
                if rec is None:
                    out.append(None)
                elif rec["content"] is not None:
                    out.append(bytes(rec["content"]))
                elif rec["content_ref"]:
                    with open(rec["content_ref"], "rb") as fh:
                        out.append(fh.read())
                else:
                    out.append(None)
            batch = batch.copy()
            batch[col] = out
            yield batch

    return df.mapInPandas(_hydrate, flat)


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("phash", T.LongType()),
        T.StructField("phash_hex", T.StringType()),
    ]
)


def image_perceptual_hash(media: DataFrame, hash_size: int = 8) -> DataFrame:
    """64-bit average perceptual hash per image → (media_id, phash,
    phash_hex). The image-domain analogue of SimHash (dedup.py x4): decode
    pixels (PNG ONLY — the pure-stdlib codec; non-PNG payloads fail
    loudly with ValueError, they do NOT fall back to PIL, because the
    hash must be bit-identical across environments), integer luma
    (299R+587G+114B)//1000, nearest-neighbor downsample to hash_size²,
    bit k (row-major, MSB-first) = luma > floor(mean). Scale-invariant by
    construction: nearest resampling composes (floor(i·S/n) chains), so a
    resize_images copy hashes identically — the classic
    near-dup-across-resolutions signal.

    All arithmetic is integer and deterministic, so a SQL oracle can
    recompute the hash from first principles (x89). ``phash`` is the
    signed-64 view (for Catalyst band/XOR ops), ``phash_hex`` the unsigned
    hex rendering. Arrow-batched; one pass over the binary column.

    Reference parity: the reference has no image surface at all (its
    nearest concept is opaque FileGroup bytes, FileGroup.java:20-29) —
    this is north-star LLM-pipeline surface, not a port.
    """
    _dec = decode_png_pixels
    n = hash_size

    def _phash(batches: Iterable[pd.DataFrame]):
        for batch in batches:
            out = []
            for mid, content in zip(batch["media_id"], batch["content"]):
                content = bytes(content or b"")
                w, h, ch, raw = _dec(content)
                # luma plane, nearest-sampled straight at the n×n grid —
                # no intermediate full-res luma buffer.
                vals = []
                for j in range(n):
                    y = (j * h) // n
                    for i in range(n):
                        x = (i * w) // n
                        o = (y * w + x) * ch
                        if ch >= 3:
                            v = (
                                299 * raw[o] + 587 * raw[o + 1] + 114 * raw[o + 2]
                            ) // 1000
                        else:
                            v = raw[o]
                        vals.append(v)
                mean = sum(vals) // (n * n)
                bits = 0
                for v in vals:
                    bits = (bits << 1) | (1 if v > mean else 0)
                signed = bits - (1 << 64) if bits >= (1 << 63) else bits
                out.append(
                    {
                        "media_id": int(mid),
                        "phash": signed,
                        "phash_hex": format(bits, "016x"),
                    }
                )
            if out:
                yield pd.DataFrame(out)

    return media.select("media_id", "content").mapInPandas(_phash, PHASH_SCHEMA)


def phash_neardup_pairs(
    hashed: DataFrame,
    *,
    max_hamming: int = 3,
    bands: int = 4,
    id_col: str = "media_id",
    hash_col: str = "phash",
) -> DataFrame:
    """Near-duplicate image pairs at Hamming distance ≤ ``max_hamming``
    over 64-bit perceptual hashes → (media_a, media_b, hamming).

    Pure Catalyst, banded like SimHash: split the hash into ``bands``
    contiguous 64/bands-bit bands; two hashes within max_hamming ≤
    bands−1 differ in fewer bits than there are bands, so by pigeonhole
    they agree on ≥1 band — the equi-join on (band_idx, band_value) is
    exhaustive, never all-pairs. Verify = bit_count(XOR) on candidates.

    100 TB posture: the shuffle key is (band_idx, 16-bit band), candidate
    volume is bounded per bucket; no Python anywhere in this half (the
    hash column arrives from image_perceptual_hash's single Arrow pass).
    """
    if max_hamming >= bands:
        raise ValueError(
            f"banded join is exhaustive only for max_hamming < bands "
            f"(got {max_hamming} >= {bands})"
        )
    if bands not in (2, 4, 8, 16, 32, 64):
        # bands=1 needs an unrepresentable 2^64-1 long mask (use a plain
        # equality join for exact duplicates); bands > 64 gives width 0 /
        # mask 0 — every row lands in ONE bucket, the all-pairs explosion
        # banding exists to prevent; non-divisors of 64 leave top bits
        # unbanded (still exhaustive, but silently weaker buckets).
        raise ValueError(f"bands must divide 64 and be >= 2, got {bands}")
    width = 64 // bands
    mask = (1 << width) - 1
    h = hashed.select(F.col(id_col).alias("_id"), F.col(hash_col).alias("_h"))
    banded = h.select(
        "_id",
        "_h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftrightunsigned(F.col("_h"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("_id", "_h", "band.band_idx", "band.band_val")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_val") == F.col("b.band_val"),
                F.col("a._id") < F.col("b._id"),
            ],
        )
        .select(
            F.col("a._id").alias("media_a"),
            F.col("b._id").alias("media_b"),
            F.col("a._h").alias("_ha"),
            F.col("b._h").alias("_hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).cast("int"),
        )
        .where(F.col("hamming") <= max_hamming)
        .drop("_ha", "_hb")
    )


def synth_wave_wavs(
    df: DataFrame,
    id_col: str = "doc_id",
    pattern_col: Optional[str] = None,
    *,
    sample_rate: int = 8000,
    n_samples: int = 2080,
) -> DataFrame:
    """Deterministic mono 16-bit PCM WAVs with a REAL (non-silent)
    integer waveform — the audio analogue of synth_pixel_pngs. Sample i
    of pattern p is the sawtooth ``((i*(2p+3) + p*37) % 1000)*60 - 30000``
    (int16 range, pure integer arithmetic, so a SQL oracle can recompute
    every sample). Distinct ids sharing a ``pattern_col`` value get
    bit-identical audio — the dedup-fixture knob."""
    import struct

    pat_col = pattern_col or id_col

    def _synth(batches):
        for batch in batches:
            out = []
            for mid, pat in zip(batch[id_col], batch[pat_col]):
                mid, p = int(mid), int(pat)
                f = 2 * p + 3
                pcm = struct.pack(
                    f"<{n_samples}h",
                    *(((i * f + p * 37) % 1000) * 60 - 30000
                      for i in range(n_samples)),
                )
                header = wav_bytes(sample_rate, 1, 16, 0)[:44]
                # wav_bytes with a zero payload gives the canonical header;
                # patch the RIFF and data sizes for the real payload.
                riff_size = struct.pack("<I", 36 + len(pcm))
                data_size = struct.pack("<I", len(pcm))
                content = (
                    header[:4] + riff_size + header[8:40] + data_size + pcm
                )
                out.append({"media_id": mid, "content": content})
            if out:
                yield pd.DataFrame(out)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    proj = [id_col] if pat_col == id_col else [id_col, pat_col]
    return df.select(*[F.col(c) for c in proj]).mapInPandas(_synth, schema)


AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("afp", T.LongType()),
        T.StructField("afp_hex", T.StringType()),
    ]
)


def audio_fingerprint(
    media: DataFrame, *, frame: int = 32, bits: int = 64
) -> DataFrame:
    """64-bit energy-delta audio fingerprint per clip → (media_id, afp,
    afp_hex) — the audio sibling of image_perceptual_hash. Parse the PCM
    payload (pure-stdlib RIFF walk, 16-bit mono path), frame channel 0
    into ``frame``-sample windows, energy = Σ|sample| per frame, bit t
    (MSB-first) = energy[t] > energy[t+1]. Needs bits+1 frames; shorter
    clips zero-pad (silence), so the fingerprint is total.

    Robust to volume scaling direction-wise (bits compare adjacent
    energies) and fully integer — a SQL oracle recomputes every bit from
    the synth waveform arithmetic (x90). Near-dup pairs: reuse
    phash_neardup_pairs(hash_col="afp") — the banded-Hamming join is
    representation-agnostic."""
    import struct

    def _fp(batches: Iterable[pd.DataFrame]):
        for batch in batches:
            out = []
            for mid, content in zip(batch["media_id"], batch["content"]):
                content = bytes(content or b"")
                if (
                    len(content) < 12
                    or content[:4] != b"RIFF"
                    or content[8:12] != b"WAVE"
                ):
                    raise ValueError("not a RIFF/WAVE blob")
                # one RIFF walk for both fmt and data (parse_wav_header
                # walks the same chunks but does not expose the data
                # offset, and walking twice per row doubles the pass)
                pos, channels, depth, data = 12, None, None, b""
                while pos + 8 <= len(content):
                    cid = content[pos : pos + 4]
                    (size,) = struct.unpack(
                        "<I", content[pos + 4 : pos + 8]
                    )
                    if cid == b"fmt ":
                        _, channels, _, _, _, depth = struct.unpack(
                            "<HHIIHH", content[pos + 8 : pos + 24]
                        )
                    elif cid == b"data":
                        data = content[pos + 8 : pos + 8 + size]
                    pos += 8 + size + (size % 2)  # chunks are word-aligned
                if channels is None:
                    raise ValueError("missing fmt chunk")
                if depth != 16:
                    raise ValueError(f"only 16-bit PCM supported, got {depth}")
                n = len(data) // (2 * channels)
                energies = []
                for t in range(bits + 1):
                    e = 0
                    for i in range(t * frame, (t + 1) * frame):
                        if i < n:
                            (s,) = struct.unpack_from(
                                "<h", data, i * 2 * channels
                            )
                            e += abs(s)
                    energies.append(e)
                fp = 0
                for t in range(bits):
                    fp = (fp << 1) | (1 if energies[t] > energies[t + 1] else 0)
                signed = fp - (1 << 64) if fp >= (1 << 63) else fp
                out.append(
                    {
                        "media_id": int(mid),
                        "afp": signed,
                        "afp_hex": format(fp, "016x"),
                    }
                )
            if out:
                yield pd.DataFrame(out)

    return media.select("media_id", "content").mapInPandas(_fp, AUDIO_FP_SCHEMA)
