"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images / audio / video ride through the pipeline as ``binary`` columns
with metadata structs; decode and feature extraction run as Arrow-batched
``mapInPandas`` stages. Decoders are REAL and dependency-free where the
format allows: netpbm P5/P6, uncompressed 24-bit BMP, full still-image
PNG (all five color types incl. palette/alpha, bit depths 1-16, Adam7
interlacing — stdlib zlib inflate + unfilter), JPEG both baseline AND
progressive SOF2 (full Huffman entropy decode incl. successive
approximation / spectral selection + dequant + IDCT; gray, 4:4:4, and
subsampled 4:2:0/4:2:2 YCbCr), GIF (full LZW decompression), RIFF/WAVE
PCM16, RIFF/AVI RGB24, WebP lossless (VP8L, all four transforms), IMA
ADPCM compressed audio, Motion-JPEG compressed video, and FLAC (RFC
9639 — fixed/LPC prediction, Rice partitions, CRC-8/16, PCM MD5).
MP3 and lossy-WebP VP8 decode as
structural subsets over repo-defined swap-in tables (foreign streams
refuse loudly); the AVIF/HEIC container (ISOBMFF box walk) and the AAC
transport framing (ADTS frame walk) parse byte-exactly with the coded
av01/hvc1/AAC payload itself behind a documented
``NotImplementedError`` — those entropy decodes need empirical spec
tables this environment cannot verify; a deterministic byte-level
feature extractor stands in for a learned model behind the same
signatures.

At 100 TB: binary payloads dominate I/O, so (a) keep them in their own
column to let column pruning skip them for metadata-only queries,
(b) size ``spark.sql.files.maxPartitionBytes`` for payload-sized rows,
(c) run extractors as mapInPandas with modest ``maxRecordsPerBatch`` so
Arrow batches fit executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import lru_cache

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

N_BYTE_FEATURES = 8


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Demo payload builder: utf-8 bytes of the text column as the opaque
    binary payload plus typed metadata (real pipelines read the bytes
    from object storage)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "utf-8")).withColumn(
        "meta",
        F.struct(
            F.length(F.col("payload")).alias("n_bytes"),
            F.lit("text/plain").alias("mime"),
        ),
    )


class ImageData:
    """Decoded raster: header fields + the raw interleaved pixel buffer."""

    __slots__ = ("width", "height", "channels", "maxval", "pixels")

    def __init__(self, width: int, height: int, channels: int, maxval: int, pixels: bytes):
        self.width = width
        self.height = height
        self.channels = channels
        self.maxval = maxval
        self.pixels = pixels


def encode_ppm(width: int, height: int, pixels: bytes, channels: int = 3) -> bytes:
    """Binary netpbm encoder (P6 for RGB, P5 for grayscale). ``pixels``
    is the interleaved row-major buffer; it is zero-padded / truncated
    to exactly ``width*height*channels`` bytes."""
    need = width * height * channels
    buf = pixels[:need] + b"\x00" * max(0, need - len(pixels))
    magic = b"P6" if channels == 3 else b"P5"
    return magic + b"\n%d %d\n255\n" % (width, height) + buf


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_image(payload: bytes) -> ImageData:
    """Dependency-free image decode for the formats stdlib parsing can
    handle without codec libraries:

    - netpbm **P6** (binary RGB) and **P5** (binary grayscale);
    - **BMP** (BITMAPINFOHEADER, uncompressed 24-bit);
    - **PNG** (all still-image variants: gray / RGB / palette /
      gray+alpha / RGBA, bit depths 1-16, interlace 0 and Adam7 —
      stdlib ``zlib`` inflate + per-pass unfilter, all five filter
      types);
    - **JPEG** (baseline sequential AND progressive SOF2, 8-bit;
      grayscale, 4:4:4, and subsampled 4:2:0 / 4:2:2 YCbCr — full
      Huffman entropy decode incl. successive approximation and
      spectral selection, dequant, zigzag, IDCT, MCU de-interleave,
      nearest-neighbor chroma upsampling; arithmetic coding raises);
    - **GIF** (87a/89a — full LZW decompression with width escalation
      and clear-code resets, interlace de-interleave, palette mapping;
      first frame of animations);
    - **WebP lossless** (VP8L — LSB-first bit reading, simple + normal
      canonical prefix codes, LZ77 with the 2D distance map, color
      cache, and all four transforms: predictor, color, subtract-green,
      color-indexing incl. pixel bundling; lossy VP8/VP8X raises).

    Other formats (AVIF, lossy WebP, ...) still raise ``NotImplementedError`` —
    they need real codec libraries. Returns :class:`ImageData` with the
    de-padded row-major pixel buffer; raises ``ValueError`` on a
    truncated or malformed payload (a decode that silently returns
    garbage would poison every stat derived downstream).
    """
    if payload[:2] in (b"P6", b"P5"):
        return _decode_pnm(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:8] == PNG_SIG:
        return _decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        return _decode_jpeg(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        return _decode_webp(payload)
    raise NotImplementedError(
        "only netpbm P5/P6, uncompressed 24-bit BMP, PNG (all still-image "
        "variants), baseline+progressive JPEG, GIF, and WebP lossless "
        "(VP8L) decode without codec libraries; got magic %r" % payload[:2]
    )


def _decode_pnm(payload: bytes) -> ImageData:
    magic = payload[:2]
    channels = 3 if magic == b"P6" else 1
    # header = magic + 3 whitespace-separated ints (w h maxval), with
    # optional '#' comment lines; pixel buffer starts after exactly one
    # whitespace byte following maxval
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end-of-line
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("malformed netpbm header")
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace separator before the buffer
    width, height, maxval = fields
    if width <= 0 or height <= 0 or not (0 < maxval < 256):
        raise ValueError(f"bad netpbm dimensions {width}x{height} maxval={maxval}")
    need = width * height * channels
    buf = payload[pos : pos + need]
    if len(buf) != need:
        raise ValueError(f"truncated netpbm buffer: need {need}, have {len(buf)}")
    return ImageData(width, height, channels, maxval, buf)


def _decode_bmp(payload: bytes) -> ImageData:
    import struct

    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, width, height = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if hdr_size < 40 or planes != 1 or compression != 0 or bpp != 24:
        raise ValueError(
            f"unsupported BMP variant (hdr={hdr_size} bpp={bpp} comp={compression})"
        )
    flip = height > 0  # positive height = bottom-up row order
    height = abs(height)
    row_bytes = width * 3
    stride = (row_bytes + 3) & ~3  # rows padded to 4-byte boundaries
    rows = []
    for r in range(height):
        src = r * stride + data_off
        row = payload[src : src + row_bytes]
        if len(row) != row_bytes:
            raise ValueError(f"truncated BMP row {r}")
        # BGR -> RGB
        rows.append(bytes(ch for px in range(width) for ch in row[px * 3 : px * 3 + 3][::-1]))
    if flip:
        rows.reverse()
    return ImageData(width, height, 3, 255, b"".join(rows))


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §9.4): the neighbor (left, up, up-left)
    closest to the linear estimate a + b - c, ties left > up > up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def encode_png(width: int, height: int, pixels: bytes, channels: int = 3) -> bytes:
    """Minimal PNG writer: 8-bit RGB (color type 2) or grayscale (color
    type 0), non-interlaced, stdlib ``zlib`` deflate. ``pixels`` is the
    interleaved row-major buffer, zero-padded / truncated to exactly
    ``width*height*channels`` bytes. Each scanline is filtered with type
    ``row % 5`` — deliberately cycling through all five PNG filters so a
    decode round-trip exercises every unfilter path, not just None. The
    inverse of :func:`_decode_png`; used to synthesize test payloads the
    same way ``encode_ppm``/``encode_wav`` do."""
    import struct
    import zlib

    if channels not in (1, 3):
        raise ValueError(f"unsupported channel count {channels}")
    stride = width * channels
    need = stride * height
    buf = pixels[:need] + b"\x00" * max(0, need - len(pixels))
    raw = bytearray()
    prev = b"\x00" * stride
    for r in range(height):
        row = buf[r * stride : (r + 1) * stride]
        ft = r % 5
        raw.append(ft)
        if ft == 0:  # None
            raw += row
        elif ft == 1:  # Sub
            raw += bytes(
                (row[i] - (row[i - channels] if i >= channels else 0)) & 0xFF
                for i in range(stride)
            )
        elif ft == 2:  # Up
            raw += bytes((row[i] - prev[i]) & 0xFF for i in range(stride))
        elif ft == 3:  # Average
            raw += bytes(
                (row[i] - ((row[i - channels] if i >= channels else 0) + prev[i]) // 2)
                & 0xFF
                for i in range(stride)
            )
        else:  # Paeth
            raw += bytes(
                (
                    row[i]
                    - _paeth(
                        row[i - channels] if i >= channels else 0,
                        prev[i],
                        prev[i - channels] if i >= channels else 0,
                    )
                )
                & 0xFF
                for i in range(stride)
            )
        prev = row

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    color_type = 2 if channels == 3 else 0
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def sample_sum(img: ImageData) -> int:
    """Sum of decoded SAMPLE values — equals ``sum(img.pixels)`` for
    8-bit-or-less images; for 16-bit images re-pairs the big-endian
    bytes so the checksum covers full-precision values."""
    if img.maxval == 65535:
        p = img.pixels
        return sum((p[i] << 8) | p[i + 1] for i in range(0, len(p), 2))
    return sum(img.pixels)


def encode_png_ext(
    width: int,
    height: int,
    samples,
    color_type: int = 2,
    depth: int = 8,
    interlace: int = 0,
    palette=None,
) -> bytes:
    """Full-variant PNG writer for synthesizing test/oracle payloads:
    any legal (color type, bit depth) combination, optional Adam7
    interlacing, per-scanline filters cycling through all five types.
    ``samples`` is the flat row-major list of integer sample values
    (``width*height*spp`` entries, each < 2^depth); ``palette`` is the
    list of (r, g, b) tuples for color type 3. The exact inverse of
    :func:`_decode_png` over its full coverage."""
    import struct
    import zlib

    if color_type not in _PNG_SPP or depth not in _PNG_DEPTHS[color_type]:
        raise ValueError(f"illegal depth/color ({depth}/{color_type})")
    if color_type == 3 and not palette:
        raise ValueError("palette required for color type 3")
    spp = _PNG_SPP[color_type]
    need = width * height * spp
    samples = list(samples[:need]) + [0] * max(0, need - len(samples))
    maxs = (1 << depth) - 1
    if any(not (0 <= v <= maxs) for v in samples):
        raise ValueError(f"sample out of range for depth {depth}")
    bpp = max(1, spp * depth // 8)

    def pack_row(vals) -> bytearray:
        if depth == 8:
            return bytearray(vals)
        if depth == 16:
            out = bytearray()
            for v in vals:
                out += struct.pack(">H", v)
            return out
        out = bytearray(((len(vals) * depth) + 7) // 8)
        for i, v in enumerate(vals):
            shift = 8 - depth * (i % (8 // depth) + 1)
            out[i // (8 // depth)] |= v << shift
        return out

    def filt(rows) -> bytearray:
        raw = bytearray()
        prev = bytearray(len(rows[0]) if rows else 0)
        for r, row in enumerate(rows):
            ft = r % 5
            raw.append(ft)
            n = len(row)
            if ft == 0:
                enc = bytes(row)
            elif ft == 1:
                enc = bytes(
                    (row[i] - (row[i - bpp] if i >= bpp else 0)) & 0xFF
                    for i in range(n)
                )
            elif ft == 2:
                enc = bytes((row[i] - prev[i]) & 0xFF for i in range(n))
            elif ft == 3:
                enc = bytes(
                    (row[i] - ((row[i - bpp] if i >= bpp else 0) + prev[i]) // 2)
                    & 0xFF
                    for i in range(n)
                )
            else:
                enc = bytes(
                    (
                        row[i]
                        - _paeth(
                            row[i - bpp] if i >= bpp else 0,
                            prev[i],
                            prev[i - bpp] if i >= bpp else 0,
                        )
                    )
                    & 0xFF
                    for i in range(n)
                )
            raw += enc
            prev = row
        return raw

    passes = [(0, 0, 1, 1)] if interlace == 0 else list(_ADAM7)
    raw = bytearray()
    for x0, y0, dx, dy in passes:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        rows = []
        for r in range(ph):
            y = y0 + r * dy
            vals = []
            for c in range(pw):
                x = x0 + c * dx
                base = (y * width + x) * spp
                vals.extend(samples[base : base + spp])
            rows.append(pack_row(vals))
        raw += filt(rows)

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, depth, color_type, 0, 0, interlace)
    parts = [PNG_SIG, chunk(b"IHDR", ihdr)]
    if color_type == 3:
        parts.append(chunk(b"PLTE", b"".join(bytes(p) for p in palette)))
    parts.append(chunk(b"IDAT", zlib.compress(bytes(raw))))
    parts.append(chunk(b"IEND", b""))
    return b"".join(parts)


# samples per pixel and legal bit depths per PNG color type (spec §11.2.2)
_PNG_SPP = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_PNG_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
               4: (8, 16), 6: (8, 16)}
# Adam7 pass grid: (x_start, y_start, x_step, y_step), spec §8.2
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw, off: int, height: int, stride: int, bpp: int) -> bytearray:
    """Undo per-scanline filtering for one (sub-)image of ``height`` rows
    of ``stride`` bytes; ``bpp`` is the filter byte-offset (whole bytes
    per pixel, min 1). Returns the concatenated unfiltered rows and
    raises ValueError on an unknown filter type."""
    out = bytearray(stride * height)
    prev = bytearray(stride)
    for r in range(height):
        ft = raw[off + r * (stride + 1)]
        s = off + r * (stride + 1) + 1
        line = bytearray(raw[s : s + stride])
        if ft == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + (left + prev[i]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                ul = prev[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif ft != 0:
            raise ValueError(f"bad PNG filter type {ft} on row {r}")
        out[r * stride : (r + 1) * stride] = line
        prev = line
    return out


def _png_row_samples(line, width: int, spp: int, depth: int) -> list:
    """Extract the ``width*spp`` integer samples of one unfiltered
    scanline: MSB-first bit unpacking below 8 bits, big-endian pairs at
    16 (spec §7.2)."""
    n = width * spp
    if depth == 8:
        return list(line[:n])
    if depth == 16:
        return [(line[2 * i] << 8) | line[2 * i + 1] for i in range(n)]
    vals = []
    mask = (1 << depth) - 1
    per_byte = 8 // depth
    for i in range(n):
        b = line[i // per_byte]
        shift = 8 - depth * (i % per_byte + 1)
        vals.append((b >> shift) & mask)
    return vals


def _decode_png(payload: bytes) -> ImageData:
    """PNG decode via stdlib only: chunk walk with CRC verification, IDAT
    concatenation + ``zlib`` inflate, per-scanline unfilter (None / Sub /
    Up / Average / Paeth with the correct whole-byte pixel offset).

    Full still-image coverage: color types 0 (gray), 2 (RGB), 3
    (palette -> expanded to RGB), 4 (gray+alpha), 6 (RGBA); bit depths
    1/2/4/8/16 as the spec allows per type; interlace 0 and Adam7. Output
    conventions: palette images expand to 8-bit RGB (channels=3,
    maxval=255); 16-bit images keep full precision as big-endian sample
    pairs with maxval=65535; sub-8-bit grayscale keeps raw sample values
    with maxval=2^depth-1 (no scaling — checksum oracles replay exact
    sample sums). Ancillary chunks are skipped (still CRC-verified).
    Reference semantics: multimodal feature extraction over binary
    columns; cf. reference test corpus image handling."""
    import struct
    import zlib

    if len(payload) < 8 + 25:
        raise ValueError("truncated PNG")
    pos = 8
    width = height = depth = color = interlace = None
    palette = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (clen,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + clen]
        if len(body) < clen:
            raise ValueError("truncated PNG chunk %r" % ctype)
        (crc,) = struct.unpack(">I", payload[pos + 8 + clen : pos + 12 + clen])
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError("PNG chunk %r fails CRC" % ctype)
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if color not in _PNG_SPP or depth not in _PNG_DEPTHS[color]:
                raise ValueError(
                    f"illegal PNG depth/color combination ({depth}/{color})"
                )
            if comp != 0 or filt != 0:
                raise ValueError(f"bad PNG header (comp={comp} filter={filt})")
            if interlace not in (0, 1):
                raise ValueError(f"bad PNG interlace method {interlace}")
        elif ctype == b"PLTE":
            if clen % 3 != 0 or clen == 0:
                raise ValueError("bad PLTE length")
            palette = [tuple(body[i : i + 3]) for i in range(0, clen, 3)]
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    if color == 3 and palette is None:
        raise ValueError("palette PNG without PLTE")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"corrupt IDAT stream: {exc}") from exc

    spp = _PNG_SPP[color]
    bpp = max(1, spp * depth // 8)

    def pass_stride(w: int) -> int:
        return (w * spp * depth + 7) // 8

    samples = [0] * (width * height * spp)
    if interlace == 0:
        passes = [(0, 0, 1, 1)]
    else:
        passes = list(_ADAM7)
    expect = 0
    dims = []
    for x0, y0, dx, dy in passes:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        dims.append((pw, ph))
        if pw > 0 and ph > 0:
            expect += (pass_stride(pw) + 1) * ph
    if len(raw) != expect:
        raise ValueError(f"inflated size {len(raw)} != expected {expect}")
    off = 0
    for (x0, y0, dx, dy), (pw, ph) in zip(passes, dims):
        if pw <= 0 or ph <= 0:
            continue
        stride = pass_stride(pw)
        sub = _png_unfilter(raw, off, ph, stride, bpp)
        off += (stride + 1) * ph
        for r in range(ph):
            vals = _png_row_samples(sub[r * stride : (r + 1) * stride], pw, spp, depth)
            y = y0 + r * dy
            for c in range(pw):
                x = x0 + c * dx
                base = (y * width + x) * spp
                samples[base : base + spp] = vals[c * spp : (c + 1) * spp]

    if color == 3:
        out = bytearray()
        for idx in samples:
            if idx >= len(palette):
                raise ValueError(f"palette index {idx} out of range")
            out += bytes(palette[idx])
        return ImageData(width, height, 3, 255, bytes(out))
    if depth == 16:
        out = bytearray(len(samples) * 2)
        for i, v in enumerate(samples):
            out[2 * i] = v >> 8
            out[2 * i + 1] = v & 0xFF
        return ImageData(width, height, spp, 65535, bytes(out))
    return ImageData(width, height, spp, (1 << depth) - 1, bytes(samples))


# ---------------------------------------------------------------------------
# Baseline JPEG (ITU T.81): dependency-free decode + a coefficient-level
# encoder used to synthesize test/oracle payloads. Public-spec constants:
# the Annex K "typical" Huffman tables and the zigzag order.
# ---------------------------------------------------------------------------

_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

# Annex K tables: (BITS[1..16], HUFFVAL)
_DC_LUM = (
    (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
_DC_CHR = (
    (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
_AC_LUM = (
    (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D),
    (
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ),
)
_AC_CHR = (
    (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77),
    (
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ),
)


def _canonical_codes(pairs) -> dict:
    """Canonical Huffman codes (T.81 C.2, RFC 1951 3.2.2): ``pairs`` are
    (symbol, length) in code order — by length, ties in the order the
    format fixes — and the result maps symbol -> (code, length)."""
    out, code, prev = {}, 0, 0
    for sym, ln in pairs:
        code <<= ln - prev
        out[sym] = (code, ln)
        code += 1
        prev = ln
    return out


def _huff_decode_table(pairs) -> dict:
    """(length, code) -> symbol over :func:`_canonical_codes`, for the
    bit-at-a-time decoders (JPEG, VP8L)."""
    return {(ln, code): sym for sym, (code, ln) in _canonical_codes(pairs).items()}


def _jpeg_code_pairs(bits, vals) -> list:
    """A DHT table (BITS[1..16], HUFFVAL) as (symbol, length) pairs in
    code order."""
    lengths = [ln for ln in range(1, 17) for _ in range(bits[ln - 1])]
    return [(vals[k], ln) for k, ln in enumerate(lengths)]


@lru_cache(maxsize=64)
def _jpeg_decode_table(bits: bytes, vals: bytes) -> dict:
    """The decode table of one DHT table. Cached, like
    :func:`_jpeg_enc_tables`: streams repeat the same few tables (most
    use Annex K's), and building one costs as much as decoding a small
    image. Callers only read the shared dict."""
    return _huff_decode_table(_jpeg_code_pairs(bits, vals))


@lru_cache(maxsize=None)
def _jpeg_enc_tables(n_comp: int) -> list:
    """Per component, the (DC, AC) symbol -> (code, length) maps of the
    Annex K tables: luminance for component 0, chrominance after."""
    return [
        tuple(
            _canonical_codes(_jpeg_code_pairs(*t))
            for t in ((_DC_LUM, _AC_LUM) if c == 0 else (_DC_CHR, _AC_CHR))
        )
        for c in range(n_comp)
    ]


class _MsbBitWriter:
    """MSB-first bit packer (FLAC, MPEG audio, AAC, JPEG). A ``jpeg``
    writer emits an entropy-coded segment: a 00 is stuffed after every
    FF byte, and :meth:`align` pads with 1 bits (T.81 Annex B)."""

    def __init__(self, jpeg: bool = False):
        self.out = bytearray()
        self.jpeg = jpeg
        self._acc = 0
        self._n = 0

    def bits(self, value: int, n: int) -> None:
        self._acc = (self._acc << n) | (value & ((1 << n) - 1))
        self._n += n
        while self._n >= 8:
            self._n -= 8
            b = (self._acc >> self._n) & 0xFF
            self.out.append(b)
            if b == 0xFF and self.jpeg:
                self.out.append(0x00)
        self._acc &= (1 << self._n) - 1

    def unary(self, q: int) -> None:
        """FLAC unary: q zero bits then a one bit."""
        while q >= 32:
            self.bits(0, 32)
            q -= 32
        self.bits(1, q + 1)

    def align(self) -> None:
        if self._n:
            pad = 8 - self._n
            self.bits((1 << pad) - 1 if self.jpeg else 0, pad)

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


class _MsbBitReader:
    """MSB-first bit reader (FLAC, MPEG audio, AAC, JPEG). A ``jpeg``
    reader walks an entropy-coded segment: when it loads an FF byte, it
    skips the stuffed 00 after it, and raises on a marker."""

    def __init__(self, buf: bytes, pos: int = 0, jpeg: bool = False):
        self.buf = buf
        self.pos = pos  # byte position of the NEXT refill
        self.jpeg = jpeg
        self._acc = 0
        self._n = 0

    def bits(self, n: int) -> int:
        while self._n < n:
            if self.pos >= len(self.buf):
                raise ValueError("truncated bit stream")
            b = self.buf[self.pos]
            self.pos += 1
            if b == 0xFF and self.jpeg:
                self._unstuff()
            self._acc = (self._acc << 8) | b
            self._n += 8
        self._n -= n
        v = (self._acc >> self._n) & ((1 << n) - 1)
        self._acc &= (1 << self._n) - 1
        return v

    def bit(self) -> int:
        """``bits(1)`` without the loop and masks, for the bit-serial
        JPEG decoder; bits above ``_n`` in the accumulator are stale and
        every read masks them off."""
        if self._n == 0:
            if self.pos >= len(self.buf):
                raise ValueError("truncated bit stream")
            b = self.buf[self.pos]
            self.pos += 1
            if b == 0xFF and self.jpeg:
                self._unstuff()
            self._acc = b
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def _unstuff(self) -> None:
        """After a loaded FF byte: skip the stuffed 00, or raise on a
        marker."""
        if self.pos < len(self.buf) and self.buf[self.pos] == 0x00:
            self.pos += 1
        else:
            raise ValueError("hit marker inside entropy stream")

    def signed(self, n: int) -> int:
        v = self.bits(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def extend(self, t: int) -> int:
        """JPEG RECEIVE + EXTEND (T.81 F.2.2.1): ``t`` magnitude bits,
        where a leading 0 means a negative value."""
        if t == 0:
            return 0
        v = self.bits(t)
        return v if v >= (1 << (t - 1)) else v - (1 << t) + 1

    def huff(self, table) -> int:
        """One symbol of a :func:`_huff_decode_table` JPEG code."""
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.bit()
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG stream")

    def unary(self) -> int:
        q = 0
        while self.bits(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        self._n = 0
        self._acc = 0


_CRC_TABLES: dict = {}


def _crc(data: bytes, width: int, poly: int, init: int = 0) -> int:
    """MSB-first CRC, no reflection and no final XOR, one table lookup
    per byte: FLAC's CRC-8 (width 8, poly 0x07) and CRC-16 (16, 0x8005),
    MPEG audio's CRC-16 (16, 0x8005, init 0xFFFF) and Ogg's CRC-32
    (32, 0x04C11DB7). PNG's CRC-32 is the reflected one: ``zlib.crc32``."""
    table = _CRC_TABLES.get((width, poly))
    if table is None:
        top, mask = 1 << (width - 1), (1 << width) - 1
        table = []
        for i in range(256):
            r = i << (width - 8)
            for _ in range(8):
                r = ((r << 1) ^ poly) & mask if r & top else (r << 1) & mask
            table.append(r)
        _CRC_TABLES[(width, poly)] = table
    shift, mask = width - 8, (1 << width) - 1
    crc = init
    for b in data:
        crc = ((crc << 8) & mask) ^ table[(crc >> shift) ^ b]
    return crc


def _idct_block(coef: list) -> list:
    """Exact-definition 2D IDCT (T.81 A.3.3), float separable basis.
    DC-only blocks short-circuit to the constant dequantDC/8 — the
    mathematically identical fast path real decoders also take."""
    import math

    if not any(coef[1:]):
        c = coef[0] / 8.0
        return [c] * 64
    cu = [1.0 / math.sqrt(2.0)] + [1.0] * 7
    cos = [[math.cos((2 * x + 1) * u * math.pi / 16.0) for x in range(8)] for u in range(8)]
    out = [0.0] * 64
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                for u in range(8):
                    f = coef[v * 8 + u]
                    if f:
                        s += cu[u] * cu[v] * f * cos[u][x] * cos[v][y]
            out[y * 8 + x] = s / 4.0
    return out


def encode_jpeg_blocks(
    width: int,
    height: int,
    comp_blocks: list,
    quant: int = 8,
    sampling: list | None = None,
) -> bytes:
    """Coefficient-level baseline JPEG writer (the synthesis twin of
    :func:`_decode_jpeg`): ``comp_blocks`` is one list per component
    (1 = grayscale, 3 = YCbCr), each a raster-ordered list of 8x8
    QUANTIZED coefficient blocks covering that component's OWN plane
    (mcux*h blocks wide). ``sampling`` gives per-component (h, v)
    factors — e.g. ``[(2, 2), (1, 1), (1, 1)]`` for 4:2:0 — defaulting
    to all 1x1 (4:4:4). One flat quantization table (all entries
    ``quant``), Annex K Huffman tables, MCU-interleaved entropy data.
    With DC-only blocks and ``quant=8``, decoded pixels are EXACTLY
    dc + 128 per constant block (dequant/8 is integer) — which is what
    makes JPEG decode oracle-checkable end to end."""
    import struct

    n_comp = len(comp_blocks)
    if n_comp not in (1, 3):
        raise ValueError("1 (gray) or 3 (YCbCr) components")
    sampling = sampling or [(1, 1)] * n_comp
    hmax = max(h for h, _ in sampling)
    vmax = max(v for _, v in sampling)
    out = bytearray(b"\xff\xd8")  # SOI
    qt = bytes([quant] * 64)
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + qt  # DQT id 0
    # SOF0
    sof = struct.pack(">BHHB", 8, height, width, n_comp)
    for c in range(n_comp):
        h, v = sampling[c]
        sof += bytes([c + 1, (h << 4) | v, 0])  # id, sampling, quant table 0
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    # DHT: DC/AC luminance (+ chrominance when color)
    tables = [(0x00, _DC_LUM), (0x10, _AC_LUM)]
    if n_comp == 3:
        tables += [(0x01, _DC_CHR), (0x11, _AC_CHR)]
    for tc, (bits, vals) in tables:
        body = bytes([tc]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    # SOS
    sos = bytes([n_comp])
    for c in range(n_comp):
        sos += bytes([c + 1, 0x00 if c == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    enc = _jpeg_enc_tables(n_comp)
    w = _MsbBitWriter(jpeg=True)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    pred = [0] * n_comp

    def emit_block(c: int, blk: list) -> None:
        zz = [blk[_ZIGZAG[i]] for i in range(64)]
        diff = zz[0] - pred[c]
        pred[c] = zz[0]
        t = diff.bit_length() if diff > 0 else (-diff).bit_length()
        code, ln = enc[c][0][t]
        w.bits(code, ln)
        if t:
            w.bits(diff if diff >= 0 else diff + (1 << t) - 1, t)
        run = 0
        last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
        for i in range(1, last_nz + 1):
            if zz[i] == 0:
                run += 1
                if run == 16:
                    code, ln = enc[c][1][0xF0]  # ZRL
                    w.bits(code, ln)
                    run = 0
                continue
            s = zz[i].bit_length() if zz[i] > 0 else (-zz[i]).bit_length()
            code, ln = enc[c][1][(run << 4) | s]
            w.bits(code, ln)
            w.bits(zz[i] if zz[i] >= 0 else zz[i] + (1 << s) - 1, s)
            run = 0
        if last_nz < 63:
            code, ln = enc[c][1][0x00]  # EOB
            w.bits(code, ln)

    for my in range(mcuy):
        for mx in range(mcux):
            for c in range(n_comp):
                h, v = sampling[c]
                for by in range(v):
                    for bx in range(h):
                        b = (my * v + by) * (mcux * h) + (mx * h + bx)
                        emit_block(c, comp_blocks[c][b])
    out += w.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_gray_dc(block_values: list, blocks_per_row: int, quant: int = 8) -> bytes:
    """DC-only grayscale baseline JPEG: entry i of ``block_values`` is
    the constant pixel value (0-255) of 8x8 block i in raster order.
    With ``quant=8`` the decode round-trip is exact per pixel."""
    rows = -(-len(block_values) // blocks_per_row)
    blocks = []
    for i in range(rows * blocks_per_row):
        v = block_values[i] if i < len(block_values) else 0
        dc = (8 * (v - 128)) // quant
        blocks.append([dc] + [0] * 63)
    return encode_jpeg_blocks(blocks_per_row * 8, rows * 8, [blocks], quant)


def encode_jpeg_progressive(
    width: int,
    height: int,
    comp_blocks: list,
    quant: int = 8,
    sampling: list | None = None,
    dc_al: int = 1,
    ac_al: int = 1,
) -> bytes:
    """Coefficient-level PROGRESSIVE JPEG writer (SOF2, Huffman): the
    synthesis twin of :func:`_decode_jpeg`'s progressive path, with a
    real scan script —

    1. interleaved DC-first scan at successive-approximation ``Al=dc_al``
       (point transform = arithmetic shift, T.81 G.1.2.1);
    2. DC refinement scans down to Al=0 (one raw bit per block);
    3. per-component AC-first scans (Ss=1..63) at ``Al=ac_al`` with
       per-block EOB and ZRL runs;
    4. per-component AC refinement scans emitting newly-significant
       coefficients plus the positional correction bits for
       already-significant ones (magnitude model, G.1.2.3).

    ``comp_blocks`` has the same shape as :func:`encode_jpeg_blocks`
    (QUANTIZED coefficients, raster blocks over each component's padded
    plane). Inputs/limits mirror the baseline writer."""
    import struct

    n_comp = len(comp_blocks)
    if n_comp not in (1, 3):
        raise ValueError("1 (gray) or 3 (YCbCr) components")
    sampling = sampling or [(1, 1)] * n_comp
    hmax = max(h for h, _ in sampling)
    vmax = max(v for _, v in sampling)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))

    out = bytearray(b"\xff\xd8")  # SOI
    qt = bytes([quant] * 64)
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + qt
    sof = struct.pack(">BHHB", 8, height, width, n_comp)
    for c in range(n_comp):
        h, v = sampling[c]
        sof += bytes([c + 1, (h << 4) | v, 0])
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof  # SOF2
    tables = [(0x00, _DC_LUM), (0x10, _AC_LUM)]
    if n_comp == 3:
        tables += [(0x01, _DC_CHR), (0x11, _AC_CHR)]
    for tc, (bits, vals) in tables:
        body = bytes([tc]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    enc = _jpeg_enc_tables(n_comp)

    def sos(scan_comps: list, Ss: int, Se: int, Ah: int, Al: int, data: bytes) -> None:
        nonlocal out
        body = bytes([len(scan_comps)])
        for c in scan_comps:
            body += bytes([c + 1, (0x00 if c == 0 else 0x11)])
        body += bytes([Ss, Se, (Ah << 4) | Al])
        out += b"\xff\xda" + struct.pack(">H", 2 + len(body)) + body + data

    def zz_of(c: int, b: int) -> list:
        blk = comp_blocks[c][b]
        return [blk[_ZIGZAG[i]] for i in range(64)]

    def mcu_blocks(c: int):
        """Block indices of component c in interleaved MCU order."""
        h, v = sampling[c]
        for my in range(mcuy):
            for mx in range(mcux):
                for by in range(v):
                    for bx in range(h):
                        yield (my * v + by) * (mcux * h) + (mx * h + bx)

    def comp_band_blocks(c: int):
        """Non-padded block indices of component c, raster order (the
        non-interleaved scan order of T.81 A.2.2)."""
        h, v = sampling[c]
        cw = -(-width * h // hmax)
        ch = -(-height * v // vmax)
        nbw, nbh = -(-cw // 8), -(-ch // 8)
        for by in range(nbh):
            for bx in range(nbw):
                yield by * (mcux * h) + bx

    def put_mag(w: _MsbBitWriter, table, run: int, val: int) -> None:
        s = abs(val).bit_length()
        code, ln = table[(run << 4) | s]
        w.bits(code, ln)
        w.bits(val if val >= 0 else val + (1 << s) - 1, s)

    # --- scan 1: interleaved DC first, Al=dc_al -------------------------
    w = _MsbBitWriter(jpeg=True)
    pred = [0] * n_comp
    if n_comp == 1:
        order = [(0, b) for b in mcu_blocks(0)]
    else:
        order = []
        per = [mcu_blocks(c) for c in range(n_comp)]
        for _my in range(mcuy):
            for _mx in range(mcux):
                for c in range(n_comp):
                    h, v = sampling[c]
                    for _ in range(h * v):
                        order.append((c, next(per[c])))
    for c, b in order:
        dc = zz_of(c, b)[0] >> dc_al  # arithmetic shift: DC two's-complement
        diff = dc - pred[c]
        pred[c] = dc
        t = abs(diff).bit_length()
        code, ln = enc[c][0][t]
        w.bits(code, ln)
        if t:
            w.bits(diff if diff >= 0 else diff + (1 << t) - 1, t)
    sos(list(range(n_comp)), 0, 0, 0, dc_al, w.flush())

    # --- DC refinement scans down to Al=0 ------------------------------
    for al in range(dc_al - 1, -1, -1):
        w = _MsbBitWriter(jpeg=True)
        for c, b in order:
            w.bits((zz_of(c, b)[0] >> al) & 1, 1)
        sos(list(range(n_comp)), 0, 0, al + 1, al, w.flush())

    # --- per-component AC first at Al=ac_al ----------------------------
    for c in range(n_comp):
        w = _MsbBitWriter(jpeg=True)
        for b in comp_band_blocks(c):
            zz = zz_of(c, b)
            vals = [
                (1 if zz[k] >= 0 else -1) * (abs(zz[k]) >> ac_al)
                for k in range(64)
            ]
            last = max((k for k in range(1, 64) if vals[k]), default=0)
            run = 0
            for k in range(1, last + 1):
                if vals[k] == 0:
                    run += 1
                    if run == 16:
                        code, ln = enc[c][1][0xF0]
                        w.bits(code, ln)
                        run = 0
                    continue
                put_mag(w, enc[c][1], run, vals[k])
                run = 0
            if last < 63:
                code, ln = enc[c][1][0x00]  # per-block EOB
                w.bits(code, ln)
        sos([c], 1, 63, 0, ac_al, w.flush())

    # --- per-component AC refinement scans down to Al=0 ----------------
    for al in range(ac_al - 1, -1, -1):
        ah = al + 1
        for c in range(n_comp):
            w = _MsbBitWriter(jpeg=True)
            for b in comp_band_blocks(c):
                zz = zz_of(c, b)
                k = 1
                while k <= 63:
                    run = 0
                    corr: list[int] = []
                    kk = None
                    j = k
                    pos = k  # the decoder's position after the last symbol
                    while j <= 63:
                        mag = abs(zz[j])
                        if mag >> ah:  # already significant: correction bit
                            corr.append((mag >> al) & 1)
                        elif (mag >> al) & 1:  # newly significant here
                            kk = j
                            break
                        else:
                            run += 1
                            if run == 16:
                                code, ln = enc[c][1][0xF0]  # ZRL
                                w.bits(code, ln)
                                for bit in corr:
                                    w.bits(bit, 1)
                                run = 0
                                corr = []
                                pos = j + 1
                        j += 1
                    if kk is None:
                        # the decoder reads an EOB only if its position
                        # is still inside the band (a ZRL whose 16th zero
                        # lands on Se ends the block with no EOB symbol)
                        if pos <= 63:
                            code, ln = enc[c][1][0x00]  # EOB (incl. this block)
                            w.bits(code, ln)
                            for bit in corr:
                                w.bits(bit, 1)
                        break
                    code, ln = enc[c][1][(run << 4) | 1]
                    w.bits(code, ln)
                    w.bits(1 if zz[kk] > 0 else 0, 1)
                    for bit in corr:
                        w.bits(bit, 1)
                    k = kk + 1
            sos([c], 1, 63, ah, al, w.flush())

    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_gray_dc_progressive(
    block_values: list, blocks_per_row: int, quant: int = 8
) -> bytes:
    """Progressive twin of :func:`encode_jpeg_gray_dc`: DC-only
    grayscale SOF2 payload with a DC-first (Al=1) + DC-refine + AC-first
    + AC-refine scan script. With ``quant=8`` the decode round-trip is
    exact per pixel, so the same closed-form checksum oracle gates the
    progressive decode path end to end."""
    rows = -(-len(block_values) // blocks_per_row)
    blocks = []
    for i in range(rows * blocks_per_row):
        v = block_values[i] if i < len(block_values) else 0
        dc = (8 * (v - 128)) // quant
        blocks.append([dc] + [0] * 63)
    return encode_jpeg_progressive(
        blocks_per_row * 8, rows * 8, [blocks], quant
    )


def _decode_jpeg(payload: bytes) -> ImageData:
    """JPEG decode, stdlib only — baseline sequential (SOF0/1) AND
    progressive (SOF2, Huffman): marker walk, DQT/DHT/SOF/DRI/SOS parse,
    then per-scan entropy decode ACCUMULATING quantized coefficients
    (T.81 §G: DC-first/DC-refine via successive approximation, AC-first
    with EOB-run spans, AC-refine with correction bits), and one final
    dequantize + de-zigzag + IDCT + level shift per block; YCbCr -> RGB
    (JFIF), 4:4:4 / 4:2:0 / 4:2:2 chroma with nearest-neighbor
    upsampling. For a single-scan baseline file the coefficient values
    are identical to inline decoding, so this path is bit-equal to the
    previous baseline-only decoder. Arithmetic coding, 12-bit precision,
    lossless/hierarchical modes raise ``NotImplementedError``; malformed
    streams raise ``ValueError``."""
    import struct

    pos = 2
    qtabs: dict[int, list] = {}
    htabs: dict[tuple, dict] = {}
    comps: list | None = None
    width = height = None
    restart_interval = 0
    progressive = False
    hmax = vmax = mcux = mcuy = 0
    # per component: padded block grid (bw x bh), non-padded (nbw x nbh),
    # and the accumulated zigzag-order coefficient blocks
    coefs: list = []
    geom: list = []
    saw_scan = False

    def setup_geometry() -> None:
        nonlocal hmax, vmax, mcux, mcuy
        hmax = max(c["h"] for c in comps)
        vmax = max(c["v"] for c in comps)
        if any(hmax % c["h"] or vmax % c["v"] for c in comps):
            raise NotImplementedError("non-integer chroma sampling ratio")
        mcux = -(-width // (8 * hmax))
        mcuy = -(-height // (8 * vmax))
        for c in comps:
            bw, bh = mcux * c["h"], mcuy * c["v"]
            cw = -(-width * c["h"] // hmax)
            ch = -(-height * c["v"] // vmax)
            geom.append((bw, bh, -(-cw // 8), -(-ch // 8)))
            coefs.append([[0] * 64 for _ in range(bw * bh)])

    def decode_scan(scan, Ss, Se, Ah, Al, start: int) -> int:
        """Entropy-decode one scan starting at byte ``start``; returns
        the byte offset of the next marker."""
        r = _MsbBitReader(payload, start, jpeg=True)
        interleaved = len(scan) > 1
        pred = [0] * len(scan)
        state = {"eobrun": 0}

        def check_tables(sc, need_dc: bool, need_ac: bool):
            dc_tab = htabs.get((0, sc["td"])) if need_dc else None
            ac_tab = htabs.get((1, sc["ta"])) if need_ac else None
            if (need_dc and dc_tab is None) or (need_ac and ac_tab is None):
                raise ValueError("scan references missing tables")
            return dc_tab, ac_tab

        def block_baseline(si, sc, blk) -> None:
            dc_tab, ac_tab = check_tables(sc, True, True)
            t = r.huff(dc_tab)
            pred[si] += r.extend(t)
            blk[0] = pred[si]
            i = 1
            while i < 64:
                rs = r.huff(ac_tab)
                run, size = rs >> 4, rs & 0xF
                if size == 0:
                    if run == 15:
                        i += 16  # ZRL
                        continue
                    break  # EOB
                i += run
                if i > 63:
                    raise ValueError("AC run past block end")
                blk[i] = r.extend(size)
                i += 1

        def block_dc(si, sc, blk) -> None:
            if Ah == 0:
                dc_tab, _ = check_tables(sc, True, False)
                t = r.huff(dc_tab)
                pred[si] += r.extend(t)
                blk[0] = pred[si] << Al
            else:
                blk[0] |= r.bit() << Al

        def block_ac_first(sc, blk) -> None:
            if state["eobrun"] > 0:
                state["eobrun"] -= 1
                return
            _, ac_tab = check_tables(sc, False, True)
            k = Ss
            while k <= Se:
                rs = r.huff(ac_tab)
                run, size = rs >> 4, rs & 0xF
                if size == 0:
                    if run < 15:
                        state["eobrun"] = (1 << run) - 1
                        if run:
                            state["eobrun"] += r.bits(run)
                        break
                    k += 16  # ZRL
                    continue
                k += run
                if k > Se:
                    raise ValueError("AC run past band end")
                blk[k] = r.extend(size) << Al
                k += 1

        def block_ac_refine(sc, blk) -> None:
            # T.81 G.1.2.3 correction-bit decoding (the libjpeg-style
            # control flow every Huffman progressive decoder implements)
            p1, m1 = 1 << Al, -1 << Al

            def correct(k: int) -> None:
                if r.bit() and (blk[k] & p1) == 0:
                    blk[k] += p1 if blk[k] >= 0 else m1

            k = Ss
            if state["eobrun"] == 0:
                _, ac_tab = check_tables(sc, False, True)
                while k <= Se:
                    rs = r.huff(ac_tab)
                    run, size = rs >> 4, rs & 0xF
                    newval = 0
                    if size == 0:
                        if run < 15:
                            # NOTE: unlike AC-first, the refine EOB run
                            # INCLUDES the current block — its remaining
                            # correction bits are read below
                            state["eobrun"] = 1 << run
                            if run:
                                state["eobrun"] += r.bits(run)
                            break
                        # run == 15: skip 16 zero-history coefficients
                    else:
                        if size != 1:
                            raise ValueError("bad size in AC refinement")
                        newval = p1 if r.bit() else m1
                    while k <= Se:
                        if blk[k] != 0:
                            correct(k)
                        else:
                            if run == 0:
                                break
                            run -= 1
                        k += 1
                    if newval and k <= Se:
                        blk[k] = newval
                    k += 1
            if state["eobrun"] > 0:
                while k <= Se:
                    if blk[k] != 0:
                        correct(k)
                    k += 1
                state["eobrun"] -= 1

        def decode_unit(unit: int) -> None:
            if interleaved:
                my, mx = divmod(unit, mcux)
                for si, sc in enumerate(scan):
                    c = sc["comp"]
                    ci = comps.index(c)
                    bw = geom[ci][0]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            b = (my * c["v"] + by) * bw + (mx * c["h"] + bx)
                            blk = coefs[ci][b]
                            if not progressive:
                                block_baseline(si, sc, blk)
                            else:
                                if Ss != 0:
                                    raise ValueError(
                                        "interleaved progressive AC scan"
                                    )
                                block_dc(si, sc, blk)
            else:
                sc = scan[0]
                c = sc["comp"]
                ci = comps.index(c)
                bw, _, nbw, _ = geom[ci]
                by, bx = divmod(unit, nbw)
                blk = coefs[ci][by * bw + bx]
                if not progressive:
                    block_baseline(0, sc, blk)
                elif Ss == 0:
                    block_dc(0, sc, blk)
                elif Ah == 0:
                    block_ac_first(sc, blk)
                else:
                    block_ac_refine(sc, blk)

        if interleaved:
            n_units = mcux * mcuy
        else:
            ci = comps.index(scan[0]["comp"])
            n_units = geom[ci][2] * geom[ci][3]
        for unit in range(n_units):
            if restart_interval and unit and unit % restart_interval == 0:
                r.align()
                if (
                    r.pos + 2 <= len(r.buf)
                    and r.buf[r.pos] == 0xFF
                    and 0xD0 <= r.buf[r.pos + 1] <= 0xD7
                ):
                    r.pos += 2
                    pred[:] = [0] * len(scan)
                    state["eobrun"] = 0
                else:
                    raise ValueError("missing restart marker")
            decode_unit(unit)
        # skip any padding bits, then find the next marker
        p = r.pos
        while p + 1 < len(payload):
            if payload[p] == 0xFF and payload[p + 1] not in (0x00,) and not (
                0xD0 <= payload[p + 1] <= 0xD7
            ):
                return p
            p += 1
        return len(payload)

    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if pos + 4 > len(payload):
            raise ValueError("truncated JPEG")
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables unsupported")
                qtabs[tq] = list(body[p + 1 : p + 65])
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 0xF
                bits = bytes(body[p + 1 : p + 17])
                n = sum(bits)
                vals = bytes(body[p + 17 : p + 17 + n])
                htabs[(tc, th)] = _jpeg_decode_table(bits, vals)
                p += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 (seq) / SOF2 (progressive)
            progressive = marker == 0xC2
            prec, height, width, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise NotImplementedError("only 8-bit JPEG supported")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                h, v = hv >> 4, hv & 0xF
                if not (1 <= h <= 2 and 1 <= v <= 2):
                    raise NotImplementedError(
                        f"sampling factors {h}x{v} unsupported (1-2 only)"
                    )
                comps.append({"id": cid, "tq": tq, "h": h, "v": v})
            setup_geometry()
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "lossless / hierarchical / arithmetic JPEG unsupported"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if comps is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan = []
            for c in range(ns):
                cs, tt = body[1 + 2 * c : 3 + 2 * c]
                comp = next((x for x in comps if x["id"] == cs), None)
                if comp is None:
                    raise ValueError("SOS references unknown component")
                scan.append({"comp": comp, "td": tt >> 4, "ta": tt & 0xF})
            Ss, Se, aa = body[1 + 2 * ns : 4 + 2 * ns]
            Ah, Al = aa >> 4, aa & 0xF
            if not progressive and (Ss, Se, Ah, Al) != (0, 63, 0, 0):
                raise ValueError("bad spectral selection in sequential scan")
            saw_scan = True
            pos = decode_scan(scan, Ss, Se, Ah, Al, pos + 2 + seglen)
            continue
        pos += 2 + seglen
    if comps is None or not saw_scan or width is None:
        raise ValueError("missing SOF/SOS in JPEG")

    # dequantize + de-zigzag + IDCT + level shift, one pass per block
    n_comp = len(comps)
    hs = [c["h"] for c in comps]
    vs = [c["v"] for c in comps]
    strides = [mcux * h * 8 for h in hs]
    planes = [bytearray(strides[i] * mcuy * vs[i] * 8) for i in range(n_comp)]
    for ci, c in enumerate(comps):
        q = qtabs.get(c["tq"])
        if q is None:
            raise ValueError("component references missing quant table")
        bw, bh = geom[ci][0], geom[ci][1]
        plane, stride = planes[ci], strides[ci]
        for b, zz in enumerate(coefs[ci]):
            coef = [0] * 64
            for k in range(64):
                if zz[k]:
                    coef[_ZIGZAG[k]] = zz[k] * q[k]
            px = _idct_block(coef)
            oy, ox = (b // bw) * 8, (b % bw) * 8
            for yy in range(8):
                row = (oy + yy) * stride + ox
                for xx in range(8):
                    v = int(round(px[yy * 8 + xx])) + 128
                    plane[row + xx] = 0 if v < 0 else (255 if v > 255 else v)

    def sample(ci: int, x: int, y: int) -> int:
        """Component sample at full-resolution pixel (x, y): integer-
        scaled index = nearest-neighbor chroma replication."""
        return planes[ci][
            (y * vs[ci] // vmax) * strides[ci] + (x * hs[ci] // hmax)
        ]

    if n_comp == 1:
        stride = strides[0]
        buf = bytearray(width * height)
        for y in range(height):
            buf[y * width : (y + 1) * width] = planes[0][y * stride : y * stride + width]
        return ImageData(width, height, 1, 255, bytes(buf))
    if n_comp != 3:
        raise NotImplementedError(f"{n_comp}-component JPEG unsupported")
    buf = bytearray(width * height * 3)
    for y in range(height):
        for x in range(width):
            yv = sample(0, x, y)
            cb = sample(1, x, y) - 128
            cr = sample(2, x, y) - 128
            d = (y * width + x) * 3
            for j, val in enumerate(
                (yv + 1.402 * cr, yv - 0.344136 * cb - 0.714136 * cr, yv + 1.772 * cb)
            ):
                iv = int(round(val))
                buf[d + j] = 0 if iv < 0 else (255 if iv > 255 else iv)
    return ImageData(width, height, 3, 255, bytes(buf))


def _byte_histogram_features(payload: bytes) -> list[float]:
    """Deterministic stand-in for a learned feature extractor: normalized
    8-bucket byte histogram."""
    counts = [0] * N_BYTE_FEATURES
    for b in payload:
        counts[b % N_BYTE_FEATURES] += 1
    total = float(len(payload)) or 1.0
    return [c / total for c in counts]


def resize_image(payload: bytes, width: int, height: int) -> bytes:
    """Nearest-neighbor resize for any payload :func:`decode_image` can
    decode, re-encoded as netpbm (P6/P5). Nearest-neighbor (not a
    filtered kernel) keeps the operator dependency-free and exactly
    deterministic; a real pipeline swaps in a codec-backed resampler
    behind the same bytes->bytes signature."""
    img = decode_image(payload)
    ch = img.channels
    out = bytearray(width * height * ch)
    for y in range(height):
        sy = y * img.height // height
        src_row = sy * img.width * ch
        dst_row = y * width * ch
        for x in range(width):
            sx = x * img.width // width
            s = src_row + sx * ch
            d = dst_row + x * ch
            out[d : d + ch] = img.pixels[s : s + ch]
    return encode_ppm(width, height, bytes(out), channels=ch)


def ahash64(img: ImageData) -> tuple[int, int]:
    """64-bit average hash (aHash) of a decoded image — the classic
    perceptual near-dup signature for image corpora (each bit: is this
    cell brighter than the image mean?). The image is reduced to an
    8x8 grid of integer cell means (floor; exact 8x8 inputs pass
    through untouched), color via integer luma (r*299+g*587+b*114)//1000.
    Bit i is ``cell_i * 64 > sum(cells)`` — kept as pure integer
    comparisons so an oracle can replay the hash bit-for-bit. Returns
    the hash as (lo32, hi32) halves: two nonneg ints avoid int64
    sign traps in engines where ``1 << 63`` overflows."""
    w, h, ch = img.width, img.height, img.channels
    if w < 8 or h < 8:
        raise ValueError(f"ahash64 needs >= 8x8 pixels; got {w}x{h}")
    px = img.pixels
    if ch == 3:
        gray = [
            (px[i] * 299 + px[i + 1] * 587 + px[i + 2] * 114) // 1000
            for i in range(0, w * h * 3, 3)
        ]
    elif ch == 1:
        gray = list(px)
    else:
        raise ValueError(f"ahash64 supports 1 or 3 channels; got {ch}")
    cells = []
    for cy in range(8):
        y0, y1 = cy * h // 8, (cy + 1) * h // 8
        for cx in range(8):
            x0, x1 = cx * w // 8, (cx + 1) * w // 8
            s = sum(gray[y * w + x] for y in range(y0, y1) for x in range(x0, x1))
            cells.append(s // ((y1 - y0) * (x1 - x0)))
    total = sum(cells)
    lo = hi = 0
    for i, c in enumerate(cells):
        if c * 64 > total:
            if i < 32:
                lo |= 1 << i
            else:
                hi |= 1 << (i - 32)
    return lo, hi


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_sig", T.LongType()),
    ]
)

_SIG_MOD = 1_000_000_007


def attach_video_meta(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Demo video metadata: deterministic frame count derived from the
    payload size (real pipelines carry container metadata alongside the
    bytes)."""
    return df.withColumn(
        "video_meta",
        F.struct(
            (F.length("payload") % 240 + 16).cast("int").alias("n_frames"),
            F.lit(24.0).alias("fps"),
            F.lit("video/fake").alias("mime"),
        ),
    )


def sample_frames(
    df: DataFrame, stride: int = 8, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow-batched frame sampling: every ``stride``-th frame index of
    each video, one output row per sampled frame.

    The frame *decode* is a deterministic fake (payload-hash x index
    signature — a real decoder slots into the same loop); the Spark
    plumbing is real: mapInPandas fan-out rows-per-input-row, fixed
    output schema, pruned input columns.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sigs = [], [], []
            for doc_id, payload, n_frames in zip(
                pdf[id_col], pdf[payload_col], pdf["n_frames"]
            ):
                h = 0
                for b in payload:
                    h = (h * 31 + b) % _SIG_MOD
                for i in range(0, int(n_frames), stride):
                    ids.append(doc_id)
                    idxs.append(i)
                    sigs.append((h * 31 + i) % _SIG_MOD)
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": pd.array(idxs, dtype="int32"),
                 "frame_sig": pd.array(sigs, dtype="int64")}
            )

    pruned = df.select(id_col, payload_col, F.col("video_meta.n_frames").alias("n_frames"))
    return pruned.mapInPandas(run, FRAME_SCHEMA)


def extract_features(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    mapInPandas: each Arrow batch arrives as a pandas DataFrame; the
    extractor runs per-row inside the batch and emits fixed-width
    feature vectors. Swap ``_byte_histogram_features`` for a real model
    without touching the Spark plumbing.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": pdf[payload_col].map(len).astype("int32"),
                    "features": pdf[payload_col].map(_byte_histogram_features),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, FEATURE_SCHEMA)


class AudioData:
    """Decoded PCM audio: sample rate, channel count, bit depth, and the
    interleaved samples as Python ints."""

    def __init__(self, sample_rate: int, channels: int, bits: int, samples: list):
        self.sample_rate = sample_rate
        self.channels = channels
        self.bits = bits
        self.samples = samples


def encode_wav(samples: list, sample_rate: int = 16000, channels: int = 1) -> bytes:
    """Minimal RIFF/WAVE writer: PCM, 16-bit little-endian. The inverse
    of :func:`decode_wav`; used to synthesize test payloads the same way
    ``encode_ppm`` does for images."""
    import struct

    data = b"".join(struct.pack("<h", s) for s in samples)
    byte_rate = sample_rate * channels * 2
    block_align = channels * 2
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, channels, sample_rate, byte_rate, block_align, 16)
        + b"data"
        + struct.pack("<I", len(data))
    )
    return hdr + data


def decode_wav(payload: bytes) -> AudioData:
    """Dependency-free audio decode: RIFF/WAVE with linear PCM 16-bit
    (format tag 1) or IMA/DVI ADPCM 4-bit (format tag 0x11 — REAL
    compressed-audio decompression, pure integer arithmetic). Other
    compressed formats (MP3/AAC/opus/float PCM/...) raise — native FLAC
    streams decode via :func:`decode_flac`;
    ``NotImplementedError``; truncated or malformed payloads raise
    ``ValueError`` (a silent garbage decode would poison every
    downstream feature)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError(
            "only RIFF/WAVE PCM decodes without codec libraries; got magic %r"
            % payload[:4]
        )
    pos, fmt, data, fact = 12, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated fmt chunk")
            fmt = struct.unpack("<HHIIHH", body[:16]) + (body[16:],)
        elif cid == b"data":
            if len(body) < clen:
                raise ValueError("truncated data chunk")
            data = body
        elif cid == b"fact":
            if len(body) >= 4:
                (fact,) = struct.unpack("<I", body[:4])
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    tag, channels, rate, _br, block_align, bits, ext = fmt
    if tag == 0x11:
        if bits != 4 or channels != 1:
            raise NotImplementedError(
                f"only mono 4-bit IMA ADPCM decodes; got channels={channels} bits={bits}"
            )
        if block_align < 4:
            raise ValueError("IMA ADPCM block_align below header size")
        samples: list = []
        for off in range(0, len(data), block_align):
            block = data[off : off + block_align]
            if len(block) < 4:
                raise ValueError("truncated IMA ADPCM block")
            pred0, idx0, _rsv = struct.unpack("<hBB", block[:4])
            if not 0 <= idx0 <= 88:
                raise ValueError(f"IMA ADPCM step index {idx0} out of range")
            nibbles = []
            for b in block[4:]:
                nibbles.append(b & 0xF)
                nibbles.append(b >> 4)
            samples.extend(ima_adpcm_decode_nibbles(nibbles, pred0, idx0))
        if fact is not None:
            if fact > len(samples):
                raise ValueError(
                    f"fact declares {fact} frames but data decodes {len(samples)}"
                )
            samples = samples[:fact]
        return AudioData(rate, channels, bits, samples)
    if tag in (6, 7):  # G.711 A-law / µ-law log-PCM
        if bits != 8 or channels != 1:
            raise NotImplementedError(
                f"only mono 8-bit G.711 decodes; got channels={channels} bits={bits}"
            )
        expand = _alaw_to_linear if tag == 6 else _ulaw_to_linear
        samples = [expand(b) for b in data]
        if fact is not None:
            if fact > len(samples):
                raise ValueError(
                    f"fact declares {fact} frames but data decodes {len(samples)}"
                )
            samples = samples[:fact]
        return AudioData(rate, channels, bits, samples)
    if tag != 1 or bits != 16:
        raise NotImplementedError(
            f"only PCM 16-bit, IMA ADPCM, and G.711 decode without codec "
            f"libraries; got tag={tag} bits={bits}"
        )
    n = len(data) // 2
    samples = list(struct.unpack(f"<{n}h", data[: 2 * n]))
    return AudioData(rate, channels, bits, samples)


# ---------------------------------------------------------------------------
# ITU-T G.711 companding (WAVE format tags 6 = A-law, 7 = µ-law): the
# classic telephony 8-bit log-PCM codecs. Pure integer segment/mantissa
# arithmetic; decode reconstructs the canonical mid-bin values (µ-law
# peak 32124, A-law peak 32256 — the standard table endpoints).

_ULAW_BIAS = 0x84  # 132
_ULAW_CLIP = 32635


def _linear_to_ulaw(s: int) -> int:
    sign = 0x80 if s < 0 else 0
    m = min(-s if s < 0 else s, _ULAW_CLIP) + _ULAW_BIAS
    e = (m >> 7).bit_length() - 1  # m in [132, 32767] -> e in [0, 7]
    mant = (m >> (e + 3)) & 0x0F
    return ~(sign | (e << 4) | mant) & 0xFF


def _ulaw_to_linear(b: int) -> int:
    u = ~b & 0xFF
    t = (((u & 0x0F) << 3) + _ULAW_BIAS) << ((u & 0x70) >> 4)
    return (_ULAW_BIAS - t) if (u & 0x80) else (t - _ULAW_BIAS)


def _linear_to_alaw(s: int) -> int:
    sign = 0x80 if s >= 0 else 0  # A-law sign bit SET means positive
    m = s if s >= 0 else -s - 1
    if m < 0x100:
        seg, mant = 0, m >> 4
    else:
        seg = m.bit_length() - 8  # m <= 32767 -> seg in [1, 7]
        mant = (m >> (seg + 3)) & 0x0F
    return (sign | (seg << 4) | mant) ^ 0x55


def _alaw_to_linear(b: int) -> int:
    a = b ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    if seg == 0:
        t += 8
    else:
        t = (t + 0x108) << (seg - 1)
    return t if (a & 0x80) else -t


def encode_wav_g711(
    samples: list, law: str = "ulaw", sample_rate: int = 8000
) -> bytes:
    """RIFF/WAVE writer for G.711 (format tag 7 = µ-law, 6 = A-law),
    mono 8-bit: companded bytes + a fact chunk with the frame count."""
    import struct

    if law == "ulaw":
        tag, comp = 7, _linear_to_ulaw
    elif law == "alaw":
        tag, comp = 6, _linear_to_alaw
    else:
        raise ValueError(f"unknown G.711 law {law!r}")
    data = bytes(comp(int(s)) for s in samples)
    # RIFF chunks are word-aligned: an odd-length data chunk gets one pad
    # byte AFTER it, excluded from the data size field but included in
    # the RIFF size (strict external parsers reject unpadded files).
    pad = b"\x00" if len(data) & 1 else b""
    hdr = (
        b"RIFF"
        + struct.pack("<I", 4 + 26 + 12 + 8 + len(data) + len(pad))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHHH", 18, tag, 1, sample_rate, sample_rate, 1, 8, 0)
        + b"fact"
        + struct.pack("<II", 4, len(data))
        + b"data"
        + struct.pack("<I", len(data))
    )
    return hdr + data + pad


def audio_features(samples: list) -> dict:
    """Doc-level PCM features in exact integer arithmetic: sample count,
    peak |amplitude|, energy (sum of squares), and zero crossings (sign
    flips with >= 0 as 'positive' — matches the SQL oracle's replay)."""
    zc = sum(
        1 for i in range(1, len(samples)) if (samples[i - 1] >= 0) != (samples[i] >= 0)
    )
    return {
        "n_samples": len(samples),
        "peak": max((abs(s) for s in samples), default=0),
        "energy": sum(s * s for s in samples),
        "zero_crossings": zc,
    }


# ---------------------------------------------------------------------------
# IMA/DVI ADPCM (WAVE format tag 0x11): the standard 4-bit compressed-audio
# codec a pure-integer decoder handles without codec libraries. Tables are
# the public IMA "Recommended Practices for Enhancing Digital Audio
# Compatibility" step/index tables (same constants as Microsoft's
# mmreg.h DVI ADPCM and ffmpeg adpcm_ima_wav).
# ---------------------------------------------------------------------------

_IMA_STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544,
    598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707,
    1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871,
    5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX_TABLE = [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8]


def ima_adpcm_decode_nibbles(nibbles: list, pred0: int, index0: int) -> list:
    """Decode a 4-bit IMA ADPCM nibble stream given the block-header
    state; returns ``[pred0] + one sample per nibble`` (the header
    predictor IS the block's first sample, per the WAVE tag-0x11
    layout). Pure integer arithmetic — bit-exact across platforms, so
    an oracle can replay it."""
    pred, idx = pred0, index0
    out = [pred]
    for nib in nibbles:
        step = _IMA_STEP_TABLE[idx]
        diff = step >> 3
        if nib & 1:
            diff += step >> 2
        if nib & 2:
            diff += step >> 1
        if nib & 4:
            diff += step
        pred = pred - diff if nib & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + _IMA_INDEX_TABLE[nib]))
        out.append(pred)
    return out


def encode_wav_ima_adpcm(
    nibbles: list, pred0: int, index0: int, sample_rate: int = 8000
) -> bytes:
    """RIFF/WAVE writer for IMA ADPCM (format tag 0x11), mono, one
    block: 20-byte fmt chunk (cbSize=2 + wSamplesPerBlock), a fact
    chunk with the true frame count, and a data block of
    ``int16 predictor, uint8 stepIndex, uint8 reserved`` followed by
    the nibble bytes (low nibble first). The inverse of the tag-0x11
    path in :func:`decode_wav`."""
    import struct

    n_samples = 1 + len(nibbles)
    nib_bytes = bytearray()
    for i in range(0, len(nibbles) & ~1, 2):
        nib_bytes.append((nibbles[i] & 0xF) | ((nibbles[i + 1] & 0xF) << 4))
    if len(nibbles) & 1:
        nib_bytes.append(nibbles[-1] & 0xF)
    block = struct.pack("<hBB", pred0, index0, 0) + bytes(nib_bytes)
    block_align = len(block)
    byte_rate = (sample_rate * block_align + n_samples - 1) // max(1, n_samples)
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, sample_rate, byte_rate, block_align, 4, 2, n_samples
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<II", 4, n_samples)
        + b"data" + struct.pack("<I", len(block)) + block
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


class VideoData:
    """Decoded uncompressed AVI: header metadata plus raw frame buffers."""

    def __init__(self, width: int, height: int, us_per_frame: int, frames: list):
        self.width = width
        self.height = height
        self.us_per_frame = us_per_frame
        self.frames = frames  # list[bytes], one raw RGB24 buffer per frame

    @property
    def n_frames(self) -> int:
        return len(self.frames)


def encode_avi(
    frames: list, width: int, height: int, us_per_frame: int = 40000
) -> bytes:
    """Minimal RIFF/AVI writer: 'avih' main header + a 'movi' list of
    uncompressed '00db' RGB24 frame chunks. The inverse of
    :func:`decode_avi`; used to synthesize test payloads like
    ``encode_ppm``/``encode_wav`` do for the other modalities."""
    import struct

    avih_body = struct.pack(
        "<14I",
        us_per_frame, 0, 0, 0x10, len(frames), 0, 1, 0, width, height, 0, 0, 0, 0,
    )
    avih = b"avih" + struct.pack("<I", len(avih_body)) + avih_body
    hdrl_body = b"hdrl" + avih  # single avih chunk is enough to replay
    hdrl = b"LIST" + struct.pack("<I", len(hdrl_body)) + hdrl_body
    movi_body = b"movi" + b"".join(
        b"00db" + struct.pack("<I", len(f)) + f + (b"\x00" if len(f) & 1 else b"")
        for f in frames
    )
    movi = b"LIST" + struct.pack("<I", len(movi_body)) + movi_body
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_avi_mjpeg(
    jpeg_frames: list, width: int, height: int, us_per_frame: int = 40000
) -> bytes:
    """RIFF/AVI writer for Motion JPEG: 'avih' main header, a 'strl'
    stream list whose 'strh' declares fccHandler 'MJPG', and a 'movi'
    list of compressed '00dc' chunks each carrying one complete
    baseline/progressive JPEG payload (the MJPEG convention — every
    frame is an independent still). The inverse of the MJPG path in
    :func:`decode_avi`."""
    import struct

    avih_body = struct.pack(
        "<14I",
        us_per_frame, 0, 0, 0x10, len(jpeg_frames), 0, 1, 0, width, height, 0, 0, 0, 0,
    )
    avih = b"avih" + struct.pack("<I", len(avih_body)) + avih_body
    strh_body = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, us_per_frame, 1_000_000,
                      0, len(jpeg_frames), 0, 0, 0)
        + struct.pack("<4h", 0, 0, width, height)
    )
    strh = b"strh" + struct.pack("<I", len(strh_body)) + strh_body
    strl_body = b"strl" + strh
    strl = b"LIST" + struct.pack("<I", len(strl_body)) + strl_body
    hdrl_body = b"hdrl" + avih + strl
    hdrl = b"LIST" + struct.pack("<I", len(hdrl_body)) + hdrl_body
    movi_body = b"movi" + b"".join(
        b"00dc" + struct.pack("<I", len(f)) + f + (b"\x00" if len(f) & 1 else b"")
        for f in jpeg_frames
    )
    movi = b"LIST" + struct.pack("<I", len(movi_body)) + movi_body
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi(payload: bytes) -> VideoData:
    """Dependency-free video decode: RIFF/AVI with uncompressed '00db'
    RGB24 frames, or Motion JPEG '00dc' frames when the stream header
    declares fccHandler 'MJPG' (REAL compressed-video decompression —
    each frame runs the full in-repo JPEG decoder: Huffman entropy
    decode, dequant, zigzag, IDCT; decoded pixel buffers land in
    ``frames``). Other compressed streams raise ``NotImplementedError``;
    truncated or inconsistent payloads raise ``ValueError`` (header
    frame count must match the movi chunks)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise NotImplementedError(
            "only RIFF/AVI with uncompressed frames decodes without codec "
            "libraries; got magic %r" % payload[:4]
        )
    width = height = us_per_frame = declared = None
    handler = None
    frames: list = []

    def walk(buf: bytes) -> None:
        nonlocal width, height, us_per_frame, declared, handler
        pos = 0
        while pos + 8 <= len(buf):
            cid = buf[pos : pos + 4]
            (clen,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
            body = buf[pos + 8 : pos + 8 + clen]
            if len(body) < clen:
                raise ValueError("truncated chunk %r" % cid)
            if cid == b"LIST":
                walk(body[4:])  # skip the list type tag
            elif cid == b"avih":
                f = struct.unpack("<14I", body[:56])
                us_per_frame, declared, width, height = f[0], f[4], f[8], f[9]
            elif cid == b"strh":
                if body[:4] == b"vids":
                    handler = bytes(body[4:8])
            elif cid == b"00db":
                frames.append(bytes(body))
            elif cid == b"00dc":
                if handler == b"MJPG":
                    frames.append(bytes(_decode_jpeg(bytes(body)).pixels))
                else:
                    raise NotImplementedError(
                        "compressed AVI frames (handler %r) need a codec library"
                        % handler
                    )
            pos += 8 + clen + (clen & 1)

    walk(payload[12:])
    if width is None:
        raise ValueError("missing avih header")
    if declared != len(frames):
        raise ValueError(
            f"avih declares {declared} frames but movi carries {len(frames)}"
        )
    return VideoData(width, height, us_per_frame, frames)


# ---------------------------------------------------------------------------
# GIF (87a/89a): dependency-free LZW decode + an encoder for synthesis.
# ---------------------------------------------------------------------------


def encode_gif(width: int, height: int, indices: bytes, palette: list) -> bytes:
    """Minimal GIF89a writer: one image, a global color table, real LZW
    compression (dictionary growth, width escalation, 4094-entry reset).
    ``indices`` are palette indexes (row-major, zero-padded/truncated to
    width*height); ``palette`` is a list of (r, g, b) tuples whose length
    is padded to the next power of two (max 256)."""
    import struct

    need = width * height
    idx = indices[:need] + b"\x00" * max(0, need - len(indices))
    n = len(palette)
    if not 0 < n <= 256:
        raise ValueError("palette must hold 1..256 entries")
    depth = max(1, (n - 1).bit_length())
    table = list(palette) + [(0, 0, 0)] * ((1 << depth) - n)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes([0x80 | (depth - 1), 0, 0])  # GCT present, size 2^depth
    for r, g, b in table:
        out += bytes([r, g, b])
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"

    mcs = max(2, depth)  # LZW minimum code size
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out.append(mcs)

    buf = bytearray()
    acc = nbits = 0

    def put(code: int, width_: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width_
        while nbits >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    # standard LZW: longest known prefix, emit, extend dictionary
    codes = {bytes([i]): i for i in range(1 << mcs)}
    next_code = eoi + 1
    width_ = mcs + 1
    put(clear, width_)
    prefix = b""
    for byte in idx:
        trial = prefix + bytes([byte])
        if trial in codes:
            prefix = trial
            continue
        put(codes[prefix], width_)
        codes[trial] = next_code
        next_code += 1
        if next_code == (1 << width_) + 1 and width_ < 12:
            width_ += 1
        if next_code >= 4095:
            put(clear, width_)
            codes = {bytes([i]): i for i in range(1 << mcs)}
            next_code = eoi + 1
            width_ = mcs + 1
        prefix = bytes([byte])
    if prefix:
        put(codes[prefix], width_)
    put(eoi, width_)
    if nbits:
        buf.append(acc & 0xFF)

    for i in range(0, len(buf), 255):
        chunk = buf[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def _decode_gif(payload: bytes) -> ImageData:
    """GIF87a/89a decode, stdlib only: logical-screen + color-table
    parse, extension skip, full LZW decompression (width escalation,
    clear-code reset, KwKwK case), interlace de-interleave, palette
    mapping to RGB. Only the first image of an animation is returned;
    a missing trailer or corrupt LZW stream raises ``ValueError``."""
    import struct

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("bad GIF signature")
    sw, sh = struct.unpack_from("<HH", payload, 6)
    flags = payload[10]
    pos = 13
    gct = None
    if flags & 0x80:
        sz = 2 << (flags & 0x07)
        gct = [tuple(payload[pos + 3 * i : pos + 3 * i + 3]) for i in range(sz)]
        pos += 3 * sz
    while pos < len(payload):
        b = payload[pos]
        if b == 0x3B:  # trailer
            raise ValueError("GIF contains no image data")
        if b == 0x21:  # extension: skip sub-blocks
            pos += 2
            while pos < len(payload) and payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
        left, top, width, height = struct.unpack_from("<HHHH", payload, pos + 1)
        iflags = payload[pos + 9]
        pos += 10
        table = gct
        if iflags & 0x80:
            sz = 2 << (iflags & 0x07)
            table = [tuple(payload[pos + 3 * i : pos + 3 * i + 3]) for i in range(sz)]
            pos += 3 * sz
        if table is None:
            raise ValueError("GIF image without a color table")
        interlaced = bool(iflags & 0x40)
        mcs = payload[pos]
        pos += 1
        data = bytearray()
        while pos < len(payload) and payload[pos]:
            ln = payload[pos]
            data += payload[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1

        clear, eoi = 1 << mcs, (1 << mcs) + 1
        dict_: list = [bytes([i]) for i in range(1 << mcs)] + [b"", b""]
        width_ = mcs + 1
        acc = nbits = dpos = 0
        prev: bytes | None = None
        out = bytearray()
        need = width * height
        while True:
            while nbits < width_:
                if dpos >= len(data):
                    raise ValueError("truncated GIF LZW stream")
                acc |= data[dpos] << nbits
                nbits += 8
                dpos += 1
            code = acc & ((1 << width_) - 1)
            acc >>= width_
            nbits -= width_
            if code == clear:
                dict_ = [bytes([i]) for i in range(1 << mcs)] + [b"", b""]
                width_ = mcs + 1
                prev = None
                continue
            if code == eoi:
                break
            if prev is None:
                if code >= len(dict_):
                    raise ValueError("bad first GIF code")
                entry = dict_[code]
            elif code < len(dict_):
                entry = dict_[code]
                dict_.append(prev + entry[:1])
            elif code == len(dict_):
                entry = prev + prev[:1]  # KwKwK
                dict_.append(entry)
            else:
                raise ValueError("GIF code out of range")
            out += entry
            prev = entry
            if len(dict_) == (1 << width_) and width_ < 12:
                width_ += 1
            if len(out) >= need:
                pass  # keep draining until EOI for stream integrity
        if len(out) < need:
            raise ValueError(f"GIF pixel shortfall {len(out)}/{need}")
        idx = out[:need]
        if interlaced:
            rows = [idx[r * width : (r + 1) * width] for r in range(height)]
            order = (
                list(range(0, height, 8))
                + list(range(4, height, 8))
                + list(range(2, height, 4))
                + list(range(1, height, 2))
            )
            de = [b""] * height
            for src, dst in enumerate(order):
                de[dst] = rows[src]
            idx = bytearray().join(bytes(r) for r in de)
        buf = bytearray(need * 3)
        for i, ci in enumerate(idx):
            if ci >= len(table):
                raise ValueError("GIF index outside color table")
            buf[3 * i : 3 * i + 3] = bytes(table[ci])
        return ImageData(width, height, 3, 255, bytes(buf))
    raise ValueError("truncated GIF")


# --------------------------------------------------------------------------
# WebP lossless (VP8L) — dependency-free encoder + decoder.
#
# Spec parity: "WebP Lossless Bitstream Specification" (RFC 9649 §3 /
# developers.google.com/speed/webp/docs/webp_lossless_bitstream_specification).
# The decoder implements the full still-image VP8L path except
# meta-prefix groups (the optional spatially-varying Huffman partition —
# raises NotImplementedError): LSB-first bit reading, simple and
# normal (code-length-coded) canonical prefix codes, the LZ77
# green/length/distance scheme with the 120-entry 2D distance map,
# the color cache, and all four transforms (predictor with its 14
# modes, cross-channel color transform, subtract-green, color-indexing
# incl. sub-byte pixel bundling). The encoder produces conformant
# streams with one transform at a time, optional color cache, and
# distance-1 run backreferences — enough to round-trip any raster and
# exercise every decoder path. Reference parity note: the reference
# repo has no multimodal surface at all (SURVEY.md §2); this extends
# the LLM-pipeline scope alongside PNG/JPEG/GIF.

_VP8L_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

# (dx, dy) close-neighborhood offsets for distance codes 1..120
# (spec "Decoding the distance"); dist = dx + dy * xsize, min 1.
_VP8L_DIST_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]


class _LsbBitWriter:
    """LSB-first bit packer (VP8L convention); Huffman codes are emitted
    bit-by-bit MSB-of-code-first via :meth:`code`."""

    def __init__(self):
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def bits(self, value: int, n: int) -> None:
        self._acc |= (value & ((1 << n) - 1)) << self._n
        self._n += n
        while self._n >= 8:
            self.out.append(self._acc & 0xFF)
            self._acc >>= 8
            self._n -= 8

    def code(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.bits((code >> i) & 1, 1)

    def flush(self) -> bytes:
        if self._n:
            self.out.append(self._acc & 0xFF)
            self._acc = self._n = 0
        return bytes(self.out)


class _LsbBitReader:
    """LSB-first bit reader over the VP8L payload."""

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0
        self._acc = 0
        self._n = 0

    def bits(self, n: int) -> int:
        while self._n < n:
            if self.pos >= len(self.buf):
                raise ValueError("truncated VP8L stream")
            self._acc |= self.buf[self.pos] << self._n
            self.pos += 1
            self._n += 8
        v = self._acc & ((1 << n) - 1)
        self._acc >>= n
        self._n -= n
        return v


def _vp8l_limited_huffman(freqs: list, max_len: int) -> list:
    """Code lengths for a canonical prefix code over ``freqs``, depth
    capped at ``max_len`` (zlib-style clamp + Kraft repair). A single
    used symbol gets length 1 (the stored-bitstream convention; readers
    decode single-symbol trees with 0 bits)."""
    import heapq

    used = [i for i, f in enumerate(freqs) if f > 0]
    lengths = [0] * len(freqs)
    if not used:
        return lengths
    if len(used) == 1:
        lengths[used[0]] = 1
        return lengths
    heap = [(f, i, ("leaf", i)) for i, f in enumerate(freqs) if f > 0]
    heapq.heapify(heap)
    tick = len(freqs)
    while len(heap) > 1:
        f1, _, n1 = heapq.heappop(heap)
        f2, _, n2 = heapq.heappop(heap)
        heapq.heappush(heap, (f1 + f2, tick, ("node", n1, n2)))
        tick += 1

    def walk(node, depth):
        if node[0] == "leaf":
            lengths[node[1]] = max(1, depth)
        else:
            walk(node[1], depth + 1)
            walk(node[2], depth + 1)

    walk(heap[0][2], 0)
    if max(lengths) <= max_len:
        return lengths
    # clamp overdeep codes, then restore Kraft <= 1 by deepening the
    # longest still-shallow codes (always feasible: n_used <= 2^max_len)
    for i in used:
        if lengths[i] > max_len:
            lengths[i] = max_len
    scale = 1 << max_len

    def kraft():
        return sum(1 << (max_len - lengths[i]) for i in used)

    while kraft() > scale:
        cand = max(
            (i for i in used if lengths[i] < max_len),
            key=lambda i: (lengths[i], -freqs[i]),
        )
        lengths[cand] += 1
    # deepening subtracts 2^(max_len-l-1) per step, which can overshoot
    # below scale (under-subscribed code -> decoder rejects the stream).
    # Restore exact Kraft completeness: every term is a multiple of the
    # deepest code's increment, so the deficit is always reachable by
    # shortening deepest-first.
    while True:
        deficit = scale - kraft()
        if deficit == 0:
            break
        cand = max(
            (
                i
                for i in used
                if lengths[i] > 1 and (1 << (max_len - lengths[i])) <= deficit
            ),
            key=lambda i: (lengths[i], freqs[i]),
        )
        lengths[cand] -= 1
    return lengths


def _vp8l_code_pairs(lengths: list) -> list:
    """VP8L code order (DEFLATE-style): used symbols as (symbol,
    length) pairs, sorted by length then symbol."""
    pairs = sorted(
        ((s, l) for s, l in enumerate(lengths) if l > 0), key=lambda p: (p[1], p[0])
    )
    if not pairs:
        raise ValueError("empty Huffman code")
    return pairs


def _vp8l_codes(lengths: list) -> dict:
    """symbol -> (code, length); a single used symbol maps to (0, 0)."""
    pairs = _vp8l_code_pairs(lengths)
    if len(pairs) == 1:
        return {pairs[0][0]: (0, 0)}
    return _canonical_codes(pairs)


def _vp8l_decode_tree(lengths: list) -> dict:
    """(length, code) -> symbol for bit-at-a-time decode, plus the
    single-symbol special case under key ``"single"``. Rejects
    over-/under-subscribed (non-Kraft-complete) codes."""
    pairs = _vp8l_code_pairs(lengths)
    if len(pairs) == 1:
        return {"single": pairs[0][0]}
    max_l = pairs[-1][1]
    if sum(1 << (max_l - l) for _, l in pairs) != 1 << max_l:
        raise ValueError("invalid (incomplete) Huffman code")
    return _huff_decode_table(pairs)


def _vp8l_read_symbol(br: "_LsbBitReader", tree: dict) -> int:
    single = tree.get("single")
    if single is not None:
        return single
    code = 0
    for length in range(1, 16):
        code = (code << 1) | br.bits(1)
        sym = tree.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in VP8L stream")


def _vp8l_read_code(br: "_LsbBitReader", alphabet_size: int) -> dict:
    """Read one prefix code (simple or normal form) -> decode tree."""
    if br.bits(1):  # simple
        num = br.bits(1) + 1
        s0 = br.bits(8) if br.bits(1) else br.bits(1)
        if num == 1:
            return {"single": s0}
        s1 = br.bits(8)
        return {(1, 0): s0, (1, 1): s1}
    num_codes = br.bits(4) + 4
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[_VP8L_ORDER[i]] = br.bits(3)
    cl_tree = _vp8l_decode_tree(cl_lengths)
    if br.bits(1):  # explicit max-symbol count
        nbits = 2 + 2 * br.bits(3)
        max_symbol = 2 + br.bits(nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev, i = 8, 0
    while i < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        s = _vp8l_read_symbol(br, cl_tree)
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev = s
        elif s == 16:
            rep = 3 + br.bits(2)
            if i + rep > alphabet_size:
                raise ValueError("code-length repeat overruns alphabet")
            for _ in range(rep):
                lengths[i] = prev
                i += 1
        else:
            rep = (3 + br.bits(3)) if s == 17 else (11 + br.bits(7))
            if i + rep > alphabet_size:
                raise ValueError("code-length zero-run overruns alphabet")
            i += rep
    return _vp8l_decode_tree(lengths)


def _vp8l_prefix_decode(br: "_LsbBitReader", s: int) -> int:
    """LZ77 length/distance prefix code -> value (spec: 24/40 codes)."""
    if s < 4:
        return s + 1
    extra = (s - 2) >> 1
    offset = (2 + (s & 1)) << extra
    return offset + br.bits(extra) + 1


def _vp8l_prefix_encode(v: int) -> tuple:
    """value -> (prefix code, extra bits value, extra bit count)."""
    u = v - 1
    if u < 4:
        return u, 0, 0
    b = u.bit_length() - 1
    extra = b - 1
    return 2 * b + ((u >> extra) & 1), u & ((1 << extra) - 1), extra


def _vp8l_cache_hash(argb: int, bits: int) -> int:
    return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - bits)


def _vp8l_decode_spatial(
    br: "_LsbBitReader", width: int, height: int, allow_meta: bool
) -> list:
    """Decode one entropy-coded image (the ARGB image when
    ``allow_meta``, else a transform/palette sub-image) to a list of
    width*height ARGB ints."""
    cache_bits = br.bits(4) if br.bits(1) else 0
    if cache_bits and not 1 <= cache_bits <= 11:
        raise ValueError("invalid color-cache size")
    if allow_meta and br.bits(1):
        raise NotImplementedError(
            "VP8L meta-prefix groups (spatially varying Huffman codes) "
            "need the entropy-image recursion; single-group images only"
        )
    cache_size = (1 << cache_bits) if cache_bits else 0
    green = _vp8l_read_code(br, 256 + 24 + cache_size)
    red = _vp8l_read_code(br, 256)
    blue = _vp8l_read_code(br, 256)
    alpha = _vp8l_read_code(br, 256)
    dist = _vp8l_read_code(br, 40)
    cache = [0] * cache_size
    n = width * height
    out: list = []
    while len(out) < n:
        s = _vp8l_read_symbol(br, green)
        if s < 256:
            g = s
            r = _vp8l_read_symbol(br, red)
            b = _vp8l_read_symbol(br, blue)
            a = _vp8l_read_symbol(br, alpha)
            px = (a << 24) | (r << 16) | (g << 8) | b
            out.append(px)
            if cache_size:
                cache[_vp8l_cache_hash(px, cache_bits)] = px
        elif s < 280:
            length = _vp8l_prefix_decode(br, s - 256)
            dcode = _vp8l_prefix_decode(br, _vp8l_read_symbol(br, dist))
            if dcode > 120:
                d = dcode - 120
            else:
                dx, dy = _VP8L_DIST_MAP[dcode - 1]
                d = max(1, dx + dy * width)
            if d > len(out):
                raise ValueError("VP8L backreference before image start")
            if len(out) + length > n:
                raise ValueError("VP8L backreference overruns image")
            for _ in range(length):
                px = out[-d]
                out.append(px)
                if cache_size:
                    cache[_vp8l_cache_hash(px, cache_bits)] = px
        else:
            if not cache_size or s - 280 >= cache_size:
                raise ValueError("color-cache symbol without/outside cache")
            out.append(cache[s - 280])
    return out


def _vp8l_write_code(bw: "_LsbBitWriter", lengths: list) -> dict:
    """Write one prefix code (simple form when <=2 used symbols <256,
    else normal form with literal code-length symbols); returns the
    symbol -> (code, length) encoding map."""
    used = [s for s, l in enumerate(lengths) if l > 0]
    if 1 <= len(used) <= 2 and all(s < 256 for s in used):
        bw.bits(1, 1)
        bw.bits(len(used) - 1, 1)
        if used[0] >= 2:
            bw.bits(1, 1)
            bw.bits(used[0], 8)
        else:
            bw.bits(0, 1)
            bw.bits(used[0], 1)
        if len(used) == 2:
            bw.bits(used[1], 8)
            return {used[0]: (0, 1), used[1]: (1, 1)}
        return {used[0]: (0, 0)}
    bw.bits(0, 1)
    cl_freqs = [0] * 19
    for l in lengths:
        cl_freqs[l] += 1
    cl_lengths = _vp8l_limited_huffman(cl_freqs, 7)
    num_codes = 19
    while num_codes > 4 and cl_lengths[_VP8L_ORDER[num_codes - 1]] == 0:
        num_codes -= 1
    bw.bits(num_codes - 4, 4)
    for i in range(num_codes):
        bw.bits(cl_lengths[_VP8L_ORDER[i]], 3)
    bw.bits(0, 1)  # no explicit max-symbol
    cl_codes = _vp8l_codes(cl_lengths)
    for l in lengths:
        c, ln = cl_codes[l]
        bw.code(c, ln)
    return _vp8l_codes(lengths)


def _vp8l_encode_spatial(
    bw: "_LsbBitWriter",
    argb: list,
    width: int,
    is_argb_image: bool,
    cache_bits: int = 0,
    use_backrefs: bool = False,
) -> None:
    """Entropy-code ``argb`` into ``bw``: optional color cache,
    distance-1 run backreferences, one Huffman group."""
    if cache_bits:
        bw.bits(1, 1)
        bw.bits(cache_bits, 4)
    else:
        bw.bits(0, 1)
    if is_argb_image:
        bw.bits(0, 1)  # no meta-prefix groups
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size

    # tokenize: (0, argb) literal | (1, length) run-of-previous | (2, idx) cache hit
    tokens: list = []
    i, n = 0, len(argb)
    # distance 1 -> neighborhood code 2 ((1, 0) is _VP8L_DIST_MAP[1])
    while i < n:
        px = argb[i]
        if use_backrefs and i > 0 and px == argb[i - 1]:
            run = 1
            while i + run < n and argb[i + run] == px and run < 4096:
                run += 1
            tokens.append((1, run))
            if cache_size:
                cache[_vp8l_cache_hash(px, cache_bits)] = px
            i += run
            continue
        if cache_size:
            h = _vp8l_cache_hash(px, cache_bits)
            if cache[h] == px and tokens:
                tokens.append((2, h))
                i += 1
                continue
            cache[h] = px
        tokens.append((0, px))
        i += 1

    gf = [0] * (256 + 24 + cache_size)
    rf, bf, af, df = [0] * 256, [0] * 256, [0] * 256, [0] * 40
    for kind, v in tokens:
        if kind == 0:
            gf[(v >> 8) & 0xFF] += 1
            rf[(v >> 16) & 0xFF] += 1
            bf[v & 0xFF] += 1
            af[(v >> 24) & 0xFF] += 1
        elif kind == 1:
            gf[256 + _vp8l_prefix_encode(v)[0]] += 1
            df[_vp8l_prefix_encode(2)[0]] += 1  # distance code 2 == offset (1,0)
        else:
            gf[280 + v] += 1
    if not any(df):
        df[0] = 1  # codes must be present even if unused
    if not any(af):
        af[0xFF] = 1

    g_codes = _vp8l_write_code(bw, _vp8l_limited_huffman(gf, 15))
    r_codes = _vp8l_write_code(bw, _vp8l_limited_huffman(rf, 15))
    b_codes = _vp8l_write_code(bw, _vp8l_limited_huffman(bf, 15))
    a_codes = _vp8l_write_code(bw, _vp8l_limited_huffman(af, 15))
    d_codes = _vp8l_write_code(bw, _vp8l_limited_huffman(df, 15))

    for kind, v in tokens:
        if kind == 0:
            bw.code(*g_codes[(v >> 8) & 0xFF])
            bw.code(*r_codes[(v >> 16) & 0xFF])
            bw.code(*b_codes[v & 0xFF])
            bw.code(*a_codes[(v >> 24) & 0xFF])
        elif kind == 1:
            lc, lextra, lbits = _vp8l_prefix_encode(v)
            bw.code(*g_codes[256 + lc])
            if lbits:
                bw.bits(lextra, lbits)
            dc, dextra, dbits = _vp8l_prefix_encode(2)
            bw.code(*d_codes[dc])
            if dbits:
                bw.bits(dextra, dbits)
        else:
            bw.code(*g_codes[280 + v])


def _vp8l_pred_helpers():
    def ch(p, shift):
        return (p >> shift) & 0xFF

    def avg2(a, b):
        return tuple((ch(a, s) + ch(b, s)) >> 1 for s in (24, 16, 8, 0))

    def pack(t):
        return (t[0] << 24) | (t[1] << 16) | (t[2] << 8) | t[3]

    def clamp(v):
        return 0 if v < 0 else 255 if v > 255 else v

    return ch, avg2, pack, clamp


def _vp8l_predict(mode: int, L: int, T: int, TL: int, TR: int) -> int:
    """The 14 spatial predictors (spec §4.2.2), per-channel byte math."""
    ch, avg2, pack, clamp = _vp8l_pred_helpers()
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return pack(avg2(pack(avg2(L, TR)), T))
    if mode == 6:
        return pack(avg2(L, TL))
    if mode == 7:
        return pack(avg2(L, T))
    if mode == 8:
        return pack(avg2(TL, T))
    if mode == 9:
        return pack(avg2(T, TR))
    if mode == 10:
        return pack(avg2(pack(avg2(L, TL)), pack(avg2(T, TR))))
    if mode == 11:  # Select
        p = [ch(L, s) + ch(T, s) - ch(TL, s) for s in (24, 16, 8, 0)]
        pL = sum(abs(p[i] - c) for i, c in enumerate(ch(L, s) for s in (24, 16, 8, 0)))
        pT = sum(abs(p[i] - c) for i, c in enumerate(ch(T, s) for s in (24, 16, 8, 0)))
        return L if pL < pT else T
    if mode == 12:  # ClampAddSubtractFull
        return pack(tuple(clamp(ch(L, s) + ch(T, s) - ch(TL, s)) for s in (24, 16, 8, 0)))
    if mode == 13:  # ClampAddSubtractHalf
        ave = avg2(L, T)
        return pack(tuple(clamp(ave[i] + (ave[i] - ch(TL, s)) // 2)
                          for i, s in enumerate((24, 16, 8, 0))))
    raise ValueError(f"invalid predictor mode {mode}")


def _vp8l_add_px(a: int, b: int) -> int:
    return (
        (((a >> 24) + (b >> 24)) & 0xFF) << 24
        | ((((a >> 16) + (b >> 16)) & 0xFF) << 16)
        | ((((a >> 8) + (b >> 8)) & 0xFF) << 8)
        | ((a + b) & 0xFF)
    )


def _vp8l_sub_px(a: int, b: int) -> int:
    return (
        (((a >> 24) - (b >> 24)) & 0xFF) << 24
        | ((((a >> 16) - (b >> 16)) & 0xFF) << 16)
        | ((((a >> 8) - (b >> 8)) & 0xFF) << 8)
        | ((a - b) & 0xFF)
    )


def _vp8l_ct_delta(t: int, c: int) -> int:
    """Color-transform delta: (int8(t) * int8(c)) >> 5 (arithmetic)."""
    t8 = t - 256 if t > 127 else t
    c8 = c - 256 if c > 127 else c
    return (t8 * c8) >> 5


def _vp8l_xbits(palette_size: int) -> int:
    if palette_size <= 2:
        return 3
    if palette_size <= 4:
        return 2
    if palette_size <= 16:
        return 1
    return 0


def encode_webp_lossless(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 3,
    transform: object = "subtract-green",
    cache_bits: int = 0,
    use_backrefs: bool = True,
) -> bytes:
    """VP8L (WebP lossless) encoder. ``pixels`` is the interleaved
    row-major buffer (gray, RGB, or RGBA per ``channels``), zero-padded /
    truncated to width*height*channels like :func:`encode_ppm`.

    ``transform`` selects the single spatial transform to apply:

    - ``"subtract-green"`` (default) — the ubiquitous decorrelator;
    - ``"palette"`` — color-indexing incl. sub-byte pixel bundling for
      palettes of <=16 colors (raises if >256 distinct colors);
    - ``("predictor", mode)`` — uniform spatial predictor 0..13;
    - ``("color", (g2r, g2b, r2b))`` — uniform cross-channel transform;
    - ``None`` — plain ARGB literals.

    ``cache_bits`` > 0 enables the color cache; ``use_backrefs`` emits
    distance-1 LZ77 run copies. Output is the full RIFF/WEBP container.
    """
    need = width * height * channels
    buf = pixels[:need] + b"\x00" * max(0, need - len(pixels))
    argb = []
    for i in range(width * height):
        if channels == 1:
            r = g = b = buf[i]
            a = 255
        elif channels == 3:
            r, g, b = buf[3 * i], buf[3 * i + 1], buf[3 * i + 2]
            a = 255
        elif channels == 4:
            r, g, b, a = buf[4 * i], buf[4 * i + 1], buf[4 * i + 2], buf[4 * i + 3]
        else:
            raise ValueError("channels must be 1, 3, or 4")
        argb.append((a << 24) | (r << 16) | (g << 8) | b)

    bw = _LsbBitWriter()
    bw.bits(0x2F, 8)
    bw.bits(width - 1, 14)
    bw.bits(height - 1, 14)
    bw.bits(1 if channels == 4 else 0, 1)
    bw.bits(0, 3)  # version

    enc_w = width
    if transform == "subtract-green":
        bw.bits(1, 1)
        bw.bits(2, 2)
        argb = [
            (p & 0xFF00FF00)
            | (((p >> 16) - (p >> 8)) & 0xFF) << 16
            | ((p - (p >> 8)) & 0xFF)
            for p in argb
        ]
    elif transform == "palette":
        seen: dict = {}
        for p in argb:
            if p not in seen:
                seen[p] = len(seen)
        if len(seen) > 256:
            raise ValueError("palette transform needs <=256 distinct colors")
        palette = list(seen)
        bw.bits(1, 1)
        bw.bits(3, 2)
        bw.bits(len(palette) - 1, 8)
        deltas = [
            palette[0] if i == 0 else _vp8l_sub_px(palette[i], palette[i - 1])
            for i in range(len(palette))
        ]
        _vp8l_encode_spatial(bw, deltas, len(palette), False)
        xbits = _vp8l_xbits(len(palette))
        if xbits:
            per = 8 >> xbits  # bits per index
            span = 1 << xbits  # indices per packed pixel
            enc_w = (width + span - 1) >> xbits
            packed = []
            for y in range(height):
                for px in range(enc_w):
                    gch = 0
                    for k in range(span):
                        x = (px << xbits) + k
                        if x < width:
                            gch |= seen[argb[y * width + x]] << (k * per)
                    packed.append(0xFF000000 | (gch << 8))
            argb = packed
        else:
            argb = [0xFF000000 | (seen[p] << 8) for p in argb]
    elif isinstance(transform, tuple) and transform[0] == "predictor":
        mode = transform[1]
        bw.bits(1, 1)
        bw.bits(0, 2)
        size_bits = 9  # 512x512 tiles — one mode tile up to that size
        bw.bits(size_bits - 2, 3)
        bs = 1 << size_bits
        tw, th = (width + bs - 1) >> size_bits, (height + bs - 1) >> size_bits
        _vp8l_encode_spatial(
            bw, [0xFF000000 | (mode << 8)] * (tw * th), tw, False
        )
        res = []
        for y in range(height):
            for x in range(width):
                i = y * width + x
                if x == 0 and y == 0:
                    pred = 0xFF000000
                elif y == 0:
                    pred = argb[i - 1]
                elif x == 0:
                    pred = argb[i - width]
                else:
                    pred = _vp8l_predict(
                        mode, argb[i - 1], argb[i - width],
                        argb[i - width - 1], argb[i - width + 1],
                    )
                res.append(_vp8l_sub_px(argb[i], pred))
        argb = res
    elif isinstance(transform, tuple) and transform[0] == "color":
        g2r, g2b, r2b = transform[1]
        bw.bits(1, 1)
        bw.bits(1, 2)
        size_bits = 9
        bw.bits(size_bits - 2, 3)
        bs = 1 << size_bits
        tw, th = (width + bs - 1) >> size_bits, (height + bs - 1) >> size_bits
        elt = 0xFF000000 | ((r2b & 0xFF) << 16) | ((g2b & 0xFF) << 8) | (g2r & 0xFF)
        _vp8l_encode_spatial(bw, [elt] * (tw * th), tw, False)
        res = []
        for p in argb:
            a, r, g, b = p >> 24, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF
            # r2b delta keys on the ORIGINAL red — the decoder restores
            # red first, then uses the restored (== original) value
            nr = (r - _vp8l_ct_delta(g2r & 0xFF, g)) & 0xFF
            nb = (b - _vp8l_ct_delta(g2b & 0xFF, g) - _vp8l_ct_delta(r2b & 0xFF, r)) & 0xFF
            res.append((a << 24) | (nr << 16) | (g << 8) | nb)
        argb = res
    elif transform is not None:
        raise ValueError(f"unknown transform {transform!r}")
    bw.bits(0, 1)  # end of transforms

    _vp8l_encode_spatial(bw, argb, enc_w, True, cache_bits, use_backrefs)
    payload = bw.flush()

    chunk = b"VP8L" + len(payload).to_bytes(4, "little") + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


# ---------------------------------------------------------------------------
# Lossy WebP (VP8 key frame, RFC 6386): boolean range coder, token trees,
# 16x16 DC intra prediction, integer WHT/DCT inverse transforms,
# quantization — the full keyframe bitstream STRUCTURE. The RFC's
# EMPIRICAL constant tables (default coefficient probabilities, mode
# probabilities, quantizer lookups) are not reproducible in this offline
# container, so they are REPO-DEFINED module constants below, each a
# single swap-in point: substituting the RFC 6386 values makes the
# decoder conformant to real-world streams. Until then the codec is
# exact against its own encoder (round-trip pytest + DuckDB oracle), and
# real-crawl VP8 payloads decode through the same structural path with
# divergent entropy tables — documented boundary, no silent stub.
# ---------------------------------------------------------------------------


class _Vp8BoolEncoder:
    """RFC 6386 §8 boolean (range) encoder: 8-bit probabilities,
    carry-propagating byte output, 32-bit flush."""

    def __init__(self):
        self.out = bytearray()
        self.range = 255
        self.bottom = 0
        self.bit_count = 24

    def _carry(self):
        i = len(self.out) - 1
        while i >= 0 and self.out[i] == 255:
            self.out[i] = 0
            i -= 1
        if i < 0:
            # Unreachable for streams this encoder produces (the first
            # emitted byte can never be 0xFF when a later carry fires —
            # the same invariant libvpx relies on), but if it were ever
            # violated, Python's negative indexing would silently wrap
            # to the buffer tail and corrupt the stream. Fail loud.
            raise AssertionError("VP8 bool-encoder carry past stream start")
        self.out[i] += 1

    def put(self, bit: int, prob: int) -> None:
        split = 1 + (((self.range - 1) * prob) >> 8)
        if bit:
            self.bottom += split
            self.range -= split
        else:
            self.range = split
        while self.range < 128:
            self.range <<= 1
            if self.bottom & (1 << 31):
                self._carry()
            self.bottom = (self.bottom << 1) & 0xFFFFFFFF
            self.bit_count -= 1
            if self.bit_count == 0:
                self.out.append((self.bottom >> 24) & 0xFF)
                self.bottom &= (1 << 24) - 1
                self.bit_count = 8

    def literal(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.put((value >> i) & 1, 128)

    def flush(self) -> bytes:
        for _ in range(32):
            if self.bottom & (1 << 31):
                self._carry()
            self.bottom = (self.bottom << 1) & 0xFFFFFFFF
            self.bit_count -= 1
            if self.bit_count == 0:
                self.out.append((self.bottom >> 24) & 0xFF)
                self.bottom &= (1 << 24) - 1
                self.bit_count = 8
        return bytes(self.out)


class _Vp8BoolDecoder:
    """RFC 6386 §7 boolean decoder (the encoder's exact inverse)."""

    def __init__(self, buf: bytes):
        if len(buf) < 2:
            raise ValueError("truncated VP8 boolean section")
        self.buf = buf
        self.value = (buf[0] << 8) | buf[1]
        self.pos = 2
        self.range = 255
        self.bit_count = 0

    def get(self, prob: int) -> int:
        split = 1 + (((self.range - 1) * prob) >> 8)
        big = split << 8
        if self.value >= big:
            ret = 1
            self.range -= split
            self.value -= big
        else:
            ret = 0
            self.range = split
        while self.range < 128:
            self.value <<= 1
            self.range <<= 1
            self.bit_count += 1
            if self.bit_count == 8:
                self.bit_count = 0
                if self.pos < len(self.buf):
                    self.value |= self.buf[self.pos]
                    self.pos += 1
        return ret

    def literal(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.get(128)
        return v


# Repo-defined entropy/quant tables (see section comment — swap for the
# RFC 6386 empirical values to decode real-world streams):
# coefficient probs indexed [block_type 0..3][band 0..7][ctx 0..2][node 0..10]
VP8_COEF_PROBS = [
    [
        [
            [((t * 13 + b * 17 + c * 29 + n * 41) % 224) + 16 for n in range(11)]
            for c in range(3)
        ]
        for b in range(8)
    ]
    for t in range(4)
]
VP8_COEF_UPDATE_PROB = 255  # "no update" flags are near-free
VP8_KF_YMODE_PROB = [16, 240, 128, 128]  # tree: [B_PRED, [DC, [V, [H, TM]]]]
VP8_UV_MODE_PROB = [240, 128, 128]  # tree: [DC, [V, [H, TM]]]
VP8_SKIP_PROB = 240
# coefficient-position -> probability band, and the 4x4 zigzag
VP8_COEF_BANDS = [0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7]
VP8_ZIGZAG = [0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15]
# quantizer index -> step sizes (repo-defined monotone ramps)
VP8_DC_Q = [8 + q for q in range(128)]
VP8_AC_Q = [8 + 2 * q for q in range(128)]
# token extra-bit categories: (base value, per-bit probabilities)
VP8_CAT_PROBS = [
    (5, [159]),
    (7, [165, 145]),
    (11, [173, 148, 140]),
    (19, [176, 155, 140, 135]),
    (35, [180, 157, 141, 134, 130]),
    (67, [254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129]),
]


def _vp8_iwht(inp: list) -> list:
    """RFC 6386 §14.3 inverse Walsh-Hadamard (Y2 block -> 16 luma DCs)."""
    tmp = [0] * 16
    for i in range(4):
        a1 = inp[i] + inp[12 + i]
        b1 = inp[4 + i] + inp[8 + i]
        c1 = inp[4 + i] - inp[8 + i]
        d1 = inp[i] - inp[12 + i]
        tmp[i] = a1 + b1
        tmp[4 + i] = c1 + d1
        tmp[8 + i] = a1 - b1
        tmp[12 + i] = d1 - c1
    out = [0] * 16
    for i in range(4):
        a1 = tmp[4 * i] + tmp[4 * i + 3]
        b1 = tmp[4 * i + 1] + tmp[4 * i + 2]
        c1 = tmp[4 * i + 1] - tmp[4 * i + 2]
        d1 = tmp[4 * i] - tmp[4 * i + 3]
        out[4 * i] = (a1 + b1 + 3) >> 3
        out[4 * i + 1] = (c1 + d1 + 3) >> 3
        out[4 * i + 2] = (a1 - b1 + 3) >> 3
        out[4 * i + 3] = (d1 - c1 + 3) >> 3
    return out


_VP8_C1 = 20091  # (cos(pi/8)*sqrt(2) - 1) << 16
_VP8_C2 = 35468  # (sin(pi/8)*sqrt(2)) << 16


def _vp8_idct(inp: list) -> list:
    """RFC 6386 §14.4 inverse 4x4 DCT (integer, two passes, >>3)."""
    tmp = [0] * 16
    for i in range(4):
        a1 = inp[i] + inp[8 + i]
        b1 = inp[i] - inp[8 + i]
        t1 = (inp[4 + i] * _VP8_C2) >> 16
        t2 = inp[12 + i] + ((inp[12 + i] * _VP8_C1) >> 16)
        c1 = t1 - t2
        t1 = inp[4 + i] + ((inp[4 + i] * _VP8_C1) >> 16)
        t2 = (inp[12 + i] * _VP8_C2) >> 16
        d1 = t1 + t2
        tmp[i] = a1 + d1
        tmp[12 + i] = a1 - d1
        tmp[4 + i] = b1 + c1
        tmp[8 + i] = b1 - c1
    out = [0] * 16
    for i in range(4):
        a1 = tmp[4 * i] + tmp[4 * i + 2]
        b1 = tmp[4 * i] - tmp[4 * i + 2]
        t1 = (tmp[4 * i + 1] * _VP8_C2) >> 16
        t2 = tmp[4 * i + 3] + ((tmp[4 * i + 3] * _VP8_C1) >> 16)
        c1 = t1 - t2
        t1 = tmp[4 * i + 1] + ((tmp[4 * i + 1] * _VP8_C1) >> 16)
        t2 = (tmp[4 * i + 3] * _VP8_C2) >> 16
        d1 = t1 + t2
        out[4 * i] = (a1 + d1 + 4) >> 3
        out[4 * i + 3] = (a1 - d1 + 4) >> 3
        out[4 * i + 1] = (b1 + c1 + 4) >> 3
        out[4 * i + 2] = (b1 - c1 + 4) >> 3
    return out


def _vp8_put_tokens(be: "_Vp8BoolEncoder", block_type: int, first: int,
                    ctx: int, coeffs: list) -> int:
    """Encode one block's coefficients (natural order) as the RFC 6386
    token sequence. Returns the block's nonzero flag for neighbor ctx."""
    probs = VP8_COEF_PROBS[block_type]
    last = max((i for i in range(first, 16) if coeffs[VP8_ZIGZAG[i]]),
               default=first - 1)
    pos, prev_zero, nnz = first, False, 0
    while pos < 16:
        p = probs[VP8_COEF_BANDS[pos]][ctx]
        if pos > last:
            if not prev_zero:
                be.put(0, p[0])  # EOB
            else:  # cannot EOB right after a zero token; emit explicit 0s
                be.put(0, p[1])
                prev_zero = True
                pos += 1
                continue
            return 1 if nnz else 0
        v = coeffs[VP8_ZIGZAG[pos]]
        a = abs(v)
        if not prev_zero:
            be.put(1, p[0])
        if a == 0:
            be.put(0, p[1])
            ctx, prev_zero = 0, True
            pos += 1
            continue
        be.put(1, p[1])
        prev_zero = False
        nnz += 1
        if a == 1:
            be.put(0, p[2])
        else:
            be.put(1, p[2])
            if a <= 4:
                be.put(0, p[3])
                if a == 2:
                    be.put(0, p[4])
                else:
                    be.put(1, p[4])
                    be.put(a - 3, p[5])
            else:
                be.put(1, p[3])
                cat = next(
                    i for i in range(5, -1, -1) if a >= VP8_CAT_PROBS[i][0]
                )
                if cat <= 1:
                    be.put(0, p[6])
                    be.put(cat, p[7])
                elif cat <= 3:
                    be.put(1, p[6])
                    be.put(0, p[8])
                    be.put(cat - 2, p[9])
                else:
                    be.put(1, p[6])
                    be.put(1, p[8])
                    be.put(cat - 4, p[10])
                base, bit_probs = VP8_CAT_PROBS[cat]
                extra = a - base
                for i, bp in enumerate(bit_probs):
                    be.put((extra >> (len(bit_probs) - 1 - i)) & 1, bp)
        be.put(1 if v < 0 else 0, 128)  # sign
        ctx = 1 if a == 1 else 2
        pos += 1
    return 1 if nnz else 0


def _vp8_get_tokens(bd: "_Vp8BoolDecoder", block_type: int, first: int,
                    ctx: int) -> tuple:
    """Decode one block's token sequence -> (coeffs natural order, nnz)."""
    probs = VP8_COEF_PROBS[block_type]
    coeffs = [0] * 16
    pos, prev_zero, nnz = first, False, 0
    while pos < 16:
        p = probs[VP8_COEF_BANDS[pos]][ctx]
        if not prev_zero and not bd.get(p[0]):
            break  # EOB
        if not bd.get(p[1]):
            ctx, prev_zero = 0, True
            pos += 1
            continue
        prev_zero = False
        if not bd.get(p[2]):
            a = 1
        elif not bd.get(p[3]):
            a = 2 if not bd.get(p[4]) else 3 + bd.get(p[5])
        else:
            if not bd.get(p[6]):
                cat = bd.get(p[7])
            elif not bd.get(p[8]):
                cat = 2 + bd.get(p[9])
            else:
                cat = 4 + bd.get(p[10])
            base, bit_probs = VP8_CAT_PROBS[cat]
            extra = 0
            for bp in bit_probs:
                extra = (extra << 1) | bd.get(bp)
            a = base + extra
        sign = bd.get(128)
        coeffs[VP8_ZIGZAG[pos]] = -a if sign else a
        nnz += 1
        ctx = 1 if a == 1 else 2
        pos += 1
    return coeffs, (1 if nnz else 0)


def _vp8_quants(qi: int) -> tuple:
    """Quantizer index -> (y1dc, y1ac, y2dc, y2ac, uvdc, uvac) per the
    RFC 6386 §9.6 derivation structure over the repo-defined ramps."""
    dc, ac = VP8_DC_Q[qi], VP8_AC_Q[qi]
    return dc, ac, dc * 2, max(8, ac * 155 // 100), min(dc, 132), ac


def encode_vp8(width: int, height: int, gray: bytes, qi: int = 20) -> bytes:
    """Lossy WebP (VP8 key frame) encoder for a grayscale plane:
    16x16 DC_PRED macroblocks, per-MB mean coded as the Y2 DC
    coefficient (WHT domain), flat 128 chroma, loop filter 0. Width and
    height must be multiples of 16. The decoder reconstructs each MB as
    a uniform patch — lossy in exactly the quantizer's step."""
    if width % 16 or height % 16 or width <= 0 or height <= 0:
        raise ValueError("VP8 subset encoder needs 16-aligned dimensions")
    if not 0 <= qi < 128:
        raise ValueError("quantizer index out of range")
    if len(gray) != width * height:
        raise ValueError("pixel buffer does not match dimensions")
    mbw, mbh = width // 16, height // 16
    _, _, y2dc_q, _, _, _ = _vp8_quants(qi)

    # choose per-MB Y2 DC values against the sequential prediction chain
    recon = [[0] * mbw for _ in range(mbh)]
    dcs = [[0] * mbw for _ in range(mbh)]
    for my in range(mbh):
        for mx in range(mbw):
            above = recon[my - 1][mx] if my else None
            left = recon[my][mx - 1] if mx else None
            if above is None and left is None:
                pred = 128
            elif above is None:
                pred = left
            elif left is None:
                pred = above
            else:
                pred = (16 * above + 16 * left + 16) >> 5
            px = [
                gray[(my * 16 + r) * width + mx * 16 + c]
                for r in range(16)
                for c in range(16)
            ]
            target = (sum(px) + 128) // 256 - pred
            # pixel delta of a Y2-DC-only MB is ~v*q/64 (the WHT and the
            # IDCT each divide by 8), so seed the candidate search with
            # the integer half-up round of 64*target/q — exactly
            # replayable by the SQL oracle (no FP round modes)
            v0 = (128 * target + y2dc_q) // (2 * y2dc_q)
            best = None
            for v in (v0 - 1, v0, v0 + 1):
                if abs(v) > 2114:  # cat6 ceiling
                    v = 2114 if v > 0 else -2114
                y_dc = (_vp8_iwht([v * y2dc_q] + [0] * 15))[0]
                d = (y_dc + 4) >> 3
                err = abs(max(0, min(255, pred + d)) - (pred + target))
                if best is None or err < best[0]:
                    best = (err, v, max(0, min(255, pred + d)))
            _, v, rec = best
            dcs[my][mx] = v
            recon[my][mx] = rec

    # first partition: header + per-MB modes
    be = _Vp8BoolEncoder()
    be.literal(0, 1)  # color space
    be.literal(0, 1)  # clamping
    be.literal(0, 1)  # segmentation off
    be.literal(0, 1)  # filter type
    be.literal(0, 6)  # loop filter level 0 (disabled)
    be.literal(0, 3)  # sharpness
    be.literal(0, 1)  # lf deltas off
    be.literal(0, 2)  # 1 token partition
    be.literal(qi, 7)  # y_ac_qi
    for _ in range(5):  # no quantizer deltas
        be.literal(0, 1)
    be.literal(0, 1)  # refresh entropy probs
    for t in range(4):  # coefficient prob updates: none
        for b in range(8):
            for c in range(3):
                for n in range(11):
                    be.put(0, VP8_COEF_UPDATE_PROB)
    be.literal(1, 1)  # mb_no_coeff_skip enabled
    be.literal(VP8_SKIP_PROB, 8)
    for my in range(mbh):
        for mx in range(mbw):
            be.put(0, VP8_SKIP_PROB)  # skip=0: tokens present
            be.put(1, VP8_KF_YMODE_PROB[0])  # not B_PRED
            be.put(0, VP8_KF_YMODE_PROB[1])  # DC_PRED
            be.put(0, VP8_UV_MODE_PROB[0])  # chroma DC_PRED
    part1 = be.flush()

    # token partition: per MB Y2 (DC only), 16 empty Y, 8 empty chroma
    te = _Vp8BoolEncoder()
    above_y2 = [0] * mbw
    above_y = [[0] * 4 for _ in range(mbw)]
    above_u = [[0] * 2 for _ in range(mbw)]
    above_v = [[0] * 2 for _ in range(mbw)]
    for my in range(mbh):
        left_y2 = 0
        left_y = [0] * 4
        left_u = [0] * 2
        left_v = [0] * 2
        for mx in range(mbw):
            co = [0] * 16
            co[0] = dcs[my][mx]
            nz = _vp8_put_tokens(te, 1, 0, above_y2[mx] + left_y2, co)
            above_y2[mx] = left_y2 = nz
            for sb in range(16):
                r, c = sb // 4, sb % 4
                ctx = above_y[mx][c] + left_y[r]
                nz = _vp8_put_tokens(te, 0, 1, ctx, [0] * 16)
                above_y[mx][c] = left_y[r] = nz
            for plane_above, plane_left in ((above_u, left_u), (above_v, left_v)):
                for sb in range(4):
                    r, c = sb // 2, sb % 2
                    ctx = plane_above[mx][c] + plane_left[r]
                    nz = _vp8_put_tokens(te, 2, 0, ctx, [0] * 16)
                    plane_above[mx][c] = plane_left[r] = nz
    part2 = te.flush()

    tag = 0 | (0 << 1) | (1 << 4) | (len(part1) << 5)  # keyframe, show
    frame = (
        tag.to_bytes(3, "little")
        + b"\x9d\x01\x2a"
        + width.to_bytes(2, "little")
        + height.to_bytes(2, "little")
        + part1
        + part2
    )
    chunk = b"VP8 " + len(frame).to_bytes(4, "little") + frame
    if len(frame) & 1:
        chunk += b"\x00"
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


# Frame-bytes -> verified memo for the VP8 foreign-stream guard below
# (FIFO-evicted at 4096 entries; executor-local, bounded).
_VP8_VERIFIED: dict = {}


def _decode_vp8(frame: bytes) -> ImageData:
    """VP8 key-frame decoder for the structural subset above: parses the
    full keyframe header, boolean-decodes modes and coefficient tokens,
    dequantizes, inverse-WHT/DCT-transforms, applies 16x16/8x8 DC intra
    prediction, and returns RGB (BT.601 with flat 128 chroma collapses
    to R=G=B=Y). Interframes and B_PRED raise ``NotImplementedError``;
    malformed streams raise ``ValueError``."""
    if len(frame) < 10:
        raise ValueError("truncated VP8 frame")
    tag = int.from_bytes(frame[:3], "little")
    if tag & 1:
        raise NotImplementedError("VP8 interframe decode needs reference frames")
    part1_len = tag >> 5
    if frame[3:6] != b"\x9d\x01\x2a":
        raise ValueError("bad VP8 keyframe start code")
    width = int.from_bytes(frame[6:8], "little") & 0x3FFF
    height = int.from_bytes(frame[8:10], "little") & 0x3FFF
    if width % 16 or height % 16 or not width or not height:
        raise NotImplementedError(
            "VP8 subset decoder handles 16-aligned dimensions"
        )
    mbw, mbh = width // 16, height // 16
    body = frame[10:]
    if len(body) < part1_len:
        raise ValueError("truncated VP8 first partition")
    bd = _Vp8BoolDecoder(body[:part1_len])
    bd.literal(1)  # color space
    bd.literal(1)  # clamping
    if bd.literal(1):
        raise NotImplementedError("VP8 segmentation")
    bd.literal(1)  # filter type
    if bd.literal(6):
        raise NotImplementedError("VP8 loop filter (subset encodes level 0)")
    bd.literal(3)  # sharpness
    if bd.literal(1):
        raise NotImplementedError("VP8 per-mode loop-filter deltas")
    if bd.literal(2):
        raise NotImplementedError("VP8 multiple token partitions")
    qi = bd.literal(7)
    for _ in range(5):
        if bd.literal(1):
            raise NotImplementedError("VP8 quantizer deltas")
    bd.literal(1)  # refresh entropy
    for t in range(4):
        for b in range(8):
            for c in range(3):
                for n in range(11):
                    if bd.get(VP8_COEF_UPDATE_PROB):
                        raise NotImplementedError(
                            "VP8 coefficient probability updates"
                        )
    if not bd.literal(1):
        raise NotImplementedError("VP8 without mb_no_coeff_skip")
    skip_prob = bd.literal(8)
    modes = []
    for _ in range(mbw * mbh):
        skip = bd.get(skip_prob)
        if not bd.get(VP8_KF_YMODE_PROB[0]):
            raise NotImplementedError("VP8 B_PRED (per-subblock modes)")
        if bd.get(VP8_KF_YMODE_PROB[1]):
            raise NotImplementedError("VP8 non-DC luma prediction")
        if bd.get(VP8_UV_MODE_PROB[0]):
            raise NotImplementedError("VP8 non-DC chroma prediction")
        modes.append(skip)

    y1dc, y1ac, y2dc, y2ac, uvdc, uvac = _vp8_quants(qi)
    td = _Vp8BoolDecoder(body[part1_len:])
    ylum = [[0] * (mbw * 16) for _ in range(mbh * 16)]
    above_y2 = [0] * mbw
    above_y = [[0] * 4 for _ in range(mbw)]
    above_u = [[0] * 2 for _ in range(mbw)]
    above_v = [[0] * 2 for _ in range(mbw)]
    for my in range(mbh):
        left_y2 = 0
        left_y = [0] * 4
        left_u = [0] * 2
        left_v = [0] * 2
        for mx in range(mbw):
            skip = modes[my * mbw + mx]
            ydcs = [0] * 16
            yres = [[0] * 16 for _ in range(16)]
            if not skip:
                co, nz = _vp8_get_tokens(td, 1, 0, above_y2[mx] + left_y2)
                above_y2[mx] = left_y2 = nz
                deq = [co[0] * y2dc] + [c * y2ac for c in co[1:]]
                ydcs = _vp8_iwht(deq)
                for sb in range(16):
                    r, c = sb // 4, sb % 4
                    co, nz = _vp8_get_tokens(
                        td, 0, 1, above_y[mx][c] + left_y[r]
                    )
                    above_y[mx][c] = left_y[r] = nz
                    deq = [ydcs[sb]] + [x * y1ac for x in co[1:]]
                    yres[sb] = _vp8_idct(deq)
                for plane_above, plane_left in (
                    (above_u, left_u), (above_v, left_v),
                ):
                    for sb in range(4):
                        r, c = sb // 2, sb % 2
                        co, nz = _vp8_get_tokens(
                            td, 2, 0, plane_above[mx][c] + plane_left[r]
                        )
                        plane_above[mx][c] = plane_left[r] = nz
                        if nz:
                            raise NotImplementedError(
                                "VP8 subset: nonzero chroma coefficients"
                            )
            else:
                above_y2[mx] = left_y2 = 0
                for c in range(4):
                    above_y[mx][c] = 0
                for r in range(4):
                    left_y[r] = 0
                for pa, pl in ((above_u, left_u), (above_v, left_v)):
                    pa[mx][0] = pa[mx][1] = pl[0] = pl[1] = 0

            # 16x16 DC prediction from reconstructed neighbors
            x0, y0 = mx * 16, my * 16
            have_a, have_l = my > 0, mx > 0
            if have_a and have_l:
                s = sum(ylum[y0 - 1][x0 + i] for i in range(16)) + sum(
                    ylum[y0 + i][x0 - 1] for i in range(16)
                )
                pred = (s + 16) >> 5
            elif have_a:
                pred = (sum(ylum[y0 - 1][x0 + i] for i in range(16)) + 8) >> 4
            elif have_l:
                pred = (sum(ylum[y0 + i][x0 - 1] for i in range(16)) + 8) >> 4
            else:
                pred = 128
            for sb in range(16):
                br, bc = (sb // 4) * 4, (sb % 4) * 4
                res = yres[sb]
                for r in range(4):
                    for c in range(4):
                        ylum[y0 + br + r][x0 + bc + c] = max(
                            0, min(255, pred + res[4 * r + c])
                        )

    # Fail-loud guard for FOREIGN streams: this decoder's entropy/quant
    # tables are repo-defined swap-ins, not the RFC 6386 empirical
    # values, so a real-crawl VP8 key frame would parse through the same
    # path into silently wrong pixels. Self-produced streams are exactly
    # re-encodable (the DC-only subset is idempotent on its own
    # reconstructions — pytest-pinned), so verify by re-encoding the
    # reconstruction and comparing bytes; anything else raises unless
    # the caller explicitly opts in via SPARK_GRAFT_VP8_FOREIGN=1.
    # Byte-identical frames decode and verify identically, so the
    # verdict is memoized per frame bytes (bounded, executor-local) —
    # this removes the re-encode from the hot path when a corpus
    # repeats frame content without weakening the guarantee.
    import os as _os

    if (
        _os.environ.get("SPARK_GRAFT_VP8_FOREIGN") != "1"
        and frame not in _VP8_VERIFIED
    ):
        gray = bytes(v for row in ylum for v in row)
        ver = encode_vp8(width, height, gray, qi)
        vsz = int.from_bytes(ver[16:20], "little")
        if ver[20 : 20 + vsz] != frame:
            raise NotImplementedError(
                "foreign VP8 stream: decoder uses repo-defined (non-RFC-"
                "6386) entropy tables, so this decode would be silently "
                "non-conformant; set SPARK_GRAFT_VP8_FOREIGN=1 to decode "
                "anyway"
            )
        if len(frame) <= 1 << 20:  # don't hold multi-MB frames
            _VP8_VERIFIED[bytes(frame)] = None
            if len(_VP8_VERIFIED) > 4096:
                _VP8_VERIFIED.pop(next(iter(_VP8_VERIFIED)))

    # flat 128 chroma -> BT.601 collapses to R=G=B=Y
    px = bytearray(width * height * 3)
    for y in range(height):
        row = ylum[y]
        for x in range(width):
            v = row[x]
            i = (y * width + x) * 3
            px[i] = px[i + 1] = px[i + 2] = v
    return ImageData(width, height, 3, 255, bytes(px))


def _decode_webp(payload: bytes) -> ImageData:
    """RIFF/WEBP decoder: VP8L (lossless, full) and the VP8 key-frame
    structural subset above. Extended VP8X raises
    ``NotImplementedError``; malformed streams raise ``ValueError``."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a RIFF/WEBP container")
    pos, data = 12, None
    while pos + 4 <= len(payload):
        fourcc = payload[pos : pos + 4]
        # classify the fourcc BEFORE requiring size bytes: a truncated
        # "VP8X" header is still identifiably a format we don't do
        if fourcc == b"VP8X":
            raise NotImplementedError(
                "extended VP8X WebP (animation/alpha chunks) not supported"
            )
        if pos + 8 > len(payload):
            break
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        if fourcc == b"VP8 ":
            frame = payload[pos + 8 : pos + 8 + size]
            if len(frame) < size:
                raise ValueError("truncated VP8 chunk")
            return _decode_vp8(frame)
        if fourcc == b"VP8L":
            data = payload[pos + 8 : pos + 8 + size]
            break
        pos += 8 + size + (size & 1)
    if data is None:
        raise ValueError("no VP8L chunk in WEBP container")

    br = _LsbBitReader(data)
    if br.bits(8) != 0x2F:
        raise ValueError("bad VP8L signature")
    width = br.bits(14) + 1
    height = br.bits(14) + 1
    alpha_hint = br.bits(1)
    if br.bits(3) != 0:
        raise ValueError("unknown VP8L version")

    transforms: list = []
    seen_types: set = set()
    cur_w = width
    while br.bits(1):
        t = br.bits(2)
        if t in seen_types:
            raise ValueError("duplicate VP8L transform")
        seen_types.add(t)
        if t in (0, 1):  # predictor / color, tile-coded
            size_bits = br.bits(3) + 2
            bs = 1 << size_bits
            tw, th = (cur_w + bs - 1) >> size_bits, (height + bs - 1) >> size_bits
            sub = _vp8l_decode_spatial(br, tw, th, False)
            transforms.append((t, (size_bits, tw, sub, cur_w)))
        elif t == 2:
            transforms.append((2, cur_w))
        else:  # color-indexing
            psize = br.bits(8) + 1
            deltas = _vp8l_decode_spatial(br, psize, 1, False)
            palette, acc = [], 0
            for d in deltas:
                acc = _vp8l_add_px(acc, d) if palette else d
                palette.append(acc)
            xbits = _vp8l_xbits(psize)
            transforms.append((3, (palette, xbits, cur_w)))
            if xbits:
                cur_w = (cur_w + (1 << xbits) - 1) >> xbits

    argb = _vp8l_decode_spatial(br, cur_w, height, True)

    for t, info in reversed(transforms):
        if t == 2:  # add-green
            argb = [
                (p & 0xFF00FF00)
                | (((p >> 16) + (p >> 8)) & 0xFF) << 16
                | ((p + (p >> 8)) & 0xFF)
                for p in argb
            ]
        elif t == 0:  # predictor inverse
            size_bits, tw, sub, w = info
            out: list = []
            for y in range(height):
                for x in range(w):
                    i = y * w + x
                    if x == 0 and y == 0:
                        pred = 0xFF000000
                    elif y == 0:
                        pred = out[i - 1]
                    elif x == 0:
                        pred = out[i - w]
                    else:
                        mode = (sub[(y >> size_bits) * tw + (x >> size_bits)] >> 8) & 0xFF
                        pred = _vp8l_predict(
                            mode, out[i - 1], out[i - w],
                            out[i - w - 1], out[i - w + 1],
                        )
                    out.append(_vp8l_add_px(argb[i], pred))
            argb = out
        elif t == 1:  # color transform inverse
            size_bits, tw, sub, w = info
            out = []
            for y in range(height):
                for x in range(w):
                    p = argb[y * w + x]
                    elt = sub[(y >> size_bits) * tw + (x >> size_bits)]
                    g2r, g2b, r2b = elt & 0xFF, (elt >> 8) & 0xFF, (elt >> 16) & 0xFF
                    a, r, g, b = p >> 24, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF
                    r = (r + _vp8l_ct_delta(g2r, g)) & 0xFF
                    b = (b + _vp8l_ct_delta(g2b, g) + _vp8l_ct_delta(r2b, r)) & 0xFF
                    out.append((a << 24) | (r << 16) | (g << 8) | b)
            argb = out
        else:  # color-indexing inverse (+ bundling unpack)
            palette, xbits, w = info
            out = []
            if xbits:
                per = 8 >> xbits
                mask = (1 << per) - 1
                packed_w = (w + (1 << xbits) - 1) >> xbits
                for y in range(height):
                    for x in range(w):
                        gch = (argb[y * packed_w + (x >> xbits)] >> 8) & 0xFF
                        idx = (gch >> ((x & ((1 << xbits) - 1)) * per)) & mask
                        out.append(palette[idx] if idx < len(palette) else 0)
            else:
                for p in argb:
                    idx = (p >> 8) & 0xFF
                    out.append(palette[idx] if idx < len(palette) else 0)
            argb = out

    channels = 4 if alpha_hint else 3
    buf = bytearray(width * height * channels)
    for i, p in enumerate(argb):
        o = i * channels
        buf[o] = (p >> 16) & 0xFF
        buf[o + 1] = (p >> 8) & 0xFF
        buf[o + 2] = p & 0xFF
        if channels == 4:
            buf[o + 3] = p >> 24
    return ImageData(width, height, channels, 255, bytes(buf))


# --------------------------------------------------------------------------
# FLAC (RFC 9639) — lossless compressed audio, pure integer arithmetic.
#
# Decoder: STREAMINFO parse, frame sync + header (CRC-8 checked), all four
# subframe families (constant, verbatim, fixed orders 0-4, LPC any order),
# Rice-coded residuals with partitioning and the 5-bit escape, frame CRC-16,
# and the STREAMINFO MD5 gate over the decoded PCM. Mid/side stereo
# decorrelation raises NotImplementedError (a documented boundary — the
# encoder below never emits it); malformed streams raise ValueError.
# Encoder: conformant mono streams, blocksize-framed, per-subframe choice of
# constant / verbatim / best fixed predictor (order 0-4), Rice parameter
# sweep, optional forced pseudo-LPC subframes to exercise the decoder's LPC
# path. Everything is exact integer math end to end (prediction, Rice,
# CRCs), so a lossless round trip is a bit-exact equality gate — the same
# oracle pattern as PNG/GIF. Reference parity note: the reference repo has
# no multimodal surface at all (SURVEY.md §2); this extends the
# LLM-pipeline scope alongside WAV/ADPCM.
# --------------------------------------------------------------------------


def _flac_utf8_number(n: int) -> bytes:
    """FLAC's extended-UTF-8 coding of frame/sample numbers (RFC 9639
    §9.1.5 — UTF-8-style up to 7 bytes, values to 2^36-1)."""
    if n < 0x80:
        return bytes([n])
    prefixes = [0xC0, 0xE0, 0xF0, 0xF8, 0xFC, 0xFE]
    # count continuation bytes needed: with `extra` continuations the
    # head byte holds 6 - extra payload bits
    extra = 1
    while extra < 6 and n >= (1 << (6 * extra + (6 - extra))):
        extra += 1
    cont = [(0x80 | ((n >> (6 * i)) & 0x3F)) for i in range(extra)][::-1]
    head = prefixes[extra - 1] | (n >> (6 * extra))
    return bytes([head] + cont)


def _flac_read_utf8_number(br: "_MsbBitReader") -> int:
    b0 = br.bits(8)
    if b0 < 0x80:
        return b0
    extra = 0
    mask = 0x40
    while b0 & mask:
        extra += 1
        mask >>= 1
    if extra == 0 or extra > 6:
        raise ValueError("invalid FLAC UTF-8 coded number")
    n = b0 & (mask - 1)
    for _ in range(extra):
        c = br.bits(8)
        if c & 0xC0 != 0x80:
            raise ValueError("invalid FLAC UTF-8 continuation byte")
        n = (n << 6) | (c & 0x3F)
    return n


_FLAC_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _rice_cost(residuals: list, param: int) -> int:
    """Exact bit cost of Rice-coding ``residuals`` with ``param``."""
    cost = 0
    for r in residuals:
        # zigzag: non-negative -> 2r, negative -> -2r-1
        z = (r << 1) if r >= 0 else (((-r) << 1) - 1)
        cost += (z >> param) + 1 + param
    return cost


def _write_residuals(bw: "_MsbBitWriter", residuals: list) -> None:
    """Rice residual block, coding method 0, partition order 0, with the
    best 4-bit parameter (escape 0b1111 -> 5-bit raw width when even the
    widest parameter loses to raw storage)."""
    best_p, best_c = 0, None
    for p in range(15):
        c = _rice_cost(residuals, p)
        if best_c is None or c < best_c:
            best_p, best_c = p, c
    raw_bits = max(
        (x if x >= 0 else ~x).bit_length() + 1 for x in residuals
    ) if residuals else 1
    bw.bits(0, 2)  # coding method 0: 4-bit Rice parameters
    bw.bits(0, 4)  # partition order 0
    if best_c is not None and best_c <= len(residuals) * raw_bits + 5:
        bw.bits(best_p, 4)
        for r in residuals:
            z = (r << 1) if r >= 0 else (((-r) << 1) - 1)
            bw.unary(z >> best_p)
            if best_p:
                bw.bits(z & ((1 << best_p) - 1), best_p)
    else:
        bw.bits(0xF, 4)  # escape: raw residuals
        bw.bits(raw_bits, 5)
        for r in residuals:
            bw.bits(r & ((1 << raw_bits) - 1), raw_bits)


def _read_residuals(br: "_MsbBitReader", block_size: int, order: int) -> list:
    method = br.bits(2)
    if method > 1:
        raise ValueError("reserved FLAC residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = br.bits(4)
    nparts = 1 << porder
    # spec (RFC 9639): block size must be divisible by the partition
    # count; with porder > 0 the first partition has
    # (block_size >> porder) - order samples which must be positive
    if block_size % nparts:
        raise ValueError("FLAC partition order does not divide block size")
    if porder and (block_size >> porder) <= order:
        raise ValueError("FLAC predictor order exceeds first partition")
    out = []
    for part in range(nparts):
        n = (block_size >> porder) - (order if part == 0 else 0)
        if n < 0:
            raise ValueError("FLAC predictor order exceeds first partition")
        p = br.bits(pbits)
        if p == escape:
            width = br.bits(5)
            for _ in range(n):
                out.append(br.signed(width) if width else 0)
        else:
            for _ in range(n):
                q = br.unary()
                z = (q << p) | (br.bits(p) if p else 0)
                out.append((z >> 1) ^ -(z & 1))  # un-zigzag
    return out


def _encode_subframe(bw: "_MsbBitWriter", samples: list, bps: int, force: str | None) -> None:
    n = len(samples)
    if force is None and n and all(s == samples[0] for s in samples):
        bw.bits(0, 1)
        bw.bits(0, 6)  # constant
        bw.bits(0, 1)
        bw.bits(samples[0] & ((1 << bps) - 1), bps)
        return
    if force == "verbatim" or (force == "lpc" and n <= 3):
        # a tail block shorter than the LPC order stores verbatim
        bw.bits(0, 1)
        bw.bits(1, 6)
        bw.bits(0, 1)
        for s in samples:
            bw.bits(s & ((1 << bps) - 1), bps)
        return
    if force == "lpc":
        # pseudo-LPC: fixed integer coefficients [3,-3,1] shift 1, order 3
        # — any (coef, shift) pair is conformant since the residual is
        # computed against the SAME prediction the decoder replays; this
        # exists to exercise the decoder's LPC path with exact math.
        order, coefs, shift, prec = 3, [3, -3, 1], 1, 4
        if n <= order:
            raise ValueError("block too short for forced LPC subframe")
        bw.bits(0, 1)
        bw.bits(0x20 | (order - 1), 6)
        bw.bits(0, 1)
        for s in samples[:order]:
            bw.bits(s & ((1 << bps) - 1), bps)
        bw.bits(prec - 1, 4)
        bw.bits(shift & 0x1F, 5)
        for c in coefs:
            bw.bits(c & ((1 << prec) - 1), prec)
        res = [
            samples[i]
            - (sum(c * samples[i - 1 - j] for j, c in enumerate(coefs)) >> shift)
            for i in range(order, n)
        ]
        _write_residuals(bw, res)
        return
    # best fixed predictor by total absolute residual (the standard
    # order-selection heuristic)
    best = None
    for order, coefs in _FLAC_FIXED_COEFS.items():
        if n <= order:
            continue
        res = [
            samples[i] - sum(c * samples[i - 1 - j] for j, c in enumerate(coefs))
            for i in range(order, n)
        ]
        score = sum(abs(r) for r in res)
        if best is None or score < best[0]:
            best = (score, order, res)
    if best is None:  # degenerate tiny block
        bw.bits(0, 1)
        bw.bits(1, 6)
        bw.bits(0, 1)
        for s in samples:
            bw.bits(s & ((1 << bps) - 1), bps)
        return
    _, order, res = best
    bw.bits(0, 1)
    bw.bits(0x08 | order, 6)  # fixed subframe, order 0-4
    bw.bits(0, 1)
    for s in samples[:order]:
        bw.bits(s & ((1 << bps) - 1), bps)
    _write_residuals(bw, res)


def encode_flac(
    samples: list,
    sample_rate: int = 8000,
    bps: int = 16,
    block_size: int = 4096,
    force: str | None = None,
    channels: int = 1,
    _parts: list | None = None,
    stereo_mode: str = "independent",
) -> bytes:
    """Conformant FLAC stream: fLaC marker + STREAMINFO (with the real
    PCM MD5), then blocksize-framed audio. ``samples`` are interleaved
    when ``channels`` > 1. ``stereo_mode`` picks the channel
    assignment for stereo input: "independent" (default), or the
    decorrelated pairs "left_side" / "right_side" / "mid_side"
    (RFC 9639 §9.1.3 — side = L-R carried in a bps+1 subframe, mid =
    (L+R)>>1 with the lost LSB recovered from side's parity; exact
    integers both ways). ``force`` pins every subframe to "verbatim"
    or "lpc" (pseudo-LPC) to exercise those decoder paths; default
    picks constant or the best fixed predictor."""
    import hashlib
    import struct

    if channels < 1 or channels > 8:
        raise ValueError("FLAC supports 1-8 channels")
    ch_codes = {"independent": channels - 1, "left_side": 8,
                "right_side": 9, "mid_side": 10}
    if stereo_mode not in ch_codes:
        raise ValueError(f"bad stereo_mode {stereo_mode!r}")
    if stereo_mode != "independent" and channels != 2:
        raise ValueError("decorrelated stereo_mode needs channels=2")
    if len(samples) % channels:
        raise ValueError("interleaved sample count not divisible by channels")
    n_total = len(samples) // channels  # inter-channel samples
    lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
    if samples and not all(lo <= s <= hi for s in samples):
        raise ValueError(f"sample out of {bps}-bit range")
    pcm = b"".join(
        int(s).to_bytes((bps + 7) // 8, "little", signed=True) for s in samples
    )
    md5 = hashlib.md5(pcm).digest()
    frames = []
    frame_no = 0
    for off in range(0, max(n_total, 1), block_size):
        blk_n = min(block_size, n_total - off)
        if blk_n <= 0:
            break
        hdr = _MsbBitWriter()
        hdr.bits(0b11111111111110, 14)
        hdr.bits(0, 1)  # reserved
        hdr.bits(0, 1)  # fixed blocking strategy: coded number = frame #
        hdr.bits(0b0111, 4)  # block size: 16-bit value-1 at header end
        hdr.bits(0, 4)  # sample rate: from STREAMINFO
        hdr.bits(ch_codes[stereo_mode], 4)  # channel assignment
        hdr.bits({8: 0b001, 12: 0b010, 16: 0b100, 20: 0b101, 24: 0b110, 32: 0b111}[bps], 3)
        hdr.bits(0, 1)  # reserved
        head = hdr.flush() + _flac_utf8_number(frame_no) + struct.pack(
            ">H", blk_n - 1
        )
        head += bytes([_crc(head, 8, 0x07)])
        bw = _MsbBitWriter()
        blocks = [
            samples[(off + 0) * channels + ch
                    : (off + blk_n) * channels : channels]
            for ch in range(channels)
        ]
        widths = [bps] * channels
        if stereo_mode != "independent":
            left, right = blocks
            side = [l - r for l, r in zip(left, right)]
            if stereo_mode == "left_side":
                blocks, widths = [left, side], [bps, bps + 1]
            elif stereo_mode == "right_side":
                blocks, widths = [side, right], [bps + 1, bps]
            else:  # mid_side
                mid = [(l + r) >> 1 for l, r in zip(left, right)]
                blocks, widths = [mid, side], [bps, bps + 1]
        for blk, w in zip(blocks, widths):
            _encode_subframe(bw, blk, w, force)
        body = head + bw.flush()
        frames.append(body + struct.pack(">H", _crc(body, 16, 0x8005)))
        frame_no += 1
    si = _MsbBitWriter()
    si.bits(block_size if n_total else 16, 16)  # min block size
    si.bits(block_size if n_total else 16, 16)  # max block size
    si.bits(0, 24)  # min frame size unknown
    si.bits(0, 24)  # max frame size unknown
    si.bits(sample_rate, 20)
    si.bits(channels - 1, 3)
    si.bits(bps - 1, 5)
    si.bits(n_total, 36)
    streaminfo = si.flush() + md5
    meta = bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo
    if _parts is not None:
        _parts.append((b"fLaC" + meta, frames))
    return b"fLaC" + meta + b"".join(frames)


def decode_flac(payload: bytes, verify_md5: bool = True) -> AudioData:
    """Decode a FLAC stream (mono or independent-channel stereo+) to PCM.

    Full integer decode: fixed and LPC predictors, Rice partitions with
    escapes, CRC-8/CRC-16 verification, and the STREAMINFO MD5 check
    over the reconstructed PCM (the spec's own end-to-end gate).
    Mid/side channel decorrelation raises ``NotImplementedError``."""
    import hashlib
    import struct

    if payload[:4] != b"fLaC":
        raise NotImplementedError(
            "only native FLAC streams decode dependency-free; got magic %r"
            % payload[:4]
        )
    pos = 4
    streaminfo = None
    while pos + 4 <= len(payload):
        hdr = payload[pos]
        last = hdr & 0x80
        btype = hdr & 0x7F
        size = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + size]
        if btype == 0:
            streaminfo = body
        pos += 4 + size
        if last:
            break
    if streaminfo is None or len(streaminfo) < 34:
        raise ValueError("missing or truncated FLAC STREAMINFO")
    sbr = _MsbBitReader(streaminfo)
    sbr.bits(16)
    sbr.bits(16)
    sbr.bits(24)
    sbr.bits(24)
    sample_rate = sbr.bits(20)
    channels = sbr.bits(3) + 1
    bps_si = sbr.bits(5) + 1
    n_total = sbr.bits(36)
    md5_expect = streaminfo[18:34]

    out_ch = [[] for _ in range(channels)]
    br = _MsbBitReader(payload, pos)
    while br.pos < len(payload) and sum(len(c) for c in out_ch) < n_total * channels:
        frame_start = br.pos
        if br.bits(14) != 0b11111111111110:
            raise ValueError("lost FLAC frame sync")
        br.bits(1)
        br.bits(1)  # blocking strategy (number semantics only)
        bs_code = br.bits(4)
        sr_code = br.bits(4)
        ch_code = br.bits(4)
        size_code = br.bits(3)
        br.bits(1)
        if ch_code > 10:
            raise ValueError(f"reserved FLAC channel assignment {ch_code}")
        # 8/9/10 = left-side / right-side / mid-side decorrelation
        # (RFC 9639 §9.1.3): two subframes, the SIDE one carrying one
        # extra bit; reconstruction is exact integer arithmetic below
        decorr = ch_code if ch_code >= 8 else None
        n_ch = 2 if decorr is not None else ch_code + 1
        if n_ch != channels:
            raise ValueError("FLAC frame channel count != STREAMINFO")
        _flac_read_utf8_number(br)
        if bs_code == 0:
            raise ValueError("reserved FLAC block size code")
        elif bs_code == 1:
            block_size = 192
        elif bs_code <= 5:
            block_size = 576 << (bs_code - 2)
        elif bs_code == 6:
            block_size = br.bits(8) + 1
        elif bs_code == 7:
            block_size = br.bits(16) + 1
        else:
            block_size = 256 << (bs_code - 8)
        if sr_code == 12:
            br.bits(8)
        elif sr_code in (13, 14):
            br.bits(16)
        elif sr_code == 15:
            raise ValueError("invalid FLAC sample rate code")
        bps = {
            0: bps_si, 1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32,
        }.get(size_code)
        if bps is None:
            raise ValueError("reserved FLAC sample size code")
        # CRC-8 covers the header bytes; reader is byte-aligned here
        if _crc(payload[frame_start : br.pos], 8, 0x07) != br.bits(8):
            raise ValueError("FLAC frame header CRC-8 mismatch")
        frame_ch: list = []
        for ch in range(n_ch):
            # the side subframe of a decorrelated pair is bps+1 wide
            side_extra = int(
                (decorr in (8, 10) and ch == 1)
                or (decorr == 9 and ch == 0)
            )
            if br.bits(1):
                raise ValueError("FLAC subframe padding bit set")
            stype = br.bits(6)
            wasted = 0
            if br.bits(1):
                wasted = br.unary() + 1
            eff = bps + side_extra - wasted
            if stype == 0:
                v = _MsbBitReader.signed(br, eff)
                sub = [v] * block_size
            elif stype == 1:
                sub = [br.signed(eff) for _ in range(block_size)]
            elif 8 <= stype <= 12:
                order = stype - 8
                warm = [br.signed(eff) for _ in range(order)]
                res = _read_residuals(br, block_size, order)
                coefs = _FLAC_FIXED_COEFS[order]
                sub = list(warm)
                for r in res:
                    sub.append(
                        r + sum(c * sub[-1 - j] for j, c in enumerate(coefs))
                    )
            elif stype >= 32:
                order = (stype & 0x1F) + 1
                warm = [br.signed(eff) for _ in range(order)]
                prec = br.bits(4) + 1
                if prec == 16:
                    raise ValueError("invalid FLAC LPC precision code")
                shift = br.bits(5)
                if shift >= 16:
                    raise ValueError("negative FLAC LPC shift")
                coefs = [br.signed(prec) for _ in range(order)]
                res = _read_residuals(br, block_size, order)
                sub = list(warm)
                for r in res:
                    sub.append(
                        r
                        + (sum(c * sub[-1 - j] for j, c in enumerate(coefs)) >> shift)
                    )
            else:
                raise ValueError(f"reserved FLAC subframe type {stype}")
            if wasted:
                sub = [s << wasted for s in sub]
            frame_ch.append(sub)
        if decorr == 8:      # left-side: R = L - S
            left, side = frame_ch
            frame_ch = [left, [l - s for l, s in zip(left, side)]]
        elif decorr == 9:    # right-side: L = R + S
            side, right = frame_ch
            frame_ch = [[r + s for r, s in zip(right, side)], right]
        elif decorr == 10:   # mid-side: the spec's lost-LSB recovery
            mid, side = frame_ch
            left, right = [], []
            for m, s in zip(mid, side):
                m = (m << 1) | (s & 1)
                left.append((m + s) >> 1)
                right.append((m - s) >> 1)
            frame_ch = [left, right]
        for ch in range(channels):
            out_ch[ch].extend(frame_ch[ch])
        br.align()
        body_end = br.pos
        if body_end + 2 > len(payload):
            raise ValueError("truncated FLAC frame (missing CRC-16)")
        if _crc(payload[frame_start:body_end], 16, 0x8005) != struct.unpack(
            ">H", payload[body_end : body_end + 2]
        )[0]:
            raise ValueError("FLAC frame CRC-16 mismatch")
        br = _MsbBitReader(payload, body_end + 2)

    # interleave and truncate to the STREAMINFO sample count
    per_ch = n_total if n_total else min(len(c) for c in out_ch)
    samples = []
    for i in range(per_ch):
        for ch in range(channels):
            samples.append(out_ch[ch][i])
    if verify_md5 and md5_expect != b"\x00" * 16:
        pcm = b"".join(
            int(s).to_bytes((bps_si + 7) // 8, "little", signed=True)
            for s in samples
        )
        if hashlib.md5(pcm).digest() != md5_expect:
            raise ValueError("FLAC PCM MD5 mismatch")
    return AudioData(sample_rate, channels, bps_si, samples)


def _skip_id3v2(payload: bytes) -> bytes:
    """Skip a leading ID3v2 tag (the usual MP3 file prefix): 10-byte
    header with a synchsafe 28-bit size, optional footer flag."""
    if payload[:3] != b"ID3":
        return payload
    if len(payload) < 10:
        raise ValueError("truncated ID3v2 header")
    size = 0
    for b in payload[6:10]:
        if b & 0x80:
            raise ValueError("bad ID3v2 synchsafe size byte")
        size = (size << 7) | b
    end = 10 + size + (10 if payload[5] & 0x10 else 0)
    if end > len(payload):
        raise ValueError("ID3v2 tag runs past end of stream")
    return payload[end:]


def decode_audio(payload: bytes) -> AudioData:
    """Dependency-free audio decode, dispatching on the container magic
    the way :func:`decode_image` does for rasters: RIFF/WAVE (PCM16,
    IMA ADPCM, or G.711) -> :func:`decode_wav`; native FLAC ->
    :func:`decode_flac`; MPEG audio frames (optionally behind an ID3v2
    tag) -> :func:`decode_mp3` (MPEG-1 Layer III structural subset —
    anything outside it raises NotImplementedError from the parse);
    ADTS framing (MPEG layer bits 00) -> :func:`decode_aac` (AAC-LC
    mono structural subset). Other formats raise
    ``NotImplementedError`` (opus/vorbis need codec libraries this
    environment does not ship); malformed streams of a recognized
    format raise ``ValueError``."""
    if payload[:4] == b"RIFF":
        return decode_wav(payload)
    if payload[:4] == b"fLaC":
        return decode_flac(payload)
    if payload[:4] == b"OggS":
        # FLAC-mapped Ogg decodes end to end; Vorbis/Opus payloads
        # gate loudly inside decode_ogg_flac
        return decode_ogg_flac(payload)
    if payload[:3] == b"ID3":
        return decode_mp3(_skip_id3v2(payload))
    if len(payload) >= 2 and payload[0] == 0xFF and payload[1] & 0xE0 == 0xE0:
        if (payload[1] >> 1) & 3 == 0:
            # layer bits 00 = ADTS AAC framing (MPEG audio layers are
            # 01/10/11) -> the AAC-LC structural decode; out-of-subset
            # streams gate loudly inside decode_aac
            return decode_aac(payload)
        return decode_mp3(payload)
    raise NotImplementedError(
        "only RIFF/WAVE, FLAC, and MPEG-1 Layer III decode dependency-"
        "free; got magic %r" % payload[:4]
    )


# ---------------------------------------------------------------------------
# EXIF / TIFF metadata (TIFF 6.0 IFD structure; EXIF 2.x tag layout):
# byte-exact IFD walk — header endianness (II/MM + magic 42), 12-byte
# entries (tag u16, type u16, count u32, inline-or-offset value field,
# values >4 bytes in a data area), IFD0 chained to the EXIF private
# sub-IFD via tag 0x8769, RATIONAL as u32 pairs. The most common
# real-image metadata need (orientation, resolution, camera fields,
# exposure) — dependency-free, same chunk-walk discipline as the PNG/
# JPEG parsers above. JPEG carriage is the APP1 "Exif\0\0" segment.
# ---------------------------------------------------------------------------

# type code -> (element size in bytes, struct letter)
_TIFF_TYPES = {
    1: (1, "B"),   # BYTE
    2: (1, None),  # ASCII (NUL-terminated)
    3: (2, "H"),   # SHORT
    4: (4, "I"),   # LONG
    5: (8, None),  # RATIONAL (two u32: numerator, denominator)
    7: (1, None),  # UNDEFINED (opaque bytes)
    9: (4, "i"),   # SLONG
    10: (8, None),  # SRATIONAL (two s32)
}

_EXIF_SUBIFD_TAG = 0x8769


def _exif_pack_values(typ: int, values, end: str) -> bytes:
    """Serialize a tag's value list to its on-disk byte form."""
    import struct

    if typ == 2:  # ASCII: one string, NUL-terminated
        (s,) = values
        return s.encode("ascii") + b"\x00"
    if typ == 7:  # UNDEFINED: raw bytes
        (b,) = values
        return bytes(b)
    if typ in (5, 10):  # (S)RATIONAL: (num, den) pairs
        letter = "I" if typ == 5 else "i"
        out = b""
        for num, den in values:
            out += struct.pack(end + letter * 2, num, den)
        return out
    size, letter = _TIFF_TYPES[typ]
    return struct.pack(end + letter * len(values), *values)


def _exif_count(typ: int, values) -> int:
    if typ == 2:
        return len(values[0].encode("ascii")) + 1
    if typ == 7:
        return len(values[0])
    return len(values)


def encode_exif(
    ifd0: list, exif_ifd: list | None = None, byte_order: str = "II"
) -> bytes:
    """TIFF/EXIF writer: header + IFD0 (+ EXIF sub-IFD via tag 0x8769),
    values >4 bytes spilled to a data area after each IFD, inline values
    left-justified in the 4-byte field per TIFF 6.0. Entries are
    ``(tag, type, [values])`` with ASCII as one string, RATIONAL as
    (num, den) tuples; entries are written sorted by tag as the spec
    requires."""
    import struct

    if byte_order not in ("II", "MM"):
        raise ValueError("byte_order must be 'II' or 'MM'")
    end = "<" if byte_order == "II" else ">"

    def build_ifd(entries: list, ifd_at: int, next_off: int) -> bytes:
        # layout: count, entries, next-IFD offset (0), then data area
        data_at = ifd_at + 2 + 12 * len(entries) + 4
        head = struct.pack(end + "H", len(entries))
        body, data = b"", b""
        for tag, typ, values in sorted(entries):
            raw = _exif_pack_values(typ, values, end)
            cnt = _exif_count(typ, values)
            if len(raw) <= 4:
                field = raw + b"\x00" * (4 - len(raw))
            else:
                field = struct.pack(end + "I", data_at + len(data))
                data += raw
                if len(raw) & 1:  # keep offsets word-aligned
                    data += b"\x00"
            body += struct.pack(end + "HHI", tag, typ, cnt) + field
        return head + body + struct.pack(end + "I", next_off) + data

    header = byte_order.encode() + struct.pack(end + "HI", 42, 8)
    if exif_ifd is not None:
        # two-pass: IFD0 size depends only on its entry list, so the
        # sub-IFD offset is known once IFD0's data length is
        probe = build_ifd(
            ifd0 + [(_EXIF_SUBIFD_TAG, 4, [0])], 8, 0
        )
        sub_at = 8 + len(probe)
        ifd0_full = ifd0 + [(_EXIF_SUBIFD_TAG, 4, [sub_at])]
        return (
            header
            + build_ifd(ifd0_full, 8, 0)
            + build_ifd(exif_ifd, sub_at, 0)
        )
    return header + build_ifd(ifd0, 8, 0)


def encode_exif_jpeg(
    ifd0: list, exif_ifd: list | None = None, byte_order: str = "II"
) -> bytes:
    """Minimal JPEG carrying an APP1 Exif segment (SOI + APP1 + EOI):
    the standard on-disk carriage for camera metadata."""
    tiff = encode_exif(ifd0, exif_ifd, byte_order)
    seg = b"Exif\x00\x00" + tiff
    if len(seg) + 2 > 0xFFFF:
        raise ValueError("EXIF payload exceeds one APP1 segment")
    return (
        b"\xff\xd8"
        + b"\xff\xe1" + (len(seg) + 2).to_bytes(2, "big") + seg
        + b"\xff\xd9"
    )


def decode_exif(tiff: bytes) -> list:
    """Byte-exact TIFF/EXIF IFD walk. Returns one row per entry:
    ``(ifd, tag, type, count, value)`` with ``ifd`` in {"IFD0","EXIF"},
    RATIONAL rendered ``num/den``, multi-valued numerics space-joined,
    ASCII stripped of its terminating NUL, UNDEFINED hex-encoded.
    Malformed structures raise ``ValueError`` (a silent partial walk
    would poison downstream metadata features)."""
    import struct

    if len(tiff) < 8:
        raise ValueError("truncated TIFF header")
    order = tiff[:2]
    if order == b"II":
        end = "<"
    elif order == b"MM":
        end = ">"
    else:
        raise ValueError(f"bad TIFF byte order {order!r}")
    magic, ifd_at = struct.unpack(end + "HI", tiff[2:8])
    if magic != 42:
        raise ValueError(f"bad TIFF magic {magic}")

    rows: list = []
    sub_offsets: list = []
    seen_ifds: set = set()

    def walk(at: int, name: str) -> None:
        if at in seen_ifds:
            raise ValueError(f"cyclic IFD chain (offset {at} revisited)")
        seen_ifds.add(at)
        if at + 2 > len(tiff):
            raise ValueError(f"{name} offset past end of stream")
        (n,) = struct.unpack(end + "H", tiff[at : at + 2])
        base = at + 2
        if base + 12 * n + 4 > len(tiff):
            raise ValueError(f"truncated {name}")
        for i in range(n):
            e = base + 12 * i
            tag, typ, cnt = struct.unpack(end + "HHI", tiff[e : e + 8])
            if typ not in _TIFF_TYPES:
                raise ValueError(f"unknown TIFF type {typ} (tag 0x{tag:04x})")
            size = _TIFF_TYPES[typ][0] * cnt
            if size <= 4:
                raw = tiff[e + 8 : e + 8 + size]
            else:
                (off,) = struct.unpack(end + "I", tiff[e + 8 : e + 12])
                if off + size > len(tiff):
                    raise ValueError(f"tag 0x{tag:04x} value past end")
                raw = tiff[off : off + size]
            if typ == 2:
                value = raw.split(b"\x00")[0].decode("ascii", "replace")
            elif typ == 7:
                value = raw.hex()
            elif typ in (5, 10):
                letter = "I" if typ == 5 else "i"
                parts = struct.unpack(end + letter * 2 * cnt, raw)
                value = " ".join(
                    f"{parts[2 * j]}/{parts[2 * j + 1]}" for j in range(cnt)
                )
            else:
                letter = _TIFF_TYPES[typ][1]
                vals = struct.unpack(end + letter * cnt, raw)
                value = " ".join(str(v) for v in vals)
            if tag == _EXIF_SUBIFD_TAG and typ == 4 and cnt == 1:
                sub_offsets.append(int(value))
            rows.append((name, tag, typ, cnt, value))

    walk(ifd_at, "IFD0")
    for off in sub_offsets:
        if len(seen_ifds) > 32:
            raise ValueError("too many sub-IFDs (cap 32)")
        walk(off, "EXIF")
    return rows


def decode_exif_jpeg(payload: bytes) -> list:
    """Locate the APP1 "Exif\\0\\0" segment in a JPEG stream and walk
    its TIFF structure (:func:`decode_exif`). Raises ``ValueError`` when
    no EXIF segment exists — metadata absence must be explicit."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream")
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = payload[pos + 1]
        if marker in (0xD8, 0xD9):  # SOI/EOI carry no length
            pos += 2
            continue
        seg_len = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        if seg_len < 2 or pos + 2 + seg_len > len(payload):
            raise ValueError(f"bad JPEG segment length {seg_len} at {pos}")
        body = payload[pos + 4 : pos + 2 + seg_len]
        if marker == 0xE1 and body[:6] == b"Exif\x00\x00":
            return decode_exif(body[6:])
        if marker == 0xDA:  # entropy-coded data follows; no APP1 found
            break
        pos += 2 + seg_len
    raise ValueError("no APP1 Exif segment in JPEG stream")


# ---------------------------------------------------------------------------
# MP3 (MPEG-1 Audio Layer III, ISO/IEC 11172-3) — mono keyframe-style
# subset on the VP8 model: the full BITSTREAM STRUCTURE is per spec
# (11-bit sync + version/layer header, bitrate/samplerate indices,
# 17-byte mono side info with per-granule part2_3_length / big_values /
# global_gain / table_select / region counts, Huffman-coded big-values
# pairs with sign bits, pow-4/3 requantization, 36-point IMDCT with the
# long-block window, inter-granule overlap-add, and a per-subband-sample
# 32-tap synthesis stage), while the spec's EMPIRICAL constants are
# REPO-DEFINED swap-in module constants below:
#   - MP3_POW43: the |is|^(4/3) requant nonlinearity at x4 fixed point
#     (the spec evaluates it in floating point);
#   - MP3_C36 / MP3_WIN: the spec's own IMDCT cosine and sin window
#     FORMULAS (11172-3 2.4.3.4.6) rounded to x64 integer fixed point so
#     every decode is integer-exact and SQL-replayable;
#   - the big-values Huffman tables: an Elias-gamma prefix code per
#     magnitude (table_select id 1) standing in for the 32 empirical
#     spec tables (unavailable in this offline container);
#   - MP3_SYN: a 32-tap cosine synthesis window applied directly per
#     subband sample, standing in for the 512-coefficient empirical D
#     table + V-FIFO (same single-swap-in-point contract as the VP8
#     entropy tables: substituting the spec constants makes the path
#     conformant; until then the codec is exact against its own encoder
#     and refuses foreign structure loudly).
# The full 576-line granule decodes: big_values pairs across all 32
# subbands (per-subband IMDCT + overlap-add, frequency inversion, and
# the spec's N[b][p]=cos((2p+1)(2b+1)pi/64) synthesis matrixing —
# MP3_SYN2D, a spec FORMULA), the count1 region via the spec's
# STRUCTURAL fixed-length table B (complement bits + signs), and
# 21 long-block scalefactors (scalefac_compress slen packing per the
# spec's structural table; band widths MP3_SFB are a repo swap-in for
# the empirical Table B.8) on the power-of-two grid.
# scfsi scalefactor sharing decodes too (the second granule reuses
# granule 0's band groups — structural, 11172-3 2.4.2.7).
# The WINDOW-SWITCHING path decodes (2.4.3.4.6, all formulas
# structural): block types 1 (start) / 3 (stop) run the 36-point IMDCT
# under the start/stop windows; type 2 (short) runs THREE 12-point
# IMDCTs per subband under the short sine window, overlap-added at
# offsets 6/12/18 in the zero-padded 36-frame, with 3x12 short
# scalefactor bands (slen1 bands 0-5 / slen2 6-11, band widths
# MP3_SFB_SHORT a repo swap-in for Table B.8), per-window
# subblock_gain (8 gg steps = 2^2 each), and the 2.4.3.4.8 reorder
# from scalefactor-band-major storage to subband order.
# Remaining subset gates (each raises NotImplementedError, never
# silent): stereo modes, bit reservoir (main_data_begin != 0),
# MIXED blocks (mixed_block_flag=1), preflag, count1 table A
# (empirical), scalefactor shifts that exceed the gain (off the
# integer grid), and gains not on the 2^((gg-210)/4) grid. Structural
# simplification: the alias-reduction butterflies (empirical ci
# constants) are omitted — the chain is
# IMDCT/window/overlap/inversion/matrixing.
# ---------------------------------------------------------------------------

MP3_BITRATES = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
MP3_RATES = (44100, 48000, 32000)
MP3_POW43 = tuple(round((v ** (4.0 / 3.0)) * 4) for v in range(16))
MP3_C36 = tuple(
    tuple(
        round(64 * __import__("math").cos(
            __import__("math").pi / 72.0 * (2 * n + 1 + 18) * (2 * i + 1)
        ))
        for n in range(36)
    )
    for i in range(18)
)
MP3_WIN = tuple(
    round(64 * __import__("math").sin(__import__("math").pi / 36.0 * (n + 0.5)))
    for n in range(36)
)
MP3_SYN = tuple(
    round(64 * __import__("math").cos((2 * p + 1) * __import__("math").pi / 64.0))
    for p in range(32)
)
# Full 32-subband synthesis matrixing, the spec's own FORMULA
# N[b][p] = cos((2p+1)(2b+1)pi/64) (11172-3 2.4.3.2.2) rounded to the
# same x64 fixed point; row b=0 IS MP3_SYN, so subband-0-only streams
# (and their committed tap-table oracles) are bit-identical to the
# pre-widening chain.
MP3_SYN2D = tuple(
    tuple(
        round(64 * __import__("math").cos(
            (2 * p + 1) * (2 * b + 1) * __import__("math").pi / 64.0
        ))
        for p in range(32)
    )
    for b in range(32)
)
# Long-block scalefactor band widths: the spec's per-samplerate width
# tables are EMPIRICAL (Table B.8); repo swap-in = 21 bands, 11x16 +
# 10x40 = 576 lines (single swap point, same contract as the entropy
# tables).
MP3_SFB = (16,) * 11 + (40,) * 10
_MP3_SFB_START = tuple(sum(MP3_SFB[:b]) for b in range(21))
_MP3_SFB_OF_LINE = tuple(
    next(
        b for b in range(21)
        if sum(MP3_SFB[: b + 1]) > i
    )
    for i in range(576)
)
# scalefac_compress -> (slen1 bands 0-10, slen2 bands 11-20): a
# STRUCTURAL mapping printed in 11172-3 2.4.2.7, not an empirical
# optimization table.
MP3_SLEN = (
    (0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1), (1, 2), (1, 3),
    (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3), (4, 2), (4, 3),
)
# scfsi band groups (long blocks): the four User groups of 11172-3
# 2.4.2.7 — bands 0-5, 6-10, 11-15, 16-20. A set scfsi bit means the
# SECOND granule reuses the first granule's scalefactors for the group
# and transmits none (STRUCTURAL sharing, no empirical content).
MP3_SCFSI_BANDS = ((0, 6), (6, 11), (11, 16), (16, 21))
# Window-switching windows (11172-3 2.4.3.4.6, the spec's own FORMULAS
# — structural, rounded to the same x64 fixed point as MP3_WIN):
# start (block_type 1) rises like the normal window, holds 1, then
# falls on the short-window slope; stop (type 3) is its mirror; the
# short window (type 2) is sin(pi/12 (n+1/2)) over 12 samples, applied
# to each of the THREE 12-point IMDCTs.
MP3_WIN_START = tuple(
    round(64 * __import__("math").sin(__import__("math").pi / 36.0 * (n + 0.5)))
    if n < 18 else 64 if n < 24 else
    round(64 * __import__("math").sin(__import__("math").pi / 12.0 * (n - 18 + 0.5)))
    if n < 30 else 0
    for n in range(36)
)
MP3_WIN_STOP = tuple(
    0 if n < 6 else
    round(64 * __import__("math").sin(__import__("math").pi / 12.0 * (n - 6 + 0.5)))
    if n < 12 else 64 if n < 18 else
    round(64 * __import__("math").sin(__import__("math").pi / 36.0 * (n + 0.5)))
    for n in range(36)
)
MP3_WIN12 = tuple(
    round(64 * __import__("math").sin(__import__("math").pi / 12.0 * (n + 0.5)))
    for n in range(12)
)
# 12-point IMDCT cosines (11172-3 2.4.3.4.6 with n=12, a FORMULA):
# MP3_C12[k][i] = cos(pi/24 (2i+1+6)(2k+1)), x64 fixed point.
MP3_C12 = tuple(
    tuple(
        round(64 * __import__("math").cos(
            __import__("math").pi / 24.0 * (2 * i + 1 + 6) * (2 * k + 1)
        ))
        for i in range(12)
    )
    for k in range(6)
)
# Short-block scalefactor bands: 12 bands per window (slen1 covers
# bands 0-5, slen2 bands 6-11 — the spec's structural split); widths
# are the repo swap-in for empirical Table B.8: 6x8 + 6x24 = 192 lines
# per window, 576 per granule.
MP3_SFB_SHORT = (8,) * 6 + (24,) * 6
_MP3_SHORT_OFF = tuple(
    sum(MP3_SFB_SHORT[:b]) for b in range(13)
)
def _mp3_short_tables() -> tuple:
    """Derived short-block index tables. Spectra are STORED
    scalefactor-band-major with the three windows' values consecutive
    inside each band (the spec's transmission order); the decoder's
    REORDER step (11172-3 2.4.3.4.8) maps each subband's 18 lines
    (three windows x 6) back to those storage slots. Returns
    ``(wb_of_line, stored_of_subband_pos)``."""
    wb = []
    for i in range(576):
        b = next(
            b for b in range(12)
            if 3 * _MP3_SHORT_OFF[b] <= i < 3 * _MP3_SHORT_OFF[b + 1]
        )
        wb.append(((i - 3 * _MP3_SHORT_OFF[b]) // MP3_SFB_SHORT[b], b))
    stored = []
    for j in range(576):
        s, w, i = j // 18, (j % 18) // 6, j % 6
        m = 6 * s + i  # per-window line index 0..191
        b = next(
            b for b in range(12)
            if _MP3_SHORT_OFF[b] <= m < _MP3_SHORT_OFF[b + 1]
        )
        stored.append(
            3 * _MP3_SHORT_OFF[b] + w * MP3_SFB_SHORT[b]
            + (m - _MP3_SHORT_OFF[b])
        )
    return tuple(wb), tuple(stored)


_MP3_SHORT_WB_OF_LINE, _MP3_SHORT_STORED = _mp3_short_tables()

# MIXED blocks (mixed_block_flag=1, 11172-3 2.4.3.4.6): the two lowest
# SUBBANDS (lines 0..35) stay long-windowed while subbands 2..31 run
# the short path. The spec's empirical Table B.8 makes its long/short
# scalefactor geometries meet exactly at line 36; the repo swap-in
# widths don't, so the MIXED scalefactor geometry is its own swap-in
# (same contract as the width tables themselves): 3 long bands
# (16, 16, 4) tiling the 36 long lines, and per short window 11 bands
# (4, 8x4, 24x6) tiling the remaining 180 per-window lines. slen1
# covers the long bands + short bands 0-4, slen2 short bands 5-10
# (the spec's structural slen split, re-tiled).
MP3_SFB_MIXED_LONG = (16, 16, 4)
MP3_SFB_SHORT_MIXED = (4, 8, 8, 8, 8, 24, 24, 24, 24, 24, 24)


def _mp3_mixed_tables() -> tuple:
    """Derived mixed-block index tables: ``stored_of_subband_pos``
    (identity over the 36 long lines, band-major short layout above)
    and ``(window, band)`` of each STORED short-part index."""
    off = [0]
    for w_ in MP3_SFB_SHORT_MIXED:
        off.append(off[-1] + w_)
    stored = list(range(36))
    for j in range(36, 576):
        s, w, k = j // 18, (j % 18) // 6, j % 6
        m = 6 * s + k - 12  # per-window line inside the short part
        b = next(b for b in range(11) if off[b] <= m < off[b + 1])
        stored.append(
            36 + 3 * off[b] + w * MP3_SFB_SHORT_MIXED[b] + (m - off[b])
        )
    wb = [None] * 576
    pos = 36
    for b in range(11):
        for w in range(3):
            for _ in range(MP3_SFB_SHORT_MIXED[b]):
                wb[pos] = (w, b)
                pos += 1
    return tuple(stored), tuple(wb)


_MP3_MIXED_STORED, _MP3_MIXED_WB = _mp3_mixed_tables()


def _mp3_scfsi_shared(scfsi, band: int) -> bool:
    for bit, (lo, hi) in zip(scfsi, MP3_SCFSI_BANDS):
        if bit and lo <= band < hi:
            return True
    return False
MP3_SHIFT = 21  # one final round-half-up >> after the exact integer chain


def _mp3_put_gamma(bw, v: int) -> None:
    """Elias-gamma magnitude code (repo-defined big-values table id 1):
    k zero bits then the (k+1)-bit binary of v+1."""
    g = v + 1
    k = g.bit_length() - 1
    bw.bits(0, k)
    bw.bits(g, k + 1)


def _mp3_get_gamma(br) -> int:
    k = 0
    while br.bits(1) == 0:
        k += 1
        if k > 16:
            raise ValueError("runaway gamma code in MP3 main data")
    rest = br.bits(k) if k else 0
    return ((1 << k) | rest) - 1


def _mp3_norm_granule(g) -> dict:
    """Normalize a granule spec: the legacy ``(values, gain_e)`` tuple
    (big-values region only) or the extended dict with keys ``big``,
    ``gain_e``, and optional ``count1`` (list of (v,w,x,y) quadruples,
    values in -1/0/1), ``scalefac`` (21 band factors), ``scalefac_scale``
    (0/1), ``scalefac_compress`` (0..15), ``block_type`` (0 normal,
    1 start, 2 short, 3 stop), and for short blocks ``scalefac_short``
    (3 windows x 12 bands) + ``subblock_gain`` (3 values 0..7)."""
    if isinstance(g, dict):
        out = {
            "big": list(g.get("big", [])),
            "gain_e": g["gain_e"],
            "count1": [tuple(q) for q in g.get("count1", [])],
            "scalefac": list(g.get("scalefac", [0] * 21)),
            "scalefac_scale": g.get("scalefac_scale", 1),
            "scalefac_compress": g.get("scalefac_compress", 0),
            "scfsi": tuple(g.get("scfsi", (0, 0, 0, 0))),
            "block_type": g.get("block_type", 0),
            "scalefac_short": [
                list(r) for r in g.get("scalefac_short", [[0] * 12] * 3)
            ],
            "subblock_gain": list(g.get("subblock_gain", [0, 0, 0])),
            "mixed_block": bool(g.get("mixed_block", False)),
            "preflag": 1 if g.get("preflag") else 0,
        }
    else:
        values, gain_e = g
        out = {
            "big": list(values), "gain_e": gain_e, "count1": [],
            "scalefac": [0] * 21, "scalefac_scale": 1,
            "scalefac_compress": 0, "scfsi": (0, 0, 0, 0),
            "block_type": 0, "scalefac_short": [[0] * 12] * 3,
            "subblock_gain": [0, 0, 0], "mixed_block": False,
            "preflag": 0,
        }
    if not 0 <= out["gain_e"] <= 7:
        raise ValueError("gain_e out of the subset's 0..7 grid")
    out["big"] += [0] * (len(out["big"]) % 2)  # whole pairs
    if len(out["big"]) > 576:
        raise ValueError("more than 576 spectral lines in big_values")
    for v in out["big"]:
        if not -15 <= v <= 15:
            raise ValueError("big-values magnitude above 15")
    n_lines = len(out["big"]) + 4 * len(out["count1"])
    if n_lines > 576:
        raise ValueError("big_values + count1 exceed the 576-line granule")
    for q in out["count1"]:
        if len(q) != 4 or any(v not in (-1, 0, 1) for v in q):
            raise ValueError("count1 quadruple values must be -1/0/1")
    sf = out["scalefac"]
    if len(sf) != 21:
        raise ValueError("scalefac needs exactly 21 long-block bands")
    if out["scalefac_scale"] not in (0, 1):
        raise ValueError("scalefac_scale must be 0 or 1")
    if len(out["scfsi"]) != 4 or any(b not in (0, 1) for b in out["scfsi"]):
        raise ValueError("scfsi must be four 0/1 flags")
    if not 0 <= out["scalefac_compress"] <= 15:
        raise ValueError("scalefac_compress out of range")
    bt = out["block_type"]
    if bt not in (0, 1, 2, 3):
        raise ValueError("block_type must be 0/1/2/3")
    if out["mixed_block"] and bt != 2:
        raise ValueError("mixed_block is defined for block_type 2 only")
    if out["preflag"] and bt == 2 and not out["mixed_block"]:
        raise ValueError("preflag is long-block-only (11172-3 2.4.3.4.5)")
    sfs = out["scalefac_short"]
    if len(sfs) != 3 or any(len(r) != 12 for r in sfs):
        raise ValueError("scalefac_short needs 3 windows x 12 bands")
    sbg = out["subblock_gain"]
    if len(sbg) != 3 or any(not 0 <= v <= 7 for v in sbg):
        raise ValueError("subblock_gain needs three values in 0..7")
    slen1, slen2 = MP3_SLEN[out["scalefac_compress"]]
    if bt == 2 and out["mixed_block"]:
        # mixed: 3 long bands under slen1, 11 short bands (band 11 of
        # each window unused), slen1 bands 0-4 / slen2 bands 5-10
        if any(sf[3:]):
            raise ValueError(
                "mixed blocks use long scalefac bands 0-2 only"
            )
        for b, s in enumerate(sf[:3]):
            if not 0 <= s < (1 << slen1) and not (slen1 == 0 and s == 0):
                raise ValueError(
                    f"scalefac[{b}]={s} does not fit slen={slen1} bits"
                )
        if any(r[11] for r in sfs):
            raise ValueError(
                "mixed blocks use short scalefactor bands 0-10 only"
            )
        for w in range(3):
            for b, s in enumerate(sfs[w][:11]):
                slen = slen1 if b < 5 else slen2
                if not 0 <= s < (1 << slen) and not (slen == 0 and s == 0):
                    raise ValueError(
                        f"scalefac_short[{w}][{b}]={s} does not fit"
                        f" slen={slen} bits"
                    )
    elif bt == 2:
        if any(sf):
            raise ValueError("long scalefac must be zero for short blocks")
        for w in range(3):
            for b, s in enumerate(sfs[w]):
                slen = slen1 if b < 6 else slen2
                if not 0 <= s < (1 << slen) and not (slen == 0 and s == 0):
                    raise ValueError(
                        f"scalefac_short[{w}][{b}]={s} does not fit"
                        f" slen={slen} bits"
                    )
    else:
        if any(v for r in sfs for v in r):
            raise ValueError("scalefac_short is short-block-only")
        if any(sbg):
            raise ValueError("subblock_gain is short-block-only")
        for b, s in enumerate(sf):
            slen = slen1 if b < 11 else slen2
            if not 0 <= s < (1 << slen) and not (slen == 0 and s == 0):
                raise ValueError(
                    f"scalefac[{b}]={s} does not fit slen={slen} bits"
                )
    # every nonzero line's net exponent must stay on the integer grid
    # (the decoder gates negative shifts loudly; refuse to emit them)
    for i, v in enumerate(out["big"]):
        if v and out["gain_e"] - _mp3_down_shift(out, i) < 0:
            raise ValueError(f"line {i}: scalefactor shift exceeds gain_e")
    for qi, q in enumerate(out["count1"]):
        for k, v in enumerate(q):
            i = len(out["big"]) + 4 * qi + k
            if v and out["gain_e"] - _mp3_down_shift(out, i) < 0:
                raise ValueError(
                    f"count1 line {i}: scalefactor shift exceeds gain_e"
                )
    return out


# The spec's preflag table (11172-3 2.4.3.4.5, Table B.6): with
# preflag=1 these fixed values ADD to the long-block scalefactors
# before the 2^(-(scalefac_scale+1)/2 * sf) term — pure integers, so
# the power-of-two-grid rule applies to the SUM.
MP3_PRETAB = (0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
              1, 1, 1, 1, 2, 2, 3, 3, 3, 2)


def _mp3_sf_scale_shift(g: dict, sf: int) -> int:
    """The power-of-two grid rule shared by both band layouts:
    scalefac_scale=1 shifts by scalefac, 0 by scalefac/2 (odd values
    at scale 0 are off-grid and raise)."""
    if g["scalefac_scale"] == 1:
        return sf
    if sf % 2:
        raise ValueError(
            "odd scalefac with scalefac_scale=0 is off the integer grid"
        )
    return sf // 2


def _mp3_down_shift(g: dict, line: int) -> int:
    """Total integer right-shift applied to ``line`` below the global
    gain: the scalefactor term 2^(-(scalefac_scale+1)/2 * scalefac)
    on the subset's power-of-two grid, plus — for short blocks — the
    window's subblock_gain (8 global_gain steps per unit = 2^2 each,
    11172-3 2.4.3.4.7.1, structural). ``line`` is a STORED-order index
    (scalefactor-band-major for short blocks)."""
    if g.get("block_type", 0) == 2:
        if g.get("mixed_block"):
            if line < 36:  # long part: the 3 mixed long bands
                b = 0 if line < 16 else (1 if line < 32 else 2)
                return _mp3_sf_scale_shift(g, g["scalefac"][b])
            w, b = _MP3_MIXED_WB[line]
        else:
            w, b = _MP3_SHORT_WB_OF_LINE[line]
        return _mp3_sf_scale_shift(g, g["scalefac_short"][w][b]) \
            + 2 * g["subblock_gain"][w]
    b = _MP3_SFB_OF_LINE[line]
    pre = MP3_PRETAB[b] if g.get("preflag") else 0
    return _mp3_sf_scale_shift(g, g["scalefac"][b] + pre)


def encode_mp3(
    granules: list, sample_rate: int = 44100, bitrate: int = 32,
    mode: str = "mono", reservoir: bool = False, protect: bool = False,
) -> bytes:
    """MPEG-1 Layer III mono encoder for the structural subset: each
    granule is ``(values, gain_e)`` or the extended dict accepted by
    :func:`_mp3_norm_granule` — up to 576 signed quantized spectral
    lines (magnitude 0..15) in big_values pairs across ALL 32 subbands,
    an optional count1 region of -1/0/1 quadruples (spec count1 table B,
    the fixed-length structural code), and 21 long-block scalefactors on
    the power-of-two grid (scalefac_compress slen packing per the spec's
    structural table) — or, with ``block_type`` set, the
    window-switching layouts: start/stop blocks (1/3) and short blocks
    (2, scalefactor-band-major stored spectra with 3x12 short
    scalefactors and per-window subblock gains).
    global_gain = 210 + 4*gain_e. Two granules per frame; ancillary
    bits zero-padded.

    ``reservoir=True`` enables the BIT RESERVOIR (11172-3 2.4.1.7
    main_data_begin): every frame's main data is byte-aligned and the
    whole main-data stream is packed sequentially into the fixed
    per-frame slots, so a frame whose predecessors under-filled their
    slots starts its main data ``main_data_begin`` bytes BEFORE its own
    slot — the real VBR-smoothing layout. The encoder raises ValueError
    when a frame's data would start after its own slot begins (prior
    frames overflowed), end past its own slot, or need a back-pointer
    beyond the 9-bit/511-byte field. ``reservoir=False`` keeps every
    frame self-contained (main_data_begin = 0), byte-identical to the
    pre-reservoir writer.

    ``mode``: "mono" (single channel, 17-byte side info), the
    two-channel INDEPENDENT modes "stereo" (mode 00) / "dual" (dual
    channel, mode 10), or MID/SIDE joint stereo "ms" (mode 01,
    mode_extension 10: ms_stereo on, intensity off) with 32-byte side
    info — each ``granules`` entry is then a ``(ch0, ch1)`` pair of
    granule specs and the decoder returns interleaved L/R PCM. In
    "ms" mode the pair is the (mid, side) TRANSMITTED spectra and the
    decoder dematrixes l = m + s, r = m - s on the integer grid —
    the spec's 1/sqrt(2) normalization (11172-3 2.4.3.4.9.1) is
    irrational and is absorbed into the repo's swap-in gain grid the
    same way the pow-4/3 requantization table is; the MS STRUCTURE
    (mode/mode_extension bits, shared side info layout, per-line
    dematrix before the hybrid filterbank) is the spec's. Intensity
    stereo "is" (mode 01, mode_extension 01) carries the combined
    signal in ch0 and reinterprets ch1's scalefactors ABOVE its
    zero boundary as intensity positions 0..6 (7 = intensity off for
    the band) — the spec's tan(is_pos*pi/12) ratio is irrational and
    rides the repo's rational swap-in grid l = x*pos//6,
    r = x*(6-pos)//6 (same contract as the pow-4/3 and 1/sqrt(2)
    swap-ins); combined MS+intensity (mode_extension 11) is never
    emitted and gates loudly on decode."""
    modes = {
        "mono": 0b11, "stereo": 0b00, "dual": 0b10, "ms": 0b01,
        "is": 0b01,
    }
    if mode not in modes:
        raise ValueError(
            f"unsupported MP3 mode {mode!r} (mono/stereo/dual/ms/is)"
        )
    nch = 1 if mode == "mono" else 2
    if len(granules) % 2:
        raise ValueError("granules come in pairs (2 per MPEG-1 frame)")
    if sample_rate not in MP3_RATES:
        raise ValueError(f"unsupported MP3 sample rate {sample_rate}")
    if bitrate not in MP3_BITRATES or bitrate == 0:
        raise ValueError(f"unsupported MP3 bitrate {bitrate}")
    sr_idx = MP3_RATES.index(sample_rate)
    br_idx = MP3_BITRATES.index(bitrate)
    frame_len = 144 * MP3_BITRATES[br_idx] * 1000 // sample_rate
    frames: list = []  # (scfsi_ch, fields, main_bytes) per frame
    for f in range(0, len(granules), 2):
        if nch == 1:
            grid = [[_mp3_norm_granule(g)] for g in granules[f : f + 2]]
        else:
            entries = granules[f : f + 2]
            for e in entries:
                if isinstance(e, dict) or len(e) != 2:
                    raise ValueError(
                        "two-channel modes need (ch0, ch1) granule pairs"
                    )
            grid = [[_mp3_norm_granule(g) for g in e] for e in entries]
        if mode == "is":
            # ch1 scalefactors at/above its zero boundary are decoded
            # as intensity positions; only 0..6 pan and 7 = off are
            # defined (11172-3 2.4.3.4.9.2) — refuse to emit a stream
            # the decoder would gate on (compress 14/15 packs slen 4,
            # which fits 8..15 bit-wise but is spec-illegal here)
            for gi_ in range(2):
                g1 = grid[gi_][1]
                rz = len(g1["big"]) + 4 * len(g1["count1"])
                b0 = next(
                    (b for b in range(21) if _MP3_SFB_START[b] >= rz), 21
                )
                for b in range(b0, 21):
                    if g1["scalefac"][b] > 7:
                        raise ValueError(
                            f"intensity-mode ch1 scalefac[{b}]="
                            f"{g1['scalefac'][b]} above the zero boundary"
                            " must be a 0..7 intensity position"
                        )
        scfsi_ch = [grid[1][ch]["scfsi"] for ch in range(nch)]
        for ch in range(nch):
            scfsi = scfsi_ch[ch]
            if any(grid[0][ch]["scfsi"]):
                raise ValueError(
                    "scfsi flags belong on the pair's SECOND granule"
                )
            if any(scfsi):
                if any(grid[gr][ch]["block_type"] == 2 for gr in range(2)):
                    raise ValueError(
                        "scfsi sharing is defined over long scalefactor bands"
                        " only (no short blocks in the pair)"
                    )
                if grid[0][ch]["scalefac_compress"] != (
                    grid[1][ch]["scalefac_compress"]
                ):
                    raise ValueError(
                        "scfsi sharing needs equal scalefac_compress"
                    )
                for b in range(21):
                    if _mp3_scfsi_shared(scfsi, b) and (
                        grid[0][ch]["scalefac"][b] != grid[1][ch]["scalefac"][b]
                    ):
                        raise ValueError(
                            f"scfsi-shared band {b} differs between granules"
                        )
        mains, fields = [], []
        for gi in range(2):
            for ch in range(nch):
                g = grid[gi][ch]
                scfsi = scfsi_ch[ch]
                slen1, slen2 = MP3_SLEN[g["scalefac_compress"]]
                mw = _MsbBitWriter()
                if g["block_type"] == 2 and g["mixed_block"]:
                    # part2, mixed: the 3 long bands (slen1), then the
                    # 11 short bands band-major, windows inner
                    for b in range(3):
                        if slen1:
                            mw.bits(g["scalefac"][b], slen1)
                    for b in range(11):
                        slen = slen1 if b < 5 else slen2
                        if slen:
                            for w in range(3):
                                mw.bits(g["scalefac_short"][w][b], slen)
                elif g["block_type"] == 2:
                    # part2, short: band-major, the three windows inner
                    # (the spec's transmission order)
                    for b in range(12):
                        slen = slen1 if b < 6 else slen2
                        if slen:
                            for w in range(3):
                                mw.bits(g["scalefac_short"][w][b], slen)
                else:
                    for b, s in enumerate(g["scalefac"]):  # part2
                        if gi == 1 and _mp3_scfsi_shared(scfsi, b):
                            continue  # granule 0's value is reused, none sent
                        slen = slen1 if b < 11 else slen2
                        if slen:
                            mw.bits(s, slen)
                for i in range(0, len(g["big"]), 2):
                    for v in (g["big"][i], g["big"][i + 1]):
                        _mp3_put_gamma(mw, abs(v))
                        if v:
                            mw.bits(1 if v < 0 else 0, 1)
                for q in g["count1"]:  # spec table B: 4 complement bits
                    for v in q:
                        mw.bits(0 if v else 1, 1)
                    for v in q:
                        if v:
                            mw.bits(1 if v < 0 else 0, 1)
                nbits = len(mw.out) * 8 + mw._n
                if nbits >= 1 << 12:
                    raise ValueError(
                        "granule overflows part2_3_length (12 bits)"
                    )
                fields.append(
                    (g, len(g["big"]) // 2, 210 + 4 * g["gain_e"], nbits)
                )
                mains.append(mw)
        fw = _MsbBitWriter()
        for mw in mains:
            fw.bits(int.from_bytes(bytes(mw.out), "big"), len(mw.out) * 8)
            if mw._n:
                fw.bits(mw._acc, mw._n)
        frames.append((scfsi_ch, fields, fw.flush()))

    si_len = 17 if nch == 1 else 32

    def head(scfsi_ch: list, fields: list, mdb: int) -> bytes:
        hw = _MsbBitWriter()
        # header: sync(11)=all ones, ID(2)=11 (MPEG-1), layer(2)=01,
        # prot(1)=0 when a CRC-16 follows (``protect``), 1 otherwise
        hw.bits(0x7FF, 11)
        hw.bits(0b11, 2)
        hw.bits(0b01, 2)
        hw.bits(0 if protect else 1, 1)
        hw.bits(br_idx, 4)
        hw.bits(sr_idx, 2)
        hw.bits(0, 1)  # padding
        hw.bits(0, 1)  # private
        hw.bits(modes[mode], 2)
        # mode extension: 10 = ms_stereo on / intensity off,
        # 01 = intensity on / ms off, 00 (no matrixing) otherwise
        hw.bits(
            0b10 if mode == "ms" else (0b01 if mode == "is" else 0), 2
        )
        hw.bits(0, 1)  # copyright
        hw.bits(0, 1)  # original
        hw.bits(0, 2)  # emphasis
        header = hw.flush()
        bw = _MsbBitWriter()
        # side info: 17 bytes mono / 32 bytes two-channel (11172-3 2.4.1.7)
        bw.bits(mdb, 9)  # main_data_begin (bytes back into the reservoir)
        bw.bits(0, 5 if nch == 1 else 3)  # private
        for scfsi in scfsi_ch:
            bw.bits(
                (scfsi[0] << 3) | (scfsi[1] << 2) | (scfsi[2] << 1)
                | scfsi[3], 4
            )
        for g, big_values, gg, nbits in fields:
            bw.bits(nbits, 12)  # part2_3_length (incl. scalefactor part2)
            bw.bits(big_values, 9)
            bw.bits(gg, 8)
            bw.bits(g["scalefac_compress"], 4)
            if g["block_type"]:
                # window switching: block_type + mixed flag + 2-region
                # table_select + 3 subblock gains (same 23-bit span as
                # the normal branch, 11172-3 2.4.1.7)
                bw.bits(1, 1)
                bw.bits(g["block_type"], 2)
                bw.bits(1 if g.get("mixed_block") else 0, 1)
                bw.bits(1, 5)  # table_select regions 0/1: repo gamma table
                bw.bits(1, 5)
                for v in g["subblock_gain"]:
                    bw.bits(v, 3)
            else:
                bw.bits(0, 1)  # window_switching
                bw.bits(1, 5)  # table_select region0 = repo gamma table id 1
                bw.bits(1, 5)  # regions 1/2: same single repo table
                bw.bits(1, 5)
                bw.bits(0, 4)  # region0_count
                bw.bits(0, 3)  # region1_count
            bw.bits(g.get("preflag", 0), 1)
            bw.bits(g["scalefac_scale"], 1)
            bw.bits(1, 1)  # count1table_select = spec table B (structural)
        si = bw.flush()
        if protect:
            crc = _crc(header[2:4] + si, 16, 0x8005, 0xFFFF)
            return header + crc.to_bytes(2, "big") + si
        return header + si

    out = bytearray()
    if not reservoir:
        for scfsi_ch, fields, main in frames:
            frame = bytearray(head(scfsi_ch, fields, 0)) + main
            if len(frame) > frame_len:
                raise ValueError("granule data overflows the frame length")
            frame.extend(b"\x00" * (frame_len - len(frame)))  # ancillary
            out += frame
        return bytes(out)
    # Bit reservoir: the concatenated main-data stream is packed
    # sequentially into the fixed per-frame slots; each frame's
    # main_data_begin points back to where ITS data starts inside the
    # bytes already written before its own slot.
    slot = frame_len - (6 if protect else 4) - si_len
    stream = b"".join(main for _s, _f, main in frames)
    if len(stream) > slot * len(frames):
        raise ValueError("main-data stream overflows the frame slots")
    stream = stream + b"\x00" * (slot * len(frames) - len(stream))
    start = 0
    for f, (scfsi_ch, fields, main) in enumerate(frames):
        mdb = f * slot - start
        if mdb < 0:
            raise ValueError(
                f"frame {f}: preceding main data overflows its slots "
                "(main data would start after its own slot)"
            )
        if mdb > 511:
            raise ValueError(
                f"frame {f}: main_data_begin {mdb} exceeds the 9-bit "
                "reservoir pointer"
            )
        if start + len(main) > (f + 1) * slot:
            raise ValueError(
                f"frame {f}: main data ends past its own slot "
                "(the reservoir only reaches backwards)"
            )
        out += head(scfsi_ch, fields, mdb)
        out += stream[f * slot : (f + 1) * slot]
        start += len(main)
    return bytes(out)


def _mp3_granule_pcm(
    xr: list, prev: list, block_type: int = 0, mixed: bool = False
) -> tuple:
    """One granule through the exact integer chain, all 32 subbands:
    per subband a 36-point IMDCT of its 18 lines (MP3_C36) under the
    block type's window — normal/start/stop (MP3_WIN / MP3_WIN_START /
    MP3_WIN_STOP), or for short blocks (type 2) THREE 12-point IMDCTs
    (MP3_C12, 6 lines each) under the short window (MP3_WIN12),
    overlap-added at offsets 6/12/18 inside the zero-padded 36-sample
    frame (11172-3 2.4.3.4.6) — then overlap-add with that subband's
    previous tail, the spec's frequency inversion (odd samples of odd
    subbands negated, 2.4.3.4.7 — a structural sign flip), and the
    synthesis matrixing N[b][p] (MP3_SYN2D) summed over subbands per
    output sample. ``xr`` is up to 576 lines in SUBBAND order (the
    caller reorders short-block spectra first); ``prev`` is the 32x18
    overlap state. Returns (576 raw accumulator values, new overlap
    state) — everything linear in xr, one rounding applied by the
    caller. Subband-0-only long input reproduces the pre-widening
    chain bit-for-bit (MP3_SYN2D row 0 == the old 32-tap stage)."""
    if len(xr) < 576:
        xr = list(xr) + [0] * (576 - len(xr))
    win = {0: MP3_WIN, 1: MP3_WIN_START, 3: MP3_WIN_STOP}.get(block_type)
    if win is None and block_type != 2:
        raise ValueError(f"bad MP3 block_type {block_type}")
    if mixed and block_type != 2:
        raise ValueError("mixed granule needs block_type 2")
    if mixed:
        win = MP3_WIN  # the long part's window (normal long)
    acc = [0] * 576
    new_prev = []
    for b in range(32):
        xs = xr[18 * b : 18 * b + 18]
        pb = prev[b]
        if any(xs):
            if block_type == 2 and not (mixed and b < 2):
                sw = [0] * 36
                for w in range(3):
                    xw = xs[6 * w : 6 * w + 6]
                    if any(xw):
                        for i in range(12):
                            sw[6 + 6 * w + i] += (
                                sum(
                                    xw[k] * MP3_C12[k][i]
                                    for k in range(6) if xw[k]
                                )
                                * MP3_WIN12[i]
                            )
            else:
                sw = [
                    sum(xs[i] * MP3_C36[i][n] for i in range(18) if xs[i])
                    * win[n]
                    for n in range(36)
                ]
        elif any(pb):
            sw = [0] * 36
        else:
            new_prev.append(pb)
            continue
        z = [sw[j] + pb[j] for j in range(18)]
        new_prev.append(sw[18:36])
        syn = MP3_SYN2D[b]
        for j in range(18):
            zj = z[j]
            if zj:
                if b % 2 and j % 2:  # frequency inversion
                    zj = -zj
                base = 32 * j
                for p in range(32):
                    acc[base + p] += zj * syn[p]
    return acc, new_prev


def decode_mp3(payload: bytes) -> AudioData:
    """MPEG-1 Layer III decoder for the structural subset above:
    header + side-info parse per ISO 11172-3, Huffman big-values decode
    (repo gamma table), pow-4/3 requantization on the integer gain grid,
    IMDCT + window + overlap-add + synthesis in exact integers, one
    round-half-up >> MP3_SHIFT and int16 clip per sample. 1152 samples
    per frame per channel. Mono and the two-channel INDEPENDENT modes
    (stereo 00 / dual channel 10, 32-byte side info, per-channel
    overlap state, interleaved L/R output) decode; joint stereo
    (mode 01 — M/S and intensity matrixing, empirical/off-grid) gates
    loudly. The BIT RESERVOIR decodes: main_data_begin points each
    frame's main data up to 511 bytes back into the buffered prior
    main-data slots (11172-3 2.4.1.7); a pointer reaching before the
    buffered reservoir raises ValueError. Structure outside the subset
    raises ``NotImplementedError``; malformed streams raise
    ``ValueError``."""
    pos = 0
    samples: list = []
    prevs: list = None
    nch_stream = None
    reservoir = b""  # last <=511 bytes of prior frames' main-data slots
    while pos < len(payload):
        if pos + 21 > len(payload):
            raise ValueError("truncated MP3 frame header/side info")
        hdr = _MsbBitReader(payload, pos)
        if hdr.bits(11) != 0x7FF:
            raise ValueError("bad MP3 sync word")
        if hdr.bits(2) != 0b11:
            raise NotImplementedError("only MPEG-1 audio decodes")
        if hdr.bits(2) != 0b01:
            raise NotImplementedError("only Layer III decodes")
        protection = hdr.bits(1)  # 0 = CRC-16 follows the header
        br_idx = hdr.bits(4)
        sr_idx = hdr.bits(2)
        padding = hdr.bits(1)
        hdr.bits(1)  # private
        chmode = hdr.bits(2)
        nch = 1 if chmode == 0b11 else 2
        if nch_stream is None:
            nch_stream = nch
            prevs = [[[0] * 18 for _ in range(32)] for _ in range(nch)]
        elif nch != nch_stream:
            raise ValueError("channel mode changes mid-stream")
        mode_ext = hdr.bits(2)
        hdr.bits(4)  # copyright / original / emphasis
        ms_stereo = chmode == 0b01 and bool(mode_ext & 0b10)
        is_stereo = chmode == 0b01 and bool(mode_ext & 0b01)
        if ms_stereo and is_stereo:
            raise NotImplementedError(
                "combined MS+intensity stereo (mode_extension 11)"
            )
        if br_idx in (0, 15) or sr_idx > 2:
            raise ValueError("bad MP3 bitrate/samplerate index")
        sample_rate = MP3_RATES[sr_idx]
        frame_len = 144 * MP3_BITRATES[br_idx] * 1000 // sample_rate + padding
        si_len = 17 if nch == 1 else 32
        hdr_off = 4 if protection else 6  # CRC-16 steals 2 frame bytes
        if (pos + frame_len > len(payload)
                or pos + hdr_off + si_len > len(payload)):
            raise ValueError("truncated MP3 frame")
        if not protection:
            stored = int.from_bytes(payload[pos + 4 : pos + 6], "big")
            calc = _crc(
                payload[pos + 2 : pos + 4]
                + payload[pos + 6 : pos + 6 + si_len],
                16, 0x8005, 0xFFFF,
            )
            if stored != calc:
                raise ValueError(
                    f"MP3 CRC-16 mismatch at frame offset {pos}"
                    f" (stored {stored:#06x}, computed {calc:#06x})"
                )
        si = _MsbBitReader(payload, pos + hdr_off)
        mdb = si.bits(9)  # main_data_begin: bytes back into the reservoir
        si.bits(5 if nch == 1 else 3)  # private
        scfsi_ch = []
        for _c in range(nch):
            scfsi_raw = si.bits(4)
            scfsi_ch.append(
                tuple((scfsi_raw >> k) & 1 for k in (3, 2, 1, 0))
            )
        gr_fields = []
        for _g in range(2 * nch):
            part23 = si.bits(12)
            big_values = si.bits(9)
            gg = si.bits(8)
            sf_compress = si.bits(4)
            if si.bits(1):  # window_switching_flag
                bt = si.bits(2)
                if bt == 0:
                    raise ValueError(
                        "window_switching with block_type 0 is forbidden"
                    )
                mixed = si.bits(1) == 1
                if mixed and bt != 2:
                    raise ValueError(
                        "mixed_block_flag is defined for block_type 2 only"
                    )
                tsel = (si.bits(5), si.bits(5))
                sbg = (si.bits(3), si.bits(3), si.bits(3))
                if bt != 2 and any(sbg):
                    raise ValueError(
                        "subblock_gain is short-block-only (block_type 2)"
                    )
            else:
                bt = 0
                mixed = False
                sbg = (0, 0, 0)
                tsel = (si.bits(5), si.bits(5), si.bits(5))
                si.bits(7)  # region0_count(4) + region1_count(3): parsed,
                # semantically inert — every nonempty region carries the
                # single repo table, so region boundaries select nothing
            if big_values and tsel[0] != 1:
                raise NotImplementedError(
                    "only the repo gamma table (id 1) decodes"
                )
            if any(t not in (0, 1) for t in tsel):
                raise NotImplementedError(
                    "only the repo gamma table (id 1) decodes"
                )
            preflag = si.bits(1)
            if preflag and bt == 2 and not mixed:
                raise ValueError(
                    "preflag is long-block-only (11172-3 2.4.3.4.5)"
                )
            sf_scale = si.bits(1)
            if si.bits(1) != 1:
                raise NotImplementedError(
                    "MP3 count1 table A (empirical Huffman table); only the"
                    " spec's structural table B decodes"
                )
            if big_values > 288:
                raise ValueError("big_values above the 576-line granule")
            if (gg - 210) % 4:
                raise NotImplementedError("gain off the 2^((gg-210)/4) grid")
            if (gg - 210) // 4 < 0:
                raise NotImplementedError("negative gain exponent (subset)")
            gr_fields.append(
                (part23, big_values, (gg - 210) // 4, sf_compress, sf_scale,
                 bt, sbg, mixed, preflag)
            )
        for ch in range(nch):
            if any(scfsi_ch[ch]) and any(
                gr_fields[gr * nch + ch][5] == 2 for gr in range(2)
            ):
                raise ValueError(
                    "scfsi sharing is defined over long scalefactor bands"
                    " only"
                )
        # Bit reservoir: this frame's main data begins mdb bytes before
        # its own slot, inside the accumulated prior-slot bytes.
        slot = payload[pos + hdr_off + si_len : pos + frame_len]
        if mdb > len(reservoir):
            raise ValueError(
                f"main_data_begin {mdb} reaches before the start of the "
                f"reservoir ({len(reservoir)} bytes buffered)"
            )
        md = _MsbBitReader(
            (reservoir[len(reservoir) - mdb :] if mdb else b"") + slot, 0
        )
        reservoir = (reservoir + slot)[-511:]
        g0_sfac_ch: list = [[] for _ in range(nch)]
        frame_pcm: list = [[] for _ in range(nch)]
        # (xr stored-order, block_type, transmitted-line bound, long
        # scalefactors) per granule slot — the bound and scalefactors
        # drive the intensity band walk
        slots: list = []
        for fi, (part23, big_values, gain_e, sf_compress, sf_scale,
                 bt, sbg, mixed, preflag) in enumerate(gr_fields):
            gi, ch = fi // nch, fi % nch
            scfsi = scfsi_ch[ch]
            start_bits = md.pos * 8 - md._n
            slen1, slen2 = MP3_SLEN[sf_compress]
            sfac: list = []
            sfac_short = [[0] * 12 for _ in range(3)]
            if bt == 2 and mixed:
                # part2, mixed: 3 long bands (slen1), then 11 short
                # bands band-major, windows inner
                sfac = [0] * 21
                for b in range(3):
                    sfac[b] = md.bits(slen1) if slen1 else 0
                for b in range(11):
                    slen = slen1 if b < 5 else slen2
                    for w in range(3):
                        sfac_short[w][b] = md.bits(slen) if slen else 0
            elif bt == 2:
                # part2, short: band-major, three windows inner
                for b in range(12):
                    slen = slen1 if b < 6 else slen2
                    for w in range(3):
                        sfac_short[w][b] = md.bits(slen) if slen else 0
                sfac = [0] * 21
            else:
                for b in range(21):
                    if gi == 1 and _mp3_scfsi_shared(scfsi, b):
                        sfac.append(g0_sfac_ch[ch][b])  # shared: none sent
                        continue
                    slen = slen1 if b < 11 else slen2
                    sfac.append(md.bits(slen) if slen else 0)
            if gi == 0:
                g0_sfac_ch[ch] = sfac
            g = {
                "scalefac": sfac, "scalefac_scale": sf_scale,
                "block_type": bt, "scalefac_short": sfac_short,
                "subblock_gain": sbg, "mixed_block": mixed,
                "preflag": preflag,
            }

            def requant(mag: int, neg: bool, line: int) -> int:
                shift = gain_e - _mp3_down_shift(g, line)
                if shift < 0:
                    raise NotImplementedError(
                        "scalefactor shift exceeds gain (below the integer"
                        " grid)"
                    )
                v = MP3_POW43[mag] << shift
                return -v if neg else v

            xr = [0] * 576
            for i in range(big_values * 2):
                mag = _mp3_get_gamma(md)
                if mag > 15:
                    raise ValueError("big-values magnitude above 15")
                if mag:
                    xr[i] = requant(mag, md.bits(1) == 1, i)
            line = big_values * 2
            # count1 region (table B): quadruples until part2_3_length
            # is exhausted or the 576-line granule is full
            while md.pos * 8 - md._n - start_bits < part23 and line + 4 <= 576:
                quad = [md.bits(1) == 0 for _ in range(4)]
                for k, present in enumerate(quad):
                    if present:
                        xr[line + k] = requant(1, md.bits(1) == 1, line + k)
                line += 4
            used = md.pos * 8 - md._n - start_bits
            if used > part23:
                raise ValueError("MP3 main data overruns part2_3_length")
            md.bits(part23 - used)  # stuffing up to the declared length
            slots.append((xr, bt, line, sfac, mixed))
        half = 1 << (MP3_SHIFT - 1)
        for gi in range(2):
            chx = [slots[gi * nch + c] for c in range(nch)]
            if ms_stereo:
                # M/S dematrix per spectral line BEFORE the hybrid
                # filterbank (11172-3 2.4.3.4.9.1; the 1/sqrt(2)
                # normalization rides the repo gain grid)
                (xm, btm, _zm, _sm, mxm), (xs, bts_, _zs, _ss, mxs) = chx
                if btm != bts_ or mxm != mxs:
                    raise ValueError(
                        "MS stereo needs equal block_type across channels"
                    )
                chx = [
                    ([a + b for a, b in zip(xm, xs)], btm, 0, [], mxm),
                    ([a - b for a, b in zip(xm, xs)], btm, 0, [], mxm),
                ]
            elif is_stereo:
                # Intensity stereo (11172-3 2.4.3.4.9.2): in every
                # scalefactor band at/above the RIGHT channel's zero
                # boundary (its transmitted-line count rounded up to a
                # band start), the left channel carries the combined
                # signal and the right channel's SCALEFACTOR is the
                # intensity position is_pos: 0..6 pan the band by the
                # repo's rational swap-in grid l = x*pos//6,
                # r = x*(6-pos)//6 (the spec's tan(is_pos*pi/12)
                # ratio is irrational — same swap-in contract as
                # pow-4/3); 7 is the spec's "intensity off" position
                # and leaves the band untouched. Bands below the
                # boundary decode independently.
                (xl, btl, _zl, _sl, _mxl), (xrr, btr, rzero, sfr, _mxr) = chx
                if btl == 2 or btr == 2:
                    raise NotImplementedError(
                        "intensity stereo with short blocks"
                    )
                l_out, r_out = list(xl), list(xrr)
                bound = next(
                    (b for b in range(21) if _MP3_SFB_START[b] >= rzero),
                    21,
                )
                for b in range(bound, 21):
                    pos_ = sfr[b]
                    if pos_ > 7:
                        # is_pos 8..15 is reachable bit-wise with
                        # scalefac_compress 14/15 (slen 4) but has no
                        # defined intensity ratio (11172-3 2.4.3.4.9.2
                        # defines positions 0..6 + 7 = off) — gate loud
                        raise ValueError(
                            f"intensity position {pos_} in band {b}"
                            " outside the spec's 0..7 range"
                        )
                    if pos_ == 7:  # intensity off for this band
                        continue
                    for i in range(
                        _MP3_SFB_START[b], _MP3_SFB_START[b] + MP3_SFB[b]
                    ):
                        v = l_out[i]
                        sgn = -1 if v < 0 else 1
                        mag = abs(v)
                        l_out[i] = sgn * (mag * pos_ // 6)
                        r_out[i] = sgn * (mag * (6 - pos_) // 6)
                chx = [(l_out, btl, 0, [], False), (r_out, btr, 0, [], False)]
            for ch, (xr, bt, _zb, _sf, mxd) in enumerate(chx):
                if bt == 2:
                    # reorder: scalefactor-band-major storage -> subband
                    # order for the per-subband 12-point IMDCTs (mixed
                    # blocks keep the 36 long lines in place)
                    table = _MP3_MIXED_STORED if mxd else _MP3_SHORT_STORED
                    xr = [xr[table[j]] for j in range(576)]
                acc, prevs[ch] = _mp3_granule_pcm(xr, prevs[ch], bt, mxd)
                frame_pcm[ch].extend(
                    max(-32768, min(32767, (a + half) >> MP3_SHIFT))
                    for a in acc
                )
        if nch == 1:
            samples.extend(frame_pcm[0])
        else:  # interleave L/R
            for left, right in zip(frame_pcm[0], frame_pcm[1]):
                samples.append(left)
                samples.append(right)
        pos += frame_len
    if not samples:
        raise ValueError("no MP3 frames in stream")
    return AudioData(sample_rate, nch_stream, 16, samples)


def mp3_line_taps(
    n_granules: int = 2, lines: tuple = (0, 1), block_types: tuple = None
) -> dict:
    """Exact integer tap tables for the SQL oracle: ``taps[(g, l)][t]``
    is the raw pre-rounding accumulator contribution of a unit spectral
    line ``l`` in granule ``g`` to output sample ``t`` (the whole chain
    is linear in xr with one final rounding, so a decode is the
    superposition xr_{g,l} * tap — pytest pins this equality against
    the stagewise decoder). ``block_types`` gives each granule's block
    type (default all long); line indices are STORED-order (the
    scalefactor-band-major layout short-block spectra are transmitted
    in), with the reorder applied here exactly as in the decoder."""
    bts = tuple(block_types or (0,) * n_granules)
    taps: dict = {}
    for g in range(n_granules):
        for line in lines:
            xr = [0] * 576
            xr[line] = 1
            if bts[g] == 2:
                xr = [xr[_MP3_SHORT_STORED[j]] for j in range(576)]
            elif bts[g] == "mixed":
                xr = [xr[_MP3_MIXED_STORED[j]] for j in range(576)]
            prev = [[0] * 18 for _ in range(32)]
            out: list = []
            for gg in range(n_granules):
                bt = 2 if bts[gg] == "mixed" else bts[gg]
                acc, prev = _mp3_granule_pcm(
                    xr if gg == g else [0] * 576, prev, bt,
                    mixed=bts[gg] == "mixed",
                )
                out.extend(acc)
            taps[(g, line)] = out
    return taps


def encode_id3v2(frames: list, mp3: bytes = b"", version: int = 4) -> bytes:
    """ID3v2.2/2.3/2.4 tag writer: 10-byte header (synchsafe 28-bit
    tag size in ALL versions), then one text frame per ``(frame_id,
    text)`` or ``(frame_id, text, encoding)`` — v2.3/2.4: 4-char id,
    frame size (synchsafe in v2.4, raw big-endian in v2.3), two zero
    flag bytes; v2.2: 3-char id (``TT2``/``TP1``-style), 3-byte raw
    big-endian size, NO flag bytes — encoding byte + text, with the
    MPEG frames appended after the tag (the standard MP3 file layout
    the :func:`_skip_id3v2` dispatch path consumes). Encodings: 0
    latin-1, 1 UTF-16 w/ BOM (little-endian; UCS-2 in v2.2 terms),
    2 UTF-16BE (v2.4 only), 3 UTF-8 (v2.4 only). Default encoding is 3
    for v2.4 and 0 otherwise (each version's canonical choice)."""
    if version not in (2, 3, 4):
        raise ValueError(f"ID3v2.{version} writer not supported")
    id_len = 3 if version == 2 else 4
    body = b""
    for entry in frames:
        fid, text = entry[0], entry[1]
        enc = entry[2] if len(entry) > 2 else (3 if version == 4 else 0)
        if len(fid) != id_len or not fid.isalnum():
            raise ValueError(f"bad ID3v2.{version} frame id {fid!r}")
        if version in (2, 3) and enc not in (0, 1):
            raise ValueError(
                f"encoding {enc} invalid for ID3v2.{version} (0/1 only)"
            )
        if enc == 0:
            data = text.encode("latin-1")
        elif enc == 1:
            data = b"\xff\xfe" + text.encode("utf-16-le")
        elif enc == 2:
            data = text.encode("utf-16-be")
        elif enc == 3:
            data = text.encode("utf-8")
        else:
            raise ValueError(f"bad ID3v2 text encoding {enc}")
        payload = bytes([enc]) + data
        size = len(payload)
        if size >= 1 << (24 if version == 2 else 28):
            raise ValueError("ID3v2 frame too large")
        if version == 4:
            raw = bytes((size >> s) & 0x7F for s in (21, 14, 7, 0))
        elif version == 3:
            raw = size.to_bytes(4, "big")
        else:
            raw = size.to_bytes(3, "big")
        flags = b"" if version == 2 else b"\x00\x00"
        body += fid.encode("ascii") + raw + flags + payload
    total = len(body)
    if total >= 1 << 28:
        raise ValueError("ID3v2 tag too large")
    hdr = b"ID3" + bytes([version, 0, 0]) + bytes(
        (total >> s) & 0x7F for s in (21, 14, 7, 0)
    )
    return hdr + body + mp3


def decode_id3v2(payload: bytes) -> list:
    """ID3v2.2/2.3/2.4 tag walk: returns ``(frame_id, text)`` per text
    frame. The tag boundary comes from the header's synchsafe size;
    v2.4 frame sizes are synchsafe, v2.3 raw 4-byte big-endian, v2.2
    raw 3-byte big-endian under a 6-byte flagless frame header with
    3-char ids (``TT2``/``TP1``, the older-corpus layout); frames stop
    at zero-padding. Text encodings: 0 latin-1, 1 UTF-16 w/ BOM (UCS-2
    in v2.2), 2 UTF-16BE and 3 UTF-8 v2.4-only per spec. Header flags
    (unsynchronisation / v2.2 compression / extended header /
    experimental / footer) and nonzero per-frame flag bytes raise
    NotImplementedError — a silently misparsed foreign tag would
    poison downstream metadata — and malformed structures raise
    ValueError."""
    if payload[:3] != b"ID3":
        raise ValueError("no ID3v2 tag")
    if len(payload) < 10:
        raise ValueError("truncated ID3v2 header")
    major = payload[3]
    if major not in (2, 3, 4):
        raise NotImplementedError(f"ID3v2.{major} not supported")
    if payload[5]:
        kinds = (
            "unsync/compression" if major == 2
            else "unsync/ext-header/experimental/footer"
        )
        raise NotImplementedError(
            f"ID3v2.{major} header flags 0x{payload[5]:02x} "
            f"({kinds}) not supported"
        )
    size = 0
    for b in payload[6:10]:
        if b & 0x80:
            raise ValueError("bad ID3v2 synchsafe size byte")
        size = (size << 7) | b
    end = 10 + size
    if end > len(payload):
        raise ValueError("ID3v2 tag runs past end of stream")
    frames: list = []
    pos = 10
    hdr_len = 6 if major == 2 else 10
    while pos + hdr_len <= end:
        if payload[pos] == 0:  # zero padding starts
            break
        if major == 2:
            fid = payload[pos : pos + 3].decode("ascii", "replace")
            fsize = int.from_bytes(payload[pos + 3 : pos + 6], "big")
        else:
            fid = payload[pos : pos + 4].decode("ascii", "replace")
            raw = payload[pos + 4 : pos + 8]
            if major == 4:
                fsize = 0
                for b in raw:
                    if b & 0x80:
                        raise ValueError("bad ID3v2.4 frame synchsafe size")
                    fsize = (fsize << 7) | b
            else:
                fsize = int.from_bytes(raw, "big")
            flags = payload[pos + 8 : pos + 10]
            if flags != b"\x00\x00":
                raise NotImplementedError(
                    f"ID3v2 frame {fid} flags {flags.hex()} "
                    "(compression/encryption/grouping/unsync) not supported"
                )
        fpos = pos + hdr_len
        if fpos + fsize > end:
            raise ValueError(f"ID3v2 frame {fid} runs past the tag")
        body = payload[fpos : fpos + fsize]
        if fid.startswith("T") and body:
            enc = body[0]
            data = body[1:]
            if enc == 1:
                if data[:2] not in (b"\xff\xfe", b"\xfe\xff") or len(data) % 2:
                    raise ValueError(f"ID3v2 frame {fid}: bad UTF-16 BOM/length")
                text = data.decode("utf-16").split("\x00")[0]
            elif enc == 2:
                if major != 4:
                    raise ValueError("encoding 2 (UTF-16BE) is v2.4-only")
                if len(data) % 2:
                    raise ValueError(f"ID3v2 frame {fid}: odd UTF-16BE length")
                text = data.decode("utf-16-be").split("\x00")[0]
            elif enc == 3:
                if major != 4:
                    raise ValueError("encoding 3 (UTF-8) is v2.4-only")
                text = data.split(b"\x00")[0].decode("utf-8")
            elif enc == 0:
                text = data.split(b"\x00")[0].decode("latin-1")
            else:
                raise ValueError(f"bad ID3v2 text encoding {enc}")
            frames.append((fid, text))
        else:
            frames.append((fid, body.hex()))
        pos = fpos + fsize
    return frames

# ---------------------------------------------------------------------------
# ISOBMFF (ISO/IEC 14496-12) — the AVIF / HEIC / MP4 container family
# ---------------------------------------------------------------------------
# AVIF and HEIC files are ISO base-media containers: a `ftyp` brand box,
# a `meta` box describing image items (dimensions in `ispe`, bit depth in
# `pixi`, byte ranges in `iloc`), and an `mdat` carrying the coded
# payloads.  The CONTAINER walk below is complete and byte-exact; the
# coded av01/hvc1 payload itself stays behind the module's loud codec
# gate (an AV1/HEVC entropy decode needs empirical probability tables
# this offline environment cannot verify).  This mirrors how a crawl
# pipeline treats these formats: dimensions, item inventory, and byte
# ranges are extracted for curation/stats; pixel decode is deferred to
# a codec-equipped stage.


def _box(btype: bytes, body: bytes) -> bytes:
    """Serialize one ISOBMFF box: u32 size (incl. 8-byte header) + 4CC."""
    return (8 + len(body)).to_bytes(4, "big") + btype + body


def _fullbox(btype: bytes, version: int, flags: int, body: bytes) -> bytes:
    return _box(btype, bytes([version]) + flags.to_bytes(3, "big") + body)


def encode_isobmff_image(
    brand: bytes,
    items: list,
    primary_id: int,
    compatible: tuple = (b"mif1", b"miaf"),
) -> bytes:
    """Write a minimal-but-real ISOBMFF still-image container (the AVIF /
    HEIC layout): ``ftyp`` + ``meta``(``hdlr``/``pitm``/``iinf``/``iprp``/
    ``iloc``) + ``mdat``.

    ``items`` is a list of dicts with keys ``item_id`` (u16), ``item_type``
    (4-byte 4CC, e.g. ``b"av01"``), ``name`` (str), ``width``/``height``
    (u32), ``bits`` (per-channel bit depth, u8 x3 channels), ``payload``
    (the coded bytes, stored verbatim in ``mdat``).  ``iloc`` uses
    4-byte absolute file offsets (offset_size=4, length_size=4,
    base_offset_size=0, one extent per item) so the reader exercises the
    offset arithmetic a real AVIF carries.  Box framing per ISO/IEC
    14496-12 §4.2; item boxes per §8.11; ``ispe``/``pixi`` per HEIF
    (ISO/IEC 23008-12 §6.5.3/§6.5.6)."""
    if not items:
        raise ValueError("ISOBMFF image needs at least one item")
    if primary_id not in {it["item_id"] for it in items}:
        raise ValueError("primary_id must reference an item")
    ftyp = _box(
        b"ftyp", brand + (0).to_bytes(4, "big") + b"".join(compatible)
    )

    def build_meta(offsets: list) -> bytes:
        hdlr = _fullbox(
            b"hdlr",
            0, 0,
            (0).to_bytes(4, "big") + b"pict" + bytes(12) + b"\x00",
        )
        pitm = _fullbox(b"pitm", 0, 0, primary_id.to_bytes(2, "big"))
        infes = b""
        for it in items:
            infes += _fullbox(
                b"infe",
                2, 0,
                it["item_id"].to_bytes(2, "big")
                + (0).to_bytes(2, "big")          # item_protection_index
                + it["item_type"]
                + it["name"].encode("utf-8") + b"\x00",
            )
        iinf = _fullbox(
            b"iinf", 0, 0, len(items).to_bytes(2, "big") + infes
        )
        props = b""
        assocs = b""
        for idx, it in enumerate(items):
            props += _fullbox(
                b"ispe",
                0, 0,
                it["width"].to_bytes(4, "big")
                + it["height"].to_bytes(4, "big"),
            )
            props += _fullbox(
                b"pixi", 0, 0, bytes([3, it["bits"], it["bits"], it["bits"]])
            )
            # two property associations per item: its ispe, its pixi
            # (both marked essential, 7-bit 1-based property indices)
            assocs += (
                it["item_id"].to_bytes(2, "big")
                + bytes([2, 0x80 | (2 * idx + 1), 0x80 | (2 * idx + 2)])
            )
        ipco = _box(b"ipco", props)
        ipma = _fullbox(
            b"ipma", 0, 0, len(items).to_bytes(4, "big") + assocs
        )
        iprp = _box(b"iprp", ipco + ipma)
        loc = bytes([0x44, 0x00])                 # offset_size=4 length_size=4
        loc += len(items).to_bytes(2, "big")      # base_offset_size=0
        for it, off in zip(items, offsets):
            loc += it["item_id"].to_bytes(2, "big")
            loc += (0).to_bytes(2, "big")         # data_reference_index
            loc += (1).to_bytes(2, "big")         # extent_count
            loc += off.to_bytes(4, "big")
            loc += len(it["payload"]).to_bytes(4, "big")
        iloc = _fullbox(b"iloc", 0, 0, loc)
        return _fullbox(b"meta", 0, 0, hdlr + pitm + iinf + iprp + iloc)

    # Two-pass offset fix-up: meta's size is independent of the offset
    # VALUES (fixed 4-byte fields), so build once with zeros to learn the
    # mdat data start, then rebuild with real absolute offsets.
    meta0 = build_meta([0] * len(items))
    data_start = len(ftyp) + len(meta0) + 8       # past mdat header
    offsets = []
    pos = data_start
    for it in items:
        offsets.append(pos)
        pos += len(it["payload"])
    meta = build_meta(offsets)
    if len(meta) != len(meta0):
        raise AssertionError("ISOBMFF meta size changed on offset fix-up")
    mdat = _box(b"mdat", b"".join(it["payload"] for it in items))
    return ftyp + meta + mdat


def _walk_boxes(buf: bytes, start: int, end: int):
    """Yield ``(type, body_start, body_end)`` for each box in a range.

    Handles the three size encodings of §4.2: u32 size, size==1 ->
    u64 largesize, size==0 -> box extends to the end of the enclosing
    range.  Malformed framing raises ValueError — a silent partial walk
    would drop items without a trace."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated ISOBMFF box header")
        size = int.from_bytes(buf[pos : pos + 4], "big")
        btype = buf[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated ISOBMFF largesize")
            size = int.from_bytes(buf[pos + 8 : pos + 16], "big")
            body = pos + 16
            if size < 16:
                raise ValueError("bad ISOBMFF largesize")
        elif size == 0:
            size = end - pos
        elif size < 8:
            raise ValueError(f"bad ISOBMFF box size {size}")
        if pos + size > end:
            raise ValueError(
                f"ISOBMFF box {btype!r} runs past its container"
            )
        yield btype, body, pos + size
        pos += size


def _fullbox_body(buf: bytes, start: int, end: int, btype: bytes,
                  versions: tuple) -> tuple:
    if start + 4 > end:
        raise ValueError(f"truncated {btype!r} fullbox header")
    version = buf[start]
    flags = int.from_bytes(buf[start + 1 : start + 4], "big")
    if version not in versions:
        raise NotImplementedError(
            f"ISOBMFF {btype.decode('latin-1')} version {version} "
            "not supported"
        )
    return version, flags, start + 4


def decode_isobmff_image(payload: bytes) -> dict:
    """Byte-exact ISOBMFF still-image container walk (AVIF/HEIC layout).

    Returns ``{"brand", "compatible", "primary_id", "items"}`` where each
    item is a dict with ``item_id``/``item_type``/``name``/``width``/
    ``height``/``bits``/``offset``/``length``/``payload`` — every field
    parsed from the walked bytes, payload sliced by the ``iloc`` extent
    and bounds-checked against ``mdat``.  Unknown top-level or property
    boxes are skipped (box framing is self-describing, so skipping is
    safe — unlike codec bitstreams); STRUCTURAL deviations this subset
    cannot represent (multi-extent items, construction methods, protected
    items, fullbox versions beyond the written ones) raise
    NotImplementedError; malformed framing raises ValueError."""
    top = list(_walk_boxes(payload, 0, len(payload)))
    if not top or top[0][0] != b"ftyp":
        raise ValueError("ISOBMFF must start with ftyp")
    fb, fe = top[0][1], top[0][2]
    if fe - fb < 8 or (fe - fb) % 4:
        raise ValueError("bad ftyp body")
    brand = payload[fb : fb + 4].decode("latin-1")
    compatible = [
        payload[p : p + 4].decode("latin-1") for p in range(fb + 8, fe, 4)
    ]
    meta_span = mdat_span = None
    for btype, b, e in top:
        if btype == b"meta":
            meta_span = (b, e)
        elif btype == b"mdat":
            mdat_span = (b, e)
    if meta_span is None:
        raise ValueError("ISOBMFF image missing meta box")
    if mdat_span is None:
        raise ValueError("ISOBMFF image missing mdat box")
    _v, _f, mb = _fullbox_body(payload, *meta_span, b"meta", (0,))
    primary_id = None
    infos: dict = {}
    order: list = []
    props: list = []
    assoc: dict = {}
    locs: dict = {}
    for btype, b, e in _walk_boxes(payload, mb, meta_span[1]):
        if btype == b"pitm":
            _v, _f, p = _fullbox_body(payload, b, e, b"pitm", (0,))
            primary_id = int.from_bytes(payload[p : p + 2], "big")
        elif btype == b"iinf":
            _v, _f, p = _fullbox_body(payload, b, e, b"iinf", (0,))
            n = int.from_bytes(payload[p : p + 2], "big")
            seen = 0
            for it, ib, ie in _walk_boxes(payload, p + 2, e):
                if it != b"infe":
                    raise ValueError(f"unexpected box {it!r} inside iinf")
                _v, _f, q = _fullbox_body(payload, ib, ie, b"infe", (2,))
                iid = int.from_bytes(payload[q : q + 2], "big")
                prot = int.from_bytes(payload[q + 2 : q + 4], "big")
                if prot:
                    raise NotImplementedError(
                        "protected ISOBMFF items not supported"
                    )
                ityp = payload[q + 4 : q + 8].decode("latin-1")
                name = payload[q + 8 : ie].split(b"\x00")[0].decode("utf-8")
                infos[iid] = (ityp, name)
                order.append(iid)
                seen += 1
            if seen != n:
                raise ValueError(
                    f"iinf entry_count {n} != {seen} infe boxes"
                )
        elif btype == b"iprp":
            sub = list(_walk_boxes(payload, b, e))
            if [t for t, _b, _e in sub] != [b"ipco", b"ipma"]:
                raise ValueError("iprp must hold ipco then ipma")
            (_ct, cb, ce), (_at, ab, ae) = sub
            # 1-based property list in ipco declaration order
            for pt, pb, pe in _walk_boxes(payload, cb, ce):
                if pt == b"ispe":
                    _v, _f, q = _fullbox_body(payload, pb, pe, b"ispe", (0,))
                    props.append((
                        "ispe",
                        int.from_bytes(payload[q : q + 4], "big"),
                        int.from_bytes(payload[q + 4 : q + 8], "big"),
                    ))
                elif pt == b"pixi":
                    _v, _f, q = _fullbox_body(payload, pb, pe, b"pixi", (0,))
                    nch = payload[q]
                    depths = tuple(payload[q + 1 : q + 1 + nch])
                    if len(depths) != nch:
                        raise ValueError("pixi runs past its box")
                    props.append(("pixi", nch, depths))
                else:
                    # unknown property: keep the slot so 1-based ipma
                    # indices stay aligned
                    props.append((pt.decode("latin-1"), None, None))
            _v, _f, q = _fullbox_body(payload, ab, ae, b"ipma", (0,))
            n = int.from_bytes(payload[q : q + 4], "big")
            q += 4
            for _ in range(n):
                iid = int.from_bytes(payload[q : q + 2], "big")
                acount = payload[q + 2]
                q += 3
                idxs = []
                for _a in range(acount):
                    idxs.append(payload[q] & 0x7F)
                    q += 1
                assoc[iid] = idxs
            if q > ae:
                raise ValueError("ipma runs past its box")
        elif btype == b"iloc":
            _v, _f, p = _fullbox_body(payload, b, e, b"iloc", (0,))
            sizes = payload[p]
            off_sz, len_sz = sizes >> 4, sizes & 0xF
            base_sz = payload[p + 1] >> 4
            if (off_sz, len_sz, base_sz) != (4, 4, 0):
                raise NotImplementedError(
                    f"iloc sizes {off_sz}/{len_sz}/{base_sz} not supported"
                )
            cnt = int.from_bytes(payload[p + 2 : p + 4], "big")
            q = p + 4
            for _ in range(cnt):
                iid = int.from_bytes(payload[q : q + 2], "big")
                dref = int.from_bytes(payload[q + 2 : q + 4], "big")
                if dref:
                    raise NotImplementedError(
                        "iloc external data references not supported"
                    )
                ext = int.from_bytes(payload[q + 4 : q + 6], "big")
                if ext != 1:
                    raise NotImplementedError(
                        f"iloc extent_count {ext} not supported"
                    )
                off = int.from_bytes(payload[q + 6 : q + 10], "big")
                ln = int.from_bytes(payload[q + 10 : q + 14], "big")
                locs[iid] = (off, ln)
                q += 14
            if q > e:
                raise ValueError("iloc runs past its box")
    if primary_id is None:
        raise ValueError("ISOBMFF image missing pitm")
    if primary_id not in infos:
        raise ValueError(f"pitm references unknown item {primary_id}")
    items = []
    mb_, me_ = mdat_span
    for iid in order:
        ityp, name = infos[iid]
        if iid not in locs:
            raise ValueError(f"item {iid} missing from iloc")
        off, ln = locs[iid]
        if off < mb_ or off + ln > me_:
            raise ValueError(
                f"item {iid} extent [{off},{off + ln}) outside mdat"
            )
        width = height = None
        nch = depths = None
        for pidx in assoc.get(iid, []):
            if not 1 <= pidx <= len(props):
                raise ValueError(
                    f"ipma property index {pidx} out of range"
                )
            kind = props[pidx - 1]
            if kind[0] == "ispe":
                width, height = kind[1], kind[2]
            elif kind[0] == "pixi":
                nch, depths = kind[1], kind[2]
        items.append({
            "item_id": iid,
            "item_type": ityp,
            "name": name,
            "width": width,
            "height": height,
            "channels": nch,
            "bits": depths,
            "offset": off,
            "length": ln,
            "payload": payload[off : off + ln],
        })
    return {
        "brand": brand,
        "compatible": compatible,
        "primary_id": primary_id,
        "items": items,
    }

# ---------------------------------------------------------------------------
# ADTS (ISO/IEC 14496-3 §1.A.3) — the AAC transport framing
# ---------------------------------------------------------------------------
# Crawled .aac streams are sequences of ADTS frames: a fixed 28-bit +
# variable 28-bit header carrying profile / sampling-frequency index /
# channel configuration / frame length, then the raw AAC data blocks.
# The FRAME WALK below is complete and byte-exact — it is what a crawl
# pipeline needs for duration / bitrate / configuration stats; the
# raw-data-block payloads decode via the AAC-LC structural subset
# further down (encode_aac/decode_aac, swap-in tables for the
# empirical scalefactor-band + Huffman codebooks).

# ISO/IEC 14496-3 sampling_frequency_index table (public constants,
# reproduced in every ADTS description incl. RFC 6416 §6.1 context).
ADTS_SAMPLE_RATES = (
    96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000,
)
_ADTS_SAMPLES_PER_FRAME = 1024  # one raw data block, long-window AAC


def encode_adts(
    frames: list,
    freq_index: int,
    channels: int,
    profile: int = 1,
    mpeg2: bool = False,
) -> bytes:
    """Write an ADTS stream: one 7-byte protection-absent header per
    frame (syncword FFF, ID=0 MPEG-4 / ID=1 MPEG-2 via ``mpeg2``,
    layer=00, profile bits = object-type-1, 13-bit frame_length
    INCLUDING the header, VBR buffer-fullness 0x7FF, one raw data
    block), followed by that frame's payload bytes verbatim.
    ``profile`` 1 = AAC-LC in both framings (the 13818-7 and 14496-3
    ADTS fixed headers are bit-identical apart from the ID flag; in
    MPEG-2 the 2-bit profile field is the MPEG-2 AAC profile, where
    1 is likewise LC)."""
    if not 0 <= freq_index < len(ADTS_SAMPLE_RATES):
        raise ValueError(f"bad sampling_frequency_index {freq_index}")
    if not 1 <= channels <= 7:
        raise ValueError(f"bad channel_configuration {channels}")
    if not 0 <= profile <= 3:
        raise ValueError(f"bad ADTS profile {profile}")
    if mpeg2 and profile == 3:
        raise ValueError(
            "MPEG-2 ADTS profile 3 is reserved (Main/LC/SSR only)"
        )
    out = bytearray()
    for payload in frames:
        if isinstance(payload, (list, tuple)):
            # one ADTS frame carrying 1-4 consecutive raw data blocks
            # (number_of_raw_data_blocks_in_frame = n-1; protection
            # absent, so the blocks simply follow byte-aligned)
            blocks = list(payload)
            if not 1 <= len(blocks) <= 4:
                raise ValueError(
                    "an ADTS frame carries 1..4 raw data blocks"
                )
            nblk = len(blocks) - 1
            payload = b"".join(bytes(b) for b in blocks)
        else:
            nblk = 0
        flen = 7 + len(payload)
        if flen >= 1 << 13:
            raise ValueError("ADTS frame too long for 13-bit length")
        hdr = 0
        hdr = (hdr << 12) | 0xFFF          # syncword
        hdr = (hdr << 1) | (1 if mpeg2 else 0)  # ID
        hdr = (hdr << 2) | 0               # layer
        hdr = (hdr << 1) | 1               # protection_absent
        hdr = (hdr << 2) | profile
        hdr = (hdr << 4) | freq_index
        hdr = (hdr << 1) | 0               # private
        hdr = (hdr << 3) | channels
        hdr = (hdr << 1) | 0               # original/copy
        hdr = (hdr << 1) | 0               # home
        hdr = (hdr << 1) | 0               # copyright id bit
        hdr = (hdr << 1) | 0               # copyright id start
        hdr = (hdr << 13) | flen
        hdr = (hdr << 11) | 0x7FF          # buffer fullness: VBR
        hdr = (hdr << 2) | nblk            # raw_data_blocks - 1
        out += hdr.to_bytes(7, "big") + payload
    return bytes(out)


def decode_adts(payload: bytes) -> dict:
    """Byte-exact ADTS frame walk.  Returns ``{"profile", "freq_index",
    "sample_rate", "channels", "frames": [payload bytes, ...],
    "samples_per_channel"}`` with every field parsed from the header
    bits and the stream configuration verified CONSISTENT across
    frames (a mid-stream config change means a mis-synced walk — raise,
    don't resync silently).  CRC-protected headers
    (protection_absent=0) and multiple raw data blocks per frame raise
    NotImplementedError; malformed framing raises ValueError."""
    pos = 0
    profile = freq_index = channels = None
    frames: list = []
    raw_blocks: list = []
    while pos < len(payload):
        if pos + 7 > len(payload):
            raise ValueError("truncated ADTS header")
        hdr = int.from_bytes(payload[pos : pos + 7], "big")
        if hdr >> 44 != 0xFFF:
            raise ValueError(f"bad ADTS syncword at byte {pos}")
        mpeg_version = 2 if (hdr >> 43) & 1 else 4
        if (hdr >> 41) & 3:
            raise ValueError("ADTS layer bits must be 00")
        if not (hdr >> 40) & 1:
            raise NotImplementedError(
                "CRC-protected ADTS headers not supported"
            )
        prof = (hdr >> 38) & 3
        if mpeg_version == 2 and prof == 3:
            raise ValueError(
                "reserved MPEG-2 ADTS profile 3 (Main/LC/SSR only)"
            )
        fi = (hdr >> 34) & 0xF
        if fi >= len(ADTS_SAMPLE_RATES):
            raise ValueError(f"reserved sampling_frequency_index {fi}")
        ch = (hdr >> 30) & 7
        flen = (hdr >> 13) & 0x1FFF
        nblocks = hdr & 3
        if flen < 7 or pos + flen > len(payload):
            raise ValueError(f"ADTS frame length {flen} out of bounds")
        if profile is None:
            profile, freq_index, channels = prof, fi, ch
            version = mpeg_version
        elif (prof, fi, ch, mpeg_version) != (
            profile, freq_index, channels, version
        ):
            raise ValueError(
                "ADTS stream configuration changed mid-stream "
                f"({profile},{freq_index},{channels},v{version}) -> "
                f"({prof},{fi},{ch},v{mpeg_version})"
            )
        frames.append(payload[pos + 7 : pos + flen])
        raw_blocks.append(nblocks + 1)
        pos += flen
    if profile is None:
        raise ValueError("empty ADTS stream")
    return {
        "profile": profile,
        "mpeg_version": version,
        "freq_index": freq_index,
        "sample_rate": ADTS_SAMPLE_RATES[freq_index],
        "channels": channels,
        "frames": frames,
        "raw_blocks": raw_blocks,
        "samples_per_channel": _ADTS_SAMPLES_PER_FRAME * sum(raw_blocks),
    }


# ---------------------------------------------------------------------------
# AAC-LC raw data block (ISO/IEC 13818-7 / 14496-3 §4) — the same
# swap-in-table contract as MP3: all STRUCTURE is the spec's (syntactic
# element walk, SCE/CPE individual_channel_stream layout incl.
# common_window + the three ms_mask_present shapes with per-line
# MID/SIDE dematrix, INTENSITY stereo via codebooks 15/14 with the
# is_position DPCM chain [0.5^(is_pos/4) restricted to the 4k
# integer-shift grid], ics_info fields, section_data run coding with the
# 5-bit/esc-31 length increments, DPCM scalefactors from global_gain,
# pairwise spectral traversal, |x|^(4/3) requantization, N=2048 IMDCT
# + sine window + 1024-sample overlap-add, per-channel overlap state
# with interleaved L/R output, and the WINDOW-SWITCHING sequences:
# LONG_START/LONG_STOP composite windows and EIGHT_SHORT's eight
# N=256 transforms with scale_factor_grouping, per-group sections
# [3-bit/esc-7 lengths] + scalefactors and the grouped band-major
# transmission order), while the EMPIRICAL tables this offline container
# cannot verify are repo-defined swap-ins behind single swap points:
#   - AAC_SFB / AAC_SFB_SHORT: scalefactor band widths (spec Table
#     4.110 family is empirical per sample rate; swap-ins = 16 x 64
#     tiling 1024 lines, 8 x 16 tiling each short window);
#   - the spectral Huffman codebooks 1-11 and the scalefactor codebook:
#     Elias-gamma magnitude + sign / zigzag-gamma DPCM stand-ins
#     (codebook id 1 in section_data);
#   - AAC_POW43 / the 2^((sf-100)/4) gain grid restricted to integer
#     shifts (sf = 100 + 4k, k 0..7) so the whole chain is exact
#     integers, SQL-replayable (same contract as MP3's gain grid).
#   - TNS: full long-window tns_data syntax (n_filt, coef_res,
#     length/order/direction/compress, lattice->LPC conversion, the
#     all-pole region filter with max_sfb clipping) with the spec's
#     sin-based coefficient dequant restricted to the integer-
#     reflection grid {-1,0,1} — exact integers, linear, oracle
#     composes through the filter; off-grid coefficients, order > 12,
#     and TNS inside EIGHT_SHORT frames gate loudly.
#   - pulse data: full §4.6.3.3 semantics — amplitudes add to the
#     QUANTIZED values before requantization (AAC_POW43 extended to
#     magnitude 30 for the post-pulse range); pulses into
#     untransmitted/noise/intensity bands gate loudly.
#   - PNS (codebook 13): noise-energy chain per the spec (starts at
#     global_gain-90, 9-bit PCM first delta, DPCM after) restricted to
#     the 2^((nrg-100)/4) integer grid; the decoder-defined random
#     vector is the pinned AAC_PNS_SEQ swap-in (the spec's energy
#     normalization is a sqrt — irrational — so the swap-in keeps the
#     chain exact-integer and SQL-replayable). Long windows only; PNS
#     on an M/S band (correlated noise) gates loudly.
#   - ADTS: both framings decode (MPEG-4 ID=0 and MPEG-2 ID=1 — the
#     13818-7/14496-3 fixed headers are bit-identical apart from the
#     ID flag; mpeg_version is reported and a mid-stream flip is an
#     error; MPEG-2 profile 3 is reserved and rejected).
# Loud subset gates (NotImplementedError, never silent): joint
# stereo with window switching, KBD window shape, MAIN-profile
# prediction, pulse into untransmitted bands, pulse/PNS/TNS in
# EIGHT_SHORT frames, TNS/PNS values off their integer grids,
# SSR gain control, PNS on M/S bands,
# intensity positions off the 4k integer-shift grid or outside a
# common-window CPE second channel, MS+intensity on one band,
# empirical codebooks 2-12, CCE/LFE/DSE/
# PCE/FIL elements, profiles other than LC, channel configs > 2 —
# every real-world AAC stream refuses loudly until the spec tables are
# swapped in; the codec is exact against its own encoder.
# ---------------------------------------------------------------------------

# Same |x|^(4/3) nonlinearity and x4 fixed point as MP3, extended to
# magnitude 30: pulse data adds up to 15 to a quantized magnitude of up
# to 15 BEFORE requantization, so the post-pulse table needs 0..30
# (entries 0..15 are bit-identical to MP3_POW43).
AAC_POW43 = tuple(round((v ** (4.0 / 3.0)) * 4) for v in range(31))


def _aac_pns_seq() -> tuple:
    """The PNS fill sequence — the module's swap-in for the spec's
    decoder-defined noise generator (14496-3 §4.6.13 leaves the random
    vector implementation-defined; only the band energy is normative,
    and that normalization is a sqrt — irrational). Swap-in contract
    (same as the gain grid): one PINNED per-line signed integer
    sequence, xorshift32 seeded 0x9E3779B9, mapped to -16..15; a noise
    band at noise shift k fills line i with AAC_PNS_SEQ[i] << k, exact
    integers, linear, SQL-replayable as pinned band taps."""
    out = []
    s = 0x9E3779B9
    for _ in range(1024):
        s ^= (s << 13) & 0xFFFFFFFF
        s ^= s >> 17
        s ^= (s << 5) & 0xFFFFFFFF
        out.append(((s >> 16) & 31) - 16)
    return tuple(out)


AAC_PNS_SEQ = _aac_pns_seq()
AAC_SFB = (64,) * 16  # swap-in long-window scalefactor band widths
_AAC_SFB_START = tuple(64 * b for b in range(17))
AAC_N = 2048
AAC_SHIFT = 15  # chain scale: x4 (pow43) * x64 (cos) * x64 (window) = 2^14
AAC_WIN = tuple(
    round(64 * __import__("math").sin(
        __import__("math").pi / 2048.0 * (n + 0.5)
    ))
    for n in range(2048)
)
# Short-transform window (N=256) and the window-switching composites
# (14496-3 §4.6.11.3): LONG_START = long left half, 448 ones, short
# descending half, 448 zeros; LONG_STOP mirrors it; EIGHT_SHORT places
# eight 256-sample short windows at offsets 448 + 128w.
AAC_WIN_SHORT = tuple(
    round(64 * __import__("math").sin(
        __import__("math").pi / 256.0 * (n + 0.5)
    ))
    for n in range(256)
)
AAC_WIN_START = (
    AAC_WIN[:1024] + (64,) * 448 + AAC_WIN_SHORT[128:] + (0,) * 448
)
AAC_WIN_STOP = (
    (0,) * 448 + AAC_WIN_SHORT[:128] + (64,) * 448 + AAC_WIN[1024:]
)
AAC_SFB_SHORT = (16,) * 8  # swap-in short band widths (128 lines/window)
_AAC_SFB_SHORT_START = tuple(16 * b for b in range(9))
_AAC_C_ROWS: dict = {}
_AAC_C256_ROWS: dict = {}
_AAC_C_NP: dict = {}
_AAC_WIN_NP: dict = {}


def _aac_c_row_np(k: int):
    """int64 numpy copy of :func:`_aac_c_row`, cached per line — the
    tuple->array conversion dominates the fast-path cost otherwise."""
    arr = _AAC_C_NP.get(k)
    if arr is None:
        import numpy as np

        arr = np.array(_aac_c_row(k), dtype=np.int64)
        _AAC_C_NP[k] = arr
    return arr


def _aac_c256_row(k: int) -> tuple:
    """Row k of the short-transform IMDCT cosine (N=256, n0=64.5),
    same x64 fixed point and lazy caching as :func:`_aac_c_row`."""
    row = _AAC_C256_ROWS.get(k)
    if row is None:
        math = __import__("math")
        row = tuple(
            round(64 * math.cos(
                math.pi * (2 * n + 1 + 128) * (2 * k + 1) / 512.0
            ))
            for n in range(256)
        )
        _AAC_C256_ROWS[k] = row
    return row


def _aac_c_row(k: int) -> tuple:
    """Row k of the long-window IMDCT cosine (the spec FORMULA
    x(n) = sum_k spec[k] cos(2pi/N (n + n0)(k + 1/2)), n0 = (N/2+1)/2,
    rounded to the module's x64 fixed point) — computed lazily per
    spectral line and cached: the full 1024x2048 table is 2M entries,
    and a stream touches only its nonzero lines."""
    row = _AAC_C_ROWS.get(k)
    if row is None:
        math = __import__("math")
        row = tuple(
            round(64 * math.cos(
                math.pi * (2 * n + 1 + 1024) * (2 * k + 1) / 4096.0
            ))
            for n in range(2048)
        )
        _AAC_C_ROWS[k] = row
    return row


def _aac_frame_pcm(xr: list, prev: list, ws: int = 0) -> tuple:
    """One frame through the exact integer chain: IMDCT of the nonzero
    lines (lazy cosine rows), the window sequence's window, overlap-add
    with the previous frame's tail. ``ws`` is the window_sequence —
    0 ONLY_LONG / 1 LONG_START / 3 LONG_STOP run the N=2048 transform
    under their composite windows; 2 EIGHT_SHORT runs eight N=256
    transforms (``xr`` in window-major order: window w owns lines
    128w..128w+127) windowed short and overlap-added at offsets
    448 + 128w. ``prev`` is the 1024-sample overlap state. Returns
    (1024 raw accumulator values, new state) — linear in xr, one
    rounding applied by the caller."""
    nz = [(k, v) for k, v in enumerate(xr) if v]
    if not nz and not any(prev):
        return [0] * 1024, prev
    if ws == 2:
        z = [0] * AAC_N
        for w in range(8):
            seg = [(k, v) for k, v in nz if 128 * w <= k < 128 * (w + 1)]
            if not seg:
                continue
            base = 448 + 128 * w
            for n in range(256):
                acc_n = sum(
                    v * _aac_c256_row(k - 128 * w)[n] for k, v in seg
                )
                if acc_n:
                    z[base + n] += acc_n * AAC_WIN_SHORT[n]
    else:
        win = {0: AAC_WIN, 1: AAC_WIN_START, 3: AAC_WIN_STOP}.get(ws)
        if win is None:
            raise ValueError(f"bad AAC window_sequence {ws}")
        # Exact int64 matmul fast path for line-dense spectra (PNS
        # fills whole bands; the pure-Python loop is ~1000x slower at
        # 192 nonzero lines). Safe iff the accumulator provably fits
        # int64: |z[n]| <= sum|v| * 64 (cos) * 64 (win); otherwise
        # (e.g. adversarial high-order TNS growth) fall back to the
        # arbitrary-precision path — results are bit-identical.
        np_mod = None
        if len(nz) >= 8:
            try:
                import numpy as np_mod
            except ImportError:
                np_mod = None
        if np_mod is not None and sum(
            abs(v) for _, v in nz
        ) * 4096 < (1 << 62):
            rows = np_mod.vstack([_aac_c_row_np(k) for k, _ in nz])
            vals = np_mod.array([v for _, v in nz], dtype=np_mod.int64)
            wkey = id(win)
            warr = _AAC_WIN_NP.get(wkey)
            if warr is None:
                warr = np_mod.array(win, dtype=np_mod.int64)
                _AAC_WIN_NP[wkey] = warr
            z = ((vals @ rows) * warr).tolist()
        else:
            sw = [0] * AAC_N
            for k, v in nz:
                row = _aac_c_row(k)
                for n in range(AAC_N):
                    sw[n] += v * row[n]
            z = [sw[n] * win[n] for n in range(AAC_N)]
    acc = [z[n] + prev[n] for n in range(1024)]
    return acc, z[1024:]


def _aac_norm_frame(g) -> dict:
    """Normalize a frame spec: ``(values, gain_e)`` (spectral prefix,
    flat gain, long window) or the dict ``{spec, gain_e, sf_down,
    window, groups, sf_down_short}``: up to 1024 signed quantized
    lines (|x| <= 15), gain_e on the 0..7 grid, ``window`` the
    window_sequence (0 ONLY_LONG default / 1 LONG_START / 2
    EIGHT_SHORT / 3 LONG_STOP). Long shapes take per-band down-shifts
    ``sf_down`` (band shift = gain_e - sf_down[b]); EIGHT_SHORT takes
    ``spec`` in window-major order (window w owns lines
    128w..128w+127), ``groups`` as a list of window-group sizes
    summing to 8 (default all singletons), and ``sf_down_short`` as a
    [group][band] grid."""
    if isinstance(g, dict):
        spec = list(g.get("spec", []))
        gain_e = g.get("gain_e", 0)
        window = g.get("window", 0)
        sf_down = list(g.get("sf_down", [0] * len(AAC_SFB)))
        groups = list(g.get("groups", [1] * 8))
        sfds = g.get("sf_down_short")
        tns = g.get("tns") or []
        pulse = g.get("pulse")
        pns = dict(g.get("pns") or {})
    else:
        spec, gain_e = list(g[0]), g[1]
        window, sf_down = 0, [0] * len(AAC_SFB)
        groups, sfds = [1] * 8, None
        tns = []
        pulse, pns = None, {}
    if window not in (0, 1, 2, 3):
        raise ValueError(f"window_sequence must be 0..3, got {window}")
    if len(spec) > 1024:
        raise ValueError("more than 1024 spectral lines in an AAC frame")
    spec += [0] * (1024 - len(spec))
    for v in spec:
        if not -15 <= v <= 15:
            raise ValueError("AAC spectral magnitude above 15")
    if not 0 <= gain_e <= 7:
        raise ValueError("gain_e out of the subset's 0..7 grid")
    out = {"spec": spec, "gain_e": gain_e, "window": window}
    if tns:
        def _norm_filters(fl, max_len, max_order, max_n, what):
            if len(fl) > max_n:
                raise ValueError(
                    f"{what}: at most {max_n} TNS filter(s)"
                )
            norm = []
            for f in fl:
                length = int(f.get("length", 0))
                direction = int(f.get("direction", 0))
                coefs = list(f.get("coefs", []))
                if not 0 <= length <= max_len:
                    raise ValueError(
                        f"TNS length {length} outside 0..{max_len}"
                    )
                if len(coefs) > max_order:
                    raise ValueError(
                        f"TNS order {len(coefs)} above the AAC-LC"
                        f" limit {max_order}"
                    )
                if direction not in (0, 1):
                    raise ValueError("TNS direction flag must be 0/1")
                if any(k not in (-1, 0, 1) for k in coefs):
                    raise ValueError(
                        "TNS coefficients must sit on the integer-"
                        "reflection {-1,0,1} grid"
                    )
                norm.append(
                    {"length": length, "direction": direction,
                     "coefs": [int(k) for k in coefs]}
                )
            return norm

        if window == 2:
            # EIGHT_SHORT: one filter list per window (n_filt is 1
            # bit), short field widths (length 4 bits, order <= 7)
            if len(tns) != 8 or not all(
                isinstance(wf, (list, tuple)) for wf in tns
            ):
                raise ValueError(
                    "EIGHT_SHORT tns needs 8 per-window filter lists"
                )
            out["tns"] = [
                _norm_filters(list(wf), 15, 7, 1, f"window {w}")
                for w, wf in enumerate(tns)
            ]
        else:
            out["tns"] = _norm_filters(
                tns, 63, 12, 3, "long window"
            )
    if pulse is not None:
        if window == 2:
            raise ValueError(
                "pulse data is forbidden in EIGHT_SHORT frames"
                " (14496-3)"
            )
        start_sfb = int(pulse.get("start_sfb", 0))
        pulses = [(int(o), int(a)) for o, a in pulse.get("pulses", [])]
        if not 1 <= len(pulses) <= 4:
            raise ValueError("pulse data carries 1..4 pulses")
        if not 0 <= start_sfb < len(AAC_SFB):
            raise ValueError(f"pulse_start_sfb {start_sfb} out of range")
        if any(not 0 <= o <= 31 or not 0 <= a <= 15 for o, a in pulses):
            raise ValueError("pulse offset must be 0..31, amp 0..15")
        k = _AAC_SFB_START[start_sfb]
        for o, _a in pulses:
            k += o
            if k >= 1024 or not spec[k]:
                raise ValueError(
                    f"pulse at line {k} must land on a transmitted"
                    " nonzero line"
                )
        out["pulse"] = {"start_sfb": start_sfb, "pulses": pulses}
    if pns:
        if window == 2:
            raise NotImplementedError(
                "PNS (codebook 13) not supported in EIGHT_SHORT frames"
                " (long-window PNS subset)"
            )
        for b, kn in pns.items():
            if not 0 <= int(b) < len(AAC_SFB):
                raise ValueError(f"PNS band {b} out of range")
            if not 0 <= int(kn) <= 7:
                raise ValueError(
                    f"PNS noise shift {kn} off the 0..7 integer grid"
                )
            if any(spec[_AAC_SFB_START[int(b)]:_AAC_SFB_START[int(b) + 1]]):
                raise ValueError(
                    f"band {b} carries both spectral lines and PNS"
                )
        out["pns"] = {int(b): int(kn) for b, kn in pns.items()}
    if window == 2:
        if any(n < 1 for n in groups) or sum(groups) != 8:
            raise ValueError("groups must be positive sizes summing to 8")
        if sfds is None:
            sfds = [[0] * len(AAC_SFB_SHORT) for _ in groups]
        sfds = [list(r) for r in sfds]
        if len(sfds) != len(groups) or any(
            len(r) != len(AAC_SFB_SHORT) for r in sfds
        ):
            raise ValueError(
                "sf_down_short needs a [group][band] grid"
            )
        used_gb = []
        w0 = 0
        for gi, size in enumerate(groups):
            row = []
            for b in range(len(AAC_SFB_SHORT)):
                u = any(
                    spec[128 * (w0 + w) + _AAC_SFB_SHORT_START[b]
                         + i]
                    for w in range(size)
                    for i in range(AAC_SFB_SHORT[b])
                )
                if u and not 0 <= gain_e - sfds[gi][b] <= 7:
                    raise ValueError(
                        f"group {gi} band {b} shift"
                        f" {gain_e - sfds[gi][b]} off the 0..7 grid"
                    )
                row.append(u)
            used_gb.append(row)
            w0 += size
        out.update(groups=groups, sf_down_short=sfds, used_gb=used_gb)
        return out
    if len(sf_down) != len(AAC_SFB):
        raise ValueError(f"sf_down needs {len(AAC_SFB)} bands")
    used = [
        any(spec[_AAC_SFB_START[b]:_AAC_SFB_START[b + 1]])
        for b in range(len(AAC_SFB))
    ]
    for b, u in enumerate(used):
        if u and not 0 <= gain_e - sf_down[b] <= 7:
            raise ValueError(
                f"band {b} shift {gain_e - sf_down[b]} off the 0..7 grid"
            )
    out.update(sf_down=sf_down, used=used)
    return out


def _aac_write_ics_info(bw, ws: int, max_sfb: int, groups=None) -> None:
    bw.bits(0, 1)  # ics_reserved_bit
    bw.bits(ws, 2)  # window_sequence
    bw.bits(0, 1)  # window_shape: sine
    if ws == 2:
        bw.bits(max_sfb, 4)
        # scale_factor_grouping: bit w (windows 1..7) set = window w
        # joins the PREVIOUS group; a group's first window clears it
        joined = []
        for size in groups:
            joined += [False] + [True] * (size - 1)
        for j in joined[1:]:
            bw.bits(1 if j else 0, 1)
    else:
        bw.bits(max_sfb, 6)
        bw.bits(0, 1)  # predictor_data_present


def _aac_sections(bw, cb_row: list, max_sfb: int, len_bits: int) -> None:
    """Run-coded section_data over one scalefactor-band row of codebook
    ids: sect_cb(4) + length increments of ``len_bits`` bits with the
    all-ones escape (5/31 long, 3/7 short — the spec's structural
    widths)."""
    esc = (1 << len_bits) - 1
    b = 0
    while b < max_sfb:
        cb = cb_row[b]
        ln = 1
        while b + ln < max_sfb and cb_row[b + ln] == cb:
            ln += 1
        bw.bits(cb, 4)
        rem = ln
        while rem >= esc:
            bw.bits(esc, len_bits)
            rem -= esc
        bw.bits(rem, len_bits)
        b += ln


def _aac_put_sf(bw, last: int, shift: int) -> int:
    sf = 100 + 4 * shift
    d = sf - last
    _mp3_put_gamma(bw, 2 * d if d >= 0 else -2 * d - 1)
    return sf


def _aac_put_lines(bw, spec: list, start: int, count: int) -> None:
    for i in range(start, start + count):
        v = spec[i]
        _mp3_put_gamma(bw, abs(v))
        if v:
            bw.bits(1 if v < 0 else 0, 1)


def _aac_write_tns_filters(bw, filters, n_filt_bits, len_bits,
                           order_bits) -> None:
    bw.bits(len(filters), n_filt_bits)
    if not filters:
        return
    bw.bits(0, 1)  # coef_res: 3-bit coefficient fields
    for f in filters:
        bw.bits(f["length"], len_bits)
        order = len(f["coefs"])
        bw.bits(order, order_bits)
        if order:
            bw.bits(f["direction"], 1)
            bw.bits(0, 1)  # coef_compress
            for k in f["coefs"]:
                bw.bits(k & 7, 3)


def _aac_write_tns(bw, tns, ws: int) -> None:
    """tns_data: long layout (n_filt 2 bits, length 6, order 5) or the
    EIGHT_SHORT per-window layout (8x: n_filt 1 bit, length 4,
    order 3); coef_res 0, coef_compress 0, integer-reflection
    coefficients as 3-bit two's complement."""
    if ws == 2:
        for wf in tns:
            _aac_write_tns_filters(bw, wf, 1, 4, 3)
    else:
        _aac_write_tns_filters(bw, tns, 2, 6, 5)


def _aac_write_stream(bw, g: dict, max_sfb: int, common: bool) -> None:
    """individual_channel_stream: global_gain, (ics_info when the
    window is not shared), run-coded sections, DPCM scalefactors,
    data-present flags, gamma+sign spectral pairs. EIGHT_SHORT frames
    section/scale per window group and store spectra grouped
    band-major (windows inner), the spec's transmission order."""
    gg = 100 + 4 * g["gain_e"]
    bw.bits(gg, 8)
    ws = g["window"]
    if not common:
        _aac_write_ics_info(bw, ws, max_sfb, g.get("groups"))
    if ws == 2:
        for used_row in g["used_gb"]:
            _aac_sections(bw, [1 if u else 0 for u in used_row],
                          max_sfb, 3)
        last = gg
        for gi in range(len(g["groups"])):
            for b in range(max_sfb):
                if g["used_gb"][gi][b]:
                    last = _aac_put_sf(
                        bw, last, g["gain_e"] - g["sf_down_short"][gi][b]
                    )
        bw.bits(0, 1)  # pulse_data_present
        tns_s = g.get("tns") or []
        if any(tns_s):
            bw.bits(1, 1)  # tns_data_present
            _aac_write_tns(bw, tns_s, ws)
        else:
            bw.bits(0, 1)  # tns_data_present
        bw.bits(0, 1)  # gain_control_data_present
        w0 = 0
        for gi, size in enumerate(g["groups"]):
            for b in range(max_sfb):
                if not g["used_gb"][gi][b]:
                    continue
                for w in range(size):
                    _aac_put_lines(
                        bw, g["spec"],
                        128 * (w0 + w) + _AAC_SFB_SHORT_START[b],
                        AAC_SFB_SHORT[b],
                    )
            w0 += size
        return
    used = g["used"]
    pns = g.get("pns") or {}
    cb_row = [
        13 if b in pns else (1 if used[b] else 0)
        for b in range(len(used))
    ]
    _aac_sections(bw, cb_row, max_sfb, 5)
    last = gg
    noise_last = gg - 90
    noise_first = True
    for b in range(max_sfb):  # scale_factor_data (DPCM zigzag)
        if b in pns:
            nrg = 100 + 4 * pns[b]
            if noise_first:
                noise_first = False
                bw.bits(nrg - noise_last + 256, 9)  # dpcm_noise_nrg PCM
            else:
                d = nrg - noise_last
                _mp3_put_gamma(bw, 2 * d if d >= 0 else -2 * d - 1)
            noise_last = nrg
        elif used[b]:
            last = _aac_put_sf(bw, last, g["gain_e"] - g["sf_down"][b])
    pulse = g.get("pulse")
    if pulse:
        bw.bits(1, 1)  # pulse_data_present
        bw.bits(len(pulse["pulses"]) - 1, 2)
        bw.bits(pulse["start_sfb"], 6)
        for off, amp in pulse["pulses"]:
            bw.bits(off, 5)
            bw.bits(amp, 4)
    else:
        bw.bits(0, 1)  # pulse_data_present
    tns = g.get("tns") or []
    if tns:
        bw.bits(1, 1)  # tns_data_present
        _aac_write_tns(bw, tns, ws)
    else:
        bw.bits(0, 1)  # tns_data_present
    bw.bits(0, 1)  # gain_control_data_present
    for b in range(max_sfb):  # spectral_data: pairwise gamma+sign
        if used[b] and b not in pns:
            _aac_put_lines(bw, g["spec"], _AAC_SFB_START[b], AAC_SFB[b])


def _aac_max_sfb(g: dict) -> int:
    if g["window"] == 2:
        return max(
            (b + 1 for row in g["used_gb"]
             for b in range(len(row)) if row[b]),
            default=0,
        )
    bands = [b + 1 for b in range(len(g["used"])) if g["used"][b]]
    bands += [b + 1 for b in (g.get("pns") or {})]
    return max(bands, default=0)


def encode_aac(
    frames: list, freq_index: int = 4, mode: str = "mono",
    ms_used: list = None,
) -> bytes:
    """AAC-LC encoder for the structural subset above: each frame is
    ``(values, gain_e)`` or the :func:`_aac_norm_frame` dict (incl.
    the window-switching shapes: LONG_START / EIGHT_SHORT /
    LONG_STOP). Emits one ADTS frame per raw data block (profile LC),
    byte-aligned.

    ``mode``: "mono" (SCE, channel config 1), or the CPE pair modes
    (channel config 2; each ``frames`` entry is then a ``(ch0, ch1)``
    pair): "stereo" — common_window=1, ms_mask_present=0, independent
    left/right; "ms" — common_window=1 with MID/SIDE matrixing: the
    pair is the (mid, side) TRANSMITTED spectra and the decoder
    dematrixes l = m + s, r = m - s per line on the integer grid
    (the spec's 14496-3 §4.6.8.1 M/S; its 1/sqrt(2)-free formulation
    is already exact in integers). ``ms_used`` (with mode="ms") emits
    ms_mask_present=1 with that per-band mask instead of the
    all-bands mask 2 — bands outside the mask stay independent L/R.
    The CPE modes share one long ics_info; window switching in a pair
    gates loudly (the joint-stereo subset is long-window)."""
    modes = ("mono", "stereo", "ms", "is")
    if mode not in modes:
        raise ValueError(f"unsupported AAC mode {mode!r} {modes}")
    nch = 1 if mode == "mono" else 2
    if ms_used is not None and mode != "ms":
        raise ValueError("ms_used is only meaningful with mode='ms'")
    payloads = []
    for entry in frames:
        bw = _MsbBitWriter()
        if nch == 1:
            g = _aac_norm_frame(entry)
            bw.bits(0, 3)  # id_syn_ele: SCE
            bw.bits(0, 4)  # element_instance_tag
            # individual_channel_stream carries ics_info itself when
            # the window is not shared
            _aac_write_stream(bw, g, _aac_max_sfb(g), common=False)
        else:
            if isinstance(entry, dict) or len(entry) != 2:
                raise ValueError(
                    "two-channel AAC modes need (ch0, ch1) frame pairs"
                )
            if mode == "is":
                g0 = _aac_norm_frame(entry[0])
                if g0["window"]:
                    raise NotImplementedError(
                        "CPE joint stereo encodes long windows only"
                    )
                spec1 = entry[1] if isinstance(entry[1], dict) else {}
                # encoder-side bounds, mirroring the ms_used length
                # check: an unknown key (e.g. a second-channel 'spec')
                # would be silently DROPPED, and an is_pos/phase list
                # longer than the band table would emit a stream the
                # decoder then rejects — both are caller errors and
                # fail here, not downstream
                extra = set(spec1) - {"is_pos", "phase"}
                if extra:
                    raise ValueError(
                        f"mode='is' right-channel entry carries "
                        f"unsupported keys {sorted(extra)} (intensity "
                        "sections transmit is_pos/phase only — no "
                        "spectral data)"
                    )
                pos = list(spec1.get("is_pos", []))
                phase = list(spec1.get("phase", []))
                for nm, lst in (("is_pos", pos), ("phase", phase)):
                    if len(lst) > len(AAC_SFB):
                        raise ValueError(
                            f"{nm} longer than the {len(AAC_SFB)}-band"
                            " scale-factor-band table"
                        )
                pos += [None] * (len(AAC_SFB) - len(pos))
                phase += [1] * (len(AAC_SFB) - len(phase))
                for b, pv in enumerate(pos):
                    if pv is None:
                        continue
                    if pv % 4 or not 0 <= pv // 4 <= 7:
                        raise ValueError(
                            f"is_pos[{b}]={pv} off the 4k (integer-"
                            "shift) 0..28 grid"
                        )
                    if phase[b] not in (1, -1):
                        raise ValueError("phase flags must be +-1")
                max_sfb = max(
                    _aac_max_sfb(g0),
                    max((b + 1 for b, pv in enumerate(pos)
                         if pv is not None), default=0),
                )
                bw.bits(1, 3)  # id_syn_ele: CPE
                bw.bits(0, 4)  # element_instance_tag
                bw.bits(1, 1)  # common_window
                _aac_write_ics_info(bw, 0, max_sfb)
                bw.bits(0, 2)  # ms_mask_present: none
                _aac_write_stream(bw, g0, max_sfb, common=True)
                # right channel: intensity sections, is_pos DPCM from
                # 0, no spectral data
                bw.bits(100, 8)  # global_gain (no spectral content)
                cb_row = [
                    (15 if phase[b] > 0 else 14)
                    if pos[b] is not None else 0
                    for b in range(max_sfb)
                ]
                _aac_sections(bw, cb_row, max_sfb, 5)
                last_pos = 0
                for b in range(max_sfb):
                    if pos[b] is None:
                        continue
                    d = pos[b] - last_pos
                    last_pos = pos[b]
                    _mp3_put_gamma(bw, 2 * d if d >= 0 else -2 * d - 1)
                bw.bits(0, 1)  # pulse_data_present
                bw.bits(0, 1)  # tns_data_present
                bw.bits(0, 1)  # gain_control_data_present
                bw.bits(7, 3)  # id_syn_ele: END
                payloads.append(bw.flush())
                continue
            g0, g1 = (_aac_norm_frame(e) for e in entry)
            if g0["window"] or g1["window"]:
                raise NotImplementedError(
                    "CPE joint stereo encodes long windows only"
                )
            max_sfb = max(_aac_max_sfb(g0), _aac_max_sfb(g1))
            bw.bits(1, 3)  # id_syn_ele: CPE
            bw.bits(0, 4)  # element_instance_tag
            bw.bits(1, 1)  # common_window
            _aac_write_ics_info(bw, 0, max_sfb)
            if mode == "stereo":
                bw.bits(0, 2)  # ms_mask_present: none
            elif ms_used is None:
                bw.bits(2, 2)  # ms_mask_present: all bands
            else:
                if len(ms_used) > len(AAC_SFB):
                    raise ValueError(
                        f"ms_used longer than the {len(AAC_SFB)}-band"
                        " table"
                    )
                bw.bits(1, 2)  # ms_mask_present: per-band mask
                mask_full = list(ms_used) + [False] * (
                    len(AAC_SFB) - len(ms_used)
                )
                for u in mask_full[:max_sfb]:  # max_sfb bits per ICS
                    bw.bits(1 if u else 0, 1)
            _aac_write_stream(bw, g0, max_sfb, common=True)
            _aac_write_stream(bw, g1, max_sfb, common=True)
        bw.bits(7, 3)  # id_syn_ele: END
        payloads.append(bw.flush())
    return encode_adts(payloads, freq_index, channels=nch, profile=1)


def _aac_read_ics_info(br) -> tuple:
    """ics_info; returns (window_sequence, max_sfb, groups) with
    ``groups`` the window-group sizes for EIGHT_SHORT (None for long
    shapes). Out-of-subset constructs gate loudly."""
    if br.bits(1):
        raise ValueError("ics_reserved_bit set")
    ws = br.bits(2)
    if br.bits(1):
        raise NotImplementedError(
            "KBD window shape not supported (empirical window)"
        )
    if ws == 2:
        max_sfb = br.bits(4)
        if max_sfb > len(AAC_SFB_SHORT):
            raise ValueError(
                f"short max_sfb {max_sfb} beyond the band table"
            )
        groups = [1]
        for _ in range(7):
            if br.bits(1):
                groups[-1] += 1
            else:
                groups.append(1)
        return ws, max_sfb, groups
    max_sfb = br.bits(6)
    if max_sfb > len(AAC_SFB):
        raise ValueError(f"max_sfb {max_sfb} beyond the band table")
    if br.bits(1):
        raise NotImplementedError(
            "MAIN-profile prediction not supported in AAC-LC"
        )
    return ws, max_sfb, None


def _aac_read_sections(br, max_sfb: int, len_bits: int,
                       intensity_ok: bool = False,
                       pns_ok: bool = True) -> list:
    esc = (1 << len_bits) - 1
    cbs = []
    while len(cbs) < max_sfb:
        cb = br.bits(4)
        if cb == 13 and not pns_ok:
            raise NotImplementedError(
                "PNS (codebook 13) not supported in EIGHT_SHORT frames"
                " (long-window PNS subset)"
            )
        if cb in (14, 15) and not intensity_ok:
            raise NotImplementedError(
                "intensity stereo codebooks are only defined for the"
                " second channel of a common-window CPE"
            )
        if cb not in (0, 1, 13, 14, 15):
            raise NotImplementedError(
                f"empirical spectrum Huffman codebook {cb} not"
                " available (repo codebook ids: 0 zero / 1 gamma /"
                " 13 noise)"
            )
        ln = 0
        while True:
            inc = br.bits(len_bits)
            ln += inc
            if inc != esc:
                break
        if ln == 0 or len(cbs) + ln > max_sfb:
            raise ValueError("bad AAC section length")
        cbs += [cb] * ln
    return cbs


def _aac_read_sf(br, last: int) -> tuple:
    z = _mp3_get_gamma(br)
    last += z // 2 if z % 2 == 0 else -((z + 1) // 2)
    if (last - 100) % 4 or not 0 <= (last - 100) // 4 <= 7:
        raise NotImplementedError(
            f"scalefactor {last} off the 2^((sf-100)/4) 0..7"
            " integer grid"
        )
    return last, (last - 100) // 4


def _aac_read_tns_filters(br, n_filt_bits, len_bits, order_bits,
                          max_order) -> list:
    """One window's tns_data filter list (shared by the long and short
    layouts; only the field widths differ). The spec's coefficient
    dequant is a sin-based table (irrational); the subset restricts the
    decoded signed coefficient to the INTEGER-REFLECTION grid {-1,0,1}
    so the lattice->LPC conversion and the all-pole filter run in exact
    integers (same swap-in contract as the 2^((sf-100)/4) gain grid).
    Off-grid coefficients and over-limit orders gate loudly."""
    n_filt = br.bits(n_filt_bits)
    filters: list = []
    if not n_filt:
        return filters
    coef_res = br.bits(1)
    for _ in range(n_filt):
        length = br.bits(len_bits)
        order = br.bits(order_bits)
        if order > max_order:
            raise ValueError(
                f"TNS filter order {order} above the AAC-LC limit"
                f" {max_order}"
            )
        direction, coefs = 0, []
        if order:
            direction = br.bits(1)
            compress = br.bits(1)
            nbits = coef_res + 3 - compress
            sign_at = 1 << (nbits - 1)
            for _i in range(order):
                q = br.bits(nbits)
                k = q - (1 << nbits) if q >= sign_at else q
                if k not in (-1, 0, 1):
                    raise NotImplementedError(
                        f"TNS coefficient {k} off the integer-"
                        "reflection {-1,0,1} grid"
                    )
                coefs.append(k)
        filters.append(
            {"length": length, "direction": direction, "coefs": coefs}
        )
    return filters


def _aac_read_tns(br, ws: int):
    """tns_data (14496-3 §4.4.2.7): long windows read one filter set
    (n_filt 2 bits, length 6, order 5, LC max order 12); EIGHT_SHORT
    reads one per window (n_filt 1 bit, length 4, order 3, max order
    7) — returns a list of 8 per-window filter lists in that case."""
    if ws == 2:
        return [
            _aac_read_tns_filters(br, 1, 4, 3, 7) for _ in range(8)
        ]
    return _aac_read_tns_filters(br, 2, 6, 5, 12)


def _aac_tns_lpc(coefs: list) -> list:
    """Lattice (reflection) -> direct-form LPC, the spec's recursion
    (14496-3 tns_decode_coef): a_{m}[i] = a_{m-1}[i] + k_m * a_{m-1}[m-i],
    a_m[m] = k_m. Exact integers on the integer-reflection grid."""
    a = [1]
    for m, k in enumerate(coefs, 1):
        a = [1] + [a[i] + k * a[m - i] for i in range(1, m)] + [k]
    return a


def _aac_tns_region(xr, filters, clip, nbands, offsets, base) -> None:
    """Run one window's stacked TNS filter regions in place: regions
    stack downward from the top band (top=bottom,
    bottom=max(top-length,0)) and clip at both the band table and the
    stream's max_sfb, the spec's tns_decode_frame region arithmetic;
    y[n] = x[n] - sum a[i]*y[n -+ i] over the region in the filter's
    direction with zero state at the region boundary."""
    bottom = nbands
    for f in filters:
        top = bottom
        bottom = max(top - f["length"], 0)
        order = len(f["coefs"])
        if not order:
            continue
        a = _aac_tns_lpc(f["coefs"])
        start = base + offsets[min(bottom, clip)]
        end = base + offsets[min(top, clip)]
        idx = (
            range(end - 1, start - 1, -1)
            if f["direction"] else range(start, end)
        )
        idx = list(idx)
        for pos, n in enumerate(idx):
            acc = xr[n]
            for i in range(1, min(order, pos) + 1):
                acc -= a[i] * xr[idx[pos - i]]
            xr[n] = acc


def _aac_tns_filter(xr: list, tns) -> list:
    """Apply the decoder's all-pole TNS filters in place. ``tns`` is
    the ``(filters, max_sfb)`` pair from :func:`_aac_read_stream` —
    a flat filter list for long windows, or 8 per-window lists for
    EIGHT_SHORT frames (each filtering its own 128-line window block
    over the short band table). Linear in the lines and exact in
    integers — the tap-superposition oracle composes straight through
    it."""
    filters, max_sfb = tns
    if filters and isinstance(filters[0], list):  # EIGHT_SHORT layout
        for w, wf in enumerate(filters):
            _aac_tns_region(
                xr, wf, min(len(AAC_SFB_SHORT), max_sfb),
                len(AAC_SFB_SHORT), _AAC_SFB_SHORT_START, 128 * w,
            )
        return xr
    _aac_tns_region(
        xr, filters, min(len(AAC_SFB), max_sfb), len(AAC_SFB),
        _AAC_SFB_START, 0,
    )
    return xr


def _aac_read_pulse(br, ws: int) -> tuple:
    """pulse_data (14496-3 §4.4.2.7): number_pulse(2)+1 pulses,
    pulse_start_sfb(6), per pulse offset(5) + amp(4). Forbidden with
    EIGHT_SHORT by the spec. Returns (start_sfb, [(off, amp), ...]);
    the amplitudes apply to the quantized values in the caller."""
    if ws == 2:
        raise ValueError(
            "pulse data is forbidden in EIGHT_SHORT frames (14496-3)"
        )
    n = br.bits(2) + 1
    start_sfb = br.bits(6)
    pulses = [(br.bits(5), br.bits(4)) for _ in range(n)]
    return start_sfb, pulses


def _aac_read_flags(br, ws: int) -> tuple:
    """pulse / tns / gain-control presence flags; returns the parsed
    (pulse_data, tns_filter_list) pair (None/[] when absent). SSR
    still gates."""
    pulse = _aac_read_pulse(br, ws) if br.bits(1) else None
    tns = _aac_read_tns(br, ws) if br.bits(1) else []
    if br.bits(1):
        raise NotImplementedError(
            "SSR gain control not supported in AAC-LC"
        )
    return pulse, tns


def _aac_read_lines(br, xr: list, start: int, count: int,
                    shift: int, qx: list = None) -> None:
    for i in range(start, start + count):
        mag = _mp3_get_gamma(br)
        if mag > 15:
            raise ValueError("AAC spectral magnitude above 15")
        if mag:
            v = AAC_POW43[mag] << shift
            neg = br.bits(1)
            xr[i] = -v if neg else v
            if qx is not None:
                qx[i] = -mag if neg else mag


def _aac_read_stream(br, shared, intensity_ok: bool = False) -> tuple:
    """individual_channel_stream -> (1024 requantized spectral lines,
    window_sequence, intensity_bands). ``shared`` is the CPE
    common_window (ws, max_sfb, groups) tuple, or None when the stream
    carries its own ics_info (SCE / independent windows). EIGHT_SHORT
    spectra are returned in window-major order (the reorder from the
    grouped band-major transmission layout happens as the lines are
    read). With ``intensity_ok`` (the second channel of a common-window
    CPE) sections may carry the intensity codebooks 15 (in-phase) / 14
    (out-of-phase): those bands transmit an is_position DPCM chain
    (starting at 0) instead of scalefactors and NO spectral data —
    ``intensity_bands`` lists (band, phase_sign, shift) with the
    position restricted to the 4k grid so the spec's 0.5^(is_pos/4)
    scale is the exact integer shift k (same swap-in contract as the
    gain grid); off-grid positions gate loudly. Long-window frames may
    also carry PNS bands (codebook 13: the noise-energy chain starts
    at global_gain-90, first delta a 9-bit PCM field, later deltas the
    zigzag-gamma DPCM; lines fill from AAC_PNS_SEQ at the noise shift)
    and pulse_data (amplitudes added to the QUANTIZED values before
    requantization, the spec's §4.6.3.3 order). Returns
    ``(xr, ws, intensity_bands, (tns_filters, max_sfb), noise_bands)``."""
    gg = br.bits(8)
    if shared is None:
        ws, max_sfb, groups = _aac_read_ics_info(br)
    else:
        ws, max_sfb, groups = shared
    xr = [0] * 1024
    if ws == 2:
        cbs_g = [
            _aac_read_sections(br, max_sfb, 3, pns_ok=False)
            for _ in groups
        ]
        # (intensity in short windows would need per-group positions;
        # the common-window gate upstream keeps this path long-free)
        shifts = [[0] * max_sfb for _ in groups]
        last = gg
        for gi in range(len(groups)):
            for b in range(max_sfb):
                if cbs_g[gi][b]:
                    last, shifts[gi][b] = _aac_read_sf(br, last)
        pulse, tns = _aac_read_flags(br, ws)
        w0 = 0
        for gi, size in enumerate(groups):
            for b in range(max_sfb):
                if cbs_g[gi][b] == 0:
                    continue
                for w in range(size):
                    _aac_read_lines(
                        br, xr,
                        128 * (w0 + w) + _AAC_SFB_SHORT_START[b],
                        AAC_SFB_SHORT[b], shifts[gi][b],
                    )
            w0 += size
        return xr, ws, [], (tns, max_sfb), []
    cbs = _aac_read_sections(br, max_sfb, 5, intensity_ok)
    shifts = [0] * max_sfb
    intens = []
    noise = []
    last = gg
    last_pos = 0  # the intensity DPCM chain starts at 0 (14496-3)
    noise_nrg = gg - 90  # the PNS energy chain starts at gg-90 (spec)
    noise_first = True
    for b in range(max_sfb):  # scale_factor_data / is_position data
        if cbs[b] in (14, 15):
            z = _mp3_get_gamma(br)
            last_pos += z // 2 if z % 2 == 0 else -((z + 1) // 2)
            if last_pos % 4 or not 0 <= last_pos // 4 <= 7:
                raise NotImplementedError(
                    f"intensity position {last_pos} off the 4k"
                    " (integer-shift) 0..28 grid"
                )
            intens.append((b, 1 if cbs[b] == 15 else -1, last_pos // 4))
        elif cbs[b] == 13:
            if noise_first:
                noise_first = False
                noise_nrg += br.bits(9) - 256  # dpcm_noise_nrg, PCM
            else:
                z = _mp3_get_gamma(br)
                noise_nrg += z // 2 if z % 2 == 0 else -((z + 1) // 2)
            if (noise_nrg - 100) % 4 or not 0 <= (noise_nrg - 100) // 4 <= 7:
                raise NotImplementedError(
                    f"noise energy {noise_nrg} off the 2^((nrg-100)/4)"
                    " 0..7 integer grid"
                )
            noise.append((b, (noise_nrg - 100) // 4))
        elif cbs[b]:
            last, shifts[b] = _aac_read_sf(br, last)
    pulse, tns = _aac_read_flags(br, ws)
    qx = [0] * 1024
    for b in range(max_sfb):  # spectral_data (intensity bands carry none)
        if cbs[b] == 1:
            _aac_read_lines(br, xr, _AAC_SFB_START[b], AAC_SFB[b],
                            shifts[b], qx)
    if pulse is not None:
        # §4.6.3.3: amplitudes add to the QUANTIZED magnitudes, then
        # the line requantizes with its band's scalefactor
        start_sfb, pulses = pulse
        if start_sfb >= max_sfb:
            raise ValueError(
                f"pulse_start_sfb {start_sfb} beyond max_sfb {max_sfb}"
            )
        k = _AAC_SFB_START[start_sfb]
        for off, amp in pulses:
            k += off
            if k >= 1024:
                raise ValueError("pulse position beyond the spectrum")
            b = k // AAC_SFB[0]
            if b >= max_sfb or cbs[b] != 1:
                raise NotImplementedError(
                    "pulse into an untransmitted/noise/intensity band"
                    " not supported"
                )
            q = qx[k]
            q2 = q + amp if q > 0 else q - amp
            qx[k] = q2
            mag = q2 if q2 >= 0 else -q2
            xr[k] = (
                (1 if q2 >= 0 else -1) * (AAC_POW43[mag] << shifts[b])
            )
    for b, kn in noise:  # PNS fill (swap-in sequence, see AAC_PNS_SEQ)
        for i in range(_AAC_SFB_START[b], _AAC_SFB_START[b + 1]):
            xr[i] = AAC_PNS_SEQ[i] << kn
    return xr, ws, intens, (tns, max_sfb), [b for b, _ in noise]


def _aac_parse_raw_block(buf: bytes, n_blocks: int = 1) -> list:
    """Parse ``n_blocks`` consecutive raw_data_blocks (SCE or CPE,
    + END each, byte-aligned between blocks — the layout of an ADTS
    frame with number_of_raw_data_blocks_in_frame > 0 and protection
    absent, 13818-7/14496-3) to a LIST of per-block channel lists,
    each entry per-channel ``(spectral_lines, window_sequence)``
    pairs. CPE decodes both the shared-window layout (common_window=1,
    with the three ms_mask_present shapes: 0 = independent, 1 =
    per-band ms_used mask, 2 = all bands M/S) and independent windows
    (common_window=0); MID/SIDE bands dematrix l = m + s, r = m - s
    per line BEFORE the filterbank (14496-3 §4.6.8.1 — exact on the
    integer grid; joint stereo with window switching gates loudly).
    Every out-of-subset construct gates loudly. For compatibility the
    single-block call returns the bare channel list."""
    br = _MsbBitReader(buf)
    blocks: list = []
    for _blk in range(n_blocks):
        blocks.append(_aac_parse_one_block(br))
        br.align()
    # byte-align padding after the LAST block must be zero: trailing
    # garbage means the walk lost sync somewhere upstream
    while br.pos < len(br.buf) or br._n:
        nb = br._n or 8
        if br.bits(nb):
            raise ValueError("nonzero padding after END element")
    return blocks[0] if n_blocks == 1 else blocks


def _aac_parse_one_block(br) -> list:
    chans = None
    ele_names = {
        2: "CCE (coupling channel)", 3: "LFE", 4: "DSE (data stream)",
        5: "PCE (program config)", 6: "FIL (fill element)",
    }
    while True:
        ele = br.bits(3)
        if ele == 7:  # END
            break
        if ele not in (0, 1):
            raise NotImplementedError(
                f"AAC syntactic element {ele_names.get(ele, ele)} not"
                " supported (SCE/CPE subset)"
            )
        if chans is not None:
            raise NotImplementedError(
                "multiple channel elements per raw data block not"
                " supported"
            )
        br.bits(4)  # element_instance_tag
        if ele == 0:  # SCE
            xr_, ws_, _, tns_, _n = _aac_read_stream(br, None)
            chans = [(_aac_tns_filter(xr_, tns_), ws_)]
            continue
        # CPE
        common = br.bits(1)
        ms_used = [False] * len(AAC_SFB)
        if common:
            shared = _aac_read_ics_info(br)
            if shared[0]:
                raise NotImplementedError(
                    "CPE joint stereo with window switching not"
                    " supported (long-window subset)"
                )
            max_sfb = shared[1]
            mask = br.bits(2)
            if mask == 3:
                raise ValueError("reserved ms_mask_present value 3")
            if mask == 1:
                for b in range(max_sfb):
                    ms_used[b] = br.bits(1) == 1
            elif mask == 2:
                ms_used = [True] * len(AAC_SFB)
            xm, wsm, _, tns_m, noise_m = _aac_read_stream(br, shared)
            xs, wss, intens, tns_s, noise_s = _aac_read_stream(
                br, shared, intensity_ok=True)
        else:
            xm, wsm, _, tns_m, _nm = _aac_read_stream(br, None)
            xs, wss, _i2, tns_s, _ns = _aac_read_stream(br, None)
            intens = []
            noise_m = noise_s = ()
        if intens:
            # intensity reconstruction (14496-3 §4.6.8.2 structure on
            # the integer-shift grid): the flagged bands of the RIGHT
            # channel rebuild from the LEFT channel's requantized
            # spectrum, r = phase * sgn(l) * (|l| >> k); combining with
            # an M/S-flagged band is out of the subset
            for b, phase, k in intens:
                if ms_used[b]:
                    raise NotImplementedError(
                        "MS+intensity on the same band not supported"
                    )
                for i in range(_AAC_SFB_START[b], _AAC_SFB_START[b + 1]):
                    al = xm[i]
                    mag = (al if al >= 0 else -al) >> k
                    xs[i] = phase * (mag if al >= 0 else -mag)
        if any(ms_used):
            for b in set(noise_m) | set(noise_s):
                if ms_used[b]:
                    raise NotImplementedError(
                        "PNS on an M/S-flagged band not supported"
                        " (correlated noise out of subset)"
                    )
            xl, xrr = list(xm), list(xs)
            for b in range(len(AAC_SFB)):
                if not ms_used[b]:
                    continue
                for i in range(_AAC_SFB_START[b], _AAC_SFB_START[b + 1]):
                    m_, s_ = xm[i], xs[i]
                    xl[i] = m_ + s_
                    xrr[i] = m_ - s_
        else:
            xl, xrr = xm, xs
        # TNS last (the spec's tool order: M/S and intensity rebuild
        # the channel spectra, THEN each channel's own filters run)
        chans = [
            (_aac_tns_filter(xl, tns_m), wsm),
            (_aac_tns_filter(xrr, tns_s), wss),
        ]
    if chans is None:
        raise ValueError("raw data block without a channel element")
    return chans


def decode_aac(payload: bytes) -> AudioData:
    """AAC-LC decoder for the structural subset above: ADTS frame walk
    (:func:`decode_adts`), raw-data-block parse (SCE mono or CPE
    stereo, incl. MID/SIDE dematrix; window sequences ONLY_LONG /
    LONG_START / EIGHT_SHORT / LONG_STOP), pow-4/3 requantization on
    the integer gain grid, IMDCT + window + 1024-sample overlap-add
    in exact integers, one round-half-up >> AAC_SHIFT and int16 clip
    per sample. 1024 samples per frame per channel (interleaved L/R
    for stereo). Profiles other than LC and channel configs other
    than 1/2 gate loudly."""
    walk = decode_adts(payload)
    if walk["profile"] != 1:
        raise NotImplementedError(
            f"only AAC-LC (profile 1) decodes; got profile"
            f" {walk['profile']}"
        )
    nch = walk["channels"]
    if nch not in (1, 2):
        raise NotImplementedError(
            "only channel_configuration 1 (SCE) / 2 (CPE) decode; got"
            f" {nch}"
        )
    prevs = [[0] * 1024 for _ in range(nch)]
    samples: list = []
    half = 1 << (AAC_SHIFT - 1)
    for fr, n_blocks in zip(walk["frames"], walk["raw_blocks"]):
        parsed = _aac_parse_raw_block(fr, n_blocks)
        if n_blocks == 1:
            parsed = [parsed]
        for chans in parsed:
            if len(chans) != nch:
                raise ValueError(
                    f"raw data block carries {len(chans)} channels but"
                    f" the ADTS header declares {nch}"
                )
            pcm = []
            for ch in range(nch):
                xr, ws = chans[ch]
                acc, prevs[ch] = _aac_frame_pcm(xr, prevs[ch], ws)
                pcm.append([
                    max(-32768, min(32767, (a + half) >> AAC_SHIFT))
                    for a in acc
                ])
            if nch == 1:
                samples.extend(pcm[0])
            else:  # interleave L/R
                for left, right in zip(pcm[0], pcm[1]):
                    samples.append(left)
                    samples.append(right)
    return AudioData(walk["sample_rate"], nch, 16, samples)


def aac_line_taps(
    n_frames: int = 2, lines: tuple = (0,), windows: tuple = None,
    tns: tuple = None,
) -> dict:
    """Exact integer tap tables for the SQL oracle: ``taps[(f, k)][t]``
    is the raw accumulator that a UNIT value on line k of frame f
    contributes to output sample t over ``n_frames`` frames — the
    decode is linear in the requantized lines with one final
    round-half-up >> AAC_SHIFT, so any stream replays as the tap
    superposition (the MP3 mp3_line_taps contract). ``windows`` gives
    each frame's window_sequence (default all ONLY_LONG); EIGHT_SHORT
    lines are window-major indices. ``tns`` gives each frame's TNS
    filter list (the encoder's ``{length, direction, coefs}`` dicts,
    None/[] = no filtering); the filter is linear, so the taps of a
    unit line are the taps of its filtered spread — regions are
    computed at max_sfb = the full band table, so a fixture using TNS
    taps must populate the top band (max_sfb 16 on the wire)."""
    if windows is None:
        windows = (0,) * n_frames
    if tns is None:
        tns = (None,) * n_frames
    out = {}
    for f in range(n_frames):
        for k in lines:
            prev = [0] * 1024
            taps: list = []
            for g in range(n_frames):
                xr = [0] * 1024
                if g == f:
                    xr[k] = 1
                if tns[g]:
                    _aac_tns_filter(xr, (tns[g], len(AAC_SFB)))
                acc, prev = _aac_frame_pcm(xr, prev, windows[g])
                taps.extend(acc)
            out[(f, k)] = tuple(taps)
    return out


def encode_ogg_flac(
    samples: list,
    sample_rate: int = 8000,
    bps: int = 16,
    block_size: int = 4096,
    channels: int = 1,
    serial: int = 1,
    force: str | None = None,
) -> bytes:
    """FLAC-in-Ogg per the xiph FLAC-to-Ogg mapping (v1.0): the first
    packet (its own BOS page) is 0x7F + "FLAC" + major 1 + minor 0 +
    a 16-bit big-endian count of FOLLOWING header packets (0 here) +
    the native "fLaC" marker + STREAMINFO block; then one audio packet
    per FLAC frame, each final page's granule position the cumulative
    inter-channel sample count — the real transport+codec composition
    the bare Ogg walk stops short of."""
    parts: list = []
    encode_flac(
        samples, sample_rate, bps, block_size, force, channels,
        _parts=parts,
    )
    header, frames = parts[0]
    first = b"\x7fFLAC\x01\x00" + (0).to_bytes(2, "big") + header
    packets = [first] + list(frames)
    granules = [0]
    total = 0
    n_total = len(samples) // max(channels, 1)
    for i in range(len(frames)):
        total = min(n_total, total + block_size)
        granules.append(total)
    return encode_ogg(packets, serial=serial, granules=granules)


def decode_ogg_flac(payload: bytes, verify_md5: bool = True) -> AudioData:
    """Decode FLAC-mapped Ogg: the existing byte-exact Ogg page walk
    (:func:`decode_ogg` — CRC, sequence, lacing reassembly) feeds the
    existing full-integer FLAC decoder (:func:`decode_flac` — fixed/
    LPC predictors, Rice partitions, CRC-8/16, STREAMINFO MD5). The
    mapping header is validated field by field; extra header packets
    (the mapping's VorbisComment et al) are spliced back as the
    metadata blocks they are and the native meta walk validates their
    chaining flags. Foreign Ogg payloads (Vorbis/Opus/Theora) still
    gate loudly, as does a major version other than 1 or a final
    granule that contradicts STREAMINFO's sample count. A MULTIPLEXED
    file (e.g. FLAC + a foreign codec track) demuxes via
    :func:`decode_ogg_streams` and decodes its single FLAC-mapped
    logical stream; zero or several FLAC streams refuse loudly."""
    streams = decode_ogg_streams(payload)
    flac = [
        st for st in streams.values()
        if st["packets"] and len(st["packets"][0]) >= 9
        and st["packets"][0][0] == 0x7F
        and st["packets"][0][1:5] == b"FLAC"
    ]
    if len(flac) > 1:
        raise ValueError(
            f"{len(flac)} FLAC-mapped streams in one Ogg file; pick a"
            " serial via decode_ogg_streams"
        )
    if not flac:
        pk0 = next(iter(streams.values()))["packets"][0]
        head = bytes(pk0[:8])
        raise NotImplementedError(
            "Ogg payload is not FLAC-mapped (Vorbis/Opus/Theora need"
            f" codec libraries this environment does not ship); first"
            f" packet starts {head!r}"
        )
    w = flac[0]
    pk0 = w["packets"][0]
    major, minor = pk0[5], pk0[6]
    if major != 1:
        raise NotImplementedError(
            f"Ogg-FLAC mapping major version {major} not supported"
            " (v1 only)"
        )
    if minor != 0:
        raise ValueError(f"Ogg-FLAC mapping minor version {minor} != 0")
    n_headers = int.from_bytes(pk0[7:9], "big")
    if len(w["packets"]) < 1 + n_headers:
        raise ValueError(
            f"Ogg-FLAC header declares {n_headers} header packets but"
            f" the stream carries {len(w['packets']) - 1} total"
        )
    native = bytes(pk0[9:])
    if native[:4] != b"fLaC":
        raise ValueError("Ogg-FLAC first packet missing native marker")
    for pkt in w["packets"][1 : 1 + n_headers]:
        native += bytes(pkt)  # verbatim metadata blocks per the mapping
    for pkt in w["packets"][1 + n_headers :]:
        native += bytes(pkt)  # one FLAC frame per packet
    au = decode_flac(native, verify_md5=verify_md5)
    n_total = len(au.samples) // max(au.channels, 1)
    last = w["granules"][-1]
    if last != n_total:
        raise ValueError(
            f"final Ogg granule {last} != decoded sample count {n_total}"
        )
    return au


def aac_pns_taps(n_frames: int, bands: dict) -> dict:
    """Pinned band-level tap tables for PNS oracles: ``bands`` maps
    frame index -> list of noise band ids; ``taps[(f, b)][t]`` is the
    raw accumulator that frame f's band b contributes at noise shift 0
    (the AAC_PNS_SEQ fill through IMDCT + window + overlap-add) — a
    noise band at shift k contributes ``tap << k``, so the SQL replay
    is (1 << k) * tap[t] per band, same linearity contract as
    :func:`aac_line_taps`."""
    out = {}
    for f, blist in bands.items():
        for b in blist:
            prev = [0] * 1024
            taps: list = []
            for g in range(n_frames):
                xr = [0] * 1024
                if g == f:
                    for i in range(_AAC_SFB_START[b],
                                   _AAC_SFB_START[b + 1]):
                        xr[i] = AAC_PNS_SEQ[i]
                acc, prev = _aac_frame_pcm(xr, prev, 0)
                taps.extend(acc)
            out[(f, b)] = tuple(taps)
    return out


# ---------------------------------------------------------------------------
# Ogg container (RFC 3533) — the transport under Vorbis/Opus/Theora
# streams in crawled audio. Byte-exact page walk in the module's codec
# style: "OggS" capture pattern, version 0, header-type flags
# (0x01 continued packet / 0x02 BOS / 0x04 EOS), 64-bit granule
# position, stream serial, page sequence, the Ogg CRC (poly 0x04C11DB7,
# init 0, no reflection, no final xor, computed with the CRC field
# zeroed), and the 255-terminated lacing table that frames packets —
# a lacing value of 255 continues the packet into the next value (or,
# at page end, into the next page with the 0x01 flag). decode
# reassembles spanning packets and fails loud on bad magic/version/
# CRC/sequence gaps/dangling continuations. FLAC-mapped payloads
# (encode_ogg_flac/decode_ogg_flac above, xiph mapping v1.0) decode
# END TO END through the in-repo FLAC codec; Vorbis/Opus/Theora
# payloads gate loudly (codec libraries this environment lacks).
# ---------------------------------------------------------------------------

_OGG_MAGIC = b"OggS"
_OGG_MAX_SEGS = 255


def _ogg_page(
    header_type: int, granule: int, serial: int, seq: int, segs: list, body: bytes
) -> bytes:
    import struct

    head = (
        _OGG_MAGIC
        + bytes([0, header_type])
        + struct.pack("<q", granule)
        + struct.pack("<I", serial)
        + struct.pack("<I", seq)
        + b"\x00\x00\x00\x00"  # CRC placeholder
        + bytes([len(segs)])
        + bytes(segs)
    )
    crc = _crc(head + body, 32, 0x04C11DB7)
    return head[:22] + struct.pack("<I", crc) + head[26:] + body


def encode_ogg(packets: list, serial: int = 1, granule_base: int = 0,
               granules: list | None = None) -> bytes:
    """Write an Ogg stream, one packet per page sequence (a packet
    needing more than 255 lacing values spans continuation pages with
    the 0x01 flag — the RFC's framing, exercised by large packets).
    First page carries BOS, last EOS. The granule position of packet
    ``i``'s final page is ``granule_base + i``, or ``granules[i]``
    when an explicit per-packet list is given (codec mappings define
    their own granule semantics — Ogg-FLAC uses cumulative sample
    counts); continuation pages that don't end a packet carry -1, the
    RFC convention."""
    if not packets:
        raise ValueError("empty Ogg stream")
    if granules is not None and len(granules) != len(packets):
        raise ValueError("granules list must align with packets")
    out = bytearray()
    seq = 0
    for i, pkt in enumerate(packets):
        if not isinstance(pkt, (bytes, bytearray)):
            raise ValueError("Ogg packet must be bytes")
        lacing = [255] * (len(pkt) // 255) + [len(pkt) % 255]
        pos = 0
        off = 0
        while pos < len(lacing):
            segs = lacing[pos : pos + _OGG_MAX_SEGS]
            body = bytes(pkt[off : off + sum(segs)])
            last_chunk = pos + _OGG_MAX_SEGS >= len(lacing)
            htype = (0x01 if pos > 0 else 0) \
                | (0x02 if i == 0 and pos == 0 else 0) \
                | (0x04 if i == len(packets) - 1 and last_chunk else 0)
            if not last_chunk:
                granule = -1
            elif granules is not None:
                granule = granules[i]
            else:
                granule = granule_base + i
            out += _ogg_page(htype, granule, serial, seq, segs, body)
            seq += 1
            off += sum(segs)
            pos += _OGG_MAX_SEGS
    return bytes(out)


def mux_ogg(physicals: list) -> bytes:
    """Interleave single-stream Ogg physical streams into one grouped
    multiplexed stream (RFC 3533 §2): all BOS pages first (input
    order), then the remaining pages round-robin at page granularity.
    Serials must be distinct; pages pass through byte-exact (CRCs
    unchanged — page contents are untouched)."""
    import struct

    def pages(buf: bytes) -> list:
        out, pos = [], 0
        while pos < len(buf):
            if buf[pos : pos + 4] != _OGG_MAGIC:
                raise ValueError(f"bad Ogg capture pattern at offset {pos}")
            nsegs = buf[pos + 26]
            end = pos + 27 + nsegs + sum(buf[pos + 27 : pos + 27 + nsegs])
            out.append(buf[pos:end])
            pos = end
        return out

    per = [pages(b) for b in physicals]
    serials = [struct.unpack("<I", p[0][14:18])[0] for p in per]
    if len(set(serials)) != len(serials):
        raise ValueError(f"mux needs distinct serials, got {serials}")
    out = bytearray()
    for p in per:
        out += p[0]  # BOS pages first, input order
    rest = [p[1:] for p in per]
    i = 0
    while any(rest):
        if rest[i % len(rest)]:
            out += rest[i % len(rest)].pop(0)
        i += 1
    return bytes(out)


def decode_ogg_streams(payload: bytes) -> dict:
    """Byte-exact Ogg page walk + packet reassembly for GROUPED
    (concurrently multiplexed) physical streams, RFC 3533 §2: pages of
    any number of logical bitstreams interleave at page granularity;
    each logical stream keeps its own serial, page sequence, pending
    packet, and granules, and all BOS pages precede all data pages.
    Returns ``{serial: {serial, n_pages, packets, granules, spans}}``
    in first-BOS order. Fails loud on bad capture pattern, non-zero
    version, CRC mismatch, per-stream sequence gaps, a continuation
    page without its stream's pending packet, a data page for an
    unopened serial, a BOS after data (chained multiplexing is out of
    subset), pages after a stream's EOS, or packets left dangling."""
    import struct

    pos = 0
    n = len(payload)
    streams: dict = {}
    bos_done = False
    while pos < n:
        if payload[pos : pos + 4] != _OGG_MAGIC:
            raise ValueError(f"bad Ogg capture pattern at offset {pos}")
        if pos + 27 > n:
            raise ValueError("truncated Ogg page header")
        version = payload[pos + 4]
        if version != 0:
            raise ValueError(f"unsupported Ogg version {version}")
        htype = payload[pos + 5]
        granule = struct.unpack("<q", payload[pos + 6 : pos + 14])[0]
        ser = struct.unpack("<I", payload[pos + 14 : pos + 18])[0]
        seq = struct.unpack("<I", payload[pos + 18 : pos + 22])[0]
        crc = struct.unpack("<I", payload[pos + 22 : pos + 26])[0]
        nsegs = payload[pos + 26]
        segs = payload[pos + 27 : pos + 27 + nsegs]
        if len(segs) != nsegs:
            raise ValueError("truncated Ogg lacing table")
        body_len = sum(segs)
        page_end = pos + 27 + nsegs + body_len
        if page_end > n:
            raise ValueError("Ogg page body runs past end of stream")
        page = bytearray(payload[pos:page_end])
        page[22:26] = b"\x00\x00\x00\x00"
        if _crc(bytes(page), 32, 0x04C11DB7) != crc:
            raise ValueError(f"Ogg CRC mismatch on page {seq}")
        st = streams.get(ser)
        if htype & 0x02:
            if st is not None:
                raise ValueError(f"duplicate BOS for Ogg serial {ser}")
            if bos_done:
                raise NotImplementedError(
                    "BOS page after data pages: chained Ogg"
                    " multiplexing not supported (grouped subset,"
                    " RFC 3533 §2)"
                )
            st = streams[ser] = {
                "serial": ser, "n_pages": 0, "packets": [],
                "granules": [], "spans": False,
                "_seq": 0, "_pending": bytearray(), "_open": False,
                "_eos": False,
            }
        elif st is None:
            raise ValueError(
                f"Ogg data page for serial {ser} without a BOS page"
            )
        else:
            bos_done = True
        if st["_eos"]:
            raise ValueError(f"Ogg page after EOS on serial {ser}")
        if seq != st["_seq"]:
            raise ValueError(
                f"Ogg page sequence gap on serial {ser}"
                f" ({st['_seq']} -> {seq})"
            )
        st["_seq"] += 1
        if htype & 0x01:
            if not st["_open"]:
                raise ValueError("Ogg continuation page without pending packet")
            st["spans"] = True
        elif st["_open"]:
            raise ValueError("pending Ogg packet not continued")
        body_pos = pos + 27 + nsegs
        for v in segs:
            st["_pending"] += payload[body_pos : body_pos + v]
            body_pos += v
            st["_open"] = True
            if v < 255:
                st["packets"].append(bytes(st["_pending"]))
                st["_pending"] = bytearray()
                st["_open"] = False
        st["granules"].append(granule)
        st["n_pages"] += 1
        if htype & 0x04:
            st["_eos"] = True
        pos = page_end
    if not streams:
        raise ValueError("empty Ogg stream")
    for ser, st in streams.items():
        if st["_open"]:
            raise ValueError("Ogg packet dangling at end of stream")
        for k in ("_seq", "_pending", "_open", "_eos"):
            del st[k]
    return streams


def decode_ogg(payload: bytes) -> dict:
    """Single-logical-stream Ogg decode (the common case): the grouped
    walk of :func:`decode_ogg_streams` with exactly one serial
    required — its stream dict (``serial, n_pages, packets, granules,
    spans``) is returned directly. A multiplexed file is a loud error
    here; demultiplex with :func:`decode_ogg_streams` instead. The
    first page must carry BOS (same contract as before)."""
    streams = decode_ogg_streams(payload)
    if len(streams) > 1:
        raise ValueError(
            f"{len(streams)} multiplexed Ogg streams (serials"
            f" {sorted(streams)}); use decode_ogg_streams"
        )
    (st,) = streams.values()
    return st
