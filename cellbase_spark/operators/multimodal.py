"""Multimodal (binary-column) operators for training-data pipelines.

Model: an image/audio/video asset is an opaque BinaryType column plus a
typed metadata struct, exactly as a 100 TB multimodal corpus stores it
(parquet binary + sidecar fields). The compute pattern is mapInPandas:
Arrow ships each partition to Python in record batches, pandas/numpy works
on the raw bytes vectorized, and the iterator contract keeps memory
bounded per batch regardless of table size.

Codec reality in this container: PIL/ffmpeg/librosa are absent, so
formats NEEDING them (arithmetic/lossless JPEG, video containers, lossy
audio) keep the import-try seam in `decode_image` (NotImplementedError
with a clear message). Everything else is decoded FOR REAL with stdlib + numpy:
- images: 24-bit BI_RGB BMP (`decode_bmp`, bottom-up rows, BGR, 4-byte
  padding), binary P6 PPM (`decode_ppm`), PNG 8/16-bit gray / palette /
  truecolor / RGBA, non-interlaced or Adam7 (`decode_png` — CRC-checked
  chunk walk, stdlib-zlib inflate, all five scanline unfilters at byte
  level, seven-pass scatter, PLTE mapping; `encode_png` emits any fixed
  filter + color type + depth + interlace for tests),
  baseline AND progressive JPEG (`decode_jpeg` — full T.81 marker walk,
  canonical-Huffman entropy decode, dequant + batched IDCT, 4:2:0/4:2:2
  replication upsample, restart markers; SOF2 dispatches to the annex-G
  multi-scan decoder; `encode_jpeg`/`encode_jpeg_progressive` emit gray
  or RGB JFIF for tests, round-tripping EXACTLY on per-8x8-block
  constant images under the all-ones quant table), GIF87a/89a incl.
  ANIMATION (`decode_gif`/`decode_gif_frames` — full variable-width LZW
  with CLEAR/EOI and the KwKwK case, extension parsing, global/local
  color tables, interlace, GCE transparency + disposal composition;
  `encode_gif`/`encode_gif_animated` — LZW is lossless, so round-trips
  are pixel-exact), and baseline TIFF (`decode_tiff` — IFD walk, both
  byte orders, multi-strip, none/PackBits compression; `encode_tiff`);
- audio: mono PCM16 WAV (`decode_wav` — RIFF chunk walk with word-
  aligned unknown-chunk skip; `encode_wav`);
- video: YUV4MPEG2 / Y4M C444 8-bit (`decode_y4m` — header-token parse
  with unknown-token skip, FRAME-marker walk, planar reassembly;
  `encode_y4m`).
Matching encoders make every round-trip testable end to end.
`fake_decode_meta` / `sample_frames` remain the deterministic
byte-level kernels that keep the Arrow plumbing oracle-checkable for
arbitrary payloads.
"""

from __future__ import annotations

import hashlib
import struct
from functools import lru_cache, wraps


def loud_truncation(fn):
    """Decoder-boundary contract: malformed/truncated payloads raise
    ValueError (or a documented NotImplementedError seam), never a bare
    IndexError/KeyError from an out-of-bounds byte access. Fuzzing
    (round 11: 2,800 hostile inputs + 1,200 corrupted valid files)
    found the bare-indexing escapes this normalizes; deep bit readers
    already raise typed errors, this catches the container walks."""

    @wraps(fn)
    def wrapped(data, *a, **kw):
        try:
            return fn(data, *a, **kw)
        except (IndexError, KeyError) as exc:
            raise ValueError(
                f"{fn.__name__}: malformed or truncated payload ({exc!r})"
            ) from exc

    return wrapped
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Schema of the stubbed per-asset "decode": byte-derived typed metadata.
DECODED_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", IntegerType()),
        StructField("head_byte", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_off", IntegerType()),
        StructField("frame_len", IntegerType()),
        StructField("frame_md5", StringType()),
    ]
)


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the opaque binary column (UTF-8 bytes of the text stand in
    for an image/audio payload; at ingest this would be the real asset)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8").cast(BinaryType()))


def encode_bmp(img) -> bytes:
    """Write an (H, W, 3) uint8 RGB array as a 24-bit uncompressed BMP
    (BI_RGB): bottom-up row order, BGR channel order, rows padded to
    4-byte boundaries — the format as real writers emit it."""
    h, w, _ = img.shape
    row_raw = w * 3
    pad = (4 - row_raw % 4) % 4
    data_size = (row_raw + pad) * h
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + data_size, 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, data_size, 2835, 2835, 0, 0
    )
    bgr = img[:, :, ::-1]
    rows = [bgr[y].tobytes() + b"\x00" * pad for y in range(h - 1, -1, -1)]
    return header + info + b"".join(rows)


@loud_truncation
def decode_bmp(data: bytes):
    """Parse a 24-bit BI_RGB BMP into an (H, W, 3) uint8 RGB array —
    real header parsing, row padding, bottom-up flip, BGR->RGB."""
    import numpy as np

    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = struct.unpack_from("<I", data, 10)[0]
    _hdr, w, h, _planes, bpp = struct.unpack_from("<IiiHH", data, 14)
    compression = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"only 24-bit BI_RGB supported (got bpp={bpp})")
    bottom_up = h > 0
    h = abs(h)
    row_raw = w * 3
    row_size = row_raw + (4 - row_raw % 4) % 4
    out = np.empty((h, w, 3), dtype=np.uint8)
    for i in range(h):
        row = np.frombuffer(data, np.uint8, row_raw, off + i * row_size).reshape(w, 3)
        out[h - 1 - i if bottom_up else i] = row[:, ::-1]
    return out


@loud_truncation
def decode_ppm(data: bytes):
    """Parse a binary P6 PPM (maxval 255) into (H, W, 3) uint8 RGB."""
    import numpy as np

    if data[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # header: P6 <ws> width <ws> height <ws> maxval <single ws> raster
    fields: list[int] = []
    i = 2
    while len(fields) < 3:
        while i < len(data) and data[i : i + 1].isspace():
            i += 1
        if data[i : i + 1] == b"#":  # comment to end of line
            while i < len(data) and data[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(data) and not data[j : j + 1].isspace():
            j += 1
        fields.append(int(data[i:j]))
        i = j
    i += 1  # the single whitespace before the raster
    w, h, maxval = fields
    if maxval != 255:
        raise NotImplementedError("only 8-bit PPM supported")
    return np.frombuffer(data, np.uint8, h * w * 3, i).reshape(h, w, 3).copy()


def decode_image(payload: bytes):
    """Real image decode: BMP / P6 PPM natively, PNG (8-bit gray /
    palette / truecolor / RGBA) via the stdlib-zlib codec below,
    baseline AND progressive JPEG via the T.81 decoders below
    (arithmetic/lossless frames fall through their loud
    NotImplementedError), other compressed formats through the PIL
    seam where available."""
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(payload)
    if payload[:3] == b"\xff\xd8\xff":
        return decode_jpeg(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)
    if payload[:4] in (b"II\x2a\x00", b"MM\x00\x2a"):
        return decode_tiff(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from cellbase_spark.operators.webp import decode_webp

        return decode_webp(payload)
    try:  # pragma: no cover - no codec libs in this container
        import io as _io

        import numpy as np
        from PIL import Image

        return np.asarray(Image.open(_io.BytesIO(payload)).convert("RGB"))
    except ImportError as exc:
        raise NotImplementedError(
            "exotic-image codecs (PIL) are not available in this "
            "environment; BMP, P6 PPM, PNG, baseline JPEG and GIF "
            "decode natively"
        ) from exc


def fake_decode_meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: per-asset metadata from raw bytes.

    width/height are a deterministic stand-in for a codec's output (pure
    byte arithmetic, so the DuckDB oracle can re-derive them); the Arrow
    round-trip, batch iteration, and output schema are the real thing.
    """
    for pdf in batches:
        payloads = pdf["payload"]
        n_bytes = payloads.map(len)
        head = payloads.map(lambda b: b[0] if len(b) else 0)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": n_bytes,
                "head_byte": head,
                "width": (n_bytes % 640).astype("int32"),
                "height": ((head * 7 + n_bytes) % 480).astype("int32"),
            }
        )


def decode_assets(df: DataFrame) -> DataFrame:
    """Binary column -> typed metadata rows via mapInPandas (one output
    row per asset; partition-parallel, memory bounded per Arrow batch)."""
    return df.select("doc_id", "payload").mapInPandas(
        fake_decode_meta, schema=DECODED_META_SCHEMA
    )


DECODED_PIXELS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_r", DoubleType()),
        StructField("mean_g", DoubleType()),
        StructField("mean_b", DoubleType()),
    ]
)


def decode_images_to_stats(df: DataFrame) -> DataFrame:
    """REAL decode path: parse each binary payload as an image
    (decode_image: native BMP/PPM, PIL seam otherwise) and emit true
    pixel statistics. Integer channel sums over uint8 pixels are exact;
    one IEEE division per mean keeps the output oracle-reproducible.
    Same mapInPandas shape as the byte-level kernels: partition-parallel,
    memory bounded per Arrow batch."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "width": [], "height": [],
                "mean_r": [], "mean_g": [], "mean_b": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = decode_image(bytes(payload))
                h, w, _ = img.shape
                sums = img.reshape(-1, 3).astype(np.int64).sum(axis=0)
                n = h * w
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["mean_r"].append(int(sums[0]) / n)
                out["mean_g"].append(int(sums[1]) / n)
                out["mean_b"].append(int(sums[2]) / n)
            yield pd.DataFrame(out)

    return df.select("doc_id", "payload").mapInPandas(
        kernel, schema=DECODED_PIXELS_SCHEMA
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("orig_bytes", IntegerType()),
        StructField("resized_bytes", IntegerType()),
        StructField("resized_md5", StringType()),
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("byte_sum", LongType()),
        StructField("byte_min", IntegerType()),
        StructField("byte_max", IntegerType()),
        StructField("byte_mean", DoubleType()),
    ]
)


def resize_assets(df: DataFrame, factor: int = 4) -> DataFrame:
    """'Resize' stub: keep every factor-th byte of the payload (the
    byte-level stand-in for image downsampling), fingerprint the result.
    Same mapInPandas shape a real resize kernel (PIL thumbnail) would use:
    bytes in, smaller bytes out, per-batch vectorized."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            small = pdf["payload"].map(lambda b: bytes(b)[::factor])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "orig_bytes": pdf["payload"].map(len),
                    "resized_bytes": small.map(len),
                    "resized_md5": small.map(lambda b: hashlib.md5(b).hexdigest()),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(kernel, schema=RESIZED_SCHEMA)


def extract_features(df: DataFrame) -> DataFrame:
    """Feature extraction stub: byte-level statistics per asset (numpy
    vectorized inside the Arrow batch) — where a real pipeline computes
    embeddings/spectrograms. Integer sums are exact, mean is one IEEE
    division — oracle-reproducible."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            arrs = [np.frombuffer(bytes(b), dtype=np.uint8) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_sum": [int(a.sum()) for a in arrs],
                    "byte_min": [int(a.min()) if len(a) else 0 for a in arrs],
                    "byte_max": [int(a.max()) if len(a) else 0 for a in arrs],
                    "byte_mean": [
                        (int(a.sum()) / len(a)) if len(a) else 0.0 for a in arrs
                    ],
                }
            )

    return df.select("doc_id", "payload").mapInPandas(kernel, schema=FEATURES_SCHEMA)


def sample_frames(df: DataFrame, n_frames: int = 4, frame_len: int = 16) -> DataFrame:
    """One-row-to-many 'frame sampling' over the binary payload: split the
    byte stream into n_frames fixed-stride slices and fingerprint each —
    the shape of video frame extraction (1 asset row -> K frame rows),
    with md5 standing in for the decoded frame tensor."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [],
                "frame_idx": [],
                "frame_off": [],
                "frame_len": [],
                "frame_md5": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                total = len(payload)
                stride = max(total // n_frames, 1)
                for i in range(n_frames):
                    off = i * stride
                    if off >= total:
                        break
                    chunk = payload[off : off + frame_len]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_off"].append(off)
                    out["frame_len"].append(len(chunk))
                    out["frame_md5"].append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(out)

    return df.select("doc_id", "payload").mapInPandas(kernel, schema=FRAME_SCHEMA)


# Adam7 interlace pass geometry: (x0, y0, dx, dy) per pass — the PNG
# spec's fixed 8x8 sampling pattern. A pass is EMPTY (contributes zero
# scanlines, not even filter bytes) when the image has no pixels in it.
_PNG_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_filter_rows(rows, bpp: int, filter_type: int) -> bytes:
    """Filter an (nrows, stride) int16 byte matrix with one PNG filter
    (byte-level per the spec — `bpp` is the left-neighbor distance);
    returns the concatenated filter-byte + scanline stream. Works for
    any depth because PNG filters are defined on BYTES."""
    import numpy as np

    nrows, stride = rows.shape
    lines = []
    prev = np.zeros(stride, dtype=np.int16)
    for y in range(nrows):
        row = rows[y]
        left = np.concatenate([np.zeros(bpp, np.int16), row[:-bpp]]) if stride > bpp else np.zeros(stride, np.int16)
        upleft = np.concatenate([np.zeros(bpp, np.int16), prev[:-bpp]]) if stride > bpp else np.zeros(stride, np.int16)
        if filter_type == 0:
            filt = row
        elif filter_type == 1:
            filt = row - left
        elif filter_type == 2:
            filt = row - prev
        elif filter_type == 3:
            filt = row - (left + prev) // 2
        elif filter_type == 4:
            pa = np.abs(prev - upleft)
            pb = np.abs(left - upleft)
            pc = np.abs(left + prev - 2 * upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            filt = row - pred
        else:
            raise ValueError(f"filter_type must be 0..4, got {filter_type}")
        lines.append(bytes([filter_type]) + (filt % 256).astype(np.uint8).tobytes())
        prev = row
    return b"".join(lines)


def encode_png(
    img, filter_type: int = 0, palette=None, interlace: bool = False
) -> bytes:
    """Write an array as a real PNG (single IDAT, zlib from the stdlib —
    no codec libs): (H, W) -> grayscale, (H, W, 3|4) ->
    truecolor/RGBA, and with `palette` (an (N<=256, 3) array) a 2-D
    array is written as color type 3 with its PLTE chunk (values are
    palette indices). A uint16 input writes 16-bit depth (big-endian
    samples; palette stays 8-bit-index per the spec). `filter_type`
    selects the per-scanline filter (0=None, 1=Sub, 2=Up, 3=Average,
    4=Paeth); `interlace=True` writes Adam7 (seven independently
    filtered sub-images) — round 11, so every decoder lane is
    test-reachable."""
    import zlib

    import numpy as np

    img = np.asarray(img)
    depth = 16 if img.dtype == np.uint16 else 8
    img = img.astype(np.uint16 if depth == 16 else np.uint8)
    if img.ndim == 2:
        h, w = img.shape
        ch = 1
        img = img.reshape(h, w, 1)
        color_type = 3 if palette is not None else 0
        if palette is not None and depth == 16:
            raise ValueError("palette PNG indices are 8-bit only")
    else:
        if palette is not None:
            raise ValueError("palette requires a 2-D index array")
        h, w, ch = img.shape
        color_type = {3: 2, 4: 6}[ch]
    bpp = ch * (depth // 8)

    def byte_rows(sub) -> "np.ndarray":
        # (rows, stride) int16 byte matrix; 16-bit samples big-endian
        sh, sw = sub.shape[:2]
        if depth == 16:
            b = sub.astype(">u2").tobytes()
        else:
            b = sub.astype(np.uint8).tobytes()
        return np.frombuffer(b, np.uint8).reshape(sh, sw * bpp).astype(np.int16)

    if interlace:
        parts = []
        for x0, y0, dx, dy in _PNG_ADAM7:
            sub = img[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            parts.append(_png_filter_rows(byte_rows(sub), bpp, filter_type))
        payload = b"".join(parts)
    else:
        payload = _png_filter_rows(byte_rows(img), bpp, filter_type)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        import zlib as _z

        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", _z.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, color_type, 0, 0, 1 if interlace else 0
    )
    idat = zlib.compress(payload)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if color_type == 3:
        out += chunk(
            b"PLTE", np.asarray(palette, dtype=np.uint8).tobytes()
        )
    return out + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def _png_unfilter(raw: bytes, off: int, nrows: int, stride: int, bpp: int):
    """Unfilter `nrows` scanlines of `stride` bytes starting at
    raw[off] (each preceded by its filter byte); returns the (nrows,
    stride) uint8 byte matrix and the new offset. `bpp` is the
    byte-level left-neighbor distance (channels x bytes-per-sample) —
    PNG filters are defined on BYTES, which is what makes one code path
    serve every depth, color type and Adam7 pass.

    Unfilter cost (128x128 RGB, micro-bench 2026-08-14): Sub rides an
    exact per-lane cumsum (63 -> 0.6 ms, 105x), Up stays wrapped uint8
    add; Average/Paeth are serial recurrences run on Python-int list
    buffers (72.5 -> 6.5 ms / 87.7 -> 12.5 ms vs per-byte numpy
    indexing). Per-document cost, parallel across the corpus."""
    import numpy as np

    need = nrows * (stride + 1)
    if len(raw) - off < need:
        raise ValueError("PNG scanline payload size mismatch")
    out = np.zeros((nrows, stride), dtype=np.uint8)
    zeros = np.zeros(stride, dtype=np.uint8)
    for y in range(nrows):
        base = off + y * (stride + 1)
        ftype = raw[base]
        line = np.frombuffer(raw, np.uint8, stride, base + 1)
        prev = out[y - 1] if y else zeros
        if ftype == 0:
            out[y] = line
        elif ftype == 1:
            # Sub: rec[i] = (line[i] + rec[i-bpp]) mod 256 — per byte
            # lane this is a running sum, and mod distributes over +, so
            # one int64 cumsum per lane replaces the serial byte loop.
            out[y] = (
                line.reshape(stride // bpp, bpp)
                .cumsum(axis=0, dtype=np.int64)
                .astype(np.uint8)
                .reshape(stride)
            )
        elif ftype == 2:
            out[y] = line + prev  # uint8 add wraps mod 256
        elif ftype in (3, 4):
            # Average/Paeth recurrences are serial within the scanline
            # (floor-div / 3-way min break the cumsum trick); run them on
            # Python-int list buffers — scalar list ops beat per-element
            # numpy indexing ~10x.
            ln = line.tolist()
            pv = prev.tolist()
            rc = [0] * stride
            if ftype == 3:
                for i in range(stride):
                    a = rc[i - bpp] if i >= bpp else 0
                    rc[i] = (ln[i] + ((a + pv[i]) >> 1)) & 255
            else:
                for i in range(stride):
                    if i >= bpp:
                        a = rc[i - bpp]
                        c = pv[i - bpp]
                    else:
                        a = c = 0
                    b = pv[i]
                    p = a + b - c
                    pa = p - a if p >= a else a - p
                    pb = p - b if p >= b else b - p
                    pc = p - c if p >= c else c - p
                    pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    rc[i] = (ln[i] + pr) & 255
            out[y] = rc
        else:
            raise ValueError(f"unknown PNG filter {ftype}")
    return out, off + need


@loud_truncation
def decode_png(data: bytes):
    """Parse a PNG (8- or 16-bit gray / truecolor RGB / RGBA, 8-bit
    palette; non-interlaced OR Adam7 — round 11 closed both remaining
    lanes) into an array — (H, W) for grayscale, (H, W, 3) for palette
    (indices mapped through PLTE), (H, W, C) otherwise; uint16 for
    16-bit depth (big-endian samples): real chunk walk
    (length/type/crc), multi-IDAT concatenation, zlib inflate, all five
    scanline unfilters at byte level (one code path for every
    depth/color/pass — _png_unfilter), and the seven-pass Adam7
    scatter (each pass an independently filtered sub-image; empty
    passes contribute no bytes). Sub-byte depths (1/2/4-bit) still
    raise NotImplementedError."""
    import zlib

    import numpy as np

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos = 8
    w = h = None
    color_type = 0
    depth = 8
    interlace = 0
    plte = None
    idat = bytearray()
    while pos < len(data):
        (ln,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != struct.unpack_from(
            ">I", data, pos + 8 + ln
        )[0]:
            raise ValueError(f"bad CRC in {ctype!r} chunk")
        if ctype == b"IHDR":
            w, h, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if (
                depth not in (8, 16)
                or color_type not in (0, 2, 3, 6)
                or interlace not in (0, 1)
                or (depth == 16 and color_type == 3)
            ):
                raise NotImplementedError(
                    "only 8/16-bit gray/palette/truecolor PNG supported"
                    f" (depth={depth}, color_type={color_type},"
                    f" interlace={interlace})"
                )
            ch = {0: 1, 2: 3, 3: 1, 6: 4}[color_type]
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    bpp = ch * (depth // 8)

    def to_samples(byte_rows, sh, sw):
        if depth == 16:
            return (
                np.frombuffer(byte_rows.tobytes(), ">u2")
                .reshape(sh, sw, ch)
                .astype(np.uint16)
            )
        return byte_rows.reshape(sh, sw, ch)

    if interlace == 0:
        rows, off = _png_unfilter(raw, 0, h, w * bpp, bpp)
        if off != len(raw):
            raise ValueError("PNG scanline payload size mismatch")
        out = to_samples(rows, h, w)
    else:
        out = np.zeros(
            (h, w, ch), dtype=np.uint16 if depth == 16 else np.uint8
        )
        off = 0
        for x0, y0, dx, dy in _PNG_ADAM7:
            pw = -(-(w - x0) // dx) if w > x0 else 0
            ph = -(-(h - y0) // dy) if h > y0 else 0
            if pw == 0 or ph == 0:
                continue
            rows, off = _png_unfilter(raw, off, ph, pw * bpp, bpp)
            out[y0::dy, x0::dx] = to_samples(rows, ph, pw)
        if off != len(raw):
            raise ValueError("PNG scanline payload size mismatch")
    if color_type == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE chunk")
        return plte[out[:, :, 0]]
    if color_type == 0:
        return out[:, :, 0]
    return out


# --- G.711 companded telephony audio (μ-law / A-law, round 11) -----------
#
# The classic 8-bit logarithmic PCM codecs (ITU-T G.711) that WAV files
# carry as format tags 7 (μ-law) and 6 (A-law) — the most common
# non-linear-PCM audio in real archives (telephony, call-center and
# voicemail corpora). Both are pure 256-entry table codecs, so decode
# is exact by construction and the oracle can replay the expansion
# formula in SQL. The expand formulas below follow the published
# G.711 definitions (μ: t = ((m<<3)+0x84)<<e - 0x84 on the complemented
# byte; A: t = (m<<4)+8 for segment 0 else ((m<<4)+0x108)<<(e-1) on the
# 0x55-toggled byte, sign from bit 7), yielding the standard peak
# magnitudes 32124 (μ) and 32256 (A) on the 16-bit scale.


def ulaw_decode_byte(b: int) -> int:
    """Expand one μ-law byte to a 16-bit sample (G.711 μ-law)."""
    u = ~b & 0xFF
    e = (u >> 4) & 7
    m = u & 0x0F
    t = (((m << 3) + 0x84) << e) - 0x84
    return -t if u & 0x80 else t


def ulaw_encode_sample(x: int) -> int:
    """Compress one 16-bit sample to a μ-law byte (G.711 μ-law:
    bias 0x84, clip 32635, 3-bit segment + 4-bit mantissa,
    complemented on the wire)."""
    sign = 0x80 if x < 0 else 0
    if sign:
        x = -x
    if x > 32635:
        x = 32635
    x += 0x84
    e = x.bit_length() - 8  # x >= 0x84, so bit_length in 8..15
    m = (x >> (e + 3)) & 0x0F
    return ~(sign | (e << 4) | m) & 0xFF


def alaw_decode_byte(b: int) -> int:
    """Expand one A-law byte to a 16-bit sample (G.711 A-law; the wire
    byte is XOR 0x55; bit 7 SET means positive)."""
    a = b ^ 0x55
    e = (a >> 4) & 7
    m = a & 0x0F
    t = (m << 4) + 8 if e == 0 else ((m << 4) + 0x108) << (e - 1)
    return t if a & 0x80 else -t


def alaw_encode_sample(x: int) -> int:
    """Compress one 16-bit sample to an A-law byte (G.711 A-law:
    one's-complement magnitude for negatives, segment/mantissa, XOR
    0x55). Exact inverse of alaw_decode_byte on all 256 codes."""
    if x >= 0:
        ix, sign = x >> 4, 0x80
    else:
        ix, sign = (~x) >> 4, 0
    if ix > 15:
        e = 1
        while ix > 31:
            ix >>= 1
            e += 1
        ix = (ix - 16) | (e << 4)
    return (ix | sign) ^ 0x55


# IMA/DVI ADPCM (WAV format tag 0x11): 4-bit differential nibbles over
# an 89-step quantizer table with a per-nibble step-index walk — the
# classic speech/game-audio compressed WAV. The decode state machine is
# a pure integer fold, so the oracle key replays it in SQL with a
# list_reduce struct accumulator, codec-free.
_IMA_STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
]
_IMA_INDEX_TABLE = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_decode_nibble(pred: int, idx: int, n: int) -> tuple[int, int]:
    """One IMA ADPCM state-machine step: (pred, idx, nibble) ->
    (new_pred, new_idx)."""
    step = _IMA_STEP_TABLE[idx]
    d = step >> 3
    if n & 1:
        d += step >> 2
    if n & 2:
        d += step >> 1
    if n & 4:
        d += step
    pred = pred - d if n & 8 else pred + d
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + _IMA_INDEX_TABLE[n & 7]))
    return pred, idx


def _ima_decode_block(body: bytes, n_samples: int):
    """One mono IMA block: 4-byte header (int16 predictor = sample 0,
    step index, reserved) + packed nibbles, low nibble first."""
    if len(body) < 4:
        raise ValueError("IMA ADPCM block truncated (no header)")
    (pred,) = struct.unpack_from("<h", body, 0)
    idx = body[2]
    if idx > 88:
        raise ValueError(f"IMA ADPCM step index {idx} out of range")
    out = [pred]
    pos = 4
    while len(out) < n_samples:
        if pos >= len(body):
            raise ValueError("IMA ADPCM block truncated (nibbles short)")
        b = body[pos]
        pos += 1
        for n in (b & 0x0F, b >> 4):
            if len(out) >= n_samples:
                break
            pred, idx = _ima_decode_nibble(pred, idx, n)
            out.append(pred)
    return out


def _ima_compress_channel(chunk, idx: int) -> tuple[list[int], int, int]:
    """Greedy IMA compression of one channel's block: returns
    (nibbles, first_sample, carried step index) — nibble choice runs
    the SAME state machine the decoder does."""
    pred = int(chunk[0])
    first = pred
    nibbles = []
    for target in chunk[1:]:
        step = _IMA_STEP_TABLE[idx]
        diff = int(target) - pred
        n = 8 if diff < 0 else 0
        diff = abs(diff)
        if diff >= step:
            n |= 4
            diff -= step
        if diff >= step >> 1:
            n |= 2
            diff -= step >> 1
        if diff >= step >> 2:
            n |= 1
        pred, idx = _ima_decode_nibble(pred, idx, n)
        nibbles.append(n)
    return nibbles, first, idx


def ima_adpcm_encode(samples, block_samples: int = 505) -> tuple[bytes, int]:
    """Compress int16 mono samples to IMA ADPCM blocks (greedy nibble
    choice through the same state machine the decoder runs — the
    standard compressor). Returns (data, block_align) where each block
    is a 4-byte header + (block_samples - 1) nibbles, padded to whole
    bytes; block_align = 4 + ceil((block_samples - 1) / 2)."""
    import numpy as np

    arr = np.asarray(samples, dtype=np.int64).ravel()
    block_align = 4 + (block_samples - 1 + 1) // 2
    out = bytearray()
    idx = 0
    at = 0
    while at < len(arr):
        chunk = arr[at : at + block_samples]
        at += block_samples
        nibbles, first, idx0 = _ima_compress_channel(chunk, idx)
        out += struct.pack("<hBB", first, idx, 0)
        idx = idx0
        if len(nibbles) % 2:
            nibbles.append(0)
        for lo, hi in zip(nibbles[::2], nibbles[1::2]):
            out.append(lo | (hi << 4))
        # pad the final short block to block_align
        pad = block_align - (4 + len(nibbles) // 2)
        out += b"\x00" * pad
    return bytes(out), block_align


def ima_adpcm_encode_stereo(
    samples, block_samples: int = 505
) -> tuple[bytes, int]:
    """Compress (N, 2) int16 samples to STEREO IMA ADPCM blocks — the
    interleaved-word layout real stereo ADPCM WAVs use: per block, one
    4-byte header PER CHANNEL (first sample + step index), then the
    nibble data in alternating 4-byte words (8 nibbles = 8 samples of
    ONE channel per word). Returns (data, block_align) with
    block_align = 8 * (1 + ceil((block_samples - 1) / 8))."""
    import numpy as np

    arr = np.asarray(samples, dtype=np.int64)
    n_ch = arr.shape[1]
    if n_ch != 2:
        raise ValueError("ima_adpcm_encode_stereo: needs (N, 2) input")
    nwords = -(-(block_samples - 1) // 8)
    block_align = 4 * n_ch * (1 + nwords)
    out = bytearray()
    idx = [0] * n_ch
    at = 0
    while at < len(arr):
        chunk = arr[at : at + block_samples]
        at += block_samples
        per_ch = []
        for c in range(n_ch):
            nibbles, first, idx_after = _ima_compress_channel(
                chunk[:, c], idx[c]
            )
            out_hdr = struct.pack("<hBB", first, idx[c], 0)
            nibbles += [0] * (nwords * 8 - len(nibbles))
            per_ch.append((out_hdr, nibbles, idx_after))
        for hdr, _, _ in per_ch:
            out += hdr
        for wi in range(nwords):
            for c in range(n_ch):
                nib = per_ch[c][1][wi * 8 : wi * 8 + 8]
                for k in range(0, 8, 2):
                    out.append(nib[k] | (nib[k + 1] << 4))
        idx = [p[2] for p in per_ch]
    return bytes(out), block_align


def _ima_decode_block_stereo(body: bytes, n_samples: int, n_ch: int):
    """One stereo (or n-channel) IMA block: per-channel 4-byte headers,
    then alternating 4-byte words of 8 nibbles per channel. Returns a
    list of per-channel sample lists (n_samples each)."""
    chans = []
    states = []
    for c in range(n_ch):
        (pred,) = struct.unpack_from("<h", body, 4 * c)
        idx = body[4 * c + 2]
        if idx > 88:
            raise ValueError(f"IMA ADPCM step index {idx} out of range")
        chans.append([pred])
        states.append((pred, idx))
    pos = 4 * n_ch
    while min(len(ch) for ch in chans) < n_samples:
        for c in range(n_ch):
            if pos + 4 > len(body):
                raise ValueError("IMA ADPCM stereo block truncated")
            word = body[pos : pos + 4]
            pos += 4
            pred, idx = states[c]
            for b in word:
                for n in (b & 0x0F, b >> 4):
                    if len(chans[c]) < n_samples:
                        pred, idx = _ima_decode_nibble(pred, idx, n)
                        chans[c].append(pred)
            states[c] = (pred, idx)
    return chans


def ima_wav_from_nibbles(
    nibbles, pred0: int, idx0: int, sample_rate: int = 8000
) -> bytes:
    """Assemble a genuine single-block mono IMA ADPCM WAV from an
    explicit nibble stream + initial state — the oracle-key producer
    (the nibbles follow a formula the SQL side can replay through the
    same state machine, so the oracle stays codec-free)."""
    nibs = list(nibbles)
    n_samples = len(nibs) + 1
    body = struct.pack("<hBB", pred0, idx0, 0)
    if len(nibs) % 2:
        nibs.append(0)
    body += bytes(lo | (hi << 4) for lo, hi in zip(nibs[::2], nibs[1::2]))
    block_align = len(body)
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, sample_rate,
        sample_rate * block_align // n_samples, block_align, 4, 2,
        n_samples,
    )
    fact = b"fact" + struct.pack("<I", 4) + struct.pack("<I", n_samples)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + len(fact) + 8 + len(body))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + fact
        + b"data"
        + struct.pack("<I", len(body))
        + body
    )


def ima_wav_from_nibbles_stereo(
    nibbles_by_ch, preds, idxs, sample_rate: int = 8000
) -> bytes:
    """Assemble a genuine single-block STEREO IMA ADPCM WAV from
    explicit per-channel nibble streams + initial states — the
    stereo oracle-key producer (per-channel headers, alternating
    4-byte words of 8 nibbles)."""
    n_ch = len(nibbles_by_ch)
    n_nib = len(nibbles_by_ch[0])
    if any(len(nb) != n_nib for nb in nibbles_by_ch):
        raise ValueError("channels must carry equal nibble counts")
    n_samples = n_nib + 1
    nwords = -(-n_nib // 8) if n_nib else 0
    body = bytearray()
    for c in range(n_ch):
        body += struct.pack("<hBB", preds[c], idxs[c], 0)
    padded = [list(nb) + [0] * (nwords * 8 - n_nib) for nb in nibbles_by_ch]
    for wi in range(nwords):
        for c in range(n_ch):
            nib = padded[c][wi * 8 : wi * 8 + 8]
            for k in range(0, 8, 2):
                body.append(nib[k] | (nib[k + 1] << 4))
    block_align = len(body)
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, n_ch, sample_rate,
        sample_rate * block_align // n_samples, block_align, 4, 2,
        n_samples,
    )
    fact = b"fact" + struct.pack("<I", 4) + struct.pack("<I", n_samples)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + len(fact) + 8 + len(body))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + fact
        + b"data"
        + struct.pack("<I", len(body))
        + bytes(body)
    )


@lru_cache(maxsize=2)
def _g711_decode_table(law: str):
    """256-entry int16 expansion table for 'ulaw'/'alaw' — decode is a
    vectorized numpy take."""
    import numpy as np

    fn = ulaw_decode_byte if law == "ulaw" else alaw_decode_byte
    return np.array([fn(b) for b in range(256)], dtype=np.int16)


def encode_wav(
    samples,
    sample_rate: int = 16000,
    bits: int = 16,
    codec: str = "pcm",
    adpcm_block_samples: int = 505,
) -> bytes:
    """Write an int array as a real WAV (RIFF header, fmt + data
    chunks) — 1-D mono or (N, C) multichannel (samples interleave
    channel-major per frame, the RIFF rule). codec='pcm' (default)
    writes 16- or 24-bit linear PCM (`bits=24` packs each sample's low
    three little-endian bytes — int32 inputs in [-2^23, 2^23));
    codec='ulaw'/'alaw' companding-compresses int16 input to G.711
    8-bit bytes under format tag 7/6; stdlib struct/numpy only."""
    import numpy as np

    arr = np.asarray(samples)
    if arr.ndim == 1:
        arr = arr.reshape(-1, 1)
    n_ch = arr.shape[1]
    if codec == "ima_adpcm":
        if n_ch > 2:
            raise ValueError("encode_wav: ima_adpcm is mono/stereo only")
        spb = adpcm_block_samples
        if n_ch == 1:
            pcm, block_align = ima_adpcm_encode(arr[:, 0], block_samples=spb)
        else:
            pcm, block_align = ima_adpcm_encode_stereo(arr, block_samples=spb)
        fmt = struct.pack(
            "<HHIIHHHH", 0x11, n_ch, sample_rate,
            sample_rate * block_align // spb, block_align, 4, 2, spb,
        )
        fact = b"fact" + struct.pack("<I", 4) + struct.pack("<I", len(arr))
        return (
            b"RIFF"
            + struct.pack(
                "<I", 4 + 8 + len(fmt) + len(fact) + 8 + len(pcm)
            )
            + b"WAVE"
            + b"fmt "
            + struct.pack("<I", len(fmt))
            + fmt
            + fact
            + b"data"
            + struct.pack("<I", len(pcm))
            + pcm
        )
    if codec in ("ulaw", "alaw"):
        fn = ulaw_encode_sample if codec == "ulaw" else alaw_encode_sample
        pcm = bytes(fn(int(x)) for x in arr.ravel())
        tag, bits = (7 if codec == "ulaw" else 6), 8
    elif codec == "float32":
        pcm, tag, bits = arr.astype("<f4").tobytes(), 3, 32
    elif codec != "pcm":
        raise ValueError(f"encode_wav: unknown codec {codec!r}")
    elif bits == 16:
        pcm, tag = arr.astype("<i2").tobytes(), 1
    elif bits == 24:
        le32 = arr.astype("<i4").tobytes()
        b = np.frombuffer(le32, np.uint8).reshape(-1, 4)
        pcm, tag = b[:, :3].tobytes(), 1  # drop each sample's high byte
    else:
        raise ValueError(f"encode_wav: bits must be 16 or 24, got {bits}")
    bype = bits // 8
    fmt = struct.pack(
        "<HHIIHH", tag, n_ch, sample_rate,
        sample_rate * bype * n_ch, bype * n_ch, bits,
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(pcm))
        + pcm
    )


@loud_truncation
def decode_wav(data: bytes):
    """Parse a WAV into (samples, sample_rate): real RIFF chunk walk
    (fmt before data, unknown chunks skipped with word alignment).
    Round 11 widened the lanes: mono returns a 1-D array, stereo/
    multichannel an (N, C) array (de-interleaved); 16-bit linear PCM
    returns int16, 24-bit int32 (sign-extended from the packed 3-byte
    little-endian samples); IEEE float32 (format tag 3) returns
    float32 bit-exact; G.711 μ-law/A-law (format tags 7/6 — the
    telephony-corpus staple) expand to int16 through the 256-entry
    table codec, one vectorized take; mono IMA ADPCM (tag 0x11) runs
    the 89-step state machine per block. Stereo ADPCM and MP3-in-WAV
    raise NotImplementedError — the remaining audio-codec seam."""
    import numpy as np

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    rate = n_ch = bits = fmt_tag = None
    block_align = spb = fact_samples = None
    while pos + 8 <= len(data):
        ctype = data[pos : pos + 4]
        (ln,) = struct.unpack_from("<I", data, pos + 4)
        body_at = pos + 8
        if ctype == b"fmt ":
            fmt_tag, n_ch, rate, _br, block_align, bits = struct.unpack_from(
                "<HHIIHH", data, body_at
            )
            ok = (
                (fmt_tag == 1 and bits in (16, 24))
                or (fmt_tag in (6, 7) and bits == 8)
                or (fmt_tag == 0x11 and bits == 4)
                or (fmt_tag == 3 and bits == 32)
            )
            if not ok:
                raise NotImplementedError(
                    "only PCM16/PCM24/float32/G.711/IMA-ADPCM WAV"
                    f" supported (fmt={fmt_tag}, bits={bits})"
                )
            if fmt_tag == 0x11:
                if n_ch > 2:
                    raise NotImplementedError(
                        "IMA ADPCM beyond stereo unsupported"
                    )
                (spb,) = struct.unpack_from("<H", data, body_at + 18)
        elif ctype == b"fact":
            (fact_samples,) = struct.unpack_from("<I", data, body_at)
        elif ctype == b"data":
            if rate is None:
                raise ValueError("WAV data chunk before fmt chunk")
            if fmt_tag == 0x11:
                if fact_samples is None:
                    raise ValueError("IMA ADPCM WAV missing fact chunk")
                if n_ch == 1:
                    out: list[int] = []
                    at = body_at
                    while len(out) < fact_samples:
                        n = min(spb, fact_samples - len(out))
                        out.extend(
                            _ima_decode_block(data[at : at + block_align], n)
                        )
                        at += block_align
                    return np.array(out, dtype=np.int16), rate
                chans: list[list[int]] = [[] for _ in range(n_ch)]
                at = body_at
                while len(chans[0]) < fact_samples:
                    n = min(spb, fact_samples - len(chans[0]))
                    block = _ima_decode_block_stereo(
                        data[at : at + block_align], n, n_ch
                    )
                    for c in range(n_ch):
                        chans[c].extend(block[c])
                    at += block_align
                return np.array(chans, dtype=np.int16).T, rate
            if fmt_tag == 3:
                flat = np.frombuffer(data, "<f4", ln // 4, body_at).copy()
            elif fmt_tag in (6, 7):
                raw = np.frombuffer(data, np.uint8, ln, body_at)
                law = "ulaw" if fmt_tag == 7 else "alaw"
                flat = _g711_decode_table(law)[raw]
            elif bits == 16:
                flat = np.frombuffer(data, "<i2", ln // 2, body_at).copy()
            else:
                raw = np.frombuffer(data, np.uint8, ln - ln % 3, body_at)
                tri = raw.reshape(-1, 3).astype(np.int32)
                flat = tri[:, 0] | (tri[:, 1] << 8) | (tri[:, 2] << 16)
                flat = flat - ((flat & 0x800000) << 1)  # sign-extend b23
            if n_ch == 1:
                return flat, rate
            return flat.reshape(-1, n_ch), rate
        pos = body_at + ln + (ln & 1)  # RIFF chunks are word-aligned
    raise ValueError("WAV missing data chunk")


# --- FLAC (subset: CONSTANT/VERBATIM/FIXED subframes, Rice residuals) ----
#
# The dominant lossless audio format in real archives. Native subset
# decoder per the published FLAC format spec: STREAMINFO metadata walk,
# frame sync + UTF-8-style coded frame numbers + CRC-8 header check,
# CONSTANT / VERBATIM / FIXED(0-4) / quantized-LPC(1-32) subframes,
# Rice residual coding (both 4- and 5-bit parameter methods,
# partitioned, incl. the raw-bits escape), wasted-bits shifts,
# independent and left/right/mid-side stereo, CRC-16 frame footers.
# LPC reconstruction is residual + the same integer dot-product-and-
# shift both sides, so round-trips are exact for ANY coefficient set —
# coefficient quality (Welch-windowed autocorrelation + Levinson-
# Durbin in the encoder) only affects compression. The encoder writes
# genuine files (per-frame fixed-order search or quantized LPC,
# per-partition Rice parameter fit) so every decoder lane is
# test-reachable; FLAC is lossless, so oracle keys price sample sums
# from content formulas codec-free. Remaining loud refusals: reserved
# subframe/residual types, invalid precision code, negative LPC shift.


@lru_cache(maxsize=1)
def _flac_crc_tables():
    """(crc8 poly 0x07, crc16 poly 0x8005) byte tables — the FLAC frame
    header / frame footer checksums."""
    t8 = []
    for b in range(256):
        c = b
        for _ in range(8):
            c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
        t8.append(c)
    t16 = []
    for b in range(256):
        c = b << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else (c << 1) & 0xFFFF
        t16.append(c)
    return tuple(t8), tuple(t16)


def _flac_crc8(data: bytes) -> int:
    t8, _ = _flac_crc_tables()
    c = 0
    for b in data:
        c = t8[c ^ b]
    return c


def _flac_crc16(data: bytes) -> int:
    _, t16 = _flac_crc_tables()
    c = 0
    for b in data:
        c = ((c << 8) & 0xFFFF) ^ t16[(c >> 8) ^ b]
    return c


class _FlacBits:
    """MSB-first bit reader over a bytes buffer (FLAC's bit order)."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, bytepos: int = 0):
        self.data = data
        self.pos = bytepos * 8

    def read(self, n: int) -> int:
        p, d = self.pos, self.data
        end = p + n
        if end > len(d) * 8:
            raise ValueError("FLAC bitstream truncated")
        first, last = p >> 3, (end + 7) >> 3
        chunk = int.from_bytes(d[first:last], "big")
        chunk >>= (last << 3) - end
        self.pos = end
        return chunk & ((1 << n) - 1)

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v & (1 << (n - 1)) else v

    def read_unary(self) -> int:
        """Count 0-bits until the terminating 1 (FLAC unary)."""
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


def _flac_read_utf8_number(bits: _FlacBits) -> int:
    """FLAC's UTF-8-style coded number (frame/sample index, up to 36
    bits over as many as 7 bytes)."""
    b0 = bits.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    mask = 0x40
    while b0 & mask:
        n += 1
        mask >>= 1
    if n == 0:
        raise ValueError("invalid FLAC coded-number lead byte")
    v = b0 & (mask - 1)
    for _ in range(n):
        c = bits.read(8)
        if c & 0xC0 != 0x80:
            raise ValueError("invalid FLAC coded-number continuation")
        v = (v << 6) | (c & 0x3F)
    return v


_FLAC_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _flac_read_residual(bits: _FlacBits, block_size: int, order: int):
    """Partitioned Rice residual section -> list of block_size - order
    ints. Handles both parameter widths and the raw-bits escape."""
    method = bits.read(2)
    if method > 1:
        raise ValueError(f"reserved FLAC residual method {method}")
    plen = 4 + method
    escape = (1 << plen) - 1
    porder = bits.read(4)
    nparts = 1 << porder
    if block_size % nparts or block_size >> porder <= order and nparts > 1:
        raise ValueError("invalid FLAC partition order")
    out = []
    for part in range(nparts):
        n = (block_size >> porder) - (order if part == 0 else 0)
        param = bits.read(plen)
        if param == escape:
            raw = bits.read(5)
            for _ in range(n):
                out.append(bits.read_signed(raw) if raw else 0)
        else:
            for _ in range(n):
                q = bits.read_unary()
                v = (q << param) | bits.read(param)
                out.append((v >> 1) ^ -(v & 1))  # zigzag
    return out


def _flac_read_subframe(bits: _FlacBits, block_size: int, bps: int):
    """One subframe -> list of block_size ints."""
    if bits.read(1):
        raise ValueError("FLAC subframe pad bit set")
    ftype = bits.read(6)
    wasted = 0
    if bits.read(1):
        wasted = 1 + bits.read_unary()
        bps -= wasted
    if ftype == 0:  # CONSTANT
        samples = [bits.read_signed(bps)] * block_size
    elif ftype == 1:  # VERBATIM
        samples = [bits.read_signed(bps) for _ in range(block_size)]
    elif 8 <= ftype <= 12:  # FIXED, order 0-4
        order = ftype - 8
        samples = [bits.read_signed(bps) for _ in range(order)]
        res = _flac_read_residual(bits, block_size, order)
        coefs = _FLAC_FIXED_COEFS[order]
        for r in res:
            pred = 0
            for k, c in enumerate(coefs):
                pred += c * samples[-1 - k]
            samples.append(r + pred)
    elif ftype >= 32:  # LPC, order 1-32
        order = ftype - 31
        samples = [bits.read_signed(bps) for _ in range(order)]
        prec = bits.read(4) + 1
        if prec == 16:
            raise ValueError("invalid FLAC LPC precision code 1111")
        shift = bits.read_signed(5)
        if shift < 0:
            raise ValueError("negative FLAC LPC shift")
        coefs = [bits.read_signed(prec) for _ in range(order)]
        res = _flac_read_residual(bits, block_size, order)
        for r in res:
            acc = 0
            for k, c in enumerate(coefs):
                acc += c * samples[-1 - k]
            samples.append(r + (acc >> shift))
    else:
        raise ValueError(f"reserved FLAC subframe type {ftype}")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


_FLAC_BLOCKSIZE_CODE = {1: 192, **{n: 576 << (n - 2) for n in range(2, 6)},
                        **{n: 256 << (n - 8) for n in range(8, 16)}}
_FLAC_BPS_CODE = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24}


@loud_truncation
def decode_flac(data: bytes):
    """Decode a subset FLAC stream into (samples, sample_rate):
    int32 (N,) mono or (N, C) multichannel. Verifies the STREAMINFO
    walk, frame sync, header CRC-8 and frame CRC-16; supports
    independent, left/side, right/side and mid/side channel
    decorrelation. LPC subframes raise NotImplementedError (the
    documented seam)."""
    import numpy as np

    if data[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    pos = 4
    info = None
    while True:
        hdr = data[pos]
        last, btype = hdr >> 7, hdr & 0x7F
        (ln,) = struct.unpack(">I", b"\x00" + data[pos + 1 : pos + 4])
        body = data[pos + 4 : pos + 4 + ln]
        if btype == 0:  # STREAMINFO
            b = _FlacBits(body)
            b.read(16), b.read(16), b.read(24), b.read(24)
            rate = b.read(20)
            n_ch = b.read(3) + 1
            bps = b.read(5) + 1
            total = b.read(36)
            info = (rate, n_ch, bps, total)
        pos += 4 + ln
        if last:
            break
    if info is None:
        raise ValueError("FLAC missing STREAMINFO")
    rate, n_ch, bps, total = info
    if bps not in (8, 12, 16, 20, 24):
        raise NotImplementedError(f"FLAC bps {bps} unsupported")

    chans = [[] for _ in range(n_ch)]
    got = 0
    while got < total:
        frame_start = pos
        bits = _FlacBits(data, pos)
        if bits.read(14) != 0x3FFE:
            raise ValueError("FLAC frame sync lost")
        if bits.read(1):
            raise ValueError("FLAC reserved header bit set")
        bits.read(1)  # blocking strategy (number meaning only)
        bs_code = bits.read(4)
        sr_code = bits.read(4)
        ch_code = bits.read(4)
        bps_code = bits.read(3)
        if bits.read(1):
            raise ValueError("FLAC reserved header bit set")
        _flac_read_utf8_number(bits)
        if bs_code == 6:
            block_size = bits.read(8) + 1
        elif bs_code == 7:
            block_size = bits.read(16) + 1
        elif bs_code in _FLAC_BLOCKSIZE_CODE:
            block_size = _FLAC_BLOCKSIZE_CODE[bs_code]
        else:
            raise ValueError(f"reserved FLAC block size code {bs_code}")
        if sr_code == 12:
            bits.read(8)
        elif sr_code in (13, 14):
            bits.read(16)
        elif sr_code == 15:
            raise ValueError("invalid FLAC sample rate code")
        fbps = _FLAC_BPS_CODE[bps_code] if bps_code in _FLAC_BPS_CODE else bps
        hdr_end = (bits.pos + 7) >> 3
        if _flac_crc8(data[frame_start:hdr_end]) != bits.read(8):
            raise ValueError("FLAC frame header CRC-8 mismatch")

        if ch_code < 8:
            if ch_code + 1 != n_ch:
                raise ValueError("FLAC frame/stream channel mismatch")
            sub = [_flac_read_subframe(bits, block_size, fbps)
                   for _ in range(n_ch)]
        elif ch_code in (8, 9, 10):
            if n_ch != 2:
                raise ValueError("FLAC stereo decorrelation on non-stereo")
            # the side channel carries one extra bit
            a = _flac_read_subframe(bits, block_size,
                                    fbps + (1 if ch_code == 9 else 0))
            b2 = _flac_read_subframe(bits, block_size,
                                     fbps + (0 if ch_code == 9 else 1))
            if ch_code == 8:  # left/side
                sub = [a, [x - s for x, s in zip(a, b2)]]
            elif ch_code == 9:  # right/side (side stored first)
                sub = [[r + s for r, s in zip(b2, a)], b2]
            else:  # mid/side
                left, right = [], []
                for m, s in zip(a, b2):
                    m2 = (m << 1) | (s & 1)
                    left.append((m2 + s) >> 1)
                    right.append((m2 - s) >> 1)
                sub = [left, right]
        else:
            raise ValueError(f"reserved FLAC channel assignment {ch_code}")
        bits.align()
        crc_at = bits.pos >> 3
        if _flac_crc16(data[frame_start:crc_at]) != bits.read(16):
            raise ValueError("FLAC frame CRC-16 mismatch")
        pos = bits.pos >> 3
        for c in range(n_ch):
            chans[c].extend(sub[c])
        got += block_size
    if got != total:
        raise ValueError("FLAC sample count mismatch")
    arr = np.array(chans, dtype=np.int64).T.astype(np.int32)
    return (arr[:, 0], rate) if n_ch == 1 else (arr, rate)


class _FlacBitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, n: int) -> None:
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.buf.append((self.acc >> (self.nbits - 8)) & 0xFF)
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)


def _flac_utf8_number(n: int) -> bytes:
    if n < 0x80:
        return bytes([n])
    out = []
    nbytes = 2
    while n >= (1 << (5 * nbytes + 1)) and nbytes < 7:
        nbytes += 1
    lead_bits = 7 - nbytes
    shifts = list(range(6 * (nbytes - 1), -1, -6))
    lead = (0xFF << (lead_bits + 1)) & 0xFF | (n >> shifts[0])
    out.append(lead)
    for s in shifts[1:]:
        out.append(0x80 | ((n >> s) & 0x3F))
    return bytes(out)


def _flac_lpc_coefs(ch: list[int], order: int, precision: int = 14):
    """Quantized LPC coefficients for a block: Welch-windowed
    autocorrelation (the window is what real encoders apply — a
    rectangular window's edge bias wrecks the normal equations on
    narrowband content, measured 84 -> 6 mean|residual| on a sinusoid)
    + Levinson-Durbin, then uniform quantization to `precision` bits
    with a shift chosen so the largest coefficient fits. Returns
    (qcoefs, shift). Coefficient QUALITY only affects compression —
    reconstruction is residual + the same integer prediction both
    sides, so any (qcoefs, shift) round-trips exactly."""
    n = len(ch)
    half = (n - 1) / 2.0 or 1.0
    sw = [s * (1.0 - ((i - half) / half) ** 2) for i, s in enumerate(ch)]
    ac = []
    for lag in range(order + 1):
        ac.append(sum(sw[i] * sw[i - lag] for i in range(lag, n)))
    if ac[0] == 0.0:
        return [0] * order, 0
    err = ac[0]
    lpc = [0.0] * order
    for i in range(order):
        k = ac[i + 1]
        for j in range(i):
            k -= lpc[j] * ac[i - j]
        k /= err if err else 1.0
        k = max(-0.999999, min(0.999999, k))
        new = lpc[:]
        new[i] = k
        for j in range(i):
            new[j] = lpc[j] - k * lpc[i - 1 - j]
        lpc = new
        err *= 1.0 - k * k
        if err <= 0:
            err = 1e-9
    cmax = max(abs(c) for c in lpc) or 1.0
    shift = precision - 1 - max(0, int(cmax).bit_length())
    shift = max(0, min(15, shift))
    q = [max(-(1 << (precision - 1)),
             min((1 << (precision - 1)) - 1, round(c * (1 << shift))))
         for c in lpc]
    return q, shift


def _flac_best_rice_param(res: list[int], plen: int) -> int:
    """Smallest-cost Rice parameter for a residual partition (exact
    bit-count search — test-side encoder, clips are small)."""
    best_p, best_cost = 0, None
    for p in range(1 << plen):
        if p == (1 << plen) - 1:
            break  # escape, handled by caller
        cost = 0
        for r in res:
            v = (abs(r) << 1) - (1 if r < 0 else 0)
            cost += (v >> p) + 1 + p
            if cost > 1 << 24:
                break
        if best_cost is None or cost < best_cost:
            best_p, best_cost = p, cost
    return best_p


def encode_flac(
    samples,
    sample_rate: int = 44100,
    bits: int = 16,
    block_size: int = 4096,
    order: int | None = None,
    partition_order: int = 0,
    force_escape: bool = False,
    stereo_mode: str = "independent",
    lpc_order: int | None = None,
) -> bytes:
    """Write an int array as a genuine FLAC stream (STREAMINFO +
    fixed-blocksize frames; per-frame fixed-order search 0-4 unless
    `order` pins one, or quantized-LPC subframes when `lpc_order` is
    set — autocorrelation + Levinson-Durbin, 14-bit coefficients;
    per-partition Rice parameter fit; optional raw-bits escape forcing
    and mid/side stereo) — the test-side producer that makes every
    decoder lane reachable."""
    import numpy as np

    arr = np.asarray(samples, dtype=np.int64)
    if arr.ndim == 1:
        arr = arr.reshape(-1, 1)
    total, n_ch = arr.shape
    if stereo_mode not in ("independent", "mid_side"):
        raise ValueError(f"encode_flac: unknown stereo_mode {stereo_mode}")
    if stereo_mode == "mid_side" and n_ch != 2:
        raise ValueError("encode_flac: mid_side needs 2 channels")

    out = bytearray(b"fLaC")
    si = _FlacBitWriter()
    si.write(block_size, 16)
    si.write(block_size, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(sample_rate, 20)
    si.write(n_ch - 1, 3)
    si.write(bits - 1, 5)
    si.write(total, 36)
    si.buf += b"\x00" * 16  # MD5 unset (permitted)
    out += bytes([0x80]) + len(si.buf).to_bytes(3, "big") + si.buf

    def write_residual(w: _FlacBitWriter, res: list[int], n: int, o: int) -> None:
        # residual: method 0 (4-bit params), partitioned
        porder = partition_order
        nparts = 1 << porder
        if n % nparts or (n >> porder) <= o and nparts > 1:
            porder, nparts = 0, 1
        w.write(0, 2)
        w.write(porder, 4)
        at = 0
        for part in range(nparts):
            cnt = (n >> porder) - (o if part == 0 else 0)
            pres = res[at : at + cnt]
            at += cnt
            if force_escape:
                raw = max((abs(r) for r in pres), default=0).bit_length() + 1
                w.write(15, 4)
                w.write(raw, 5)
                for r in pres:
                    w.write(r, raw)
                continue
            p = _flac_best_rice_param(pres, 4)
            w.write(p, 4)
            for r in pres:
                v = (abs(r) << 1) - (1 if r < 0 else 0)
                w.write_unary(v >> p)
                w.write(v, p)

    def write_subframe(w: _FlacBitWriter, ch: list[int], bps: int) -> None:
        n = len(ch)
        if all(s == ch[0] for s in ch):
            w.write(0, 1)
            w.write(0, 6)  # CONSTANT
            w.write(0, 1)
            w.write(ch[0], bps)
            return
        if lpc_order is not None and n > lpc_order > 0:
            o = lpc_order
            qc, shift = _flac_lpc_coefs(ch, o, precision=14)
            res = []
            for i in range(o, n):
                acc = sum(c * ch[i - 1 - k] for k, c in enumerate(qc))
                res.append(ch[i] - (acc >> shift))
            w.write(0, 1)
            w.write(31 + o, 6)  # LPC
            w.write(0, 1)  # no wasted bits
            for s in ch[:o]:
                w.write(s, bps)
            w.write(13, 4)  # precision 14 -> code 13
            w.write(shift, 5)
            for c in qc:
                w.write(c, 14)
            write_residual(w, res, n, o)
            return
        # fixed-order search by absolute residual sum
        cand = range(5) if order is None else [order]
        best = None
        for o in cand:
            if o >= n:
                continue
            coefs = _FLAC_FIXED_COEFS[o]
            res = []
            for i in range(o, n):
                pred = sum(c * ch[i - 1 - k] for k, c in enumerate(coefs))
                res.append(ch[i] - pred)
            cost = sum(abs(r) for r in res)
            if best is None or cost < best[0]:
                best = (cost, o, res)
        _, o, res = best
        max_res = max((abs(r) for r in res), default=0)
        if max_res >= 1 << 30:  # residual blew past Rice practicality
            w.write(0, 1)
            w.write(1, 6)  # VERBATIM
            w.write(0, 1)
            for s in ch:
                w.write(s, bps)
            return
        w.write(0, 1)
        w.write(8 + o, 6)  # FIXED
        w.write(0, 1)  # no wasted bits
        for s in ch[:o]:
            w.write(s, bps)
        write_residual(w, res, n, o)

    frame_no = 0
    at = 0
    while at < total:
        n = min(block_size, total - at)
        w = _FlacBitWriter()
        w.write(0x3FFE, 14)
        w.write(0, 1)
        w.write(0, 1)  # fixed-blocksize stream
        w.write(7, 4)  # blocksize: 16-bit at header end
        w.write(0, 4)  # sample rate: from STREAMINFO
        ch_code = 10 if stereo_mode == "mid_side" else n_ch - 1
        w.write(ch_code, 4)
        w.write({8: 1, 12: 2, 16: 4, 20: 5, 24: 6}[bits], 3)
        w.write(0, 1)
        for b in _flac_utf8_number(frame_no):
            w.write(b, 8)
        w.write(n - 1, 16)
        w.align()
        hdr = bytes(w.buf)
        w.write(_flac_crc8(hdr), 8)
        block = arr[at : at + n]
        if stereo_mode == "mid_side":
            left = block[:, 0].tolist()
            right = block[:, 1].tolist()
            mid = [(l + r) >> 1 for l, r in zip(left, right)]
            side = [l - r for l, r in zip(left, right)]
            write_subframe(w, mid, bits)
            write_subframe(w, side, bits + 1)
        else:
            for c in range(n_ch):
                write_subframe(w, block[:, c].tolist(), bits)
        w.align()
        frame = bytes(w.buf)
        w.write(_flac_crc16(frame), 16)
        out += w.buf
        at += n
        frame_no += 1
    return bytes(out)


def encode_y4m(frames, fps: str = "25:1", colorspace: str = "C444") -> bytes:
    """Write an (N, H, W, 3) uint8 YUV array as a real YUV4MPEG2 (Y4M)
    stream — the uncompressed video interchange format ffmpeg/mplayer
    read: stream header line + FRAME-delimited planar rasters. C444
    writes full planes; C420/C422 (round 11) downsample the chroma
    planes by round-half-up block means (2x2 / 2x1) — lossless when
    each chroma block is constant, the property the oracle keys use."""
    import numpy as np

    frames = np.asarray(frames, dtype=np.uint8)
    n, h, w, _ = frames.shape
    if colorspace == "C444":
        sx = sy = 1
    elif colorspace == "C420":
        sx = sy = 2
    elif colorspace == "C422":
        sx, sy = 2, 1
    else:
        raise ValueError(f"encode_y4m: unsupported colorspace {colorspace}")
    if w % sx or h % sy:
        raise ValueError(
            f"encode_y4m: {colorspace} needs dims divisible by ({sx}, {sy})"
        )
    out = [f"YUV4MPEG2 W{w} H{h} F{fps} Ip A1:1 {colorspace}\n".encode()]
    for f in range(n):
        out.append(b"FRAME\n")
        out.append(frames[f, :, :, 0].tobytes())
        for c in (1, 2):
            plane = frames[f, :, :, c].astype(np.int64)
            if sx == sy == 1:
                out.append(plane.astype(np.uint8).tobytes())
                continue
            blocks = plane.reshape(h // sy, sy, w // sx, sx)
            total = blocks.sum(axis=(1, 3))
            npx = sx * sy
            down = (total + npx // 2) // npx  # round half up
            out.append(down.astype(np.uint8).tobytes())
    return b"".join(out)


@loud_truncation
def decode_y4m(data: bytes):
    """Parse an 8-bit Y4M stream into (N, H, W, 3) uint8 YUV: real
    header-token parsing (W/H/C, unknown tokens skipped), FRAME-marker
    walk, planar raster reassembly. C444 reads full planes; C420 /
    C420jpeg / C420mpeg2 / C422 (round 11 — the subsampled-chroma video
    lanes) read half-resolution chroma planes and replication-upsample
    them onto the full grid (the siting variants differ only in FILTER
    placement, which replication ignores — same choice as the JPEG
    upsampler). Other colorspaces (C410, mono, 16-bit) stay the loud
    seam. Subsampled dims must be even along the halved axes, as every
    real encoder requires."""
    import numpy as np

    eol = data.index(b"\n")
    header = data[:eol].decode("ascii", "replace").split(" ")
    if header[0] != "YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = None
    colorspace = "C420jpeg"  # Y4M default when the C token is absent
    for tok in header[1:]:
        if tok.startswith("W"):
            w = int(tok[1:])
        elif tok.startswith("H"):
            h = int(tok[1:])
        elif tok.startswith("C"):
            colorspace = tok
    if w is None or h is None:
        raise ValueError("Y4M header missing W/H")
    if colorspace == "C444":
        sx = sy = 1
    elif colorspace in ("C420", "C420jpeg", "C420mpeg2", "C420paldv"):
        sx = sy = 2
    elif colorspace == "C422":
        sx, sy = 2, 1
    else:
        raise NotImplementedError(
            f"Y4M colorspace {colorspace} unsupported (C444/C420*/C422"
            " decode natively)"
        )
    if w % sx or h % sy:
        raise ValueError(
            f"Y4M {colorspace} needs dims divisible by ({sx}, {sy}),"
            f" got {w}x{h}"
        )
    yplane = w * h
    cplane = (w // sx) * (h // sy)
    fsize = yplane + 2 * cplane
    pos = eol + 1
    frames = []
    while pos < len(data):
        fe = data.index(b"\n", pos)
        if data[pos : pos + 5] != b"FRAME":
            raise ValueError("expected FRAME marker")
        pos = fe + 1
        raw = np.frombuffer(data, np.uint8, fsize, pos)
        yy = raw[:yplane].reshape(h, w)
        uv = []
        for ci in range(2):
            c = raw[yplane + ci * cplane : yplane + (ci + 1) * cplane]
            c = c.reshape(h // sy, w // sx)
            uv.append(np.repeat(np.repeat(c, sy, axis=0), sx, axis=1))
        frames.append(np.stack([yy, uv[0], uv[1]], axis=2))
        pos += fsize
    return np.stack(frames) if frames else np.empty((0, h, w, 3), np.uint8)


# --- TIFF (baseline: uncompressed + PackBits, round 11) --------------------
#
# The simplest of the remaining exotic-format seams made native: 8-bit
# gray/RGB baseline TIFF in both byte orders, chunky planar config,
# multi-strip layout, Compression 1 (none) and 32773 (PackBits — the
# classic run-length scheme). LZW/JPEG-in-TIFF, tiles, 16-bit and
# planar=2 stay behind the loud PIL seam. The encoder writes matching
# files (strip-split + optional PackBits + either endianness) so every
# decoder lane is test-reachable and the oracle key stays codec-free.


def _packbits_decode(src: bytes, expected: int) -> bytes:
    """Apple PackBits: n in 0..127 -> copy n+1 literals; n in 129..255
    (signed -1..-127) -> repeat next byte 257-n times; 128 is a noop."""
    out = bytearray()
    i = 0
    while i < len(src) and len(out) < expected:
        n = src[i]
        i += 1
        if n < 128:
            out += src[i : i + n + 1]
            i += n + 1
        elif n > 128:
            out += bytes([src[i]]) * (257 - n)
            i += 1
    if len(out) != expected:
        raise ValueError(
            f"PackBits strip decoded to {len(out)} bytes, want {expected}"
        )
    return bytes(out)


def _packbits_encode(src: bytes) -> bytes:
    """PackBits encoder: runs of >= 3 as replicate packets, the rest as
    literal packets of <= 128 bytes."""
    out = bytearray()
    i = 0
    n = len(src)
    while i < n:
        run = 1
        while i + run < n and run < 128 and src[i + run] == src[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, src[i]])
            i += run
            continue
        lit = i
        while (
            i < n
            and i - lit < 128
            and not (i + 2 < n and src[i] == src[i + 1] == src[i + 2])
        ):
            i += 1
        out += bytes([i - lit - 1]) + src[lit:i]
    return bytes(out)


def _tiff_lzw_decode(src: bytes, expected: int) -> bytes:
    """TIFF-flavor LZW (TIFF 6.0 §13): 8-bit symbols, codes packed
    MSB-first (GIF packs LSB-first), Clear=256/EOI=257, and the
    'early change' rule — the code width bumps when the table reaches
    2^width - 1 entries, one entry EARLIER than straight LZW, because
    historical writers counted the entry about to be added. Shares
    nothing but the algorithm family with _gif_lzw_decode: bit order,
    width schedule and reset protocol all differ, so a shared core
    would be all flag-branches."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = []
    width = 9
    acc = nbits = pos = 0
    prev: bytes | None = None

    def reset() -> None:
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9
        prev = None

    reset()
    while True:
        while nbits < width:
            if pos >= len(src):
                raise ValueError("TIFF LZW stream truncated (no EOI)")
            acc = (acc << 8) | src[pos]
            pos += 1
            nbits += 8
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        acc &= (1 << nbits) - 1  # keep only unread bits: shifts stay O(1)
        if code == CLEAR:
            reset()
            continue
        if code == EOI:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"invalid TIFF LZW code {code}")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) - 1 and width < 12:
                width += 1  # early change
        prev = entry
    if len(out) != expected:
        raise ValueError(
            f"TIFF LZW strip decoded to {len(out)} bytes, want {expected}"
        )
    return bytes(out)


def _tiff_lzw_encode(src: bytes) -> bytes:
    """TIFF-flavor LZW encoder (MSB-first, early change, Clear-led
    stream, table reset at 4094 per the spec's writer protocol) — the
    test-side producer that makes every decoder lane reachable,
    including width bumps and mid-stream resets on large strips."""
    CLEAR, EOI = 256, 257
    bitbuf = bitcnt = 0
    out = bytearray()

    def emit(code: int, width: int) -> None:
        nonlocal bitbuf, bitcnt
        bitbuf = (bitbuf << width) | code
        bitcnt += width
        while bitcnt >= 8:
            out.append((bitbuf >> (bitcnt - 8)) & 0xFF)
            bitcnt -= 8
        bitbuf &= (1 << bitcnt) - 1  # keep only unwritten bits

    d: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    emit(CLEAR, width)
    w = b""
    for b in src:
        c = bytes([b])
        wc = w + c
        if wc in d:
            w = wc
            continue
        emit(d[w], width)
        d[wc] = next_code
        next_code += 1
        # Early-change pairing: the decoder widens after APPENDING entry
        # 2^w - 2 (table size hits 2^w - 1), which it does one code
        # behind this writer's registration — so the writer widens when
        # next_code reaches 2^w, and the first wider code is the one the
        # decoder first reads at the wider width.
        if next_code == (1 << width) and width < 12:
            width += 1
        w = c
        if next_code == 4094:
            emit(CLEAR, width)
            d = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
    if w:
        emit(d[w], width)
    emit(EOI, width)
    if bitcnt:
        out.append((bitbuf << (8 - bitcnt)) & 0xFF)
    return bytes(out)


def _tiff_undiff(
    strip: bytes, rows: int, w: int, spp: int, dt: str = "u1"
) -> bytes:
    """Undo TIFF Predictor 2 (horizontal differencing): each stored
    sample is the delta from the sample to its left in the same
    channel; reconstruction is a per-row per-channel cumulative sum
    mod 2^bits. Differencing operates on SAMPLES, so 16-bit strips
    pass their endianness-qualified dtype (`<u2`/`>u2`)."""
    import numpy as np

    arr = np.frombuffer(strip, np.dtype(dt)).reshape(rows, w, spp)
    mod = 1 << (arr.dtype.itemsize * 8)
    return (np.cumsum(arr, axis=1, dtype=np.int64) % mod).astype(
        arr.dtype
    ).tobytes()


def _tiff_diff(strip: bytes, rows: int, w: int, spp: int, dt: str = "u1") -> bytes:
    """Apply TIFF Predictor 2 on encode: per-row per-channel left
    difference mod 2^bits (first column carried verbatim)."""
    import numpy as np

    arr = np.frombuffer(strip, np.dtype(dt)).reshape(rows, w, spp).astype(
        np.int64
    )
    mod = 1 << (np.dtype(dt).itemsize * 8)
    d = arr.copy()
    d[:, 1:, :] = (arr[:, 1:, :] - arr[:, :-1, :]) % mod
    return d.astype(np.dtype(dt)).tobytes()


@loud_truncation
def decode_tiff(data: bytes):
    """Decode a baseline TIFF (gray or chunky RGB; Compression 1,
    PackBits, or LZW with optional Predictor 2; either byte order,
    multi-strip; 8- or 16-bit samples in the header's byte order) into
    a uint8/uint16 array. Tiled/planar files raise
    NotImplementedError — the remaining loud seam (PIL where
    available, via decode_image)."""
    import numpy as np

    if data[:4] == b"II\x2a\x00":
        e = "<"
    elif data[:4] == b"MM\x00\x2a":
        e = ">"
    else:
        raise ValueError("not a TIFF payload")
    (ifd_off,) = struct.unpack_from(e + "I", data, 4)
    (n_entries,) = struct.unpack_from(e + "H", data, ifd_off)
    tags: dict[int, tuple[int, int, bytes]] = {}
    for k in range(n_entries):
        tag, typ, cnt = struct.unpack_from(e + "HHI", data, ifd_off + 2 + 12 * k)
        raw = data[ifd_off + 2 + 12 * k + 8 : ifd_off + 2 + 12 * k + 12]
        tags[tag] = (typ, cnt, raw)

    type_size = {1: 1, 3: 2, 4: 4}

    def values(tag: int, default=None) -> list[int]:
        if tag not in tags:
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag}")
            return default
        typ, cnt, raw = tags[tag]
        if typ not in type_size:
            raise NotImplementedError(f"TIFF tag {tag} has type {typ}")
        sz = type_size[typ] * cnt
        # a value array can't be larger than the file — bound BEFORE
        # building the cnt-sized format string (fuzzing: a mutated
        # count of ~2^30 allocated a gigabyte format string here)
        if sz > len(data):
            raise ValueError(f"TIFF tag {tag} value larger than file")
        if sz <= 4:
            buf = raw[:sz]
        else:
            (off,) = struct.unpack_from(e + "I", raw, 0)
            buf = data[off : off + sz]
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        return list(struct.unpack(e + fmt * cnt, buf))

    w = values(256)[0]
    h = values(257)[0]
    spp = values(277, [1])[0]
    bits = values(258, [8] * spp)
    comp = values(259, [1])[0]
    photo = values(262)[0]
    planar = values(284, [1])[0]
    tiled = 322 in tags or 323 in tags
    if set(bits) not in ({8}, {16}) or spp not in (1, 3) or planar not in (1, 2):
        raise NotImplementedError(
            f"only 8/16-bit gray/RGB TIFF supported (bits={bits},"
            f" spp={spp}, planar={planar})"
        )
    bps = bits[0]
    bype = bps // 8
    dt = ("u1" if bps == 8 else e + "u2")
    if photo not in (1, 2):
        raise NotImplementedError(f"TIFF photometric {photo} unsupported")
    if comp not in (1, 32773, 5, 8):
        raise NotImplementedError(
            f"TIFF compression {comp} unsupported (none/PackBits/LZW/"
            "Deflate decode natively; JPEG-in-TIFF rides the PIL seam)"
        )
    predictor = values(317, [1])[0]
    if predictor not in (1, 2):
        raise NotImplementedError(
            f"TIFF predictor {predictor} unsupported (none/horizontal"
            " differencing decode natively)"
        )
    import numpy as np

    def expand(chunk: bytes, rows: int, width: int, chunk_spp: int) -> bytes:
        if comp == 32773:
            chunk = _packbits_decode(chunk, rows * width * chunk_spp * bype)
        elif comp == 5:
            chunk = _tiff_lzw_decode(chunk, rows * width * chunk_spp * bype)
        elif comp == 8:  # Adobe Deflate: one zlib stream per chunk
            import zlib

            chunk = zlib.decompress(chunk)
            if len(chunk) != rows * width * chunk_spp * bype:
                raise ValueError("TIFF deflate chunk size mismatch")
        elif len(chunk) != rows * width * chunk_spp * bype:
            raise ValueError("TIFF strip/tile size mismatch")
        if predictor == 2:
            chunk = _tiff_undiff(chunk, rows, width, chunk_spp, dt)
        return chunk

    # planar=2: the strip/tile sequence is every chunk of channel 0,
    # then channel 1, ... — each chunk carries ONE channel; chunky
    # (planar=1) chunks interleave all channels.
    chunk_spp = 1 if planar == 2 else spp
    n_passes = spp if planar == 2 else 1

    if tiled:
        # tiles: fixed tw x th blocks, row-major, right/bottom tiles
        # padded to full size; per-tile compression/predictor identical
        # to the strip path (tiles ARE strips with a 2-D extent)
        tw = values(322)[0]
        th = values(323)[0]
        offsets = values(324)
        counts = values(325)
        tiles_x = -(-w // tw)
        tiles_y = -(-h // th)
        per_pass = tiles_x * tiles_y
        if len(offsets) != per_pass * n_passes:
            raise ValueError("TIFF tile count mismatch")
        planes = []
        for ch in range(n_passes):
            plane = np.zeros((h, w, chunk_spp), dtype=np.dtype(dt))
            for ti in range(per_pass):
                ty, tx = divmod(ti, tiles_x)
                k = ch * per_pass + ti
                tile = expand(
                    data[offsets[k] : offsets[k] + counts[k]], th, tw,
                    chunk_spp,
                )
                block = np.frombuffer(tile, np.dtype(dt)).reshape(
                    th, tw, chunk_spp
                )
                y0, x0 = ty * th, tx * tw
                ys, xs = min(th, h - y0), min(tw, w - x0)
                plane[y0 : y0 + ys, x0 : x0 + xs] = block[:ys, :xs]
            planes.append(plane)
    else:
        offsets = values(273)
        counts = values(279)
        rps = values(278, [h])[0]
        strips_per_pass = len(offsets) // n_passes
        if len(offsets) % n_passes:
            raise ValueError("planar TIFF strip count not divisible by spp")
        planes = []
        for ch in range(n_passes):
            raw = bytearray()
            rows_left = h
            for si in range(strips_per_pass):
                off = offsets[ch * strips_per_pass + si]
                cnt = counts[ch * strips_per_pass + si]
                rows = min(rps, rows_left)
                rows_left -= rows
                raw += expand(data[off : off + cnt], rows, w, chunk_spp)
            planes.append(
                np.frombuffer(bytes(raw), np.dtype(dt)).reshape(h, w, chunk_spp)
            )
    arr = planes[0] if n_passes == 1 else np.concatenate(planes, axis=2)
    if bps == 16:
        arr = arr.astype(np.uint16)  # native order for the caller
    return arr[:, :, 0] if spp == 1 else arr


def encode_tiff(
    img,
    packbits: bool = False,
    big_endian: bool = False,
    rows_per_strip: int = 4,
    lzw: bool = False,
    predictor: int = 1,
    planar: bool = False,
    tile: tuple[int, int] | None = None,
    deflate: bool = False,
) -> bytes:
    """Write a uint8/uint16 (H, W) gray or (H, W, 3) RGB array as a
    baseline TIFF (16-bit when the input dtype is uint16): header +
    strip data + one IFD, multi-strip (rows_per_strip) or TILED
    (`tile=(tw, th)` — fixed blocks, edge tiles zero-padded, tags
    322-325), optional PackBits or LZW (with optional Predictor-2
    horizontal differencing, which operates on samples, not bytes),
    either byte order, chunky or planar (PlanarConfiguration 2:
    per-channel chunk runs) — every decoder lane reachable."""
    import numpy as np

    if packbits + lzw + deflate > 1:
        raise ValueError("encode_tiff: pick one of packbits/lzw/deflate")
    if predictor not in (1, 2):
        raise ValueError("encode_tiff: predictor must be 1 or 2")
    img = np.asarray(img)
    wide = img.dtype == np.uint16
    img = img.astype(np.uint16 if wide else np.uint8)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    spp = 1 if gray else img.shape[2]
    if planar and gray:
        raise ValueError("encode_tiff: planar needs an RGB image")
    e = ">" if big_endian else "<"
    dt = (e + "u2") if wide else "u1"
    sources = (
        [img[:, :, c : c + 1] for c in range(spp)] if planar else [img]
    )
    strip_spp = 1 if planar else spp

    def pack_chunk(block, width: int) -> bytes:
        raw = block.astype(np.dtype(dt)).tobytes()
        if predictor == 2:
            raw = _tiff_diff(raw, block.shape[0], width, strip_spp, dt)
        if packbits:
            raw = _packbits_encode(raw)
        elif lzw:
            raw = _tiff_lzw_encode(raw)
        elif deflate:
            import zlib

            raw = zlib.compress(raw)
        return raw

    strips = []
    if tile is not None:
        tw, th = tile
        for src in sources:
            if src.ndim == 2:
                src = src[:, :, None]
            for y0 in range(0, h, th):
                for x0 in range(0, w, tw):
                    block = np.zeros((th, tw, strip_spp), img.dtype)
                    ys = min(th, h - y0)
                    xs = min(tw, w - x0)
                    block[:ys, :xs] = src[y0 : y0 + ys, x0 : x0 + xs]
                    strips.append(pack_chunk(block, tw))
    else:
        for src in sources:
            for y0 in range(0, h, rows_per_strip):
                rows = src[y0 : y0 + rows_per_strip]
                strips.append(pack_chunk(rows, w))
    out = bytearray(b"MM\x00\x2a" if big_endian else b"II\x2a\x00")
    out += b"\x00" * 4  # IFD offset patched below
    strip_offsets = []
    for sdata in strips:
        strip_offsets.append(len(out))
        out += sdata

    entries = []  # (tag, type, count, packed-value-or-offset-filler)
    extra = bytearray()  # out-of-line arrays, appended after the IFD

    def entry(tag: int, typ: int, vals: list[int]) -> None:
        fmt = {3: "H", 4: "I"}[typ]
        sz = {3: 2, 4: 4}[typ] * len(vals)
        packed = struct.pack(e + fmt * len(vals), *vals)
        entries.append((tag, typ, len(vals), packed if sz <= 4 else None, vals))

    entry(256, 4, [w])
    entry(257, 4, [h])
    entry(258, 3, [16 if wide else 8] * spp)
    entry(259, 3, [32773 if packbits else (5 if lzw else (8 if deflate else 1))])
    entry(262, 3, [1 if gray else 2])
    if predictor == 2:
        entry(317, 3, [2])
    entry(277, 3, [spp])
    if tile is not None:
        entry(322, 4, [tile[0]])
        entry(323, 4, [tile[1]])
        entry(324, 4, strip_offsets)
        entry(325, 4, [len(sdata) for sdata in strips])
    else:
        entry(273, 4, strip_offsets)
        entry(278, 4, [rows_per_strip])
        entry(279, 4, [len(sdata) for sdata in strips])
    entry(284, 3, [2 if planar else 1])
    entries.sort(key=lambda t: t[0])

    ifd_off = len(out)
    struct.pack_into(e + "I", out, 4, ifd_off)
    out += struct.pack(e + "H", len(entries))
    extra_base = ifd_off + 2 + 12 * len(entries) + 4
    for tag, typ, cnt, packed, vals in entries:
        out += struct.pack(e + "HHI", tag, typ, cnt)
        if packed is not None:
            out += packed + b"\x00" * (4 - len(packed))
        else:
            fmt = {3: "H", 4: "I"}[typ]
            out += struct.pack(e + "I", extra_base + len(extra))
            extra += struct.pack(e + fmt * cnt, *vals)
    out += b"\x00" * 4  # next-IFD pointer: none
    out += extra
    return bytes(out)


def sniff_modality(payload: bytes) -> str:
    """Classify an opaque asset payload by magic bytes — the dispatch a
    mixed-modality lake performs before routing to a decoder: 'image'
    (PNG/BMP/PPM/JPEG/GIF/TIFF), 'audio' (RIFF/WAVE or FLAC), 'video'
    (YUV4MPEG2), else 'unknown' (route to the quarantine/codec-seam
    path)."""
    if (
        payload[:8] == b"\x89PNG\r\n\x1a\n"
        or payload[:2] == b"BM"
        or payload[:2] == b"P6"
        or payload[:3] == b"\xff\xd8\xff"
        or payload[:6] in (b"GIF87a", b"GIF89a")
        or payload[:4] in (b"II\x2a\x00", b"MM\x00\x2a")
        or (payload[:4] == b"RIFF" and payload[8:12] == b"WEBP")
    ):
        return "image"
    if payload[:4] == b"fLaC" or (
        payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    ):
        return "audio"
    if payload[:9] == b"YUV4MPEG2":
        return "video"
    return "unknown"


def decode_asset(payload: bytes):
    """Unified decode: sniff the modality, route to the real codec, and
    return (modality, flat int64 value array) — pixels for images,
    samples for audio, all planes for video frames."""
    import numpy as np

    kind = sniff_modality(payload)
    if kind == "image":
        return kind, decode_image(payload).astype(np.int64).ravel()
    if kind == "audio":
        dec = decode_flac if payload[:4] == b"fLaC" else decode_wav
        samples, _rate = dec(payload)
        return kind, samples.astype(np.int64).ravel()
    if kind == "video":
        return kind, decode_y4m(payload).astype(np.int64).ravel()
    raise NotImplementedError("unknown asset format (no magic match)")


# --- Baseline JPEG (ITU-T T.81 sequential DCT, Huffman) -------------------
#
# Round 10: the last multimodal codec seam closed stdlib+numpy-only. The
# DECODER is general baseline JPEG: marker/segment walk, multi-table DQT
# (8- and 16-bit) and DHT, SOF0/SOF1 frames with per-component sampling
# factors (4:4:4, 4:2:0, 4:2:2 via replication upsample), restart
# markers, byte-stuffing, and the canonical-Huffman entropy decode with
# batched-numpy dequant + IDCT. Progressive (SOF2) is decoded for real
# as of round 11 (annex-G multi-scan decoder further below);
# arithmetic-coded and lossless frames stay behind the loud seam (PIL
# where available). The ENCODER is
# the test harness: any 8-bit grayscale or RGB image, quality expressed
# as an explicit quant table (default all-ones — constant 8x8 blocks
# then round-trip EXACTLY, which is what makes the oracle key's pixel
# stats formula-computable, the PNG playbook), optional 4:2:0 chroma
# subsampling and restart intervals so the decoder's general paths are
# exercised by tests, fixed-length canonical Huffman tables (legal per
# T.81 — tables travel in DHT, so self-describing; zero transcription
# risk vs copying Annex K).

# zigzag scan order: index k -> (row, col); even diagonals walk
# bottom-left -> top-right, odd ones the reverse (T.81 figure 5)
_JPEG_ZIGZAG = [
    (r, d - r)
    for d in range(15)
    for r in (
        range(min(d, 7), max(0, d - 7) - 1, -1)
        if d % 2 == 0
        else range(max(0, d - 7), min(d, 7) + 1)
    )
]


def _jpeg_dct_basis():
    """Orthonormal 8-point DCT-II basis A (A[u,x] = C(u)/2 cos((2x+1)u pi/16)):
    forward S = A s A^T, inverse s = A^T S A."""
    import numpy as np

    u = np.arange(8).reshape(8, 1).astype(np.float64)
    x = np.arange(8).reshape(1, 8).astype(np.float64)
    a = np.cos((2 * x + 1) * u * np.pi / 16) / 2.0
    a[0, :] *= 1.0 / np.sqrt(2.0)
    return a


def _jpeg_huff_canonical(bits: list[int], vals: list[int]) -> dict:
    """(length, code) -> symbol map from a DHT (bits, vals) pair —
    the canonical code assignment of T.81 annex C."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


# Encoder tables: FIXED-LENGTH canonical codes (all DC categories at 4
# bits, all 162 standard AC symbols at 8 bits). Legal canonical Huffman
# (the all-ones code stays unused in both), self-described by the DHT
# segment, and immune to table-transcription errors.
_ENC_DC_BITS = [0, 0, 0, 12] + [0] * 12
_ENC_DC_VALS = list(range(12))
_ENC_AC_VALS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_ENC_AC_BITS = [0] * 7 + [len(_ENC_AC_VALS)] + [0] * 8


class _JpegBitWriter:
    """MSB-first bit accumulator with 0xFF byte stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self._acc = (self._acc << 1) | ((value >> i) & 1)
            self._n += 1
            if self._n == 8:
                self.out.append(self._acc)
                if self._acc == 0xFF:
                    self.out.append(0x00)
                self._acc = 0
                self._n = 0

    def flush(self) -> None:
        if self._n:
            self.write((1 << (8 - self._n)) - 1, 8 - self._n)  # pad with 1s


def _jpeg_category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _enc_block(writer, coefs, dc_pred, dc_codes, ac_codes) -> int:
    """Entropy-encode one quantized block (natural order) and return its
    DC value (the next block's predictor)."""
    zz = [int(coefs[r][c]) for r, c in _JPEG_ZIGZAG]
    diff = zz[0] - dc_pred
    s = _jpeg_category(diff)
    writer.write(*dc_codes[s])
    if s:
        writer.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    for k in range(1, 64):
        if zz[k] == 0:
            run += 1
            continue
        while run > 15:
            writer.write(*ac_codes[0xF0])
            run -= 16
        s = _jpeg_category(zz[k])
        if s > 10:
            # T.81 baseline caps the AC magnitude category at 10 (|v| <=
            # 1023) — the value is unencodable, so fail with the
            # constraint named instead of an opaque KeyError mid-encode
            # (r10 ADVICE low). With the orthonormal DCT and any integer
            # qtable >= 1 the exact coefficient bound is 1020 (measured:
            # max over all sign-matched vertex blocks), so this is only
            # reachable through an unvalidated sub-unity/fractional
            # qtable entry — which this error names rather than
            # KeyError-ing.
            raise ValueError(
                f"encode_jpeg: quantized AC coefficient {zz[k]} exceeds"
                " the T.81 baseline limit of +/-1023 (size category"
                f" {s} > 10) — use a larger quantization table entry"
            )
        writer.write(*ac_codes[(run << 4) | s])
        v = zz[k]
        writer.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        writer.write(*ac_codes[0x00])
    return zz[0]


def encode_jpeg(
    img,
    qtable: list[int] | None = None,
    restart_interval: int = 0,
    subsample: bool = False,
) -> bytes:
    """Encode an (H, W) grayscale or (H, W, 3) RGB uint8 array as a
    baseline sequential JFIF JPEG. `qtable` is the 64-entry natural-order
    quantization table (default all ones: constant 8x8 blocks round-trip
    EXACTLY — the property the oracle key builds on); `subsample=True`
    emits 4:2:0 chroma (round-half-up 2x2 means) so the decoder's
    interleaved-MCU + upsample path is test-reachable; `restart_interval`
    emits DRI + RSTn markers."""
    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if qtable is None:
        qtable = [1] * 64
    q8 = np.array(qtable, dtype=np.float64).reshape(8, 8)
    if gray:
        planes = [img.astype(np.int64)]
        samp = [(1, 1)]
    else:
        r = img[:, :, 0].astype(np.int64)
        g = img[:, :, 1].astype(np.int64)
        b = img[:, :, 2].astype(np.int64)
        # JFIF integer YCbCr (round half up via floor(x + .5) on exact
        # .0/.5-free rationals is fine; both ends use the same math)
        yy = np.floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5).astype(np.int64)
        cb = np.floor(128 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5).astype(np.int64)
        cr = np.floor(128 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5).astype(np.int64)
        cb = np.clip(cb, 0, 255)
        cr = np.clip(cr, 0, 255)
        if subsample:
            # pad to even dims (edge replicate), then round-half-up 2x2 mean
            cbp = np.pad(cb, ((0, h % 2), (0, w % 2)), mode="edge")
            crp = np.pad(cr, ((0, h % 2), (0, w % 2)), mode="edge")
            cb = (cbp[0::2, 0::2] + cbp[0::2, 1::2] + cbp[1::2, 0::2] + cbp[1::2, 1::2] + 2) // 4
            cr = (crp[0::2, 0::2] + crp[0::2, 1::2] + crp[1::2, 0::2] + crp[1::2, 1::2] + 2) // 4
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1), (1, 1), (1, 1)]
        planes = [yy, cb, cr]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcx = -(-w // (8 * hmax))
    mcy = -(-h // (8 * vmax))
    basis = _jpeg_dct_basis()
    padded = []
    for plane, (sh, sv) in zip(planes, samp):
        th, tw = mcy * sv * 8, mcx * sh * 8
        ph, pw = plane.shape
        plane = np.pad(plane, ((0, th - ph), (0, tw - pw)), mode="edge")
        padded.append(plane)

    dc_codes = {
        sym: (code, length)
        for (length, code), sym in _jpeg_huff_canonical(
            _ENC_DC_BITS, _ENC_DC_VALS
        ).items()
    }
    ac_codes = {
        sym: (code, length)
        for (length, code), sym in _jpeg_huff_canonical(
            _ENC_AC_BITS, _ENC_AC_VALS
        ).items()
    }
    writer = _JpegBitWriter()
    preds = [0] * len(planes)
    n_mcu = 0
    body = bytearray()
    for my in range(mcy):
        for mx in range(mcx):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                writer.flush()
                body += writer.out
                writer = _JpegBitWriter()
                body += bytes([0xFF, 0xD0 + ((n_mcu // restart_interval - 1) % 8)])
                preds = [0] * len(planes)
            for ci, (plane, (sh, sv)) in enumerate(zip(padded, samp)):
                for by in range(sv):
                    for bx in range(sh):
                        y0 = (my * sv + by) * 8
                        x0 = (mx * sh + bx) * 8
                        blk = plane[y0 : y0 + 8, x0 : x0 + 8].astype(np.float64) - 128.0
                        coefs = np.round((basis @ blk @ basis.T) / q8).astype(np.int64)
                        preds[ci] = _enc_block(
                            writer, coefs, preds[ci], dc_codes, ac_codes
                        )
            n_mcu += 1
    writer.flush()
    body += writer.out

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    zz_q = bytes(int(q8[r, c]) for r, c in _JPEG_ZIGZAG)
    out += seg(0xDB, b"\x00" + zz_q)  # DQT, 8-bit, id 0
    ncomp = len(planes)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci, (sh, sv) in enumerate(samp):
        sof += bytes([ci + 1, (sh << 4) | sv, 0])
    out += seg(0xC0, sof)  # SOF0 baseline
    out += seg(0xC4, bytes([0x00]) + bytes(_ENC_DC_BITS) + bytes(_ENC_DC_VALS))
    out += seg(0xC4, bytes([0x10]) + bytes(_ENC_AC_BITS) + bytes(_ENC_AC_VALS))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp]) + b"".join(
        bytes([ci + 1, 0x00]) for ci in range(ncomp)
    ) + b"\x00\x3f\x00"
    out += seg(0xDA, sos)
    out += body
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _JpegBitReader:
    """MSB-first bit reader over entropy-coded data: un-stuffs 0xFF00,
    stops at real markers (exposing restart sync)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def _next_byte(self) -> int:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
                return 0xFF
            raise ValueError(f"marker 0x{nxt:02x} inside entropy data")
        self.pos += 1
        return b

    def read_bit(self) -> int:
        if self._n == 0:
            self._acc = self._next_byte()
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def read(self, nbits: int) -> int:
        v = 0
        for _ in range(nbits):
            v = (v << 1) | self.read_bit()
        return v

    def sync_restart(self, n: int) -> None:
        """Discard pad bits, consume the expected RSTn marker."""
        self._n = 0
        if self.data[self.pos] != 0xFF or self.data[self.pos + 1] != 0xD0 + (n % 8):
            raise ValueError(
                f"expected RST{n % 8} at offset {self.pos}, got"
                f" {self.data[self.pos:self.pos + 2]!r}"
            )
        self.pos += 2


def _jpeg_read_symbol(reader: _JpegBitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in JPEG entropy data")


def _jpeg_extend(v: int, s: int) -> int:
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


@loud_truncation
def decode_jpeg(data: bytes):
    """Decode a baseline sequential-DCT Huffman JPEG (SOF0/SOF1) into an
    (H, W) grayscale or (H, W, 3) RGB uint8 array: full marker walk
    (multi-table DQT incl. 16-bit, multi-table DHT, DRI, APPn/COM skip),
    interleaved-MCU entropy decode with byte-unstuffing and restart
    markers, batched-numpy dequant + IDCT (one einsum over all of a
    component's blocks), per-component replication upsample for
    subsampled chroma (4:2:0 / 4:2:2), JFIF YCbCr -> RGB. Progressive
    (SOF2) frames dispatch to the annex-G multi-scan decoder
    (_decode_jpeg_progressive); arithmetic-coded and lossless frames
    raise NotImplementedError — the documented seam (PIL where
    available, via decode_image).

    The bit-serial Huffman walk is a per-document Python loop like the
    PNG Average/Paeth unfilters: genuinely sequential (each code's
    length is only known once decoded), corpus-parallel under
    mapInPandas, a constant per asset."""
    import numpy as np

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    qt: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    restart_interval = 0
    pos = 2
    scan = None
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        while data[pos + 1] == 0xFF:  # fill bytes
            pos += 1
        m = data[pos + 1]
        pos += 2
        if m == 0xD9:  # EOI
            break
        (ln,) = struct.unpack_from(">H", data, pos)
        body = data[pos + 2 : pos + ln]
        if m == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                if pq:
                    vals = struct.unpack_from(f">{64}H", body, i)
                    i += 128
                else:
                    vals = body[i : i + 64]
                    i += 64
                tab = np.zeros((8, 8), dtype=np.float64)
                for k, (r, c) in enumerate(_JPEG_ZIGZAG):
                    tab[r, c] = vals[k]
                qt[tq] = tab
        elif m == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(body[i + 17 : i + 17 + nv])
                huff[(tc, th)] = _jpeg_huff_canonical(bits, vals)
                i += 17 + nv
        elif m in (0xC0, 0xC1):  # SOF0 baseline / SOF1 extended sequential
            prec, fh, fw, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError(f"JPEG precision {prec} unsupported")
            comps = []
            for ci in range(nc):
                cid, hv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
            frame = {"h": fh, "w": fw, "comps": comps}
        elif m == 0xC2:  # SOF2 progressive — its own multi-scan decoder
            return _decode_jpeg_progressive(data)
        elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG frame (marker 0xff{m:02x} — lossless/"
                "arithmetic); the PIL seam in decode_image handles these"
                " where available"
            )
        elif m == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif m == 0xDA:  # SOS — entropy-coded data follows
            ns = body[0]
            tables = {}
            for si in range(ns):
                cs, tdta = body[1 + 2 * si], body[2 + 2 * si]
                tables[cs] = (tdta >> 4, tdta & 0x0F)
            scan = (tables, pos + ln)
            break
        pos += ln
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF/SOS")
    tables, data_pos = scan
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcx = -(-frame["w"] // (8 * hmax))
    mcy = -(-frame["h"] // (8 * vmax))

    reader = _JpegBitReader(data, data_pos)
    preds = {c["id"]: 0 for c in comps}
    blocks = {c["id"]: [] for c in comps}  # zigzag coef rows, MCU order
    n_mcu = 0
    for _ in range(mcy * mcx):
        if restart_interval and n_mcu and n_mcu % restart_interval == 0:
            reader.sync_restart(n_mcu // restart_interval - 1)
            preds = {c["id"]: 0 for c in comps}
        for c in comps:
            dc_t = huff[(0, tables[c["id"]][0])]
            ac_t = huff[(1, tables[c["id"]][1])]
            for _b in range(c["v"] * c["h"]):
                zz = [0] * 64
                s = _jpeg_read_symbol(reader, dc_t)
                preds[c["id"]] += _jpeg_extend(reader.read(s), s)
                zz[0] = preds[c["id"]]
                k = 1
                while k < 64:
                    rs = _jpeg_read_symbol(reader, ac_t)
                    if rs == 0x00:  # EOB
                        break
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    k += rs >> 4
                    zz[k] = _jpeg_extend(reader.read(rs & 0x0F), rs & 0x0F)
                    k += 1
                blocks[c["id"]].append(zz)
        n_mcu += 1

    basis = _jpeg_dct_basis()
    dez = np.zeros((64, 8, 8), dtype=np.float64)
    for k, (r, c) in enumerate(_JPEG_ZIGZAG):
        dez[k, r, c] = 1.0
    planes = []
    for c in comps:
        zzs = np.array(blocks[c["id"]], dtype=np.float64)  # (n, 64)
        coefs = np.einsum("nk,krc->nrc", zzs, dez) * qt[c["tq"]]
        pix = np.einsum("ux,nuv,vy->nxy", basis, coefs, basis)
        # floor(x + .5) = round-half-UP: chosen over np.round (half-even)
        # so the color oracle can replicate the decoder's rounding as
        # plain floor arithmetic in SQL (identical IEEE doubles both
        # engines). For the constant-block exact path the argument is
        # within ~1e-13 of an integer, so the two roundings agree.
        pix = np.clip(np.floor(pix + 128.5), 0, 255).astype(np.uint8)
        # reassemble: blocks are in MCU order, c.v x c.h per MCU
        ph, pw = mcy * c["v"] * 8, mcx * c["h"] * 8
        plane = np.zeros((ph, pw), dtype=np.uint8)
        i = 0
        for my in range(mcy):
            for mx in range(mcx):
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        plane[y0 : y0 + 8, x0 : x0 + 8] = pix[i]
                        i += 1
        # replication upsample to frame grid, crop to frame dims
        plane = np.repeat(
            np.repeat(plane, hmax // c["h"], axis=1), vmax // c["v"], axis=0
        )
        planes.append(plane[: frame["h"], : frame["w"]])
    if len(planes) == 1:
        return planes[0]
    if len(planes) != 3:
        raise NotImplementedError(f"{len(planes)}-component JPEG unsupported")
    yy = planes[0].astype(np.float64)
    cb = planes[1].astype(np.float64) - 128.0
    cr = planes[2].astype(np.float64) - 128.0
    rgb = np.stack(
        [yy + 1.402 * cr, yy - 0.344136 * cb - 0.714136 * cr, yy + 1.772 * cb],
        axis=2,
    )
    return np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)


# --- Progressive JPEG (SOF2, round 11) --------------------------------------
#
# The last big real-web JPEG share behind the PIL seam (r10 VERDICT task
# #4): spectral selection + successive approximation per T.81 annex G,
# Huffman-coded. The decoder accumulates per-component coefficient
# arrays across ALL scans (interleaved DC scans walk the MCU grid,
# single-component AC scans walk the component's own ceil-block grid —
# MCU padding blocks are DC-only by construction), then reuses the
# baseline batched-numpy dequant/IDCT/upsample/color tail. The encoder
# is the test harness: a classic 2-level successive-approximation scan
# script (DC first Al=1, DC refine, per-component AC first/refine over
# two spectral bands) with EOB-run coding — enough to exercise every
# decoder code path (EOB runs, ZRL-in-refine, buffered correction bits,
# newly-significant insertion) from formula assets the oracle can price
# codec-free, the same constant-block playbook as baseline.


def _jpeg_scan_grid(frame: dict, c: dict) -> tuple[int, int]:
    """(blocks_wide, blocks_high) of a NON-interleaved scan for
    component `c` — the ceil grid of the component's true size, which
    can be one block smaller than the MCU-padded storage grid."""
    hmax = max(k["h"] for k in frame["comps"])
    vmax = max(k["v"] for k in frame["comps"])
    cw = -(-frame["w"] * c["h"] // hmax)
    ch = -(-frame["h"] * c["v"] // vmax)
    return -(-cw // 8), -(-ch // 8)


def _jpeg_next_marker(data: bytes, pos: int) -> int:
    """First offset >= pos holding a real (non-stuffed, non-RST) marker."""
    while pos < len(data) - 1:
        if (
            data[pos] == 0xFF
            and data[pos + 1] != 0x00
            and not (0xD0 <= data[pos + 1] <= 0xD7)
        ):
            return pos
        pos += 1
    return len(data)


def _decode_jpeg_progressive(data: bytes):
    """Decode a progressive-DCT Huffman JPEG (SOF2). Multi-scan marker
    walk; DQT/DHT may be (re)defined between scans. Spectral selection
    (Ss..Se), successive approximation (Ah/Al) first + refinement for
    both DC and AC, EOB runs with buffered correction bits, restart
    markers in any scan. Shares the baseline's bit reader, canonical
    Huffman tables, and the numpy reconstruction tail."""
    import numpy as np

    qt: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    restart_interval = 0
    coef: dict[int, "np.ndarray"] = {}
    pos = 2
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        while data[pos + 1] == 0xFF:
            pos += 1
        m = data[pos + 1]
        pos += 2
        if m == 0xD9:  # EOI
            break
        (ln,) = struct.unpack_from(">H", data, pos)
        body = data[pos + 2 : pos + ln]
        if m == 0xDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                if pq:
                    vals = struct.unpack_from(f">{64}H", body, i)
                    i += 128
                else:
                    vals = body[i : i + 64]
                    i += 64
                tab = np.zeros((8, 8), dtype=np.float64)
                for k, (r, c) in enumerate(_JPEG_ZIGZAG):
                    tab[r, c] = vals[k]
                qt[tq] = tab
        elif m == 0xC4:
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(body[i + 17 : i + 17 + nv])
                huff[(tc, th)] = _jpeg_huff_canonical(bits, vals)
                i += 17 + nv
        elif m == 0xC2:
            prec, fh, fw, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError(f"JPEG precision {prec} unsupported")
            comps = []
            for ci in range(nc):
                cid, hv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            frame = {"h": fh, "w": fw, "comps": comps}
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcx = -(-fw // (8 * hmax))
            mcy = -(-fh // (8 * vmax))
            frame["mcx"], frame["mcy"] = mcx, mcy
            for c in comps:
                coef[c["id"]] = np.zeros(
                    (mcy * c["v"], mcx * c["h"], 64), dtype=np.int64
                )
        elif m == 0xDD:
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif m == 0xDA:
            if frame is None:
                raise ValueError("progressive JPEG: SOS before SOF2")
            ns = body[0]
            scan_comps = []
            for si in range(ns):
                cs, tdta = body[1 + 2 * si], body[2 + 2 * si]
                scan_comps.append((cs, tdta >> 4, tdta & 0x0F))
            ss, se, ahl = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
            ah, al = ahl >> 4, ahl & 0x0F
            pos = _jpeg_decode_prog_scan(
                data, pos + ln, frame, scan_comps, ss, se, ah, al,
                huff, restart_interval, coef,
            )
            continue
        pos += ln
    if frame is None:
        raise ValueError("progressive JPEG missing SOF2")

    # reconstruction: identical math to baseline, block grid in raster
    # order instead of MCU order (coef is already (by, bx, 64))
    basis = _jpeg_dct_basis()
    dez = np.zeros((64, 8, 8), dtype=np.float64)
    for k, (r, c) in enumerate(_JPEG_ZIGZAG):
        dez[k, r, c] = 1.0
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    planes = []
    for c in frame["comps"]:
        arr = coef[c["id"]]
        bh, bw = arr.shape[:2]
        zzs = arr.reshape(bh * bw, 64).astype(np.float64)
        coefs = np.einsum("nk,krc->nrc", zzs, dez) * qt[c["tq"]]
        pix = np.einsum("ux,nuv,vy->nxy", basis, coefs, basis)
        pix = np.clip(np.floor(pix + 128.5), 0, 255).astype(np.uint8)
        plane = (
            pix.reshape(bh, bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
        plane = np.repeat(
            np.repeat(plane, hmax // c["h"], axis=1), vmax // c["v"], axis=0
        )
        planes.append(plane[: frame["h"], : frame["w"]])
    if len(planes) == 1:
        return planes[0]
    if len(planes) != 3:
        raise NotImplementedError(f"{len(planes)}-component JPEG unsupported")
    yy = planes[0].astype(np.float64)
    cb = planes[1].astype(np.float64) - 128.0
    cr = planes[2].astype(np.float64) - 128.0
    rgb = np.stack(
        [yy + 1.402 * cr, yy - 0.344136 * cb - 0.714136 * cr, yy + 1.772 * cb],
        axis=2,
    )
    return np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)


def _jpeg_decode_prog_scan(
    data, start, frame, scan_comps, ss, se, ah, al,
    huff, restart_interval, coef,
) -> int:
    """Entropy-decode ONE progressive scan into `coef`, returning the
    offset of the next marker. DC scans (Ss=0) may be interleaved and
    walk the MCU grid; AC scans are single-component over the
    component's own scan grid. Restart markers reset DC predictors and
    the EOB run."""
    reader = _JpegBitReader(data, start)
    comps = {c["id"]: c for c in frame["comps"]}
    mcx, mcy = frame["mcx"], frame["mcy"]
    p1 = 1 << al

    if ss == 0:
        if se != 0:
            raise ValueError("progressive DC scan with Se != 0")
        preds = {cs: 0 for cs, _, _ in scan_comps}
        if len(scan_comps) > 1:
            units = mcy * mcx
        else:
            cs0 = scan_comps[0][0]
            bw, bh = _jpeg_scan_grid(frame, comps[cs0])
            units = bw * bh
        for n in range(units):
            if restart_interval and n and n % restart_interval == 0:
                reader.sync_restart(n // restart_interval - 1)
                preds = {cs: 0 for cs, _, _ in scan_comps}
            if len(scan_comps) > 1:
                my, mx = divmod(n, mcx)
                targets = []
                for cs, td, _ in scan_comps:
                    c = comps[cs]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            targets.append(
                                (cs, td, my * c["v"] + by, mx * c["h"] + bx)
                            )
            else:
                cs, td, _ = scan_comps[0]
                targets = [(cs, td, n // bw, n % bw)]
            for cs, td, y, x in targets:
                if ah == 0:
                    s = _jpeg_read_symbol(reader, huff[(0, td)])
                    preds[cs] += _jpeg_extend(reader.read(s), s)
                    coef[cs][y, x, 0] = preds[cs] << al
                else:
                    if reader.read_bit():
                        coef[cs][y, x, 0] |= p1
        return _jpeg_next_marker(data, reader.pos)

    # AC scan: exactly one component
    if len(scan_comps) != 1:
        raise ValueError("progressive AC scan must be single-component")
    cs, _, ta = scan_comps[0]
    ac_t = huff[(1, ta)]
    c = comps[cs]
    bw, bh = _jpeg_scan_grid(frame, c)
    arr = coef[cs]
    m1 = -p1
    eobrun = 0
    for n in range(bw * bh):
        if restart_interval and n and n % restart_interval == 0:
            reader.sync_restart(n // restart_interval - 1)
            eobrun = 0
        blk = arr[n // bw, n % bw]
        if ah == 0:  # first scan for this band/bit
            if eobrun > 0:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = _jpeg_read_symbol(reader, ac_t)
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r != 15:
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += reader.read(r)
                        break
                    k += 16
                    continue
                k += r
                blk[k] = _jpeg_extend(reader.read(s), s) << al
                k += 1
        else:  # refinement: correction bits + newly-significant inserts
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = _jpeg_read_symbol(reader, ac_t)
                    r, s = rs >> 4, rs & 0x0F
                    if s:
                        val = p1 if reader.read_bit() else m1
                    else:
                        if r != 15:
                            eobrun = 1 << r
                            if r:
                                eobrun += reader.read(r)
                            break
                        val = 0
                    while k <= se:
                        if blk[k]:
                            if reader.read_bit() and (blk[k] & p1) == 0:
                                blk[k] += p1 if blk[k] >= 0 else m1
                        else:
                            r -= 1
                            if r < 0:
                                break
                        k += 1
                    if val and k <= se:
                        blk[k] = val
                    k += 1
            if eobrun > 0:
                while k <= se:
                    if blk[k]:
                        if reader.read_bit() and (blk[k] & p1) == 0:
                            blk[k] += p1 if blk[k] >= 0 else m1
                    k += 1
                eobrun -= 1
    return _jpeg_next_marker(data, reader.pos)


# progressive encoder AC table: the baseline symbols PLUS the EOBn
# symbols (r<<4 | 0 for r=1..14) progressive EOB-run coding needs —
# 176 symbols, all at 8 bits (legal canonical, self-described via DHT)
_ENC_AC_VALS_PROG = [r << 4 for r in range(15)] + [0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_ENC_AC_BITS_PROG = [0] * 7 + [len(_ENC_AC_VALS_PROG)] + [0] * 8


def _prog_flush_eobrun(writer, ac_codes, state: dict) -> None:
    """Emit the pending EOB run (count + extension bits), then the
    correction bits buffered across the run's blocks (refine scans)."""
    if state["eobrun"] > 0:
        nbits = state["eobrun"].bit_length() - 1
        writer.write(*ac_codes[nbits << 4])
        if nbits:
            writer.write(state["eobrun"] & ((1 << nbits) - 1), nbits)
        state["eobrun"] = 0
    for b in state["bits"]:
        writer.write(b, 1)
    state["bits"] = []


def encode_jpeg_progressive(
    img, qtable: list[int] | None = None, subsample: bool = False
) -> bytes:
    """Encode an (H, W) grayscale or (H, W, 3) RGB uint8 array as a
    PROGRESSIVE (SOF2) JFIF JPEG — the test harness for the decoder
    above. Classic 2-level successive-approximation scan script:

      1. DC first, interleaved, Ah=0 Al=1
      2. DC refine, Ah=1 Al=0 (raw bits)
      3. per component: AC first (Ss=1..5, Al=1), AC first (6..63, Al=1)
      4. per component: AC refine (1..5, Ah=1 Al=0), (6..63, Ah=1 Al=0)

    exercising EOB runs, ZRL, buffered correction bits and newly-
    significant insertion. Same quantization/rounding as encode_jpeg,
    so progressive-then-decode equals baseline-then-decode pixel-exact
    (same quantized coefficients, same reconstruction). No restart
    markers (the baseline keys cover restart re-sync)."""
    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if qtable is None:
        qtable = [1] * 64
    q8 = np.array(qtable, dtype=np.float64).reshape(8, 8)
    if gray:
        planes = [img.astype(np.int64)]
        samp = [(1, 1)]
    else:
        r = img[:, :, 0].astype(np.int64)
        g = img[:, :, 1].astype(np.int64)
        b = img[:, :, 2].astype(np.int64)
        yy = np.floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5).astype(np.int64)
        cb = np.floor(128 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5).astype(np.int64)
        cr = np.floor(128 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5).astype(np.int64)
        cb = np.clip(cb, 0, 255)
        cr = np.clip(cr, 0, 255)
        if subsample:
            cbp = np.pad(cb, ((0, h % 2), (0, w % 2)), mode="edge")
            crp = np.pad(cr, ((0, h % 2), (0, w % 2)), mode="edge")
            cb = (cbp[0::2, 0::2] + cbp[0::2, 1::2] + cbp[1::2, 0::2] + cbp[1::2, 1::2] + 2) // 4
            cr = (crp[0::2, 0::2] + crp[0::2, 1::2] + crp[1::2, 0::2] + crp[1::2, 1::2] + 2) // 4
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1)] * 3
        planes = [yy, cb, cr]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcx = -(-w // (8 * hmax))
    mcy = -(-h // (8 * vmax))
    basis = _jpeg_dct_basis()
    zig = _JPEG_ZIGZAG
    zzq = []  # per comp: (bh_padded, bw_padded, 64) int64 zigzag coefs
    for plane, (sh, sv) in zip(planes, samp):
        th, tw = mcy * sv * 8, mcx * sh * 8
        ph, pw = plane.shape
        plane = np.pad(plane, ((0, th - ph), (0, tw - pw)), mode="edge")
        bh, bw = th // 8, tw // 8
        arr = np.zeros((bh, bw, 64), dtype=np.int64)
        for by in range(bh):
            for bx in range(bw):
                blk = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8].astype(
                    np.float64
                ) - 128.0
                cf = np.round((basis @ blk @ basis.T) / q8).astype(np.int64)
                arr[by, bx] = [cf[r][c] for r, c in zig]
        zzq.append(arr)

    dc_codes = {
        sym: (code, length)
        for (length, code), sym in _jpeg_huff_canonical(
            _ENC_DC_BITS, _ENC_DC_VALS
        ).items()
    }
    ac_codes = {
        sym: (code, length)
        for (length, code), sym in _jpeg_huff_canonical(
            _ENC_AC_BITS_PROG, _ENC_AC_VALS_PROG
        ).items()
    }

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    def sos_header(comp_idx: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(comp_idx)])
        for ci in comp_idx:
            body += bytes([ci + 1, 0x00])  # table ids 0/0
        body += bytes([ss, se, (ah << 4) | al])
        return seg(0xDA, body)

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    zz_q = bytes(int(q8[r, c]) for r, c in zig)
    out += seg(0xDB, b"\x00" + zz_q)
    ncomp = len(planes)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci, (sh, sv) in enumerate(samp):
        sof += bytes([ci + 1, (sh << 4) | sv, 0])
    out += seg(0xC2, sof)  # SOF2 progressive
    dht = bytes([0x00]) + bytes(_ENC_DC_BITS) + bytes(_ENC_DC_VALS)
    dht += bytes([0x10]) + bytes(_ENC_AC_BITS_PROG) + bytes(_ENC_AC_VALS_PROG)
    out += seg(0xC4, dht)

    # -- scan 1: DC first (interleaved), Al=1
    writer = _JpegBitWriter()
    preds = [0] * ncomp
    for my in range(mcy):
        for mx in range(mcx):
            for ci, (sh, sv) in enumerate(samp):
                for by in range(sv):
                    for bx in range(sh):
                        dc = int(zzq[ci][my * sv + by, mx * sh + bx, 0]) >> 1
                        diff = dc - preds[ci]
                        preds[ci] = dc
                        s = _jpeg_category(diff)
                        writer.write(*dc_codes[s])
                        if s:
                            writer.write(
                                diff if diff >= 0 else diff + (1 << s) - 1, s
                            )
    writer.flush()
    out += sos_header(list(range(ncomp)), 0, 0, 0, 1) + writer.out

    # -- scan 2: DC refine (interleaved), Ah=1 Al=0 — raw bits
    writer = _JpegBitWriter()
    for my in range(mcy):
        for mx in range(mcx):
            for ci, (sh, sv) in enumerate(samp):
                for by in range(sv):
                    for bx in range(sh):
                        writer.write(
                            int(zzq[ci][my * sv + by, mx * sh + bx, 0]) & 1, 1
                        )
    writer.flush()
    out += sos_header(list(range(ncomp)), 0, 0, 1, 0) + writer.out

    def scan_grid(ci: int) -> tuple[int, int]:
        sh, sv = samp[ci]
        cw = -(-w * sh // hmax)
        ch = -(-h * sv // vmax)
        return -(-cw // 8), -(-ch // 8)

    def ac_first(ci: int, ss: int, se: int, al: int) -> bytes:
        writer = _JpegBitWriter()
        state = {"eobrun": 0, "bits": []}
        bw, bh = scan_grid(ci)
        for n in range(bw * bh):
            blk = zzq[ci][n // bw, n % bw]
            run = 0
            wrote = False
            for k in range(ss, se + 1):
                v = int(blk[k])
                v = -((-v) >> al) if v < 0 else v >> al
                if v == 0:
                    run += 1
                    continue
                _prog_flush_eobrun(writer, ac_codes, state)
                while run > 15:
                    writer.write(*ac_codes[0xF0])
                    run -= 16
                s = _jpeg_category(v)
                writer.write(*ac_codes[(run << 4) | s])
                writer.write(v if v >= 0 else v + (1 << s) - 1, s)
                run = 0
                wrote = True
            if run > 0 or not wrote:
                state["eobrun"] += 1
                if state["eobrun"] == 0x7FFF:
                    _prog_flush_eobrun(writer, ac_codes, state)
        _prog_flush_eobrun(writer, ac_codes, state)
        writer.flush()
        return sos_header([ci], ss, se, 0, al) + writer.out

    def ac_refine(ci: int, ss: int, se: int, al: int) -> bytes:
        writer = _JpegBitWriter()
        state = {"eobrun": 0, "bits": []}
        bw, bh = scan_grid(ci)
        for n in range(bw * bh):
            blk = zzq[ci][n // bw, n % bw]
            absv = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
            eob = ss - 1  # index of last newly-significant coefficient
            for k in range(ss, se + 1):
                if absv[k - ss] == 1:
                    eob = k
            run = 0
            br: list[int] = []
            for k in range(ss, se + 1):
                t = absv[k - ss]
                if t == 0:
                    run += 1
                    continue
                while run > 15 and k <= eob:
                    _prog_flush_eobrun(writer, ac_codes, state)
                    writer.write(*ac_codes[0xF0])
                    run -= 16
                    for bbit in br:
                        writer.write(bbit, 1)
                    br = []
                if t > 1:
                    br.append(t & 1)
                    continue
                _prog_flush_eobrun(writer, ac_codes, state)
                writer.write(*ac_codes[(run << 4) | 1])
                writer.write(1 if int(blk[k]) > 0 else 0, 1)
                for bbit in br:
                    writer.write(bbit, 1)
                br = []
                run = 0
            if run > 0 or br:
                state["eobrun"] += 1
                state["bits"].extend(br)
                if state["eobrun"] == 0x7FFF:
                    _prog_flush_eobrun(writer, ac_codes, state)
        _prog_flush_eobrun(writer, ac_codes, state)
        writer.flush()
        return sos_header([ci], ss, se, 1, al) + writer.out

    for ci in range(ncomp):
        out += ac_first(ci, 1, 5, 1)
        out += ac_first(ci, 6, 63, 1)
    for ci in range(ncomp):
        out += ac_refine(ci, 1, 5, 0)
        out += ac_refine(ci, 6, 63, 0)
    out += b"\xff\xd9"
    return bytes(out)


# --- GIF87a/89a (LZW) ------------------------------------------------------
#
# Round 10, after JPEG: GIF is LOSSLESS (LZW over palette indices), so —
# like PNG — formula-derived images round-trip exactly and the oracle
# can compute pixel stats codec-free. The decoder handles single-frame
# GIF87a/89a: logical screen descriptor, global/local color tables,
# extension-block skipping (GCE/comment/application), sub-block
# reassembly, and the full variable-width LZW decode with CLEAR/EOI
# codes and code-width growth; interlaced frames and animations raise
# loudly. The encoder emits non-interlaced GIF89a with a global palette
# for tests.


def encode_gif(indices, palette) -> bytes:
    """Write a 2-D uint8 palette-index array as a single-frame GIF89a
    with the given (N<=256, 3) global color table. Real LZW: variable
    code width from min-code-size+1, CLEAR emitted first and whenever
    the dictionary fills 4096, EOI last, 255-byte sub-blocks."""
    import numpy as np

    indices = np.asarray(indices, dtype=np.uint8)
    palette = np.asarray(palette, dtype=np.uint8)
    h, w = indices.shape
    n = len(palette)
    bits = max(2, (n - 1).bit_length())  # color-table size field, >= 2
    table_n = 1 << bits
    pal = np.zeros((table_n, 3), dtype=np.uint8)
    pal[:n] = palette

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (bits - 1) << 4 | (bits - 1), 0, 0])  # GCT flag+size
    out += pal.tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"  # image desc
    out += _gif_lzw_encode(indices.tobytes(), max(2, bits))
    out += b"\x3b"  # trailer
    return bytes(out)


def _gif_lzw_encode(pixels: bytes, min_code: int) -> bytes:
    """LZW-encode one image's index bytes: min-code byte + 255-byte
    sub-blocks + terminator. Variable code width, CLEAR first and on
    the 4096 dictionary reset, EOI last — shared by encode_gif and
    encode_gif_animated.

    The code width MIRRORS THE DECODER's table bookkeeping (one entry
    added per data code read, starting from the SECOND after a clear;
    grow when that table fills 2^width) instead of the encoder's own
    add count. The two counts agree mid-stream (the decoder lags one
    add but starts one later), but diverge at the FINAL data code: the
    decoder still adds an entry for it, so when its table hits exactly
    2^width there, it expects EOI one bit wider than the encoder's
    add-based rule would emit — a latent off-by-one that hypothesis
    found at 18 two-color pixels (round 11)."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1

    acc = 0
    nbits = 0
    data = bytearray()

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits  # GIF packs LSB-first
        nbits += width
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(1 << min_code)}
    next_code = eoi + 1
    width = min_code + 1
    dec_len = eoi + 1  # the decoder's table size, tracked in lockstep
    first_after_clear = True
    emit(clear, width)
    seq = b""
    for px in pixels:
        cand = seq + bytes([px])
        if cand in table:
            seq = cand
            continue
        emit(table[seq], width)
        # decoder mirror: it adds one entry per data code read except
        # the first after a clear; the width for the NEXT code follows
        # ITS table size, not ours
        if first_after_clear:
            first_after_clear = False
        elif dec_len < 4096:
            dec_len += 1
            if dec_len == (1 << width) and width < 12:
                width += 1
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
        else:  # dictionary full: reset (keeps the decoder path exercised)
            emit(clear, width)
            table = {bytes([i]): i for i in range(1 << min_code)}
            next_code = eoi + 1
            width = min_code + 1
            dec_len = eoi + 1
            first_after_clear = True
        seq = bytes([px])
    if seq:
        emit(table[seq], width)
        if first_after_clear:
            first_after_clear = False
        elif dec_len < 4096:
            dec_len += 1
            if dec_len == (1 << width) and width < 12:
                width += 1
    emit(eoi, width)
    if nbits:
        data.append(acc & 0xFF)

    out = bytearray([min_code])
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00"  # block terminator
    return bytes(out)


def _gif_lzw_decode(data: bytes, pos: int, n_pixels: int) -> tuple[bytes, int]:
    """Decode one GIF image block's LZW stream (min-code byte +
    sub-blocks) starting at `pos`; returns (index bytes, new pos).
    Variable code width with CLEAR/EOI, KwKwK, the 4096 cap and the
    deferred-clear rule — shared by the single-frame and animated
    decoders."""
    min_code = data[pos]
    pos += 1
    stream = bytearray()
    while data[pos] != 0:
        ln = data[pos]
        stream += data[pos + 1 : pos + 1 + ln]
        pos += 1 + ln
    pos += 1

    clear, eoi = 1 << min_code, (1 << min_code) + 1
    width = min_code + 1
    table: list[bytes] = [bytes([i]) for i in range(1 << min_code)]
    table += [b"", b""]  # clear, eoi placeholders
    acc = nbits = bi = 0
    out = bytearray()
    prev: bytes | None = None
    while True:
        while nbits < width:
            if bi >= len(stream):
                raise ValueError("GIF LZW stream truncated (no EOI)")
            acc |= stream[bi] << nbits
            bi += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(1 << min_code)] + [b"", b""]
            width = min_code + 1
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"invalid GIF LZW code {code}")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        if len(table) == (1 << width) and width < 12:
            width += 1
        prev = entry
    if len(out) != n_pixels:
        raise ValueError(
            f"GIF pixel count mismatch: got {len(out)}, want {n_pixels}"
        )
    return bytes(out), pos


# GIF interlace: rows are stored in four passes (start, step): the
# deinterlace permutation maps stored order back to natural order.
_GIF_INTERLACE_PASSES = [(0, 8), (4, 8), (2, 4), (1, 2)]


def _gif_deinterlace(idx, h: int):
    """Reorder an interlaced frame's (h, w) index rows from pass order
    to natural order."""
    import numpy as np

    order = [y for start, step in _GIF_INTERLACE_PASSES for y in range(start, h, step)]
    out = np.empty_like(idx)
    out[order] = idx
    return out


@loud_truncation
def decode_gif_frames(data: bytes):
    """Decode an ANIMATED (or single-frame) GIF87a/89a into the
    (F, H, W, 3) uint8 array of COMPOSED frames — what a viewer shows
    after each image block (round 11, the animation half of the GIF
    seam): Graphic Control Extension per frame (transparency index,
    disposal method), sub-rectangle placement onto the logical screen,
    local color tables overriding the global one, interlaced frames
    (4-pass row reorder), and the disposal rules BETWEEN frames —
    0/1 leave, 2 restore the frame's rect to the background color,
    3 restore the pre-draw canvas. The initial canvas is the background
    color (GCT[bg] when a global table exists, else black)."""
    import numpy as np

    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw, sh = struct.unpack_from("<HH", data, 6)
    flags, bg = data[10], data[11]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(data, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    bg_rgb = gct[bg] if gct is not None and bg < len(gct) else np.zeros(3, np.uint8)
    canvas = np.tile(bg_rgb, (sh, sw, 1)).astype(np.uint8)
    frames: list = []
    gce: dict | None = None
    while pos < len(data):
        b0 = data[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension
            label = data[pos + 1]
            pos += 2
            blocks = []
            while data[pos] != 0:
                ln = data[pos]
                blocks.append(data[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            pos += 1
            if label == 0xF9 and blocks:  # Graphic Control Extension
                gflags = blocks[0][0]
                gce = {
                    "disposal": (gflags >> 2) & 0x07,
                    "transparent": blocks[0][3] if gflags & 0x01 else None,
                }
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b0:02x} at {pos}")
        x0, y0, w, h = struct.unpack_from("<HHHH", data, pos + 1)
        iflags = data[pos + 9]
        pos += 10
        pal = gct
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            pal = np.frombuffer(data, np.uint8, n * 3, pos).reshape(n, 3)
            pos += n * 3
        if pal is None:
            raise ValueError("GIF frame has no color table")
        if x0 + w > sw or y0 + h > sh:
            raise ValueError("GIF frame rect exceeds the logical screen")
        out, pos = _gif_lzw_decode(data, pos, w * h)
        idx = np.frombuffer(out, np.uint8).reshape(h, w)
        if iflags & 0x40:
            idx = _gif_deinterlace(idx, h)
        disposal = gce["disposal"] if gce else 0
        transparent = gce["transparent"] if gce else None
        saved = canvas[y0 : y0 + h, x0 : x0 + w].copy() if disposal == 3 else None
        rect = canvas[y0 : y0 + h, x0 : x0 + w]
        painted = pal[idx]
        if transparent is not None:
            mask = (idx != transparent)[:, :, None]
            rect[:] = np.where(mask, painted, rect)
        else:
            rect[:] = painted
        frames.append(canvas.copy())
        if disposal == 2:
            canvas[y0 : y0 + h, x0 : x0 + w] = bg_rgb
        elif disposal == 3 and saved is not None:
            canvas[y0 : y0 + h, x0 : x0 + w] = saved
        gce = None  # a GCE governs exactly one following image
    if not frames:
        raise ValueError("GIF missing image block")
    return np.stack(frames)


def encode_gif_animated(
    screen: tuple[int, int],
    frames: list[dict],
    palette,
    bg_index: int = 0,
) -> bytes:
    """Write an animated GIF89a: `screen` = (H, W), `palette` the
    global color table, `frames` a list of dicts with keys
    `indices` (2-D uint8), `x0`/`y0` (placement, default 0),
    `disposal` (default 1 = leave), `transparent` (index or None),
    `palette` (optional LOCAL table overriding the global), and
    `interlace` (bool). Each frame gets its own GCE + image block; LZW
    is the same real encoder as encode_gif."""
    import numpy as np

    sh, sw = screen
    palette = np.asarray(palette, dtype=np.uint8)
    n = len(palette)
    bits = max(2, (n - 1).bit_length())
    table_n = 1 << bits
    pal = np.zeros((table_n, 3), dtype=np.uint8)
    pal[:n] = palette

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", sw, sh)
    out += bytes([0x80 | (bits - 1) << 4 | (bits - 1), bg_index, 0])
    out += pal.tobytes()
    for spec in frames:
        idx = np.asarray(spec["indices"], dtype=np.uint8)
        h, w = idx.shape
        x0, y0 = int(spec.get("x0", 0)), int(spec.get("y0", 0))
        disposal = int(spec.get("disposal", 1))
        transparent = spec.get("transparent")
        interlace = bool(spec.get("interlace", False))
        lpal = spec.get("palette")
        gflags = (disposal << 2) | (1 if transparent is not None else 0)
        out += bytes([0x21, 0xF9, 4, gflags, 0, 0,
                      transparent if transparent is not None else 0, 0])
        iflags = 0x40 if interlace else 0
        lbits = bits
        if lpal is not None:
            lpal = np.asarray(lpal, dtype=np.uint8)
            lbits = max(2, (len(lpal) - 1).bit_length())
            lt = np.zeros((1 << lbits, 3), dtype=np.uint8)
            lt[: len(lpal)] = lpal
            iflags |= 0x80 | (lbits - 1)
        out += b"\x2c" + struct.pack("<HHHH", x0, y0, w, h) + bytes([iflags])
        if lpal is not None:
            out += lt.tobytes()
        if interlace:
            order = [
                y
                for start, step in _GIF_INTERLACE_PASSES
                for y in range(start, h, step)
            ]
            idx = idx[order]
        out += _gif_lzw_encode(idx.tobytes(), max(2, lbits))
    out += b"\x3b"
    return bytes(out)


@loud_truncation
def decode_gif(data: bytes):
    """Decode a single-frame GIF87a/89a into an (H, W, 3) uint8 RGB
    array: screen/image descriptors, global or local color table,
    extension skipping, sub-block reassembly, variable-width LZW with
    CLEAR/EOI and the deferred-clear rule, interlaced frames (round 11:
    4-pass row reorder). Multi-frame animations and sub-screen frames
    need COMPOSITION semantics (background, transparency, disposal) —
    this single-image API refuses them loudly and points at
    decode_gif_frames, which handles both."""
    import numpy as np

    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw, sh = struct.unpack_from("<HH", data, 6)
    flags = data[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(data, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    frame = None
    while pos < len(data):
        b0 = data[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: label + sub-blocks, skip
            pos += 2
            while data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b0:02x} at {pos}")
        if frame is not None:
            raise NotImplementedError(
                "multi-frame (animated) GIF: use decode_gif_frames for"
                " the composed (F, H, W, 3) animation"
            )
        x0, y0, w, h = struct.unpack_from("<HHHH", data, pos + 1)
        iflags = data[pos + 9]
        pos += 10
        if (x0, y0) != (0, 0) or (w, h) != (sw, sh):
            # valid GIFs may place a smaller frame inside the logical
            # screen; compositing onto the screen (background color,
            # disposal) is the animation seam — refuse loudly rather
            # than silently returning a frame-sized raster with the
            # offset discarded (round-10 review finding)
            raise NotImplementedError(
                f"GIF frame ({w}x{h} at {x0},{y0}) does not cover the"
                f" logical screen ({sw}x{sh}) — use decode_gif_frames,"
                " which composites onto the screen"
            )
        pal = gct
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            pal = np.frombuffer(data, np.uint8, n * 3, pos).reshape(n, 3)
            pos += n * 3
        if pal is None:
            raise ValueError("GIF frame has no color table")
        out, pos = _gif_lzw_decode(data, pos, w * h)
        idx = np.frombuffer(out, np.uint8).reshape(h, w)
        if iflags & 0x40:
            idx = _gif_deinterlace(idx, h)
        frame = pal[idx]
    if frame is None:
        raise ValueError("GIF missing image block")
    return frame
