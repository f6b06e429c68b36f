"""Multimodal column plumbing (SURVEY §2.12): opaque binary payloads with
typed metadata, decoded/feature-extracted via Arrow-batched pandas on
``mapInPandas``.

The container has no image/audio libraries, so ``decode_image`` is a clearly
marked stub (NotImplementedError) and ``fake_decode_features`` is the
deterministic stand-in used by tests and the driver queries.  The Spark-side
plumbing — binary schema, Arrow batch shape, partition-parallel mapInPandas —
is real and is exactly what a real decoder would plug into.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODE_SCHEMA = ("doc_id long, n_bytes int, mean_byte double, "
                 "max_byte int, checksum bigint")


def _spread(ids_df: DataFrame) -> DataFrame:
    """Round-robin the doc_id-only frame across the session's cores before
    a heavy codec ``mapInPandas``: the fixture ``documents`` scan is a
    single parquet split, so without this every encode+decode chain runs
    serially in ONE Python worker while the other cores idle (measured
    r16: the JPEG query's whole pipeline was a 1-partition plan).  The
    exchange moves 8 bytes per row — the lightweight proxy, never the
    payload (the generated bytes stay on the workers that produced them,
    and the decode stage inherits this partitioning).  The count derives
    from the runtime (``defaultParallelism`` = total cores, locally and
    on a cluster), not a tuned constant.

    Applied ONLY where the codec is expensive enough to beat the
    shuffle + per-task overhead, measured interleaved on a quiet host:
    jpeg 9.50 → 2.04 s (entropy decode dominates), png parity at fixture
    scale (B/A 0.92–1.05, median 0.99 over 7 interleaved rounds — kept:
    the zlib+filter codec is the heavier kind that wins as soon as rows
    grow); ppm 0.56 → 1.30 s and bmp 0.50 → 0.95 s REGRESSED (raw byte-slicing codecs — the task
    overhead exceeds the serial compute), so those generators keep the
    scan's own partitioning."""
    sc = ids_df.sparkSession.sparkContext
    return ids_df.repartition(sc.defaultParallelism)


def with_fake_payload(docs_df: DataFrame) -> DataFrame:
    """Attach a deterministic binary 'image' payload + typed metadata.
    (Real pipelines read the bytes from object storage; the md5-derived fake
    keeps tests hermetic while exercising real BinaryType columns.)"""
    return docs_df.select(
        "doc_id",
        F.unhex(F.md5("text")).alias("image_bytes"),
        F.struct(
            (F.lit(64) + F.col("doc_id") % 64).cast("int").alias("width"),
            (F.lit(64) + F.col("n_chars") % 128).cast("int").alias("height"),
            F.element_at(F.array(F.lit("png"), F.lit("jpeg"), F.lit("webp")),
                         (F.col("doc_id") % 3 + 1).cast("int")).alias("format"),
        ).alias("meta"))


def decode_image(data: bytes) -> np.ndarray:
    """Real decoder dispatch: P6 PPM (decode_ppm), 8-bit truecolor PNG
    (decode_png, stdlib zlib + numpy), and baseline JPEG
    (operators/jpeg.py decode_jpeg — marker walk, DHT Huffman, dequant,
    IDCT; grayscale + YCbCr 4:4:4).  WebP still requires a codec library
    not present in this container."""
    if data.startswith(b"P6"):
        return decode_ppm(data)
    if data.startswith(PNG_SIG):
        return decode_png(data)
    if data.startswith(b"\xff\xd8"):
        from binaryvectordb_spark.operators.jpeg import decode_jpeg
        return decode_jpeg(data)
    raise NotImplementedError(
        "P6 PPM, PNG (8-bit truecolor), and baseline JPEG decode here; "
        "webp needs a codec library not present in this container")


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_png(data: bytes) -> np.ndarray:
    """REAL PNG decoder (stdlib zlib + numpy, no imaging library): walks the
    chunk stream with CRC validation, inflates the concatenated IDAT
    payload, and reverses the per-scanline filters (None/Sub/Up/Average/
    Paeth) to the (height, width, 3) uint8 pixel array.  Supports the
    8-bit-depth truecolor (color type 2) non-interlaced profile."""
    import struct
    import zlib

    if not data.startswith(PNG_SIG):
        raise ValueError("not a PNG payload")
    pos, n = len(PNG_SIG), len(data)
    ihdr, idat, ended = None, [], False
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        typ = data[pos + 4:pos + 8]
        if pos + 12 + length > n:
            raise ValueError("truncated PNG chunk")
        payload = data[pos + 8:pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length:pos + 12 + length])
        if zlib.crc32(typ + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in PNG chunk {typ!r}")
        if typ == b"IHDR":
            ihdr = payload
        elif typ == b"IDAT":
            idat.append(payload)
        elif typ == b"IEND":
            ended = True
            break
        pos += 12 + length
    if not ended:
        # unconditional: a stream cut exactly at a chunk boundary (pos == n)
        # is still truncated — IEND is mandatory in every complete PNG
        raise ValueError("truncated PNG chunk stream")
    if ihdr is None or len(ihdr) != 13 or not idat:
        raise ValueError("missing or malformed IHDR/IDAT")
    w, h, depth, ctype, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if (depth, ctype, comp, filt, interlace) != (8, 2, 0, 0, 0):
        raise ValueError(
            "only 8-bit truecolor non-interlaced PNG supported, got "
            f"depth={depth} color={ctype} interlace={interlace}")
    raw = zlib.decompress(b"".join(idat))
    stride, bpp = w * 3, 3
    if len(raw) != (stride + 1) * h:
        raise ValueError("PNG scanline data length mismatch")
    lines = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        f = int(lines[y, 0])
        cur = lines[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if f == 0:
            pass
        elif f == 1:
            # Sub: out[x] = (raw[x] + out[x-bpp]) mod 256 is a per-channel
            # PREFIX SUM mod 256 — mod distributes over addition, so a
            # vectorized int64 cumsum & 0xFF is exact (no per-byte loop)
            for c in range(bpp):
                cur[c::bpp] = np.cumsum(cur[c::bpp], dtype=np.int64) & 0xFF
        elif f == 2:    # Up: pure element-wise
            cur = (cur + prev) & 0xFF
        elif f == 3:
            # Average: out[x] = raw[x] + (out[x-bpp] + up[x])//2 — the floor
            # divide makes it a true per-pixel recurrence (not prefix-
            # summable).  Plain-int list arithmetic beats numpy here: the
            # loop body is a handful of scalar ops, and a Python int add is
            # ~20x cheaper than a numpy scalar/3-lane-slice op (measured;
            # NOTES.md "per-row numpy dispatch costs ~µs")
            cl, pl = cur.tolist(), prev.tolist()
            for x in range(stride):
                a = cl[x - bpp] if x >= bpp else 0
                cl[x] = (cl[x] + ((a + pl[x]) >> 1)) & 0xFF
            cur = np.asarray(cl, dtype=np.int32)
        elif f == 4:
            # Paeth: same inherent recurrence, same plain-int loop
            cl, pl = cur.tolist(), prev.tolist()
            for x in range(stride):
                a = cl[x - bpp] if x >= bpp else 0
                b = pl[x]
                c = pl[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa = p - a if p >= a else a - p
                pb = p - b if p >= b else b - p
                pc = p - c if p >= c else c - p
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cl[x] = (cl[x] + pr) & 0xFF
            cur = np.asarray(cl, dtype=np.int32)
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        out[y] = cur.astype(np.uint8)
    return out.reshape(h, w, 3)


def encode_png(px: np.ndarray, level: int = 6) -> bytes:
    """Minimal PNG writer (8-bit truecolor): per-row filter type cycles
    0..4 so a round-trip exercises EVERY unfilter path of decode_png.
    Filters are computed vectorized (numpy) while the decoder reverses
    them with an independent sequential implementation — a genuine
    cross-check, not a shared kernel."""
    import struct
    import zlib

    if px.ndim != 3 or px.shape[2] != 3 or px.dtype != np.uint8:
        raise ValueError("expected (h, w, 3) uint8 pixels")
    h, w, _ = px.shape
    stride, bpp = w * 3, 3

    def chunk(typ: bytes, payload: bytes) -> bytes:
        return (struct.pack(">I", len(payload)) + typ + payload
                + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF))

    rows = px.reshape(h, stride).astype(np.int32)
    scan = bytearray()
    zero = np.zeros(bpp, np.int32)
    for y in range(h):
        f = y % 5
        cur = rows[y]
        prev = rows[y - 1] if y else np.zeros(stride, np.int32)
        left = np.concatenate((zero, cur[:-bpp]))
        upleft = np.concatenate((zero, prev[:-bpp]))
        if f == 0:
            filt = cur
        elif f == 1:
            filt = (cur - left) % 256
        elif f == 2:
            filt = (cur - prev) % 256
        elif f == 3:
            filt = (cur - (left + prev) // 2) % 256
        else:
            p = left + prev - upleft
            pa = np.abs(p - left)
            pb = np.abs(p - prev)
            pc = np.abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, upleft))
            filt = (cur - pred) % 256
        scan.append(f)
        scan.extend(filt.astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(scan), level))
            + chunk(b"IEND", b""))


def decode_ppm(data: bytes) -> np.ndarray:
    """REAL image decoder (pure numpy, no imaging library): parses the P6
    PPM header — magic, '#' comment lines, arbitrary whitespace, width,
    height, maxval — and returns the (height, width, 3) uint8 pixel array
    view over the raw RGB plane."""
    if not data.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    tokens: list[int] = []
    i, n = 2, len(data)
    while len(tokens) < 3:
        if i >= n:
            raise ValueError("truncated PPM header")
        c = data[i:i + 1]
        if c == b"#":
            nl = data.find(b"\n", i)
            if nl < 0:
                raise ValueError("truncated PPM header (unterminated comment)")
            i = nl + 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < n and not data[j:j + 1].isspace():
                j += 1
            if j >= n:
                raise ValueError("truncated PPM header")
            tokens.append(int(data[i:j]))
            i = j
    i += 1  # exactly one whitespace byte separates maxval from the plane
    w, h, maxval = tokens
    if n - i < w * h * 3:
        raise ValueError("truncated PPM pixel plane")
    if maxval != 255:
        raise ValueError(f"only 8-bit PPM supported, maxval={maxval}")
    return np.frombuffer(data, dtype=np.uint8, count=w * h * 3,
                         offset=i).reshape(h, w, 3)


def with_ppm_payload(docs_df: DataFrame) -> DataFrame:
    """Deterministic striped P6 images per doc: even pixel rows are color
    A(doc_id), odd rows color B(doc_id), dims vary with doc_id.  Because
    the stripes have closed-form channel means, a REAL decoder's output is
    oracle-checkable in plain SQL — the decode below is not a fake."""
    from collections.abc import Iterator

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            payloads = []
            for d in b["doc_id"]:
                px = _stripe_pixels(int(d))
                h, w, _ = px.shape
                payloads.append(b"P6\n# stripes\n%d %d\n255\n" % (w, h)
                                + px.tobytes())
            yield pd.DataFrame({"doc_id": b["doc_id"].values,
                                "image_bytes": payloads})

    return docs_df.select("doc_id").mapInPandas(
        gen, "doc_id long, image_bytes binary")


PPM_SCHEMA = ("doc_id long, width int, height int, "
              "mean_r double, mean_g double, mean_b double")


def decode_ppm_features(payload_df: DataFrame) -> DataFrame:
    """mapInPandas over binary payloads through the REAL PPM decoder:
    per-image integer channel sums divided once in float64, so the means
    are bit-exact against an integer-arithmetic oracle."""
    from collections.abc import Iterator

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for doc_id, buf in zip(b["doc_id"], b["image_bytes"]):
                px = decode_ppm(bytes(buf))
                h, w, _ = px.shape
                s = px.reshape(-1, 3).astype(np.int64).sum(axis=0)
                n = h * w
                rows.append((doc_id, w, h,
                             s[0] / n, s[1] / n, s[2] / n))
            yield pd.DataFrame(rows, columns=["doc_id", "width", "height",
                                              "mean_r", "mean_g", "mean_b"])

    return payload_df.select("doc_id", "image_bytes").mapInPandas(
        gen, schema=PPM_SCHEMA)


def resize_nearest(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize of an (h, w, c) pixel array: output pixel
    (j, i) samples source pixel (j*h//out_h, i*w//out_w) — the standard
    floor-mapping, purely integer, so a resized image's statistics stay
    closed-form-predictable for the stripe oracle."""
    h, w = px.shape[:2]
    if out_w <= 0 or out_h <= 0:
        raise ValueError(f"invalid resize target {out_w}x{out_h}")
    rows = (np.arange(out_h, dtype=np.int64) * h) // out_h
    cols = (np.arange(out_w, dtype=np.int64) * w) // out_w
    return px[np.ix_(rows, cols)]


def resize_ppm_features(payload_df: DataFrame, out_w: int = 4,
                        out_h: int = 4) -> DataFrame:
    """Decode + RESIZE + reduce on mapInPandas: each PPM payload is decoded
    (decode_ppm, the real parser), nearest-neighbor-resized to
    ``out_w x out_h``, and summarized by resized channel means — the
    decode/resize/feature pipeline a multimodal training-data pipeline
    runs per image, Arrow-batched and partition-parallel.  Integer sums
    divided once in float64 keep the means bit-exact for the oracle."""
    from collections.abc import Iterator

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for doc_id, buf in zip(b["doc_id"], b["image_bytes"]):
                px = resize_nearest(decode_ppm(bytes(buf)), out_w, out_h)
                s = px.reshape(-1, 3).astype(np.int64).sum(axis=0)
                n = out_h * out_w
                rows.append((doc_id, out_w, out_h,
                             s[0] / n, s[1] / n, s[2] / n))
            yield pd.DataFrame(rows, columns=["doc_id", "width", "height",
                                              "mean_r", "mean_g", "mean_b"])

    return payload_df.select("doc_id", "image_bytes").mapInPandas(
        gen, schema=PPM_SCHEMA)


def _stripe_pixels(d: int) -> np.ndarray:
    """The deterministic striped test image for doc_id d (shared by the PPM
    and PNG payload generators, so both decoders check against the same
    closed-form stripe-mean oracle)."""
    w, h = 4 + d % 5, 2 + d % 7
    ca = np.array([d * 3 % 256, d * 5 % 256, d * 7 % 256], np.uint8)
    cb = np.array([(d * 11 + 1) % 256, (d * 13 + 2) % 256,
                   (d * 17 + 3) % 256], np.uint8)
    px = np.empty((h, w, 3), np.uint8)
    px[0::2] = ca
    px[1::2] = cb
    return px


def with_png_payload(docs_df: DataFrame) -> DataFrame:
    """Deterministic striped images PNG-ENCODED per doc (encode_png, filter
    types cycling 0..4): the decode side must inflate + unfilter for real
    to recover the closed-form stripe means the SQL oracle recomputes."""
    from collections.abc import Iterator

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            payloads = [encode_png(_stripe_pixels(int(d)))
                        for d in b["doc_id"]]
            yield pd.DataFrame({"doc_id": b["doc_id"].values,
                                "image_bytes": payloads})

    return _spread(docs_df.select("doc_id")).mapInPandas(
        gen, "doc_id long, image_bytes binary")


def decode_png_features(payload_df: DataFrame) -> DataFrame:
    """mapInPandas over binary payloads through the REAL PNG decoder
    (chunk walk -> inflate -> unfilter): integer channel sums divided once
    in float64, bit-exact against the integer-arithmetic oracle."""
    from collections.abc import Iterator

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for doc_id, buf in zip(b["doc_id"], b["image_bytes"]):
                px = decode_png(bytes(buf))
                h, w, _ = px.shape
                s = px.reshape(-1, 3).astype(np.int64).sum(axis=0)
                n = h * w
                rows.append((doc_id, w, h, s[0] / n, s[1] / n, s[2] / n))
            yield pd.DataFrame(rows, columns=["doc_id", "width", "height",
                                              "mean_r", "mean_g", "mean_b"])

    return payload_df.select("doc_id", "image_bytes").mapInPandas(
        gen, schema=PPM_SCHEMA)


def _jpeg_band_pixels(d: int) -> np.ndarray:
    """Deterministic grayscale banded test image for doc_id d, shaped for
    JPEG exactness: 8-pixel-row bands on 8-multiple dims, so every 8x8
    block is CONSTANT and the flat-8 quantizer round-trips bit-exact
    (operators/jpeg.py module docstring) — a lossy codec made
    oracle-checkable."""
    w, bands = 8 * (1 + d % 3), 2 + d % 4
    ga, gb = d * 3 % 256, (d * 11 + 1) % 256
    px = np.empty((bands * 8, w), np.uint8)
    for i in range(bands):
        px[i * 8:(i + 1) * 8] = ga if i % 2 == 0 else gb
    return px


def with_jpeg_payload(docs_df: DataFrame) -> DataFrame:
    """Deterministic banded grayscale images JPEG-ENCODED per doc
    (operators/jpeg.py encode_jpeg_gray: DCT, flat-8 quantizer, custom
    canonical Huffman riding in DHT).  The decode side must parse markers,
    rebuild the Huffman tables, entropy-decode, dequantize, and IDCT for
    real to recover the closed-form band means the SQL oracle recomputes."""
    from collections.abc import Iterator

    from binaryvectordb_spark.operators.jpeg import encode_jpeg_gray

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            payloads = [encode_jpeg_gray(_jpeg_band_pixels(int(d)))
                        for d in b["doc_id"]]
            yield pd.DataFrame({"doc_id": b["doc_id"].values,
                                "image_bytes": payloads})

    return _spread(docs_df.select("doc_id")).mapInPandas(
        gen, "doc_id long, image_bytes binary")


JPEG_SCHEMA = ("doc_id long, width int, height int, mean_gray double, "
               "gray_first int, gray_last int")


def decode_jpeg_features(payload_df: DataFrame) -> DataFrame:
    """mapInPandas over binary payloads through the REAL JPEG decoder:
    integer pixel sum divided once in float64 (bit-exact against the
    integer-arithmetic oracle), plus the first/last pixel values which
    pin band placement, not just the global mean."""
    from collections.abc import Iterator

    from binaryvectordb_spark.operators.jpeg import decode_jpeg

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for doc_id, buf in zip(b["doc_id"], b["image_bytes"]):
                px = decode_jpeg(bytes(buf))
                h, w = px.shape
                rows.append((doc_id, w, h,
                             int(px.astype(np.int64).sum()) / (h * w),
                             int(px[0, 0]), int(px[-1, -1])))
            yield pd.DataFrame(rows, columns=["doc_id", "width", "height",
                                              "mean_gray", "gray_first",
                                              "gray_last"])

    return payload_df.select("doc_id", "image_bytes").mapInPandas(
        gen, schema=JPEG_SCHEMA)


def fake_decode_features(batch: pd.DataFrame) -> pd.DataFrame:
    """Deterministic per-payload features (byte statistics) as a stand-in for
    a real decode+featurize step.

    Vectorized across the WHOLE Arrow batch, not per row: all payloads are
    concatenated into one uint8 buffer and reduced segment-wise with
    ``np.add.reduceat``/``np.maximum.reduceat`` over the offset vector —
    per-row numpy calls cost ~µs of dispatch each, which dominates when
    payloads are small (measured 4-5x on the 16-byte fixture payloads)."""
    bufs = list(batch["image_bytes"])
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=len(bufs))
    if len(bufs) == 0 or lens.min() == 0:
        # degenerate rows: fall back to the simple path (reduceat cannot
        # represent empty segments)
        arr = [np.frombuffer(b, dtype=np.uint8) for b in bufs]
        return pd.DataFrame({
            "doc_id": batch["doc_id"].values,
            "n_bytes": [len(a) for a in arr],
            "mean_byte": [float(a.sum() / len(a)) if len(a) else 0.0 for a in arr],
            "max_byte": [int(a.max()) if len(a) else -1 for a in arr],
            "checksum": [int(a.astype(np.int64).sum()) for a in arr],
        })
    cat = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    sums = np.add.reduceat(cat.astype(np.int64), starts)
    maxs = np.maximum.reduceat(cat, starts)
    return pd.DataFrame({
        "doc_id": batch["doc_id"].values,
        "n_bytes": lens.astype(np.int32),
        "mean_byte": sums / lens,
        "max_byte": maxs.astype(np.int32),
        "checksum": sums,
    })


def decode_features(payload_df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over the binary column: Arrow-batched,
    partition-parallel, constant memory per batch — the scale path for any
    decode/resize/frame-sample operator."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield fake_decode_features(b)
    return payload_df.select("doc_id", "image_bytes").mapInPandas(
        gen, schema=DECODE_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_idx int, frame_bytes binary, frame_checksum bigint"


def frame_sample(payload_df: DataFrame, frame_size: int = 4,
                 stride: int = 2, sample_every: int = 2) -> DataFrame:
    """One-to-many frame sampling over an opaque binary 'video' column:
    windows of ``frame_size`` bytes advance by ``stride``, and every
    ``sample_every``-th window becomes a row — the mapInPandas shape for
    video frame extraction (a real decoder would seek keyframes; the
    byte-window fake keeps the plumbing testable).  Output rows per input
    scale with payload size, constant memory per Arrow batch."""
    from collections.abc import Iterator

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out_id, out_idx, out_bytes, out_sum = [], [], [], []
            for doc_id, buf in zip(b["doc_id"], b["image_bytes"]):
                arr = np.frombuffer(buf, dtype=np.uint8)
                n_frames = max(0, (len(arr) - frame_size) // stride + 1)
                for f in range(0, n_frames, sample_every):
                    start = f * stride
                    frame = arr[start:start + frame_size]
                    out_id.append(doc_id)
                    out_idx.append(f)
                    out_bytes.append(frame.tobytes())
                    out_sum.append(int(frame.astype(np.int64).sum()))
            yield pd.DataFrame({"doc_id": out_id, "frame_idx": out_idx,
                                "frame_bytes": out_bytes,
                                "frame_checksum": out_sum})

    return payload_df.select("doc_id", "image_bytes").mapInPandas(
        gen, schema=FRAME_SCHEMA)


# -- BMP: the fourth REAL codec (uncompressed, but structurally distinct) ---

def encode_bmp(px: np.ndarray) -> bytes:
    """Minimal 24-bit BI_RGB Windows BMP writer: BITMAPFILEHEADER +
    BITMAPINFOHEADER(40), BOTTOM-UP row order, BGR channel order, rows
    padded to 4-byte multiples — the three structural quirks that make a
    BMP decode a genuinely different parse from PPM (top-down raw RGB)
    and PNG (filtered + deflated)."""
    import struct

    if px.ndim != 3 or px.shape[2] != 3 or px.dtype != np.uint8:
        raise ValueError("encode_bmp expects (h, w, 3) uint8 pixels")
    h, w, _ = px.shape
    pad = (-(w * 3)) % 4
    bgr = px[:, :, ::-1]
    data = b"".join(bgr[y].tobytes() + b"\x00" * pad
                    for y in range(h - 1, -1, -1))
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                       2835, 2835, 0, 0)
    head = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(data), 0, 0, 54)
    return head + info + data


def decode_bmp(data: bytes) -> np.ndarray:
    """Pure-numpy 24-bit BI_RGB BMP decoder: header walk, stride with
    4-byte row padding, bottom-up (or top-down when height is negative)
    row unflip, BGR→RGB swap.  Returns (h, w, 3) uint8."""
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP stream")
    off = int.from_bytes(data[10:14], "little")
    isize = int.from_bytes(data[14:18], "little")
    if isize < 40:
        raise ValueError(f"unsupported BMP info header size {isize}")
    w = int.from_bytes(data[18:22], "little", signed=True)
    h = int.from_bytes(data[22:26], "little", signed=True)
    bpp = int.from_bytes(data[28:30], "little")
    comp = int.from_bytes(data[30:34], "little")
    if bpp != 24 or comp != 0:
        raise ValueError(
            f"only 24-bit BI_RGB supported (got bpp={bpp}, comp={comp})")
    if w <= 0 or h == 0:
        raise ValueError(f"invalid BMP dimensions {w}x{h}")
    if off < 14 + isize:
        # a malformed stream whose pixel-array offset points back into
        # the headers would otherwise decode header bytes as pixels
        # (ADVICE r11); 14 = BITMAPFILEHEADER, isize = info header
        raise ValueError(
            f"BMP pixel-array offset {off} overlaps headers "
            f"(expected >= {14 + isize})")
    top_down = h < 0
    hh = -h if top_down else h
    stride = (w * 3 + 3) & ~3
    if len(data) < off + stride * hh:
        raise ValueError("truncated BMP pixel data")
    arr = np.frombuffer(data, np.uint8, stride * hh, off).reshape(hh, stride)
    px = arr[:, :w * 3].reshape(hh, w, 3)[:, :, ::-1]
    if not top_down:
        px = px[::-1]
    return np.ascontiguousarray(px)


def with_bmp_payload(docs_df: DataFrame) -> DataFrame:
    """The shared striped images BMP-ENCODED per doc — same _stripe_pixels
    source as PPM/PNG/JPEG, so the decode checks against the same
    closed-form stripe-mean oracle."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            payloads = [encode_bmp(_stripe_pixels(int(d)))
                        for d in b["doc_id"]]
            yield pd.DataFrame({"doc_id": b["doc_id"].values,
                                "image_bytes": payloads})

    return docs_df.select("doc_id").mapInPandas(
        gen, "doc_id long, image_bytes binary")


def decode_bmp_features(payload_df: DataFrame) -> DataFrame:
    """mapInPandas over BMP payloads through the real decoder — integer
    channel sums, one float64 division (the PPM/PNG discipline)."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for doc_id, buf in zip(b["doc_id"], b["image_bytes"]):
                px = decode_bmp(bytes(buf))
                h, w, _ = px.shape
                s = px.reshape(-1, 3).astype(np.int64).sum(axis=0)
                n = h * w
                rows.append((doc_id, w, h, s[0] / n, s[1] / n, s[2] / n))
            yield pd.DataFrame(rows, columns=["doc_id", "width", "height",
                                              "mean_r", "mean_g", "mean_b"])

    return payload_df.select("doc_id", "image_bytes").mapInPandas(
        gen, schema=PPM_SCHEMA)
