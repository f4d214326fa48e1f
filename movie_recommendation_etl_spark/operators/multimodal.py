"""Multimodal column plumbing: opaque binary payloads + typed metadata,
with Arrow-batched feature extraction via mapInPandas — and REAL pure-stdlib
decoders for the raster formats stdlib can honestly handle: BMP 24-bit,
PPM/P6, PGM/P5, and 8-bit PNG (zlib inflate + the five scanline unfilters,
crc-verified — r11).

North-star requirement: a 100 TB training-data pipeline carries image/audio/
video as ``binary`` columns next to a metadata struct, and runs decode /
feature-extract / resize / frame-sample as Pandas-batched UDFs. The Spark
plumbing here — schema, partition sizing, batch shape, deterministic
fingerprinting — is real and tested, and so is the decode step for the
formats stdlib can honestly handle: BMP, binary netpbm, and 8-bit PNG
images decode to (height, width, channels) uint8 pixel arrays with no
external codec library (PNG needs only stdlib zlib), and PCM WAV audio
decodes via stdlib ``wave`` (r11). Formats that need a real codec library
(JPEG, MP3/AAC, real video containers) still raise NotImplementedError at
the same boundary — swapping in PIL/ffmpeg later means registering one
decoder, not changing the pipeline.

Scale notes: binary payloads make rows big — size
``spark.sql.files.maxPartitionBytes`` so a partition of blobs fits executor
memory, and keep ``spark.sql.execution.arrow.maxRecordsPerBatch`` small
enough that an Arrow batch of blobs does too. Feature extraction is
embarrassingly parallel (mapInPandas, no shuffle).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

MEDIA_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("content_md5", T.StringType()),
        T.StructField("byte_histogram_head", T.ArrayType(T.IntegerType())),
        # decode=True only; NULL for byte-level-only runs
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("px_mean", T.DoubleType()),
        T.StructField("px_min", T.IntegerType()),
        T.StructField("px_max", T.IntegerType()),
    ]
)


def _id_field(df: DataFrame, id_col: str) -> T.StructField:
    """The input id column's (name, type), preserved in output schemas
    (r6 ADVICE: outputs previously hard-coded ``doc_id``/Long — a silent
    rename, and string/int ids failed at Arrow serialization time). The
    schema constants below keep the default ``doc_id``/Long first field;
    the operators splice this in per-call."""
    return T.StructField(id_col, df.schema[id_col].dataType)


def _spliced_schema(
    df: DataFrame, id_col: str, rest: list[T.StructField]
) -> T.StructType:
    """Output schema = input id field + the operator's fixed feature
    fields, REJECTING name collisions: a duplicate field name would make
    the dict-keyed batch builder append id and feature values into one
    list (column lengths diverge, Arrow fails opaquely — or worse,
    misaligns silently)."""
    clash = {f.name for f in rest} & {id_col}
    if clash:
        raise ValueError(
            f"id_col {id_col!r} collides with a fixed output column; "
            f"rename the id column before calling (reserved: "
            f"{sorted(f.name for f in rest)})"
        )
    return T.StructType([_id_field(df, id_col)] + rest)


def attach_fake_media(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic binary payload per row (the UTF-8 of the text, doubled)
    plus a typed metadata struct — a stand-in for real image/audio bytes
    that keeps every downstream batch shape honest."""
    data = F.encode(F.concat(F.col(text_col), F.col(text_col)), "UTF-8")
    meta = F.struct(
        F.lit("fake/blob").alias("media_type"),
        F.length(data).cast("int").alias("n_bytes"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
    )
    return docs.withColumn("media_data", data).withColumn("media_meta", meta)


# --- pure-stdlib raster codecs ---------------------------------------------
# struct-only parsing; numpy (baked into the pyspark image) for the pixel
# array, never an external codec library.

BMP_MEDIA_TYPE = "image/bmp"
PPM_MEDIA_TYPE = "image/x-portable-pixmap"
PGM_MEDIA_TYPE = "image/x-portable-graymap"


def encode_bmp(pixels) -> bytes:
    """(h, w, 3) uint8 RGB -> 24-bit uncompressed bottom-up BMP
    (BITMAPFILEHEADER + BITMAPINFOHEADER, rows padded to 4 bytes)."""
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, c = px.shape
    if c != 3:
        raise ValueError("BMP encoder takes (h, w, 3) RGB")
    stride = (w * 3 + 3) // 4 * 4
    pad = b"\x00" * (stride - w * 3)
    # bottom-up rows, BGR channel order — the classic BMP layout
    body = b"".join(
        px[y, :, ::-1].tobytes() + pad for y in range(h - 1, -1, -1)
    )
    offset = 14 + 40
    file_header = struct.pack("<2sIHHI", b"BM", offset + len(body), 0, 0, offset)
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return file_header + info_header + body


def encode_ppm(pixels) -> bytes:
    """(h, w, 3) uint8 RGB -> binary PPM (P6, maxval 255)."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    return b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()


def encode_pgm(gray) -> bytes:
    """(h, w) uint8 grayscale -> binary PGM (P5, maxval 255)."""
    import numpy as np

    px = np.asarray(gray, dtype=np.uint8)
    h, w = px.shape
    return b"P5\n%d %d\n255\n" % (w, h) + px.tobytes()


PNG_MEDIA_TYPE = "image/png"
_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# PNG color type byte per channel count we support (8-bit, non-interlaced)
_PNG_COLOR_TYPE = {1: 0, 3: 2, 4: 6}
_PNG_CHANNELS = {v: k for k, v in _PNG_COLOR_TYPE.items()}


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png(pixels, *, cycle_filters: bool = True) -> bytes:
    """(h, w) or (h, w, c) uint8 (c in 1/3/4) -> 8-bit non-interlaced PNG,
    pure stdlib (zlib deflate + crc32). ``cycle_filters`` applies scanline
    filter ``row % 5`` so a round-trip exercises every PNG filter type
    (None/Sub/Up/Average/Paeth) against the decoder's unfilters; False
    emits filter 0 everywhere (fastest)."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, c = px.shape
    if c not in _PNG_COLOR_TYPE:
        raise ValueError(f"PNG encoder takes 1/3/4 channels, got {c}")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _PNG_COLOR_TYPE[c], 0, 0, 0)
    raw = px.astype(np.int16)
    zero = np.zeros(c, dtype=np.int16)
    out = bytearray()
    for y in range(h):
        f = (y % 5) if cycle_filters else 0
        cur = raw[y].reshape(-1)  # w*c int16 lane view
        prev = raw[y - 1].reshape(-1) if y else np.zeros(w * c, np.int16)
        left = np.concatenate([zero, cur[:-c]])
        upleft = np.concatenate([zero, prev[:-c]])
        if f == 0:
            enc = cur
        elif f == 1:
            enc = cur - left
        elif f == 2:
            enc = cur - prev
        elif f == 3:
            enc = cur - (left + prev) // 2
        else:
            pred = np.fromiter(
                (
                    _paeth(int(a), int(b), int(cc))
                    for a, b, cc in zip(left, prev, upleft)
                ),
                np.int16,
                len(cur),
            )
            enc = cur - pred
        out.append(f)
        out += (enc % 256).astype(np.uint8).tobytes()
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def _decode_png(blob: bytes) -> dict:
    """8-bit non-interlaced PNG (gray / RGB / RGBA), pure stdlib: chunk
    walk with crc32 verification, zlib inflate, then the five scanline
    unfilters. Palette, 16-bit, and interlaced files raise — those are the
    honest boundary for a stdlib decoder, not silently-wrong output."""
    import struct
    import zlib

    import numpy as np

    if blob[:8] != _PNG_SIG:
        raise ValueError("not a PNG file (bad signature)")
    i, ihdr, idat = 8, None, bytearray()
    while i + 8 <= len(blob):
        (ln,), ctype = struct.unpack_from(">I", blob, i), blob[i + 4 : i + 8]
        data = blob[i + 8 : i + 8 + ln]
        if len(data) != ln or i + 12 + ln > len(blob):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", blob, i + 8 + ln)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} crc mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        i += 12 + ln
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or color not in _PNG_CHANNELS:
        raise NotImplementedError(
            f"only 8-bit gray/RGB/RGBA PNG supported (depth={depth}, "
            f"color type={color})"
        )
    if comp != 0 or filt != 0 or interlace != 0:
        raise NotImplementedError("interlaced/nonstandard PNG not supported")
    if w < 1 or h < 1:
        raise ValueError(f"invalid PNG dimensions {w}x{h}")
    c = _PNG_CHANNELS[color]
    stride = w * c
    raw = zlib.decompress(bytes(idat))
    if len(raw) != (stride + 1) * h:
        raise ValueError("PNG raster size mismatch")
    px = np.zeros((h, stride), dtype=np.uint8)
    zero = np.zeros(c, dtype=np.int16)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, np.uint8, stride, y * (stride + 1) + 1
        ).astype(np.int16)
        prev = px[y - 1].astype(np.int16) if y else np.zeros(stride, np.int16)
        if f == 0:
            cur = line
        elif f == 2:
            cur = (line + prev) % 256
        elif f == 1:
            # Sub inverts to a per-lane cumulative sum mod 256
            cur = np.cumsum(line.reshape(w, c), axis=0).reshape(-1) % 256
        elif f in (3, 4):
            cur = np.zeros(stride, np.int16)
            for x in range(stride):
                a = int(cur[x - c]) if x >= c else 0
                b = int(prev[x])
                cc = int(prev[x - c]) if x >= c else 0
                pred = (a + b) // 2 if f == 3 else _paeth(a, b, cc)
                cur[x] = (int(line[x]) + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter {f} on row {y}")
        px[y] = cur.astype(np.uint8)
    return {
        "width": w,
        "height": h,
        "channels": c,
        "pixels": px.reshape(h, w, c),
    }


def _decode_bmp(blob: bytes) -> dict:
    import struct

    import numpy as np

    if blob[:2] != b"BM":
        raise ValueError("not a BMP file (missing BM magic)")
    (pixel_offset,) = struct.unpack_from("<I", blob, 10)
    w, h_signed = struct.unpack_from("<ii", blob, 18)
    _planes, bpp = struct.unpack_from("<HH", blob, 26)
    (compression,) = struct.unpack_from("<I", blob, 30)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only 24-bit uncompressed BMP supported (got bpp={bpp}, "
            f"compression={compression})"
        )
    bottom_up = h_signed > 0
    h = abs(h_signed)
    if w < 1 or h < 1:
        raise ValueError(f"invalid BMP dimensions {w}x{h_signed}")
    stride = (w * 3 + 3) // 4 * 4
    if pixel_offset + stride * h > len(blob):
        raise ValueError("truncated BMP raster")
    rows = np.frombuffer(blob, np.uint8, stride * h, pixel_offset).reshape(
        h, stride
    )
    px = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    if bottom_up:
        px = px[::-1]
    return {
        "width": w,
        "height": h,
        "channels": 3,
        "pixels": np.ascontiguousarray(px),
    }


def _pnm_header(blob: bytes, i: int) -> tuple[bytes, int, int, int, int]:
    """Parse one binary-netpbm header starting at offset ``i`` (the magic):
    returns (magic, width, height, channels, raster_offset), VALIDATED —
    truncated tokens, non-positive dimensions, and unsupported maxval all
    raise instead of producing garbage downstream (np.frombuffer with a
    negative count silently reads everything; reshape infers a negative
    dim). One parser shared by the single-image decoder and the video
    frame indexer, so the two can never drift (they had: the indexer was
    missing the truncation guard)."""
    magic = blob[i : i + 2]
    if magic not in (b"P5", b"P6"):
        raise ValueError(
            f"not a binary PGM/PPM (magic {magic!r} at offset {i})"
        )
    tokens: list[int] = []
    j = i + 2
    while len(tokens) < 3:
        while j < len(blob) and blob[j : j + 1].isspace():
            j += 1
        if j < len(blob) and blob[j] == ord("#"):
            while j < len(blob) and blob[j] != ord("\n"):
                j += 1
            continue
        start = j
        while j < len(blob) and not blob[j : j + 1].isspace():
            j += 1
        if start == j:
            raise ValueError("truncated netpbm header")
        tokens.append(int(blob[start:j]))
    j += 1  # single whitespace byte after maxval, then raster
    w, h, maxval = tokens
    if w < 1 or h < 1:
        raise ValueError(f"invalid netpbm dimensions {w}x{h}")
    if not 1 <= maxval <= 255:
        raise NotImplementedError(
            f"netpbm maxval {maxval} not supported (8-bit only)"
        )
    return magic, w, h, (3 if magic == b"P6" else 1), j


def _decode_pnm(blob: bytes) -> dict:
    """Binary netpbm: P6 (RGB) / P5 (grayscale), maxval <= 255. Header
    tokens separated by whitespace; '#' comments allowed."""
    import numpy as np

    _magic, w, h, channels, i = _pnm_header(blob, 0)
    if i + w * h * channels > len(blob):
        raise ValueError("truncated netpbm raster")
    px = np.frombuffer(blob, np.uint8, w * h * channels, i).reshape(
        h, w, channels
    )
    return {"width": w, "height": h, "channels": channels, "pixels": px}


_DECODERS = {
    BMP_MEDIA_TYPE: _decode_bmp,
    PPM_MEDIA_TYPE: _decode_pnm,
    PGM_MEDIA_TYPE: _decode_pnm,
    PNG_MEDIA_TYPE: _decode_png,
}


def decode_media(blob: bytes, media_type: str) -> dict:
    """The codec boundary: blob + declared media type -> dict with width /
    height / channels / pixels ((h, w, c) uint8 numpy array). BMP, binary
    netpbm, and 8-bit PNG decode in pure stdlib (struct parsing; zlib
    inflate + the five scanline unfilters for PNG); anything else (JPEG,
    audio, video — formats that need a real codec library) raises
    NotImplementedError so a pipeline never silently fakes a decode."""
    decoder = _DECODERS.get(media_type)
    if decoder is None:
        raise NotImplementedError(
            f"no codec available for {media_type!r}: register a decoder "
            "(e.g. PIL/ffmpeg-backed) in operators.multimodal._DECODERS"
        )
    return decoder(bytes(blob))


def fake_image_pixels(doc_id: int):
    """Deterministic pixel pattern for a planted test image: dimensions and
    values derived from the id alone, so tests can recompute them."""
    import numpy as np

    i = int(doc_id)
    w, h = 8 + i % 5, 6 + i % 4
    yy, xx = np.mgrid[0:h, 0:w]
    base = ((3 * xx + 7 * yy + i) % 256).astype(np.uint8)
    if i % 3 == 2:  # grayscale rows exercise the P5 path
        return base
    return np.stack(
        [base, (base.astype(np.int32) * 2 % 256).astype(np.uint8), 255 - base],
        axis=-1,
    )


def attach_fake_images(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Plant a REAL encoded image per row — BMP / PPM / PGM rotating by id,
    with every id ≡ 3 (mod 4) encoded as PNG instead (compressed-format
    rows in the same corpus, r11; PNG takes gray and RGB alike) —
    deterministic content from fake_image_pixels, as (media_data binary,
    media_meta struct). Unlike attach_fake_media's opaque blobs, these
    payloads round-trip through decode_media, so decode=True pipelines run
    end-to-end with no codec library."""
    out_type = T.StructType(
        [
            T.StructField("media_data", T.BinaryType()),
            T.StructField("media_meta", MEDIA_META_SCHEMA),
        ]
    )

    @F.pandas_udf(out_type)
    def _mk(ids: pd.Series) -> pd.DataFrame:
        rows = []
        for i in ids:
            px = fake_image_pixels(i)
            kind = int(i) % 3
            if int(i) % 4 == 3:
                data, mt = encode_png(px), PNG_MEDIA_TYPE
            elif kind == 0:
                data, mt = encode_bmp(px), BMP_MEDIA_TYPE
            elif kind == 1:
                data, mt = encode_ppm(px), PPM_MEDIA_TYPE
            else:
                data, mt = encode_pgm(px), PGM_MEDIA_TYPE
            h, w = px.shape[:2]
            rows.append(
                {
                    "media_data": data,
                    "media_meta": {
                        "media_type": mt,
                        "n_bytes": len(data),
                        "width": w,
                        "height": h,
                    },
                }
            )
        return pd.DataFrame(rows)

    packed = docs.withColumn("__media", _mk(F.col(id_col)))
    return packed.select(
        *docs.columns,
        F.col("__media.media_data").alias("media_data"),
        F.col("__media.media_meta").alias("media_meta"),
    )


def extract_media_features(
    media: DataFrame,
    *,
    id_col: str = "doc_id",
    data_col: str = "media_data",
    meta_col: str = "media_meta",
    decode: bool = False,
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    With ``decode=False`` (default) computes byte-level features only
    (md5 fingerprint + a 8-bucket byte histogram) — deterministic, testable,
    and exactly the I/O shape a real decoder would see; the decoded columns
    (width/height/channels/px_*) are NULL. With ``decode=True`` each blob
    runs through decode_media and the pixel statistics are real (an unknown
    media type raises, by contract).

    The output id column keeps the INPUT's name and type (r6 ADVICE: it was
    hard-coded doc_id/Long — a silent rename, and non-long ids failed at
    Arrow serialization time)."""
    out_schema = _spliced_schema(
        media, id_col, list(MEDIA_FEATURES_SCHEMA.fields[1:])
    )

    def _batches(it: Iterator) -> Iterator:
        import hashlib

        import numpy as np
        import pandas as pd

        decoded_keys = (
            "width", "height", "channels", "px_mean", "px_min", "px_max"
        )
        for pdf in it:
            out: dict[str, list] = {f.name: [] for f in out_schema.fields}
            for doc_id, blob, meta in zip(
                pdf[id_col], pdf[data_col], pdf[meta_col]
            ):
                out[id_col].append(doc_id)
                if blob is None or meta is None:
                    # dropped-payload row (realistic at ingest scale): keep
                    # the id, NULL every feature — one bad row must not
                    # kill the task (bytes(None) raises)
                    out["media_type"].append(
                        None if meta is None else meta["media_type"]
                    )
                    for k in ("n_bytes", "content_md5",
                              "byte_histogram_head", *decoded_keys):
                        out[k].append(None)
                    continue
                media_type = meta["media_type"]
                b = bytes(blob)
                decoded = decode_media(b, media_type) if decode else None
                # vectorized 8-bucket histogram of the first 4 KiB (the
                # pure-Python per-byte loop dominated this hot path)
                head = np.frombuffer(b[:4096], np.uint8)
                hist = np.bincount(head >> 5, minlength=8).tolist()
                out["media_type"].append(media_type)
                out["n_bytes"].append(len(b))
                out["content_md5"].append(hashlib.md5(b).hexdigest())
                out["byte_histogram_head"].append(hist)
                if decoded is None:
                    for k in decoded_keys:
                        out[k].append(None)
                else:
                    px = decoded["pixels"]
                    out["width"].append(decoded["width"])
                    out["height"].append(decoded["height"])
                    out["channels"].append(decoded["channels"])
                    out["px_mean"].append(float(px.mean()))
                    out["px_min"].append(int(px.min()))
                    out["px_max"].append(int(px.max()))
            yield pd.DataFrame(out)

    cols = media.select(id_col, data_col, meta_col)
    return cols.mapInPandas(_batches, schema=out_schema)


# --- resize (brief: "decode / feature-extract / resize / frame-sample") -----


def resize_nearest(pixels, out_w: int, out_h: int):
    """Nearest-neighbor resize of an (h, w[, c]) uint8 array — pure numpy
    index mapping, no codec library. Nearest (not bilinear) keeps the
    operation exactly reproducible across platforms (no float filter
    kernels), which is what a dedup/fingerprinting pipeline wants."""
    import numpy as np

    px = np.asarray(pixels)
    h, w = px.shape[:2]
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return np.ascontiguousarray(px[ys][:, xs])


def resize_media(
    media: DataFrame,
    out_w: int,
    out_h: int,
    *,
    id_col: str = "doc_id",
    data_col: str = "media_data",
    meta_col: str = "media_meta",
) -> DataFrame:
    """decode -> nearest-neighbor resize -> re-encode, Arrow-batched.
    Output rows carry the re-encoded payload (netpbm: PPM for RGB, PGM for
    grayscale — BMP inputs come back as PPM) and refreshed metadata. Unknown
    media types raise via decode_media, never pass through silently. The id
    column keeps the input's name and type (r6 ADVICE)."""
    out_schema = _spliced_schema(
        media,
        id_col,
        [
            T.StructField("media_data", T.BinaryType()),
            T.StructField("media_meta", MEDIA_META_SCHEMA),
        ],
    )

    def _batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            rows = []
            for doc_id, blob, meta in zip(
                pdf[id_col], pdf[data_col], pdf[meta_col]
            ):
                if blob is None or meta is None:
                    # same dropped-payload policy as extract_media_features:
                    # keep the id, NULL the payload — one bad row must not
                    # kill the task (bytes(None) raises)
                    rows.append(
                        {id_col: doc_id, "media_data": None,
                         "media_meta": None}
                    )
                    continue
                decoded = decode_media(bytes(blob), meta["media_type"])
                px = resize_nearest(decoded["pixels"], out_w, out_h)
                if decoded["channels"] == 1:
                    data = encode_pgm(px.reshape(out_h, out_w))
                    mt = PGM_MEDIA_TYPE
                else:
                    data = encode_ppm(px)
                    mt = PPM_MEDIA_TYPE
                rows.append(
                    {
                        id_col: doc_id,
                        "media_data": data,
                        "media_meta": {
                            "media_type": mt,
                            "n_bytes": len(data),
                            "width": out_w,
                            "height": out_h,
                        },
                    }
                )
            yield pd.DataFrame(rows)

    return media.select(id_col, data_col, meta_col).mapInPandas(
        _batches, schema=out_schema
    )


# --- frame sampling over a multi-frame container ----------------------------
#
# Real video codecs (H.264 etc.) need ffmpeg-class libraries this container
# does not ship; rather than stub the whole path, the frame-sampling
# plumbing runs for REAL over the simplest possible container — a raw
# concatenation of binary netpbm frames (P5/P6 back to back, each
# self-describing). The Spark-side shape (binary column in, one row per
# sampled frame out, Arrow batches, even-stride selection) is exactly what
# an ffmpeg-backed decoder would plug into via _DECODERS.

VIDEO_PNM_MEDIA_TYPE = "video/x-raw-pnm"

FRAME_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("px_mean", T.DoubleType()),
    ]
)


def encode_pnm_video(frames) -> bytes:
    """Concatenate frames ((h, w, 3) RGB or (h, w) grayscale arrays) into
    the raw netpbm container."""
    out = []
    for f in frames:
        out.append(encode_ppm(f) if getattr(f, "ndim", 3) == 3 else encode_pgm(f))
    return b"".join(out)


def _index_pnm_frames(blob: bytes) -> list[tuple[int, int]]:
    """(offset, length) of every frame — header-only scan, no pixel copies."""
    spans: list[tuple[int, int]] = []
    i = 0
    while i < len(blob):
        _magic, w, h, channels, j = _pnm_header(blob, i)
        end = j + w * h * channels
        if end > len(blob):
            raise ValueError(f"truncated frame raster at offset {i}")
        spans.append((i, end - i))
        i = end
    return spans


def sample_frames(
    blob: bytes,
    n_frames: int,
    *,
    spans: list[tuple[int, int]] | None = None,
) -> list[tuple[int, dict]]:
    """Evenly-strided frame selection: decode only the ~n_frames chosen
    frames (header index first, pixel decode second — the access pattern a
    keyframe-seeking real decoder has). Pass a precomputed ``spans`` index
    to skip the header walk (extract_frame_features indexes once and reuses
    it)."""
    if spans is None:
        spans = _index_pnm_frames(bytes(blob))
    total = len(spans)
    if total == 0:
        return []
    k = min(n_frames, total)
    # even stride, first and last frame always included when k > 1
    idxs = sorted({(i * (total - 1)) // (k - 1) if k > 1 else 0 for i in range(k)})
    out = []
    for idx in idxs:
        off, length = spans[idx]
        out.append((idx, _decode_pnm(blob[off : off + length])))
    return out


def extract_frame_features(
    media: DataFrame,
    *,
    n_frames: int = 3,
    id_col: str = "doc_id",
    data_col: str = "media_data",
) -> DataFrame:
    """One output row per sampled frame per input video — the fan-out shape
    of a frame-embedding pipeline (swap the px_mean stat for a model
    forward pass at the same seam). The id column keeps the input's name
    and type (r6 ADVICE). A NULL payload yields one row with its id and
    NULL frame fields, as the sibling extractors do."""
    out_schema = _spliced_schema(
        media, id_col, list(FRAME_FEATURES_SCHEMA.fields[1:])
    )

    def _batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            out: dict[str, list] = {f.name: [] for f in out_schema.fields}
            for doc_id, blob in zip(pdf[id_col], pdf[data_col]):
                if blob is None:
                    # dropped-payload video: one row with the id and NULL
                    # frame fields — one bad row must not kill the task
                    for name in out:
                        out[name].append(doc_id if name == id_col else None)
                    continue
                b = bytes(blob)
                spans = _index_pnm_frames(b)
                spans_total = len(spans)
                for idx, frame in sample_frames(b, n_frames, spans=spans):
                    out[id_col].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["n_frames"].append(spans_total)
                    out["width"].append(frame["width"])
                    out["height"].append(frame["height"])
                    out["channels"].append(frame["channels"])
                    out["px_mean"].append(float(frame["pixels"].mean()))
            yield pd.DataFrame(out)

    return media.select(id_col, data_col).mapInPandas(
        _batches, schema=out_schema
    )


def attach_fake_videos(
    docs: DataFrame, id_col: str = "doc_id", max_frames: int = 9
) -> DataFrame:
    """Plant a deterministic raw-pnm video per row: 2..max_frames frames of
    fake_image_pixels content, so frame sampling runs end-to-end with no
    codec library."""
    out_type = T.StructType(
        [
            T.StructField("media_data", T.BinaryType()),
            T.StructField("media_meta", MEDIA_META_SCHEMA),
        ]
    )

    @F.pandas_udf(out_type)
    def _mk(ids: pd.Series) -> pd.DataFrame:
        rows = []
        for i in ids:
            n = 2 + int(i) % (max_frames - 1)
            frames = [fake_image_pixels(int(i) * 31 + f) for f in range(n)]
            data = encode_pnm_video(frames)
            h, w = frames[0].shape[:2]
            rows.append(
                {
                    "media_data": data,
                    "media_meta": {
                        "media_type": VIDEO_PNM_MEDIA_TYPE,
                        "n_bytes": len(data),
                        "width": w,
                        "height": h,
                    },
                }
            )
        return pd.DataFrame(rows)

    packed = docs.withColumn("__media", _mk(F.col(id_col)))
    return packed.select(
        *docs.columns,
        F.col("__media.media_data").alias("media_data"),
        F.col("__media.media_meta").alias("media_meta"),
    )


# --- audio: WAV/PCM via stdlib `wave` (r11) ---------------------------------
# The second real modality: RIFF/WAVE PCM needs no codec library — stdlib
# `wave` parses the container, numpy views the interleaved frames. Anything
# compressed (MP3/AAC/Opus) raises at the same boundary as JPEG does for
# images.

WAV_MEDIA_TYPE = "audio/wav"


def encode_wav(samples, sample_rate: int = 16_000) -> bytes:
    """(n,) or (n, c) int16 PCM -> RIFF/WAVE (PCM16), pure stdlib."""
    import io
    import wave

    import numpy as np

    s = np.asarray(samples, dtype=np.int16)
    if s.ndim == 1:
        s = s[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(s.shape[1])
        w.setsampwidth(2)
        w.setframerate(int(sample_rate))
        w.writeframes(np.ascontiguousarray(s).tobytes())
    return buf.getvalue()


def _decode_wav(blob: bytes) -> dict:
    """RIFF/WAVE PCM16 -> dict(sample_rate, channels, n_samples, samples
    ((n, c) int16 numpy array)). Compressed or non-16-bit WAV raises —
    the honest stdlib boundary, mirroring the image decoders."""
    import io
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(bytes(blob)), "rb") as w:
            channels = w.getnchannels()
            width = w.getsampwidth()
            rate = w.getframerate()
            n = w.getnframes()
            if width != 2:
                raise NotImplementedError(
                    f"only PCM16 WAV supported (sample width {width})"
                )
            data = w.readframes(n)
    except wave.Error as e:
        raise ValueError(f"not a PCM WAV file: {e}") from e
    if channels < 1 or len(data) != n * channels * 2:
        raise ValueError("truncated or malformed WAV frames")
    samples = np.frombuffer(data, np.int16).reshape(n, channels)
    return {
        "sample_rate": rate,
        "channels": channels,
        "n_samples": n,
        "samples": samples,
    }


_AUDIO_DECODERS = {WAV_MEDIA_TYPE: _decode_wav}


def decode_audio(blob: bytes, media_type: str) -> dict:
    """The audio codec boundary (the decode_media twin): WAV/PCM decodes in
    pure stdlib; compressed codecs (MP3/AAC/Opus/...) raise
    NotImplementedError so a pipeline never silently fakes a decode."""
    decoder = _AUDIO_DECODERS.get(media_type)
    if decoder is None:
        raise NotImplementedError(
            f"no audio codec available for {media_type!r}: register a "
            "decoder (e.g. ffmpeg-backed) in operators.multimodal."
            "_AUDIO_DECODERS"
        )
    return decoder(bytes(blob))


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("content_md5", T.StringType()),
        # decode=True only; NULL for byte-level-only runs
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("zero_crossing_rate", T.DoubleType()),
    ]
)


def fake_audio_samples(doc_id: int):
    """Deterministic PCM16 test tone: id-derived frequency/length/stereo,
    recomputable by tests. Returns ((n, c) int16 array, sample_rate)."""
    import numpy as np

    i = int(doc_id)
    rate = 8_000
    n = 400 + (i % 7) * 100
    freq = 100.0 + (i % 13) * 55.0
    t = np.arange(n, dtype=np.float64) / rate
    mono = np.round(
        np.sin(2.0 * np.pi * freq * t) * 12_000.0
    ).astype(np.int16)
    if i % 2:
        # stereo rows: right channel phase-shifted a quarter period
        right = np.round(
            np.sin(2.0 * np.pi * freq * t + np.pi / 2.0) * 9_000.0
        ).astype(np.int16)
        return np.stack([mono, right], axis=1), rate
    return mono[:, None], rate


def attach_fake_audio(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Plant a REAL PCM WAV per row (mono/stereo alternating by id) as
    (media_data binary, media_meta struct) — width carries the channel
    count, height the sample count (the meta struct is shared across
    modalities)."""
    out_type = T.StructType(
        [
            T.StructField("media_data", T.BinaryType()),
            T.StructField("media_meta", MEDIA_META_SCHEMA),
        ]
    )

    @F.pandas_udf(out_type)
    def _mk(ids: pd.Series) -> pd.DataFrame:
        rows = []
        for i in ids:
            s, rate = fake_audio_samples(int(i))
            data = encode_wav(s, rate)
            rows.append(
                {
                    "media_data": data,
                    "media_meta": {
                        "media_type": WAV_MEDIA_TYPE,
                        "n_bytes": len(data),
                        "width": s.shape[1],
                        "height": s.shape[0],
                    },
                }
            )
        return pd.DataFrame(rows)

    packed = docs.withColumn("__media", _mk(F.col(id_col)))
    return packed.select(
        *docs.columns,
        F.col("__media.media_data").alias("media_data"),
        F.col("__media.media_meta").alias("media_meta"),
    )


def extract_audio_features(
    media: DataFrame,
    *,
    id_col: str = "doc_id",
    data_col: str = "media_data",
    meta_col: str = "media_meta",
    decode: bool = False,
) -> DataFrame:
    """Arrow-batched audio feature extraction (the extract_media_features
    twin): byte-level features always (md5, size); with ``decode=True``
    each blob runs through decode_audio and the signal statistics are real
    — duration, RMS, peak, zero-crossing rate over the mono mixdown. Same
    null-payload and id-column contracts as the image path."""
    out_schema = _spliced_schema(
        media, id_col, list(AUDIO_FEATURES_SCHEMA.fields[1:])
    )
    decoded_keys = (
        "sample_rate", "channels", "duration_sec", "rms", "peak",
        "zero_crossing_rate",
    )

    def _batches(it: Iterator) -> Iterator:
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in it:
            out: dict[str, list] = {f.name: [] for f in out_schema.fields}
            for doc_id, blob, meta in zip(
                pdf[id_col], pdf[data_col], pdf[meta_col]
            ):
                out[id_col].append(doc_id)
                if blob is None or meta is None:
                    out["media_type"].append(
                        None if meta is None else meta["media_type"]
                    )
                    for k in ("n_bytes", "content_md5", *decoded_keys):
                        out[k].append(None)
                    continue
                b = bytes(blob)
                out["media_type"].append(meta["media_type"])
                out["n_bytes"].append(len(b))
                out["content_md5"].append(hashlib.md5(b).hexdigest())
                if not decode:
                    for k in decoded_keys:
                        out[k].append(None)
                    continue
                d = decode_audio(b, meta["media_type"])
                s = d["samples"].astype(np.float64)
                mono = s.mean(axis=1)
                out["sample_rate"].append(d["sample_rate"])
                out["channels"].append(d["channels"])
                out["duration_sec"].append(
                    d["n_samples"] / float(d["sample_rate"])
                )
                out["rms"].append(float(np.sqrt((mono * mono).mean())))
                out["peak"].append(int(np.abs(d["samples"]).max()))
                signs = np.signbit(mono)
                out["zero_crossing_rate"].append(
                    float((signs[1:] != signs[:-1]).mean())
                    if len(mono) > 1
                    else 0.0
                )
            yield pd.DataFrame(out)

    cols = media.select(id_col, data_col, meta_col)
    return cols.mapInPandas(_batches, schema=out_schema)
