"""Multimodal columns: opaque binary payloads + typed metadata.

The training-data-pipeline pattern (driver north star): media travels
as a ``binary`` column with typed metadata alongside; decode /
feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages so bytes never round-trip row-at-a-time through
Python.

Codecs (stdlib only, one per format):

- **REAL decode**: 24-bit BMP (header parse + pixel array,
  nearest-neighbor resize), non-interlaced 8-bit PNG gray/RGB/RGBA
  (zlib inflate + all five scanline unfilters — `encode_png` /
  `_try_decode_png`, oracle-proven bit-exact per corpus row by
  `png_roundtrip_features`), and 16-bit PCM WAV audio features (RIFF
  parse) — pixel- and sample-exact under pytest golden tests. The image
  decode chain (`_try_decode_image`) is BMP -> PNG -> stub.
- **Deterministic stub fallback** (clearly marked, keyed on the
  payload hash) for every other payload: JPEG/WebP, palette or
  interlaced PNG, compressed audio/video. The Spark-side contract
  (schemas, partitioning, batch shape, null handling) is identical on
  every path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),       # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", T.StructType([
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("duration_ms", T.IntegerType()),
            T.StructField("mime", T.StringType()),
        ])),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)

STUB_FEATURE_DIM = 8


def _payload_digest_ints(payload: bytes, n: int) -> list[int]:
    """STUB decode kernel: deterministic pseudo-decode from sha256 of
    the payload, for payloads no stdlib codec here decodes."""
    import hashlib

    h = hashlib.sha256(payload or b"").digest()
    return [h[i % 32] for i in range(n)]


def encode_bmp(pixels) -> bytes:
    """(h, w, 3) uint8 RGB array -> 24-bit uncompressed BMP bytes
    (BITMAPINFOHEADER, bottom-up rows, 4-byte row padding). Stdlib
    only — the real-codec half of the image path."""
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape[0], px.shape[1]
    row_size = (3 * w + 3) // 4 * 4
    img_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    rows = bytearray()
    pad = b"\x00" * (row_size - 3 * w)
    for y in range(h - 1, -1, -1):  # bottom-up
        rows += px[y, :, ::-1].tobytes() + pad  # RGB -> BGR
    return header + info + bytes(rows)


def _try_decode_bmp(payload):
    """24-bit uncompressed BMP -> (h, w, 3) uint8 RGB array, or None
    when the payload is not a decodable BMP (caller falls back to the
    deterministic stub)."""
    import struct

    import numpy as np

    if not payload or len(payload) < 54 or bytes(payload[:2]) != b"BM":
        return None
    try:
        data_off = struct.unpack_from("<I", payload, 10)[0]
        bi_size, w, h = struct.unpack_from("<Iii", payload, 14)
        planes, bitcount, compression = struct.unpack_from("<HHI", payload, 26)
        if bi_size < 40 or bitcount != 24 or compression != 0 or h <= 0 or w <= 0:
            return None
        row_size = (3 * w + 3) // 4 * 4
        if len(payload) < data_off + row_size * h:
            return None
        raw = np.frombuffer(
            bytes(payload), dtype=np.uint8, count=row_size * h, offset=data_off
        ).reshape(h, row_size)
        bgr = raw[:, : 3 * w].reshape(h, w, 3)[::-1]  # bottom-up -> top-down
        return bgr[:, :, ::-1].copy()  # BGR -> RGB
    except Exception:
        return None


def encode_png(pixels, filter_type: int = 0) -> bytes:
    """uint8 pixel array -> non-interlaced 8-bit PNG bytes, stdlib only
    (zlib deflate + struct chunk framing).  (h, w) encodes grayscale
    (color type 0), (h, w, 3) truecolor, (h, w, 4) truecolor+alpha.
    ``filter_type`` applies one scanline filter to every row (0 none,
    1 sub, 2 up, 3 average, 4 paeth — exposed so tests can exercise
    every decoder unfilter path with real encoded bytes)."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        color_type, ch = 0, 1
        px = px[:, :, None]
    elif px.ndim == 3 and px.shape[2] == 3:
        color_type, ch = 2, 3
    elif px.ndim == 3 and px.shape[2] == 4:
        color_type, ch = 6, 4
    else:
        raise ValueError(f"encode_png: unsupported shape {px.shape}")
    h, w = px.shape[0], px.shape[1]
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"encode_png: bad filter {filter_type}")

    raw = bytearray()
    prev = np.zeros((w, ch), dtype=np.int32)
    for y in range(h):
        row = px[y].astype(np.int32)
        left = np.vstack([np.zeros((1, ch), np.int32), row[:-1]])
        ul = np.vstack([np.zeros((1, ch), np.int32), prev[:-1]])
        if filter_type == 0:
            out = row
        elif filter_type == 1:
            out = row - left
        elif filter_type == 2:
            out = row - prev
        elif filter_type == 3:
            out = row - (left + prev) // 2
        else:  # paeth
            p = left + prev - ul
            pa, pb, pc = abs(p - left), abs(p - prev), abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            out = row - pred
        raw.append(filter_type)
        raw += (out % 256).astype(np.uint8).tobytes()
        prev = row

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _try_decode_png(payload):
    """Non-interlaced 8-bit PNG (gray / RGB / RGBA) -> (h, w, 3) uint8
    RGB array, or None when the payload is not a decodable PNG.  Pure
    stdlib: zlib inflate + all five scanline unfilters.  Gray expands
    to three equal channels and alpha is dropped — the same (h, w, 3)
    contract as the BMP branch, so downstream kernels stay
    codec-agnostic."""
    import struct
    import zlib

    import numpy as np

    if not payload or len(payload) < 8:
        return None
    data = bytes(payload)
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    try:
        pos, ihdr, idat = 8, None, bytearray()
        while pos + 8 <= len(data):
            (length,) = struct.unpack_from(">I", data, pos)
            tag = data[pos + 4 : pos + 8]
            body = data[pos + 8 : pos + 8 + length]
            if tag == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", body)
            elif tag == b"IDAT":
                idat += body
            elif tag == b"IEND":
                break
            pos += 12 + length  # length + tag + body + crc
        if ihdr is None or not idat:
            return None
        w, h, depth, color_type, comp, filt, interlace = ihdr
        channels = {0: 1, 2: 3, 6: 4}.get(color_type)
        if depth != 8 or channels is None or comp or filt or interlace:
            return None  # beyond the lite subset (palette/16-bit/Adam7)
        raw = zlib.decompress(bytes(idat))
        stride = w * channels
        if len(raw) < h * (stride + 1):
            return None
        out = np.zeros((h, stride), dtype=np.uint8)
        prev = np.zeros(stride, dtype=np.int32)
        for y in range(h):
            ft = raw[y * (stride + 1)]
            line = np.frombuffer(
                raw, np.uint8, stride, y * (stride + 1) + 1
            ).astype(np.int32)
            if ft == 0:
                rec = line
            elif ft == 2:
                rec = line + prev
            elif ft in (1, 3, 4):
                # left/upper-left reference the RECONSTRUCTED row, so
                # these three run per-pixel
                rec = np.zeros(stride, dtype=np.int32)
                for x in range(stride):
                    a = rec[x - channels] if x >= channels else 0
                    b = prev[x]
                    c = prev[x - channels] if x >= channels else 0
                    if ft == 1:
                        pred = a
                    elif ft == 3:
                        pred = (a + b) // 2
                    else:
                        p = a + b - c
                        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                        pred = a if pa <= pb and pa <= pc else (
                            b if pb <= pc else c
                        )
                    # wrap NOW: later pixels read this as their left
                    # neighbor, and the spec reconstructs mod 256
                    rec[x] = (line[x] + pred) % 256
            else:
                return None
            rec %= 256
            out[y] = rec.astype(np.uint8)
            prev = rec
        px = out.reshape(h, w, channels)
        if channels == 1:
            return np.repeat(px, 3, axis=2)
        return px[:, :, :3].copy()
    except Exception:
        return None


def _try_decode_image(payload):
    """Image decode chain: stdlib 24-bit BMP -> stdlib 8-bit PNG ->
    None (caller falls back to the deterministic hash stub). Both
    codecs yield the same (h, w, 3) uint8 RGB contract, so the
    feature/resize kernels are codec-agnostic."""
    px = _try_decode_bmp(payload)
    if px is not None:
        return px
    return _try_decode_png(payload)


def _try_decode_wav(payload):
    """16-bit PCM mono/stereo WAV -> (sample_rate, int16 numpy array of
    the first channel), or None for non-WAV payloads."""
    import io
    import wave

    import numpy as np

    if not payload or len(payload) < 12 or bytes(payload[:4]) != b"RIFF":
        return None
    try:
        with wave.open(io.BytesIO(bytes(payload)), "rb") as wf:
            if wf.getsampwidth() != 2:
                return None
            n = wf.getnframes()
            arr = np.frombuffer(wf.readframes(n), dtype="<i2")
            ch = wf.getnchannels()
            if ch > 1:
                arr = arr[::ch]
            return wf.getframerate(), arr
    except Exception:
        return None


def media_from_documents(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic media table derived from a text corpus: payload =
    UTF-8 bytes of the text, kind/metadata keyed on the id. Gives the
    multimodal operators a reproducible input both engines (and the
    DuckDB oracle) can construct — the at-scale analog is a parquet
    table with a real binary column."""
    mid = F.col(id_col).cast("long")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        F.pmod(mid, 3).cast("int") + 1,
    )
    return docs.select(
        mid.alias("media_id"),
        kind.alias("kind"),
        F.encode(F.coalesce(F.col(text_col), F.lit("")), "UTF-8").alias("payload"),
        F.struct(
            (F.lit(64) + F.pmod(mid, 8)).cast("int").alias("width"),
            (F.lit(48) + F.pmod(mid, 6)).cast("int").alias("height"),
            (F.lit(1000) * (F.lit(1) + F.pmod(mid, 7))).cast("int").alias("duration_ms"),
            F.concat(F.lit("x/"), kind).alias("mime"),
        ).alias("meta"),
    )


def png_roundtrip_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per document: build a deterministic grayscale image from the
    md5 hex of its id, ENCODE it to real PNG bytes (scanline filter
    ``id % 5`` — the corpus collectively exercises all five), DECODE
    through the stdlib codec, and emit integer features of the decoded
    pixels: (id, width, height, px_sum, mean_milli).

    The DuckDB oracle computes the same features arithmetically
    (``ascii(substr(md5(id), i % 32 + 1, 1))`` summed over the pixel
    grid) WITHOUT touching PNG — so a value-hash match proves the
    encode -> deflate -> inflate -> unfilter pipeline reconstructs
    every pixel bit-exactly on every row of the corpus.

    Scale shape: one Arrow-batched mapInPandas over the id projection
    (``fan_out`` first — a single-file scan would otherwise feed the
    whole corpus to one Python worker); no driver traffic; image bytes
    live and die inside the kernel batch."""
    import pyspark.sql.types as T

    from ..scale import fan_out

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("px_sum", T.LongType()),
            T.StructField("mean_milli", T.LongType()),
        ]
    )

    def kernel(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {c.name: [] for c in schema.fields}
            for mid in pdf[id_col]:
                mid = int(mid)
                w, h = 8 + mid % 5, 6 + mid % 4
                hx = hashlib.md5(str(mid).encode()).hexdigest()
                flat = np.frombuffer(
                    (hx * (w * h // 32 + 1)).encode()[: w * h], np.uint8
                )
                px = _try_decode_png(
                    encode_png(flat.reshape(h, w), filter_type=mid % 5)
                )
                s = int(px[:, :, 0].astype(np.int64).sum())
                out[id_col].append(mid)
                out["width"].append(px.shape[1])
                out["height"].append(px.shape[0])
                out["px_sum"].append(s)
                out["mean_milli"].append(s * 1000 // (w * h))
            yield pd.DataFrame(out)

    return fan_out(docs.select(F.col(id_col).cast("long"))).mapInPandas(
        kernel, schema
    )


def image_features(media: DataFrame, batch_hint: int | None = None) -> DataFrame:
    """Decode + feature-extract images via Arrow-batched mapInPandas.

    The kernel sees pandas batches (zero-copy Arrow transfer); output
    partitioning follows the input — no shuffle. Decode is REAL for
    24-bit BMP payloads (stdlib parse; Rec.601 luma, 8-vertical-band
    mean-luma feature) and non-interlaced 8-bit PNG payloads (stdlib
    inflate + unfilter); the deterministic hash stub is the fallback
    for every other payload.
    """
    imgs = media.filter(F.col("kind") == "image").select("media_id", "payload", "meta")

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            widths, heights, lumas, feats = [], [], [], []
            for p, m in zip(pdf["payload"], pdf["meta"]):
                px = _try_decode_image(p)
                if px is not None:
                    h, w = px.shape[0], px.shape[1]
                    luma = (
                        0.299 * px[:, :, 0]
                        + 0.587 * px[:, :, 1]
                        + 0.114 * px[:, :, 2]
                    ) / 255.0
                    bands = np.array_split(luma, STUB_FEATURE_DIM, axis=0)
                    widths.append(w)
                    heights.append(h)
                    lumas.append(float(luma.mean()))
                    feats.append([float(b.mean()) for b in bands])
                else:
                    f = [
                        float(v) / 255.0
                        for v in _payload_digest_ints(p, STUB_FEATURE_DIM)
                    ]
                    widths.append(m["width"])
                    heights.append(m["height"])
                    lumas.append(sum(f) / len(f))
                    feats.append(f)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": widths,
                    "height": heights,
                    "mean_luma": lumas,
                    "feature": feats,
                }
            )

    return imgs.mapInPandas(kernel, IMAGE_FEATURES_SCHEMA)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize images to (width, height). REAL nearest-neighbor resample
    + BMP re-encode for 24-bit BMP and 8-bit PNG payloads — output
    payloads normalize to BMP either way;
    deterministic stub rewrite when no codec can decode the payload."""
    imgs = media.filter(F.col("kind") == "image")

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_payload = []
            for p in pdf["payload"]:
                px = _try_decode_image(p)
                if px is not None:
                    h, w = px.shape[0], px.shape[1]
                    ys = (np.arange(height) * h) // height
                    xs = (np.arange(width) * w) // width
                    out_payload.append(encode_bmp(px[ys][:, xs]))
                else:
                    out_payload.append(
                        bytes(_payload_digest_ints(p, width * height // 64))
                    )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": width,
                    "height": height,
                    "payload": out_payload,
                }
            )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    return imgs.mapInPandas(kernel, schema)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """STUB frame sampling for video rows: one output row per sampled
    frame (duration_ms / every_ms frames). The fan-out shape — one
    input row to many frame rows inside an Arrow batch — is the real
    contract a decoder plugs into."""
    vids = media.filter(F.col("kind") == "video").select("media_id", "payload", "meta")

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            ids, nos, frames = [], [], []
            for mid, payload, meta in zip(pdf["media_id"], pdf["payload"], pdf["meta"]):
                n_frames = max(int(meta["duration_ms"]) // every_ms, 1)
                for k in range(n_frames):
                    ids.append(mid)
                    nos.append(k)
                    frames.append(bytes(_payload_digest_ints(payload + bytes([k]), 16)))
            yield pd.DataFrame({"media_id": ids, "frame_no": nos, "frame": frames})

    return vids.mapInPandas(kernel, FRAME_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("mean_amp", T.DoubleType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

STUB_SAMPLE_RATE = 16_000


def audio_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract audio rows — same Arrow-batched
    mapInPandas contract as :func:`image_features`: batches in, no
    shuffle. Decode is REAL for 16-bit PCM WAV payloads (RIFF parse;
    mean |amplitude| and 8-band mean-|amplitude| feature, both
    normalized by 32768) and falls back to the sha256 stub otherwise
    (``n_samples`` then derives from metadata duration at the stub
    16 kHz rate)."""
    auds = media.filter(F.col("kind") == "audio").select("media_id", "payload", "meta")

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            real = [_try_decode_wav(p) for p in pdf["payload"]]
            if any(r is not None for r in real):
                rates, counts, amps, feats = [], [], [], []
                for r, p in zip(real, pdf["payload"]):
                    if r is not None:
                        rate, arr = r
                        a = np.abs(arr.astype(np.float64)) / 32768.0
                        bands = (
                            np.array_split(a, STUB_FEATURE_DIM)
                            if len(a)
                            else [np.zeros(1)] * STUB_FEATURE_DIM
                        )
                        rates.append(rate)
                        counts.append(len(arr))
                        amps.append(float(a.mean()) if len(a) else 0.0)
                        feats.append([float(b.mean()) for b in bands])
                    else:
                        f = [
                            float(v) / 255.0
                            for v in _payload_digest_ints(p, STUB_FEATURE_DIM)
                        ]
                        rates.append(STUB_SAMPLE_RATE)
                        counts.append(None)
                        amps.append(sum(f) / len(f))
                        feats.append(f)
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"],
                        "sample_rate": rates,
                        "n_samples": [
                            c
                            if c is not None
                            else int(m["duration_ms"]) * STUB_SAMPLE_RATE // 1000
                            for c, m in zip(counts, pdf["meta"])
                        ],
                        "mean_amp": amps,
                        "feature": feats,
                    }
                )
                continue
            feats = [
                [float(v) / 255.0 for v in _payload_digest_ints(p, STUB_FEATURE_DIM)]
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "sample_rate": STUB_SAMPLE_RATE,
                    "n_samples": [
                        int(m["duration_ms"]) * (STUB_SAMPLE_RATE // 1000)
                        for m in pdf["meta"]
                    ],
                    "mean_amp": [sum(f) / len(f) for f in feats],
                    "feature": feats,
                }
            )

    return auds.mapInPandas(kernel, AUDIO_FEATURES_SCHEMA)


def image_dhash(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Perceptual difference-hash (dHash) per image: nearest-neighbor
    resize to a 9x8 grayscale grid, then one bit per horizontally
    adjacent pixel pair (right > left) — 64 bits stored as two 32-bit
    halves ``dh_hi`` (rows 0-3) / ``dh_lo`` (rows 4-7) so no signed
    bigint ever needs bit 63. Near-duplicate images differ in a few
    bits; resizing first makes the hash robust to scale.

    Images are the corpus's deterministic synthetic grid (pixel i =
    ascii of ``md5(id)`` hex char i mod 32, the exact model
    ``png_roundtrip_features`` pins end-to-end through the real PNG
    codec) — but the kernel does NOT hash the model directly: each
    grid is ENCODED to real PNG bytes (scanline filter ``id % 5``)
    and DECODED back through the stdlib codec, and the dHash is
    computed from the DECODED pixels.  So the oracle-checked path
    exercises the full decode→hash composition ("perceptual hash of
    an image", not of a hash-derived array), while the DuckDB oracle
    still reproduces every bit arithmetically because the codec
    round-trip is bit-exact.  For externally-supplied payloads use
    :func:`image_dhash_bytes`, which decodes arbitrary PNG/BMP bytes
    with the same downstream hash.

    One Arrow-batched mapInPandas pass over the id projection; hashes
    are 2 longs per image regardless of resolution.
    """
    import pyspark.sql.types as T

    from ..scale import fan_out

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("dh_hi", T.LongType()),
            T.StructField("dh_lo", T.LongType()),
        ]
    )

    def kernel(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, his, los = [], [], []
            for mid in pdf[id_col]:
                mid = int(mid)
                w, h = 8 + mid % 5, 6 + mid % 4
                hx = hashlib.md5(str(mid).encode()).hexdigest()
                flat = np.frombuffer(
                    (hx * (w * h // 32 + 1)).encode()[: w * h], np.uint8
                )
                # real decode in the hot path: grid -> PNG bytes ->
                # stdlib inflate/unfilter -> pixels -> hash
                px = _try_decode_png(
                    encode_png(flat.reshape(h, w), filter_type=mid % 5)
                )
                hi, lo = _dhash_of_gray(px[:, :, 0])
                ids.append(mid)
                his.append(hi)
                los.append(lo)
            yield pd.DataFrame(
                {"media_id": ids, "dh_hi": his, "dh_lo": los}
            )

    return fan_out(docs.select(F.col(id_col).cast("long"))).mapInPandas(
        kernel, schema
    )


def _dhash_of_gray(gray) -> tuple[int, int]:
    """(h, w) grayscale array -> 64-bit dHash as (hi, lo) 32-bit
    halves: nearest-neighbor sample to a 9x8 grid, one bit per
    horizontally adjacent pair (right > left)."""
    import numpy as np

    g = np.asarray(gray)
    h, w = g.shape
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(9) * w) // 9
    g9 = g[np.ix_(ys, xs)].astype(np.int64)
    bits = (g9[:, 1:] > g9[:, :-1]).astype(np.int64)  # 8x8
    row_bytes = (bits << np.arange(8)).sum(axis=1)
    hi = int(sum(int(row_bytes[y]) << (8 * y) for y in range(4)))
    lo = int(sum(int(row_bytes[y + 4]) << (8 * y) for y in range(4)))
    return hi, lo


def image_dhash_bytes(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Perceptual dHash of REAL image payload bytes: each row's
    ``payload_col`` is decoded as PNG (stdlib inflate + unfilter) or
    24-bit BMP, converted to grayscale with exact integer Rec.601
    luma ``(299·R + 587·G + 114·B) div 1000``, and hashed with the
    same 9x8 difference grid as :func:`image_dhash` — so hashes from
    the corpus model and from decoded files are directly comparable
    and feed the same :func:`dhash_candidates` banding.  Rows whose
    payload decodes as neither format drop (callers audit the count
    delta; a quality pipeline quarantines them upstream).

    One Arrow-batched mapInPandas pass; payload bytes live and die
    inside the kernel batch, output is 2 longs per image.
    """
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("dh_hi", T.LongType()),
            T.StructField("dh_lo", T.LongType()),
        ]
    )
    src = media.select(
        F.col(id_col).cast("long").alias("media_id"), F.col(payload_col)
    )

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, his, los = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                px = _try_decode_png(payload)
                if px is None:
                    px = _try_decode_bmp(payload)
                if px is None:
                    continue
                rgb = px.astype(np.int64)
                gray = (
                    299 * rgb[:, :, 0] + 587 * rgb[:, :, 1] + 114 * rgb[:, :, 2]
                ) // 1000
                hi, lo = _dhash_of_gray(gray)
                ids.append(int(mid))
                his.append(hi)
                los.append(lo)
            yield pd.DataFrame(
                {"media_id": ids, "dh_hi": his, "dh_lo": los}
            )

    return src.mapInPandas(kernel, schema)


def dhash_candidates(
    hashes: DataFrame, max_bucket: int = 50
) -> DataFrame:
    """Near-duplicate image candidates from dHashes via 16-bit
    banding — the simhash/LSH recipe applied to the perceptual hash:
    two images within Hamming distance 3 of each other agree on at
    least one of the four 16-bit bands (pigeonhole), so candidates
    come from band-bucket posting lists (ONE exchange, pairs form
    inside each <= ``max_bucket`` list — the same hot-bucket f² guard
    as the text LSH family), and the exact Hamming distance
    (``bit_count(xor)`` on each half, JVM-side) verifies every
    candidate. All-pairs comparison is never in the plan.

    Output: (id_a, id_b, hamming) with id_a < id_b, one row per
    candidate pair regardless of how many bands it collided in.
    """
    bands = hashes.select(
        "media_id",
        "dh_hi",
        "dh_lo",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("b"),
                    F.expr("dh_hi div 65536").alias("v"),
                ),
                F.struct(
                    F.lit(1).alias("b"), F.expr("dh_hi % 65536").alias("v")
                ),
                F.struct(
                    F.lit(2).alias("b"),
                    F.expr("dh_lo div 65536").alias("v"),
                ),
                F.struct(
                    F.lit(3).alias("b"), F.expr("dh_lo % 65536").alias("v")
                ),
            )
        ).alias("bv"),
    ).select("media_id", "dh_hi", "dh_lo", "bv.b", "bv.v")
    # shared posting-list pair kernel (scale.bucket_pairs) — same
    # one-exchange, in-group generation as the FastSS/text-LSH ops
    from ..scale import bucket_pairs

    cand = (
        bucket_pairs(
            bands, ["b", "v"], ["media_id", "dh_hi", "dh_lo"], max_bucket
        )
        .select(
            F.col("a_media_id").alias("id_a"),
            F.col("a_dh_hi").alias("hi_a"),
            F.col("a_dh_lo").alias("lo_a"),
            F.col("b_media_id").alias("id_b"),
            F.col("b_dh_hi").alias("hi_b"),
            F.col("b_dh_lo").alias("lo_b"),
        )
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        (
            F.bit_count(F.expr("hi_a ^ hi_b"))
            + F.bit_count(F.expr("lo_a ^ lo_b"))
        )
        .cast("bigint")
        .alias("hamming"),
    )
