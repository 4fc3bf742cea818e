"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video travel as ``binary`` columns with a metadata
struct; decode and feature extraction run as one mapInArrow stage
over Arrow batches. REAL pure-numpy decoders cover
P6 PPM, farbfeld, 24/32bpp BMP, 8-bit RGB(A) non-interlaced PNG
(stdlib zlib) and PCM16 WAV; formats needing external libs (jpeg,
webp, mp4, compressed audio) stay STUBBED: ``decode_stub`` raises
NotImplementedError unless ``deterministic_fake=True``, which
produces a seeded fake feature vector so the Spark-side plumbing —
schema, batching, partitioning, UDF signatures — is real and testable.

Scale notes: binary payloads dominate row size, so feature extraction
must select ONLY (id, payload) into the UDF stage (column pruning
keeps the scan narrow), and the output drops the payload immediately.
spark.sql.execution.arrow.maxRecordsPerBatch bounds per-batch memory;
for multi-MB payloads deployments lower it (e.g. 64) so a batch stays
well under task memory.
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),   # image | audio | video
        T.StructField("format", T.StringType(), True),  # png | jpg | wav | ...
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                    T.StructField("n_channels", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

_FEATURE_DIM = 32

_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload_sha256", T.StringType(), False),
        T.StructField("payload_bytes", T.LongType(), False),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


# -- real decoders: uncompressed formats, pure numpy ----------------------
# Compressed formats (png/jpg/mp4) still need external libs and stay
# stubbed; these three cover the "image columns are real" path end to
# end (round-4 verdict: finish what the sandbox allows).

def _decode_ppm(payload: bytes) -> np.ndarray:
    """Binary P6 PPM, maxval <= 255 -> (h, w, 3) float64 in [0, 1]."""
    # header = magic, width, height, maxval as whitespace-separated
    # tokens with '#' comments; exactly one whitespace byte after
    # maxval, then raw samples
    tokens: list[int] = []
    i = 2  # past b"P6"
    while len(tokens) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        tokens.append(int(payload[i:j]))
        i = j
    w, h, maxval = tokens
    if not (0 < maxval <= 255):
        raise ValueError(f"PPM maxval {maxval} unsupported (8-bit only)")
    data = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=i + 1)
    return data.reshape(h, w, 3).astype(np.float64) / float(maxval)


def _decode_farbfeld(payload: bytes) -> np.ndarray:
    """farbfeld (suckless): 8B magic | u32BE w | u32BE h | u16BE RGBA
    rows -> (h, w, 3) float64 in [0, 1] (alpha dropped)."""
    w, h = (int(x) for x in np.frombuffer(payload, dtype=">u4", count=2, offset=8))
    data = np.frombuffer(payload, dtype=">u2", count=w * h * 4, offset=16)
    return data.reshape(h, w, 4)[:, :, :3].astype(np.float64) / 65535.0


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed BI_RGB BMP, 24/32 bpp, BITMAPINFOHEADER ->
    (h, w, 3) float64 in [0, 1]. Bottom-up rows flipped; 4-byte row
    padding honored; BGR(A) -> RGB."""
    off = int(np.frombuffer(payload, "<u4", 1, 10)[0])
    width = int(np.frombuffer(payload, "<i4", 1, 18)[0])
    height = int(np.frombuffer(payload, "<i4", 1, 22)[0])
    bpp = int(np.frombuffer(payload, "<u2", 1, 28)[0])
    compression = int(np.frombuffer(payload, "<u4", 1, 30)[0])
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(f"BMP unsupported: bpp={bpp} compression={compression}")
    nch = bpp // 8
    stride = (width * nch + 3) // 4 * 4
    rows = np.frombuffer(payload, np.uint8, stride * abs(height), off)
    px = rows.reshape(abs(height), stride)[:, : width * nch].reshape(
        abs(height), width, nch
    )
    if height > 0:  # bottom-up storage
        px = px[::-1]
    return px[:, :, 2::-1].astype(np.float64) / 255.0  # BGR(A)->RGB


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _decode_png(payload: bytes) -> np.ndarray:
    """8-bit truecolor PNG (color type 2 RGB / 6 RGBA), non-interlaced
    -> (h, w, 3) float64 in [0, 1]; alpha dropped. Pure stdlib zlib +
    numpy: chunk walk, IDAT concat + inflate, per-row unfilter of all
    five PNG filter types. None/Up are whole-row vector ops and Sub is
    a per-channel uint8 cumsum (wrap == mod 256); Average/Paeth depend
    on the RECONSTRUCTED left pixel, so those rows run an O(width)
    loop of channel-vector steps — fine for fixture/thumbnail sizes;
    megapixel hot paths belong to a native decoder. Palette, 16-bit,
    grayscale and interlaced images raise ValueError (they fall to the
    decode_stub contract like any other unsupported payload)."""
    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(payload):
        length = int.from_bytes(payload[pos : pos + 4], "big")
        ctype = payload[pos + 4 : pos + 8]
        if ctype == b"IHDR":
            ihdr = payload[pos + 8 : pos + 8 + length]
        elif ctype == b"IDAT":
            idat.append(payload[pos + 8 : pos + 8 + length])
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + body skipped above + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    bit_depth, color_type, _comp, _filt, interlace = ihdr[8:13]
    if bit_depth != 8 or color_type not in (2, 6) or interlace != 0:
        raise ValueError(
            f"PNG unsupported: depth={bit_depth} color_type={color_type} "
            f"interlace={interlace} (8-bit RGB/RGBA non-interlaced only)"
        )
    nch = 3 if color_type == 2 else 4
    raw = zlib.decompress(b"".join(idat))
    stride = w * nch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline data length mismatch")
    arr = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    recon = np.zeros((h, stride), np.int64)
    for y in range(h):
        f = int(arr[y, 0])
        line = arr[y, 1:].astype(np.int64)
        prior = recon[y - 1] if y else np.zeros(stride, np.int64)
        if f == 0:  # None
            recon[y] = line
        elif f == 2:  # Up
            recon[y] = (line + prior) & 255
        elif f == 1:  # Sub: per-channel cumsum; uint8 wrap IS mod 256
            recon[y] = np.add.accumulate(
                arr[y, 1:].reshape(w, nch), axis=0, dtype=np.uint8
            ).reshape(-1)
        elif f == 3:  # Average
            row, pri = line.reshape(w, nch), prior.reshape(w, nch)
            out = np.empty((w, nch), np.int64)
            left = np.zeros(nch, np.int64)
            for x in range(w):
                left = (row[x] + (left + pri[x]) // 2) & 255
                out[x] = left
            recon[y] = out.reshape(-1)
        elif f == 4:  # Paeth
            row, pri = line.reshape(w, nch), prior.reshape(w, nch)
            out = np.empty((w, nch), np.int64)
            left = np.zeros(nch, np.int64)
            ul = np.zeros(nch, np.int64)
            for x in range(w):
                b = pri[x]
                p = left + b - ul
                pa, pb, pc = np.abs(p - left), np.abs(p - b), np.abs(p - ul)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, b, ul)
                )
                left = (row[x] + pred) & 255
                out[x] = left
                ul = b
            recon[y] = out.reshape(-1)
        else:
            raise ValueError(f"PNG filter type {f} invalid")
    return recon.reshape(h, w, nch)[:, :, :3].astype(np.float64) / 255.0


def decode_image(payload: bytes) -> np.ndarray:
    """Sniff + decode an image payload -> (h, w, 3) float64 in [0, 1].
    Real pure-numpy decoders: P6 PPM, farbfeld, 24/32bpp BMP, and
    8-bit RGB(A) non-interlaced PNG (stdlib zlib). Raises ValueError
    for unrecognized magic (jpeg/webp/… land in decode_stub's
    NotImplementedError / fake branch)."""
    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    if payload[:8] == b"farbfeld":
        return _decode_farbfeld(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:8] == _PNG_MAGIC:
        return _decode_png(payload)
    raise ValueError(
        "unrecognized image magic (supported: P6 PPM, farbfeld, BMP, PNG)"
    )


def encode_ppm(px: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> binary P6 PPM."""
    h, w, _ = px.shape
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(px, np.uint8).tobytes()


def encode_farbfeld(px: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> farbfeld (16-bit: v*257, alpha opaque).
    v*257/65535 == v/255 exactly in IEEE double (same real quotient),
    so a farbfeld round-trip decodes bit-identically to PPM/BMP."""
    h, w, _ = px.shape
    out = np.full((h, w, 4), 65535, dtype=">u2")
    out[:, :, :3] = px.astype(">u2") * 257
    return (
        b"farbfeld"
        + np.array([w, h], dtype=">u4").tobytes()
        + out.tobytes()
    )


def encode_bmp(px: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> 24bpp BI_RGB BMP (bottom-up, padded rows)."""
    h, w, _ = px.shape
    stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)  # flip + RGB->BGR
    data = rows.tobytes()
    header = (
        b"BM"
        + np.array([54 + len(data), 0, 54], dtype="<u4").tobytes()  # size, rsvd, off
        + np.array([40, w, h], dtype="<i4").tobytes()               # dib, w, h
        + np.array([1, 24], dtype="<u2").tobytes()                  # planes, bpp
        + np.array([0, len(data), 2835, 2835, 0, 0], dtype="<u4").tobytes()
    )
    return header + data


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        len(body).to_bytes(4, "big")
        + ctype
        + body
        + (zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
    )


def encode_png(px: np.ndarray, filters: list[int] | None = None) -> bytes:
    """(h, w, 3) uint8 -> 8-bit truecolor non-interlaced PNG with real
    CRCs. ``filters`` picks the PNG filter type per row (default all 0
    = None); passing mixed types exercises every unfilter path in
    _decode_png against externally-valid files. Filtering is computed
    from the RAW bytes (encoder side needs no reconstruction), all
    whole-row vector ops."""
    h, w, _ = px.shape
    px = np.ascontiguousarray(px, np.uint8)
    if filters is None:
        filters = [0] * h
    nch = 3
    zeros = np.zeros(nch, np.int64)
    lines: list[bytes] = []
    prior = np.zeros(w * nch, np.int64)
    for y in range(h):
        raw = px[y].reshape(-1).astype(np.int64)
        left = np.concatenate([zeros, raw[:-nch]])
        f = filters[y]
        if f == 0:
            filt = raw
        elif f == 1:
            filt = (raw - left) & 255
        elif f == 2:
            filt = (raw - prior) & 255
        elif f == 3:
            filt = (raw - (left + prior) // 2) & 255
        elif f == 4:
            ul = np.concatenate([zeros, prior[:-nch]])
            p = left + prior - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prior), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prior, ul)
            )
            filt = (raw - pred) & 255
        else:
            raise ValueError(f"PNG filter type {f} invalid")
        lines.append(bytes([f]) + filt.astype(np.uint8).tobytes())
        prior = raw
    ihdr = np.array([w, h], ">u4").tobytes() + bytes([8, 2, 0, 0, 0])
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(lines), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM (16-bit LE) -> ((n_frames, n_channels) float64 in
    [-1, 1), sample_rate). Walks the chunk list (fmt / data may be
    preceded by LIST etc.); uncompressed PCM only."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int(np.frombuffer(payload, "<u4", 1, pos + 4)[0])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAVE missing fmt/data chunk")
    audio_format = int(np.frombuffer(fmt, "<u2", 1, 0)[0])
    n_ch = int(np.frombuffer(fmt, "<u2", 1, 2)[0])
    rate = int(np.frombuffer(fmt, "<u4", 1, 4)[0])
    bits = int(np.frombuffer(fmt, "<u2", 1, 14)[0])
    if audio_format != 1 or bits != 16:
        raise ValueError(f"unsupported WAVE: format={audio_format} bits={bits}")
    raw = np.frombuffer(data, "<i2", len(data) // (2 * n_ch) * n_ch)
    return raw.reshape(-1, n_ch).astype(np.float64) / 32768.0, rate


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """(n_frames, n_channels) int16 -> minimal PCM16 RIFF/WAVE."""
    n, ch = samples.shape
    data = np.ascontiguousarray(samples, "<i2").tobytes()
    fmt = (
        np.array([1, ch], "<u2").tobytes()
        + np.array([rate, rate * ch * 2], "<u4").tobytes()
        + np.array([ch * 2, 16], "<u2").tobytes()
    )
    body = b"WAVE" + b"fmt " + np.array([len(fmt)], "<u4").tobytes() + fmt
    body += b"data" + np.array([len(data)], "<u4").tobytes() + data
    return b"RIFF" + np.array([len(body)], "<u4").tobytes() + body


def audio_features(samples: np.ndarray, rate: int) -> np.ndarray:
    """Deterministic 32-dim audio descriptor, oracle-reproducible from
    integer sample values: [n_frames, rate, n_channels, duration_ms,
    rms, peak_abs, zero_crossings(ch 0), 25 zero pads]."""
    n, ch = samples.shape
    mono = samples[:, 0]
    out = np.zeros(_FEATURE_DIM, dtype=np.float64)
    out[0], out[1], out[2] = n, rate, ch
    out[3] = 1000.0 * n / rate
    out[4] = float(np.sqrt(np.mean(samples**2))) if n else 0.0
    out[5] = float(np.abs(samples).max()) if n else 0.0
    # sign convention: >= 0 is positive (so the count is integral
    # arithmetic over int16 values — SQL reproduces it exactly)
    out[6] = float(np.count_nonzero((mono[1:] >= 0) != (mono[:-1] >= 0)))
    return out.astype(np.float32)


_LUMA_BINS = 16


def image_features(px: np.ndarray) -> np.ndarray:
    """Deterministic 32-dim descriptor of decoded pixels, oracle-
    reproducible from integer pixel values: [w, h, nch, mean, std(pop),
    mean_r, mean_g, mean_b, 16-bin mean-luma histogram (normalized),
    8 zero pads]. Luma bin = min(floor(mean(rgb) * 16), 15); with
    8-bit sources the only exact bin boundaries are luma 0 and 1, so
    float rounding cannot flip a bin."""
    h, w, c = px.shape
    flat = px.reshape(-1, c)
    luma = flat.mean(axis=1)
    bins = np.minimum((luma * _LUMA_BINS).astype(np.int64), _LUMA_BINS - 1)
    hist = np.bincount(bins, minlength=_LUMA_BINS) / float(len(luma))
    out = np.zeros(_FEATURE_DIM, dtype=np.float64)
    out[0], out[1], out[2] = w, h, c
    out[3], out[4] = flat.mean(), flat.std()
    out[5 : 5 + c] = flat.mean(axis=0)[:3]
    out[8 : 8 + _LUMA_BINS] = hist
    return out.astype(np.float32)


def decode_stub(payload: bytes, kind: str, deterministic_fake: bool) -> np.ndarray:
    """Decode boundary. With ``deterministic_fake=False`` (the real
    path), P6 PPM, farbfeld, 24/32-bit BI_RGB BMP, 8-bit RGB(A) PNG
    and PCM16 WAV decode for REAL via pure numpy (+ stdlib zlib);
    unrecognized/compressed formats (PIL/librosa/ffmpeg territory)
    raise NotImplementedError. With ``deterministic_fake=True`` the
    seeded hash-derived vector is ALWAYS returned — the flag is a
    contract (stable fixture features regardless of payload bytes,
    review round 5), not a fallback hint, so flipping it can never
    silently change the features of a decodable payload."""
    if not deterministic_fake:
        if kind == "image" and payload:
            try:
                return image_features(decode_image(payload))
            except ValueError:
                pass  # not an uncompressed format — stub below
        if kind == "audio" and payload[:4] == b"RIFF":
            try:
                return audio_features(*decode_wav(payload))
            except ValueError:
                pass  # compressed/non-PCM WAVE — stub below
        raise NotImplementedError(
            f"no {kind} decoder available in this environment for this "
            "payload format; install the media libs or pass "
            "deterministic_fake=True"
        )
    digest = hashlib.sha256(payload or b"").digest()
    raw = np.frombuffer((digest * ((_FEATURE_DIM * 4) // len(digest) + 1))[: _FEATURE_DIM * 4],
                        dtype=np.uint32)
    return (raw.astype(np.float64) / np.iinfo(np.uint32).max).astype(np.float32)


def extract_features(
    media: DataFrame, deterministic_fake: bool = True
) -> DataFrame:
    """Payload -> feature vector, one vectorized pass.

    Input must contain (media_id, kind, payload); everything else is
    pruned before the Arrow transfer on purpose.
    """
    schema = to_arrow_schema(_FEATURE_SCHEMA)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            # a NULL payload hashes and sizes as b""
            payloads = [p or b"" for p in batch.column("payload").to_pylist()]
            kinds = batch.column("kind").to_pylist()
            yield pa.record_batch(
                [
                    batch.column("media_id"),
                    pa.array([hashlib.sha256(p).hexdigest() for p in payloads], pa.string()),
                    pa.array([len(p) for p in payloads], pa.int64()),
                    pa.array(
                        [decode_stub(p, k, deterministic_fake) for p, k in zip(payloads, kinds)],
                        schema.field("features").type,
                    ),
                ],
                schema=schema,
            )

    return media.select(F.col("media_id").cast("long"), "kind", "payload").mapInArrow(
        gen, _FEATURE_SCHEMA
    )


def make_real_image_media(spark, n: int = 48) -> DataFrame:
    """Deterministic REAL-image media table: row i is a w x h RGB
    image with pixel(x, y, c) = (x*7 + y*13 + c*29 + i*31) % 256,
    w = 16 + i%9, h = 12 + i%5, encoded round-robin as P6 PPM /
    24bpp BMP / farbfeld / PNG (the PNG rows cycle filter type
    (y + i) % 5 so every unfilter path runs inside the oracled query).
    The pixel formula is closed-form, so an external SQL oracle
    reproduces every decoded statistic exactly — same discipline as
    make_fake_media, but the decoder is real."""
    rows = []
    fmts = ("ppm", "bmp", "farbfeld", "png")
    encoders = {"ppm": encode_ppm, "bmp": encode_bmp, "farbfeld": encode_farbfeld}
    for i in range(n):
        w, h = 16 + i % 9, 12 + i % 5
        x = np.arange(w)[None, :, None]
        y = np.arange(h)[:, None, None]
        c = np.arange(3)[None, None, :]
        px = ((x * 7 + y * 13 + c * 29 + i * 31) % 256).astype(np.uint8)
        fmt = fmts[i % 4]
        if fmt == "png":
            payload = encode_png(px, filters=[(row + i) % 5 for row in range(h)])
        else:
            payload = encoders[fmt](px)
        rows.append((i, "image", fmt, bytearray(payload), (w, h, None, 3)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def make_real_audio_media(spark, n: int = 32) -> DataFrame:
    """Deterministic REAL-audio media table: row i is a stereo PCM16
    WAV at 8 kHz with frames f(t, c) = ((t*37 + c*101 + i*211) % 4001)
    - 2000 and 800 + 40*(i%5) frames (divisible by 8, so duration_ms
    is integral). Closed-form samples -> a SQL oracle reproduces every
    decoded statistic, the make_real_image_media discipline for the
    audio kind."""
    rows = []
    for i in range(n):
        frames = 800 + 40 * (i % 5)
        t = np.arange(frames)[:, None]
        c = np.arange(2)[None, :]
        raw = ((t * 37 + c * 101 + i * 211) % 4001 - 2000).astype(np.int16)
        rows.append(
            (i, "audio", "wav", bytearray(encode_wav(raw, 8000)),
             (None, None, int(1000 * frames / 8000), 2))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def make_fake_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests (seeded payloads).

    Payloads are ASCII (repeated sha256 hexdigests) on purpose: an
    external SQL oracle can then reproduce payload bytes, sha256 and
    the fake feature vector exactly (DuckDB's sha256 is VARCHAR-only,
    so raw binary payloads would be unverifiable there)."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = (hashlib.sha256(f"media-{i}".encode()).hexdigest() * (i % 5 + 1)).encode()
        rows.append(
            (
                i,
                kind,
                {"image": "png", "audio": "wav", "video": "mp4"}[kind],
                bytearray(payload),
                (64 + i, 48 + i, 1000 * (i % 7 + 1), 3)
                if kind != "audio"
                else (None, None, 1000 * (i % 7 + 1), 2),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
