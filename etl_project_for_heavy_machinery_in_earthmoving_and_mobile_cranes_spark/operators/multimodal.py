"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with typed metadata structs; decode /
feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages.  Heavy codec calls (JPEG/PNG/audio/video) are
STUBBED (the libraries are not in this environment) behind ``decoder=``
hooks with a deterministic fake keeping the Spark-side plumbing (schema,
batching, partitioning) real and testable — EXCEPT the stdlib image path
(``decode_image_header``: PPM P6 + 24-bit BMP), which parses real bytes
end to end through the same plumbing.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),      # image | audio | video
        T.StructField("mime", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_md5", T.StringType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def real_decode(content: bytes, mime: str):  # pragma: no cover - stub
    """Hook for a real decoder (PIL / soundfile / pyav).  Not available
    in this environment by design."""
    raise NotImplementedError(
        "media codecs are not installed in this environment; "
        "pass decoder=fake_decode or wire a real library here"
    )


def fake_decode(content: bytes, mime: str) -> list[float]:
    """Deterministic stand-in for a decoder+embedder: 8 floats derived
    from the md5 of the payload.  Shape-compatible with a real model."""
    h = hashlib.md5(content or b"").digest()
    return [b / 255.0 for b in h[:8]]


def extract_features(
    media: DataFrame,
    decoder: Callable[[bytes, str], list[float]] = fake_decode,
) -> DataFrame:
    """mapInPandas feature extraction: Arrow-batched, one Python worker
    per partition; repartition upstream so a batch of media fits in
    executor memory (content is the wide column — never shuffle it more
    than once)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decoder(c, m) for c, m in zip(pdf["content"], pdf["mime"])]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(c or b"") for c in pdf["content"]],
                    "content_md5": [
                        hashlib.md5(c or b"").hexdigest() for c in pdf["content"]
                    ],
                    "features": feats,
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def fake_resize(content: bytes, mime: str, width: int, height: int) -> bytes:
    """Deterministic stand-in for decode→resize→re-encode: output size
    scales with the target area so batch-memory behavior is realistic."""
    seed = hashlib.md5((content or b"") + f":{width}x{height}".encode()).digest()
    n = max(1, width * height // 64)
    return (seed * (n // len(seed) + 1))[:n]


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """mapInPandas image resize.  Only ``kind == 'image'`` rows enter the
    Python stage (the filter is JVM-side, before any Arrow transfer);
    output carries the new dims as typed columns.  A real deployment
    swaps ``fake_resize`` for PIL/libvips; the Spark plumbing is
    identical."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "mime": pdf["mime"],
                    "content": [
                        fake_resize(c, m, width, height)
                        for c, m in zip(pdf["content"], pdf["mime"])
                    ],
                    "width": width,
                    "height": height,
                }
            )

    return media.filter(F.col("kind") == "image").mapInPandas(
        run, schema=RESIZED_SCHEMA
    )


def sample_frames(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling WITHOUT decode: the frame index plan (one
    row per sampled frame) is pure JVM — explode over a sequence sized
    from metadata (``meta['n_frames']``, defaulting from byte length).
    The per-frame ``content`` decode is left to a downstream
    ``extract_features``-style stage; at 100 TB you never want frame
    explosion and byte decode fused, because the exploded plan must
    shuffle small (id, frame_no) rows, not the video payload."""
    n_frames = F.coalesce(
        F.element_at(F.col("meta"), "n_frames").cast("int"),
        (F.length("content") / 16).cast("int"),
    )
    return (
        media.filter(F.col("kind") == "video")
        .withColumn(
            "frame_no",
            F.explode(
                F.sequence(
                    F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every_n)
                )
            ),
        )
        .select("media_id", "mime", "frame_no", n_frames.alias("n_frames"))
    )


# ---------------------------------------------------------------------------
# Real-byte image decode (PPM / BMP): the one codec path that is NOT a
# stub.  Pure stdlib parsing of actual image bytes — the minimal formats
# every toolchain can produce — behind the same mapInPandas plumbing a
# PIL/libvips decoder would use.  JPEG/PNG/audio/video stay behind
# ``real_decode`` (libraries absent in this environment by design).
# ---------------------------------------------------------------------------


def encode_ppm(width: int, height: int, pixels: bytes) -> bytes:
    """Binary PPM (P6, maxval 255).  ``pixels`` must be 3·w·h bytes."""
    if len(pixels) != 3 * width * height:
        raise ValueError("pixels must be exactly 3*width*height bytes")
    return b"P6\n%d %d\n255\n" % (width, height) + pixels


def encode_bmp(width: int, height: int, pixels: bytes) -> bytes:
    """24-bit uncompressed BMP (BITMAPINFOHEADER, 4-byte row padding).
    ``pixels`` is 3·w·h bytes, row-major top-down (stored bottom-up as
    the positive-height convention requires)."""
    import struct

    if len(pixels) != 3 * width * height:
        raise ValueError("pixels must be exactly 3*width*height bytes")
    row = 3 * width
    pad = (4 - row % 4) % 4
    body = b"".join(
        pixels[r * row : (r + 1) * row] + b"\x00" * pad
        for r in range(height - 1, -1, -1)
    )
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return header + info + body


def _ppm_header_fields(content: bytes, n: int = 3) -> list[int]:
    """First ``n`` integer fields after the P6 magic, honoring the PPM
    spec's whitespace rules and ``#`` comment lines (netpbm/ImageMagick
    emit '# CREATOR' comments between magic and dimensions)."""
    fields: list[int] = []
    i = 2
    while len(fields) < n and i < len(content):
        c = content[i : i + 1]
        if c in b" \t\r\n":
            i += 1
        elif c == b"#":
            j = content.find(b"\n", i)
            i = len(content) if j < 0 else j + 1
        elif c.isdigit():
            j = i
            while j < len(content) and content[j : j + 1].isdigit():
                j += 1
            fields.append(int(content[i:j]))
            i = j
        else:
            raise ValueError("malformed PPM header")
    if len(fields) < n:
        raise ValueError("malformed PPM header")
    return fields


def decode_image_header(content: bytes) -> tuple[str, int, int]:
    """Parse REAL image bytes → (format, width, height).  Supports the
    two stdlib-decodable formats (PPM P6 incl. comment lines, 24-bit
    BMP); anything else raises NotImplementedError — the honest
    boundary where PIL/libvips would plug in.  Malformed/truncated
    payloads of a recognized format raise ValueError."""
    import struct

    if content[:2] == b"P6":
        width, height, _maxval = _ppm_header_fields(content)
        return "ppm", width, height
    if content[:2] == b"BM":
        if len(content) < 26:
            raise ValueError("truncated BMP header")
        width, height = struct.unpack_from("<ii", content, 18)
        return "bmp", width, abs(height)
    raise NotImplementedError(
        f"no stdlib decoder for magic {content[:2]!r}; wire PIL/libvips here"
    )


IMAGE_DIMS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_pixels", T.LongType()),
    ]
)


def image_dims(media: DataFrame) -> DataFrame:
    """mapInPandas decode of REAL image bytes → typed dimensions.  Same
    contract as ``extract_features``: JVM-side kind filter before any
    Arrow transfer, Python only touches rows it must decode."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts, ws, hs = [], [], []
            for c in pdf["content"]:
                fmt, w, h = decode_image_header(bytes(c))
                fmts.append(fmt)
                ws.append(w)
                hs.append(h)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "fmt": fmts,
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "n_pixels": pd.Series(
                        [w * h for w, h in zip(ws, hs)], dtype="int64"
                    ),
                }
            )

    return media.filter(F.col("kind") == "image").mapInPandas(
        run, schema=IMAGE_DIMS_SCHEMA
    )


def synthetic_images(
    spark, n: int = 60, id_offset: int = 0, flip_codec: bool = False
) -> DataFrame:
    """Media table of REAL decodable images: even ids are binary PPMs,
    odd ids are 24-bit BMPs; dims are closed-form in the id
    (w = 4 + i%13, h = 3 + i%7) so an external oracle can replay the
    expected decode output; pixel bytes are md5-derived.

    ``id_offset`` shifts media_id while keeping pixels keyed on the
    BASE index i, and ``flip_codec`` swaps the PPM/BMP choice — so
    ``synthetic_images(n, id_offset=k, flip_codec=True)`` is the same
    n pictures re-encoded in the other container under new ids: the
    cross-format duplicate corpus the perceptual-dedup query needs
    (byte-level exact dedup can never match those pairs)."""
    rows = []
    for i in range(n):
        w, h = 4 + i % 13, 3 + i % 7
        need = 3 * w * h
        seed = hashlib.md5(f"img:{i}".encode()).digest()
        pixels = (seed * (need // len(seed) + 1))[:need]
        as_ppm = (i % 2 == 0) != flip_codec
        content = encode_ppm(w, h, pixels) if as_ppm else encode_bmp(w, h, pixels)
        mime = "image/x-portable-pixmap" if as_ppm else "image/bmp"
        rows.append(
            (id_offset + i, "image", mime, bytearray(content), {"idx": str(i)})
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def media_stats(media: DataFrame) -> DataFrame:
    """Pure-JVM metadata pass (no decode): per-kind byte stats — the
    cheap pre-filter before any expensive Python decode stage."""
    return media.groupBy("kind").agg(
        F.count("*").alias("n"),
        F.sum(F.length(F.col("content"))).alias("total_bytes"),
        F.round(F.avg(F.length(F.col("content"))), 2).alias("avg_bytes"),
    )


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests (md5-derived bytes)."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = hashlib.md5(f"media:{i}".encode()).digest() * (i % 7 + 1)
        rows.append((i, kind, f"{kind}/x-fake", bytearray(payload), {"idx": str(i)}))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def decode_image_pixels(content: bytes) -> tuple[str, int, int, bytes]:
    """Full-pixel decode of the two stdlib codecs → (fmt, w, h, rgb).
    ``rgb`` is 3·w·h bytes row-major top-down — the exact inverse of
    ``encode_ppm``/``encode_bmp`` (note: this codec stores channel
    bytes as-given, without the BGR swap general-purpose BMP writers
    apply; the encoder and decoder agree, which is the contract that
    matters for hashing).  Other formats raise NotImplementedError at
    the same honest PIL/libvips boundary as ``decode_image_header``."""
    import struct

    if content[:2] == b"P6":
        # re-scan the header to find where pixel data starts: exactly
        # one whitespace byte follows the maxval field (PPM spec)
        fields: list[int] = []
        i = 2
        while len(fields) < 3 and i < len(content):
            c = content[i : i + 1]
            if c in b" \t\r\n":
                i += 1
            elif c == b"#":
                j = content.find(b"\n", i)
                i = len(content) if j < 0 else j + 1
            elif c.isdigit():
                j = i
                while j < len(content) and content[j : j + 1].isdigit():
                    j += 1
                fields.append(int(content[i:j]))
                i = j
            else:
                raise ValueError("malformed PPM header")
        if len(fields) < 3:
            raise ValueError("malformed PPM header")
        w, h, _maxval = fields
        data = content[i + 1 : i + 1 + 3 * w * h]
        if len(data) != 3 * w * h:
            raise ValueError("truncated PPM pixel data")
        return "ppm", w, h, data
    if content[:2] == b"BM":
        if len(content) < 54:
            raise ValueError("truncated BMP header")
        (off,) = struct.unpack_from("<I", content, 10)
        w, h = struct.unpack_from("<ii", content, 18)
        h = abs(h)
        row = 3 * w
        stride = row + (4 - row % 4) % 4
        body = content[off:]
        if len(body) < stride * h:
            raise ValueError("truncated BMP pixel data")
        # stored bottom-up; reassemble top-down, dropping row padding
        data = b"".join(
            body[(h - 1 - r) * stride : (h - 1 - r) * stride + row]
            for r in range(h)
        )
        return "bmp", w, h, data
    raise NotImplementedError(
        f"no stdlib decoder for magic {content[:2]!r}; wire PIL/libvips here"
    )


# ---------------------------------------------------------------------------
# Real-byte audio decode (RIFF/WAVE, 16-bit PCM): the audio analog of the
# PPM/BMP path — pure stdlib parsing of actual WAV bytes through the same
# mapInPandas plumbing.  Compressed codecs (MP3/AAC/FLAC) stay behind
# ``real_decode``.
# ---------------------------------------------------------------------------


def encode_wav(sample_rate: int, samples: list[int]) -> bytes:
    """Minimal RIFF/WAVE container, 16-bit PCM mono little-endian."""
    import struct

    data = struct.pack("<%dh" % len(samples), *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def decode_wav(content: bytes) -> tuple[int, int, list[int]]:
    """Parse REAL RIFF/WAVE bytes → (sample_rate, n_channels,
    samples[int16]).  Walks the chunk list (so files with LIST/INFO or
    other extra chunks decode correctly, and word-aligned odd-size
    chunks are skipped per the RIFF spec); 16-bit integer PCM only —
    anything else raises NotImplementedError at the same honest
    soundfile/pyav boundary as the image path."""
    import struct

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise NotImplementedError(
            f"no stdlib decoder for magic {content[:4]!r}; wire soundfile here"
        )
    i = 12
    rate = channels = None
    data = None
    while i + 8 <= len(content):
        cid = content[i : i + 4]
        (sz,) = struct.unpack_from("<I", content, i + 4)
        body = content[i + 8 : i + 8 + sz]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated fmt chunk")
            fmt_code, channels, rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if fmt_code != 1 or bits != 16:
                raise NotImplementedError("only 16-bit integer PCM is supported")
        elif cid == b"data":
            data = body
        i += 8 + sz + (sz & 1)  # RIFF chunks are 2-byte aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    n = len(data) // 2
    return rate, channels, list(struct.unpack_from("<%dh" % n, data, 0))


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("mean_abs", T.DoubleType()),
    ]
)


def audio_stats(media: DataFrame) -> DataFrame:
    """mapInPandas decode of REAL WAV bytes → typed per-clip stats
    (rate, sample count, duration, peak / mean absolute amplitude).
    Same contract as the image stages: the ``kind == 'audio'`` filter
    is JVM-side so only decodable rows cross the Arrow boundary, and
    the output is narrow typed columns — downstream filtering
    (silence/clipping gates in a corpus pipeline) stays pure JVM.
    ``mean_abs`` is one int/int IEEE division — correctly rounded and
    bit-identical in any engine; decimal rounding for display is left
    to the caller (JVM-side ``F.round``)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "sample_rate": [], "n_samples": [],
                "duration_ms": [], "peak": [], "mean_abs": [],
            }
            for mid, c in zip(pdf["media_id"], pdf["content"]):
                rate, _ch, samples = decode_wav(bytes(c))
                n = len(samples)
                sum_abs = sum(abs(s) for s in samples)
                out["media_id"].append(mid)
                out["sample_rate"].append(rate)
                out["n_samples"].append(n)
                out["duration_ms"].append(n * 1000 // rate)
                out["peak"].append(max((abs(s) for s in samples), default=0))
                out["mean_abs"].append(sum_abs / n if n else 0.0)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out["media_id"], dtype="int64"),
                    "sample_rate": pd.Series(out["sample_rate"], dtype="int32"),
                    "n_samples": pd.Series(out["n_samples"], dtype="int64"),
                    "duration_ms": pd.Series(out["duration_ms"], dtype="int64"),
                    "peak": pd.Series(out["peak"], dtype="int32"),
                    "mean_abs": pd.Series(out["mean_abs"], dtype="float64"),
                }
            )

    return media.filter(F.col("kind") == "audio").mapInPandas(
        run, schema=AUDIO_STATS_SCHEMA
    )


def synthetic_audio(spark, n: int = 48) -> DataFrame:
    """Media table of REAL decodable WAV clips: closed-form in the id
    (rate = 8000 + (i%4)·4000, n_samples = 16 + (i%9)·4) so an
    external oracle can replay the decode; PCM bytes are the md5
    digest of ``aud:i`` repeated (sample j = little-endian int16 of
    digest bytes 2j%16, (2j+1)%16)."""
    import struct

    rows = []
    for i in range(n):
        rate = 8000 + (i % 4) * 4000
        ns = 16 + (i % 9) * 4
        seed = hashlib.md5(f"aud:{i}".encode()).digest()
        pcm = (seed * (2 * ns // len(seed) + 1))[: 2 * ns]
        samples = list(struct.unpack("<%dh" % ns, pcm))
        rows.append(
            (i, "audio", "audio/wav", bytearray(encode_wav(rate, samples)), {"idx": str(i)})
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("dhash", T.LongType()),
    ]
)


def image_dhash(media: DataFrame) -> DataFrame:
    """Perceptual difference-hash over REAL decoded pixels: sample an
    8×8 grayscale matrix by nearest-neighbor (sx = x·w // 8), emit one
    bit per horizontal gradient (gray[y][x] > gray[y][x+1]), packed
    little-endian at position y·7+x — 56 bits, safely inside BIGINT.
    Encoding-invariant: the same pixels as PPM or BMP hash identically, so cross-format
    re-encodes dedup exactly, and near-identical images land within a
    few hamming bits (pair with dedup.hamming64).

    Scale design: same contract as every multimodal stage — JVM-side
    kind filter before Arrow transfer, Python touches only decodable
    rows, output is (id, int64) so downstream dedup/grouping is pure
    JVM.  The driver oracle replays decode → sample → gradient in SQL
    from the synthetic generator's closed form, so the WHOLE real-byte
    decode path is value-checked, not just the plumbing."""

    def one(content: bytes) -> int:
        _fmt, w, h, px = decode_image_pixels(content)
        grid = 8
        bits = 0
        for y in range(grid):
            sy = (y * h) // grid
            row = []
            for x in range(grid):
                sx = (x * w) // grid
                k = 3 * (sy * w + sx)
                row.append((px[k] + px[k + 1] + px[k + 2]) // 3)
            for x in range(grid - 1):
                if row[x] > row[x + 1]:
                    bits |= 1 << (y * (grid - 1) + x)
        return bits

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "dhash": pd.Series(
                        [one(bytes(c)) for c in pdf["content"]], dtype="int64"
                    ),
                }
            )

    return media.filter(F.col("kind") == "image").mapInPandas(
        run, schema=DHASH_SCHEMA
    )


# dHash banding of ``image_near_dup_pairs``: 4 bands of 14 bits, pairs
# kept at hamming distance <= 3
_BANDS, _BAND_BITS, _MAX_HAMMING = 4, 14, 3


def image_near_dup_pairs(media: DataFrame) -> DataFrame:
    """Perceptual near-duplicate image pairs: dHash (the one decode
    boundary) → banded hamming LSH → exact hamming verify.  Catches
    same-picture-different-container duplicates (and mild edits) that
    byte-level exact dedup can never see.

    Recall contract: a pair at hamming distance d differs in at most d
    bands, so with more bands than the hamming cut every qualifying pair shares
    at least one identical band (pigeonhole) — recall-exact for
    d ≤ bands−1, the same argument as MinHash banding.

    Scale design: candidates come from an equi hash join on
    (band, band_value) — never an all-pairs hamming scan; only
    candidate pairs pay the 2×64-bit XOR verify.  Everything after the
    dHash is pure JVM bit arithmetic.  At 100 TB the band join is the
    usual skew-aware LSH join (a dead-gray band value plays the role
    of a hot shingle; cap or salt it like ``max_bucket`` in the text
    LSH path)."""
    from .dedup import hamming64

    mask = (1 << _BAND_BITS) - 1
    h = image_dhash(media)
    bd = h.select(
        "media_id",
        "dhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        (
                            F.shiftright(F.col("dhash"), b * _BAND_BITS)
                            .bitwiseAND(F.lit(mask))
                        ).alias("v"),
                    )
                    for b in range(_BANDS)
                ]
            )
        ).alias("__bd"),
    ).select("media_id", "dhash", F.col("__bd.b").alias("b"), F.col("__bd.v").alias("v"))
    left = bd.select(
        F.col("b"), F.col("v"), F.col("media_id").alias("id_a"), F.col("dhash").alias("__ha")
    )
    right = bd.select(
        F.col("b"), F.col("v"), F.col("media_id").alias("id_b"), F.col("dhash").alias("__hb")
    )
    cand = (
        left.join(right, ["b", "v"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__ha", "__hb")
        .distinct()
    )
    return (
        cand.withColumn("hamming", hamming64(F.col("__ha"), F.col("__hb")))
        .filter(F.col("hamming") <= _MAX_HAMMING)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
    )
