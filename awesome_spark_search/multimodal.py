"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The decode/feature kernels are STUBS (the container has no image/audio
libraries — see ``_require_decoder``); everything Spark-side is real and
tested: schemas, Arrow batch shapes, mapInPandas iterator contracts,
partitioning. Swapping the stub for a real decoder (PIL/torchaudio/ffmpeg)
changes only the inner function body.

Scale: media bytes stay in a single binary column, processed by mapInPandas
(streaming Arrow batches — bounded memory per task regardless of corpus
size); metadata-only operations project away the binary column so Parquet
never reads the payload (columnar pruning).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload_sha256", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), False),
    ]
)

FEATURE_DIM = 16


class DecoderUnavailable(NotImplementedError):
    pass


def _require_decoder(kind: str):
    raise DecoderUnavailable(
        f"no {kind} decoder in this environment — plug PIL/torchaudio/ffmpeg "
        "into _decode_stub; the Spark pipeline around it is real and tested"
    )


def _resolve_kernel(decoder, kind: str, stub):
    """Decoder contract shared by all four kernels:

    * ``"stub"``    -> the deterministic fake (tests / this sandbox),
    * ``"strict"``  -> production mode: raises DecoderUnavailable AT PLAN
      BUILD TIME (driver-side, loud) rather than silently faking decode,
    * a callable    -> injected real decoder (PIL/torchaudio/ffmpeg adapter)
      with the stub's signature.

    Pinned by tests/test_multimodal.py (strict raises; an injected fake
    flows through every kernel)."""
    if decoder == "strict":
        _require_decoder(kind)
    if decoder == "stub":
        return stub
    if callable(decoder):
        return decoder
    raise ValueError(f"decoder must be 'stub', 'strict' or a callable: {decoder!r}")


def _decode_stub(payload: bytes, kind: str) -> np.ndarray:
    """Deterministic fake 'decode' so the pipeline is testable end-to-end:
    derives FEATURE_DIM floats from the sha256 of the payload. Replace with a
    real decoder in production (raises via _require_decoder there)."""
    digest = hashlib.sha256(payload or b"").digest()
    raw = np.frombuffer(digest[: FEATURE_DIM * 2], dtype=np.uint16).astype(np.float32)
    return raw / 65535.0


def extract_features(media: DataFrame, decoder="stub") -> DataFrame:
    """mapInPandas feature extraction: binary payload -> fixed-dim vector.
    One Arrow batch in, one out; never materializes the whole partition.
    ``decoder``: 'stub' | 'strict' | callable(payload, kind)->ndarray."""
    decode = _resolve_kernel(decoder, "feature", _decode_stub)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, shas, sizes = [], [], []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                b = bytes(payload) if payload is not None else b""
                shas.append(hashlib.sha256(b).hexdigest())
                sizes.append(len(b))
                feats.append(decode(b, kind).tolist())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload_sha256": shas,
                    "n_bytes": sizes,
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("payload_sha256", T.StringType(), False),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("ts_ms", T.LongType(), False),
        T.StructField("frame_payload", T.BinaryType(), False),
    ]
)


def _resize_stub(payload: bytes, w: int, h: int) -> bytes:
    """Deterministic fake resize: derives w*h bytes from a rolling sha256 of
    the payload. Replace with PIL `Image.resize` in production
    (raises via _require_decoder there)."""
    out = bytearray()
    seed = hashlib.sha256(payload or b"").digest()
    block = seed
    while len(out) < w * h:
        block = hashlib.sha256(block).digest()
        out.extend(block)
    return bytes(out[: w * h])


def resize_images(media: DataFrame, width: int = 64, height: int = 64,
                  decoder="stub") -> DataFrame:
    """mapInPandas image resize: only `kind == 'image'` rows are processed;
    the filter happens BEFORE the Python boundary so audio/video payload
    bytes never cross into Arrow.
    ``decoder``: 'stub' | 'strict' | callable(payload, w, h)->bytes."""
    resize = _resolve_kernel(decoder, "image", _resize_stub)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                resize(bytes(p) if p is not None else b"", width, height)
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": width,
                    "height": height,
                    "payload": payloads,
                    "payload_sha256": [hashlib.sha256(p).hexdigest() for p in payloads],
                }
            )

    return media.filter(F.col("kind") == "image").select(
        "media_id", "payload"
    ).mapInPandas(run, RESIZED_SCHEMA)


def _frame_stub(payload: bytes, ts_ms: int) -> bytes:
    """Deterministic fake frame: sha256(payload || ts). Replace with an
    ffmpeg seek+decode in production (decoder='strict' raises there)."""
    return hashlib.sha256(payload + int(ts_ms).to_bytes(8, "big")).digest()


def sample_frames(media: DataFrame, every_ms: int = 5000,
                  max_frames: int = 8, decoder="stub") -> DataFrame:
    """mapInPandas video frame sampling: one output row per sampled frame.
    Frame timestamps step by ``every_ms`` up to duration.
    ``decoder``: 'stub' | 'strict' | callable(payload, ts_ms)->bytes."""
    grab = _resolve_kernel(decoder, "video", _frame_stub)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, tss, frames = [], [], [], []
            for media_id, payload, dur in zip(
                pdf["media_id"], pdf["payload"], pdf["duration_ms"]
            ):
                b = bytes(payload) if payload is not None else b""
                dur = int(dur) if pd.notna(dur) else 0
                n = min(max_frames, max(1, dur // every_ms + 1))
                for i in range(n):
                    ts = i * every_ms
                    ids.append(media_id)
                    idxs.append(i)
                    tss.append(ts)
                    frames.append(grab(b, ts))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "ts_ms": pd.Series(tss, dtype="int64"),
                    "frame_payload": frames,
                }
            )

    return media.filter(F.col("kind") == "video").select(
        "media_id", "payload", "duration_ms"
    ).mapInPandas(run, FRAME_SCHEMA)


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("rms", T.FloatType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)


def _audio_stub(payload: bytes, sample_rate: int, max_samples: int) -> np.ndarray:
    """Deterministic fake int16 waveform derived from the payload bytes.
    Replace with torchaudio/librosa resampling in production."""
    return np.frombuffer(
        (payload * (max_samples * 2 // max(len(payload), 1) + 1))[: max_samples * 2],
        dtype=np.int16,
    )


def resample_audio(media: DataFrame, sample_rate: int = 16000,
                   max_samples: int = 4096, decoder="stub") -> DataFrame:
    """mapInPandas audio resample: only `kind == 'audio'` rows cross the
    Python boundary; the kernel yields an int16 waveform and its RMS.
    ``decoder``: 'stub' | 'strict' | callable(payload, rate, max)->int16[]."""
    resample = _resolve_kernel(decoder, "audio", _audio_stub)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ns, rms, payloads = [], [], [], []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                wave = resample(b, sample_rate, max_samples)
                ids.append(media_id)
                ns.append(len(wave))
                rms.append(float(np.sqrt(np.mean(wave.astype(np.float64) ** 2))) if len(wave) else 0.0)
                payloads.append(wave.tobytes())
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "sample_rate": pd.Series([sample_rate] * len(ids), dtype="int32"),
                    "n_samples": pd.Series(ns, dtype="int32"),
                    "rms": pd.Series(rms, dtype="float32"),
                    "payload": pd.Series(payloads, dtype="object"),
                }
            )

    return media.filter(F.col("kind") == "audio").select(
        "media_id", "payload"
    ).mapInPandas(run, AUDIO_SCHEMA)


PROBE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("container", T.StringType(), False),  # png|wav|unknown
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("bit_depth", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def probe_payload(b: bytes) -> dict:
    """REAL (not stubbed) container metadata extraction, stdlib-only:

    * PNG: signature + IHDR chunk -> width, height, bit depth
      (PNG spec: 8-byte signature, IHDR is the first chunk; width/height are
      big-endian u32 at IHDR offsets 0/4, bit depth u8 at 8).
    * WAV: RIFF/WAVE chunk walk -> channels, sample rate, bits/sample from
      the 'fmt ' chunk; duration from the 'data' chunk byte length.

    Anything else -> container='unknown' with null fields. This is the
    metadata half of the decode boundary that needs no external library;
    pixel/sample DECODE stays behind the decoder contract."""
    import struct

    out = {"container": "unknown", "width": None, "height": None,
           "bit_depth": None, "channels": None, "sample_rate": None,
           "duration_ms": None}
    if b.startswith(_PNG_SIG) and len(b) >= 29 and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        out.update(container="png", width=w, height=h, bit_depth=b[24])
        return out
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        pos, fmt, data_size = 12, None, None
        while pos + 8 <= len(b):
            cid = b[pos:pos + 4]
            (csize,) = struct.unpack("<I", b[pos + 4:pos + 8])
            body = b[pos + 8:pos + 8 + csize]
            if cid == b"fmt " and len(body) >= 16:
                _, ch, rate, _, _, bits = struct.unpack("<HHIIHH", body[:16])
                fmt = (ch, rate, bits)
            elif cid == b"data":
                data_size = csize
            pos += 8 + csize + (csize & 1)  # chunks are word-aligned
        if fmt is not None:
            ch, rate, bits = fmt
            out.update(container="wav", channels=ch, sample_rate=rate,
                       bit_depth=bits)
            if data_size is not None and ch and rate and bits:
                n_frames = data_size // (ch * max(bits // 8, 1))
                out["duration_ms"] = n_frames * 1000 // rate
        return out
    return out


def probe_media(media: DataFrame) -> DataFrame:
    """Distributed container probe: mapInPandas over (media_id, payload) ->
    PROBE_SCHEMA. Real parsing (see probe_payload), bounded memory per Arrow
    batch, payload column projected before the Python boundary."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                rows.append({"media_id": media_id, **probe_payload(b)})
            out = pd.DataFrame(rows)
            for c in ("width", "height", "bit_depth", "channels", "sample_rate"):
                out[c] = out[c].astype("Int32")
            out["duration_ms"] = out["duration_ms"].astype("Int64")
            yield out

    return media.select("media_id", "payload").mapInPandas(run, PROBE_SCHEMA)


def decode_png(b: bytes) -> np.ndarray:
    """REAL stdlib PNG pixel decode -> uint8 ndarray (h, w, channels).

    Supports the non-interlaced 8-bit-depth baseline (grayscale and RGB,
    color types 0/2) with ALL five scanline filters (None/Sub/Up/Average/
    Paeth) — the fully-specified hot subset; anything else raises
    DecoderUnavailable loudly. zlib inflate + per-row unfilter per the PNG
    spec; row-sequential by necessity (each row's reconstruction depends on
    the previous), vectorized across the row where the filter allows.

    This is the pixel half of the decode boundary done WITHOUT external
    libraries; production would swap in PIL via the same decoder contract."""
    import struct
    import zlib

    if not b.startswith(_PNG_SIG):
        raise DecoderUnavailable("not a PNG signature")
    pos, ihdr, idat = 8, None, b""
    while pos + 8 <= len(b):
        (clen,) = struct.unpack(">I", b[pos: pos + 4])
        tag = b[pos + 4: pos + 8]
        body = b[pos + 8: pos + 8 + clen]
        if tag == b"IHDR":
            ihdr = body
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + clen
    if ihdr is None:
        raise DecoderUnavailable("PNG missing IHDR")
    w, h, bit, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if bit != 8 or color not in (0, 2) or comp != 0 or filt != 0 or interlace != 0:
        raise DecoderUnavailable(
            f"unsupported PNG shape (bit={bit} color={color} interlace={interlace})"
        )
    nch = 1 if color == 0 else 3
    stride = w * nch
    raw = zlib.decompress(idat)
    if len(raw) != h * (stride + 1):
        raise DecoderUnavailable("PNG IDAT length mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        row = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int64)
        if ftype == 0:      # None
            rec = row
        elif ftype == 2:    # Up
            rec = (row + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth: left-dependent
            rec = row.copy()
            for x in range(stride):
                a = rec[x - nch] if x >= nch else 0          # left
                bb = prev[x]                                  # up
                if ftype == 1:
                    rec[x] = (rec[x] + a) & 0xFF
                elif ftype == 3:
                    rec[x] = (rec[x] + (a + bb) // 2) & 0xFF
                else:
                    c = prev[x - nch] if x >= nch else 0      # up-left
                    p = a + bb - c
                    pa, pb, pc = abs(p - a), abs(p - bb), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (bb if pb <= pc else c)
                    rec[x] = (rec[x] + pred) & 0xFF
        else:
            raise DecoderUnavailable(f"unknown PNG filter {ftype}")
        out[y] = rec.astype(np.uint8)
        prev = rec
    return out.reshape(h, w, nch)


def png_resize_kernel(payload: bytes, w: int, h: int) -> bytes:
    """Injectable REAL resize for ``resize_images(decoder=...)``:
    decode_png + nearest-neighbor resample -> raw RGB (or grayscale) bytes,
    row-major. Same signature as _resize_stub."""
    img = decode_png(payload)
    sh, sw = img.shape[0], img.shape[1]
    ys = (np.arange(h) * sh) // h
    xs = (np.arange(w) * sw) // w
    return img[ys][:, xs].tobytes()


def decode_wav(b: bytes) -> tuple[np.ndarray, int]:
    """REAL stdlib WAV PCM decode -> (int16 ndarray [n_frames, channels],
    sample_rate).

    RIFF/WAVE chunk walk (word-aligned per the spec) for the 'fmt ' and
    'data' chunks; uncompressed PCM (format tag 1) at 8 or 16 bits per
    sample — the fully-specified hot subset; anything else raises
    DecoderUnavailable loudly. 8-bit WAV is unsigned per the spec and is
    rescaled to signed int16. This is the sample half of the decode
    boundary done WITHOUT external libraries; production would swap in
    torchaudio/librosa via the same decoder contract."""
    import struct

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise DecoderUnavailable("not a RIFF/WAVE container")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        tag = b[pos: pos + 4]
        (clen,) = struct.unpack("<I", b[pos + 4: pos + 8])
        body = b[pos + 8: pos + 8 + clen]
        if tag == b"fmt ":
            fmt = body
        elif tag == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are 2-byte aligned
    if fmt is None or len(fmt) < 16 or data is None:
        raise DecoderUnavailable("WAV missing fmt/data chunk")
    audio_fmt, ch, rate, _, _, bits = struct.unpack("<HHIIHH", fmt[:16])
    if audio_fmt != 1 or ch < 1 or bits not in (8, 16):
        raise DecoderUnavailable(
            f"unsupported WAV shape (fmt={audio_fmt} ch={ch} bits={bits})"
        )
    if bits == 16:
        n = len(data) // (2 * ch) * ch
        samples = np.frombuffer(data, dtype="<i2", count=n).astype(np.int16)
    else:
        n = len(data) // ch * ch
        samples = (
            (np.frombuffer(data, dtype=np.uint8, count=n).astype(np.int16) - 128)
            << 8
        )
    return samples.reshape(-1, ch), int(rate)


def wav_resample_kernel(payload: bytes, sample_rate: int,
                        max_samples: int) -> np.ndarray:
    """Injectable REAL audio kernel for ``resample_audio(decoder=...)``:
    decode_wav + mono downmix (channel mean) + linear-interpolation
    resample to ``sample_rate``, truncated to ``max_samples``. Same
    signature as _audio_stub; linear interp is exact on linear signals
    and identity at equal rates (both pinned by tests)."""
    frames, src_rate = decode_wav(payload)
    if frames.shape[0] == 0:
        return np.zeros(0, dtype=np.int16)
    mono = frames.astype(np.float64).mean(axis=1)
    n_out = max(1, int(round(len(mono) * sample_rate / src_rate)))
    out_t = np.arange(n_out, dtype=np.float64) * (src_rate / sample_rate)
    wave = np.interp(out_t, np.arange(len(mono), dtype=np.float64), mono)
    return np.clip(np.rint(wave), -32768, 32767).astype(np.int16)[:max_samples]


def media_metadata(media: DataFrame) -> DataFrame:
    """Metadata-only projection — payload column pruned at the Parquet scan."""
    return media.select(
        "media_id", "kind", "mime", "width", "height", "duration_ms"
    ).withColumn(
        "aspect_ratio",
        F.when(
            (F.col("height").isNotNull()) & (F.col("height") > 0),
            F.round(F.col("width") / F.col("height"), 4),
        ),
    )


def make_png(w: int, h: int, bit_depth: int = 8) -> bytes:
    """Minimal valid RGB PNG (stdlib-only) — deterministic fixture payloads
    for the probe path (and any real decoder wired in later)."""
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + b"\x10\x20\x30" * w for _ in range(h))

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def make_wav(rate: int = 8000, channels: int = 1, bits: int = 16,
             n_frames: int = 400) -> bytes:
    """Minimal valid PCM WAV (stdlib-only) — deterministic fixture payloads."""
    import struct

    data = b"\x00\x01" * n_frames * channels
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * channels * bits // 8,
        channels * bits // 8, bits,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def synth_probe_media(spark, n: int = 24) -> DataFrame:
    """Deterministic media table with REAL container payloads (PNG/WAV plus
    an unparseable blob every 3rd row) for the probe entry."""
    rows = []
    for i in range(n):
        if i % 3 == 0:
            payload, kind, mime = make_png(4 + i % 7, 3 + i % 5), "image", "image/png"
        elif i % 3 == 1:
            payload, kind, mime = (
                make_wav(8000 * (1 + i % 3), 1 + i % 2, 16, 100 * (i + 1)),
                "audio", "audio/wav",
            )
        else:
            payload, kind, mime = bytes([i % 256] * 32), "video", "video/mp4"
        rows.append((i, kind, mime, bytearray(payload), None, None, None))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def synth_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for tests (payload = seeded bytes)."""
    rng = np.random.default_rng(seed)
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = rng.integers(0, 256, size=64 + (i % 5) * 32, dtype=np.uint8).tobytes()
        rows.append(
            (
                i,
                kind,
                f"application/x-{kind}",
                bytearray(payload),
                64 + i % 7 if kind != "audio" else None,
                48 + i % 5 if kind != "audio" else None,
                1000 * (i % 30) if kind != "image" else None,
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
