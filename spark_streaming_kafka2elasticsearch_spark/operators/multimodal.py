"""Multimodal columns — image/audio/video as opaque binary + metadata.

The Spark-side contract for a 100 TB multimodal corpus:

* media lives in a ``binary`` column (or a pointer column to object
  storage) next to typed metadata (mime, width, duration…);
* decode / feature-extract runs as **Arrow-batched** ``mapInPandas`` —
  one Python worker per partition, one Arrow record batch at a time,
  never a row-at-a-time UDF;
* output schemas are declared up front so Catalyst can prune/plan.

Codec status (no PIL/ffmpeg/torchaudio in this container):

* **image — REAL**: a pure stdlib+numpy PNG decoder (``zlib``
  inflate + vectorized scanline unfiltering, 8-bit gray/RGB/RGBA,
  all five filter types) backs ``decode_image_features(fake=False)``;
* **audio — REAL**: stdlib ``wave`` parses RIFF/WAVE PCM for
  ``decode_audio_features(fake=False)`` (duration/rate/RMS);
* **video — REAL for Y4M**: YUV4MPEG2 is raw planar YUV behind an
  ASCII header, so :func:`y4m_parse` decodes it with stdlib+numpy
  alone (``sample_video_frames(fake=False)`` /
  :func:`video_frame_stats`).  Compressed containers (mp4/webm)
  genuinely need ffmpeg and raise ``NotImplementedError`` naming
  that boundary.

Every kernel keeps the deterministic fake path (seeded by content
hash) so plumbing tests never depend on byte-level codec details.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_streaming_kafka2elasticsearch_spark.operators.partitioning import fan_out_small_scan

# ---------------------------------------------------------------------------
# Pure stdlib+numpy PNG codec (decoder + filter-0 encoder)
# ---------------------------------------------------------------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type → samples/pixel


def png_decode(data: bytes) -> np.ndarray:
    """Decode an 8-bit non-interlaced PNG to a (h, w, channels) uint8
    array — stdlib ``zlib``/``struct`` + numpy only, no PIL.

    Supports gray / gray+alpha / RGB / RGBA and all five scanline
    filters.  Filters none/up are fully vectorized; sub/average/paeth
    carry a per-pixel recurrence along x (inherently sequential), done
    row-wise in numpy int arithmetic.
    """
    if data[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG (bad magic)")
    pos = 8
    idat = bytearray()
    w = h = channels = -1
    while pos + 8 <= len(data):
        (ln,), typ = struct.unpack(">I", data[pos : pos + 4]), data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # len + type + payload + crc
        if typ == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
            if depth != 8 or interlace != 0:
                raise ValueError("only 8-bit non-interlaced PNG supported")
            if color not in _PNG_CHANNELS:
                raise ValueError(f"unsupported PNG color type {color}")
            channels = _PNG_CHANNELS[color]
        elif typ == b"IDAT":
            idat += chunk
        elif typ == b"IEND":
            break
    if w < 0:
        raise ValueError("PNG missing IHDR")
    stride = w * channels
    raw = np.frombuffer(zlib.decompress(bytes(idat)), np.uint8)
    if raw.size != h * (stride + 1):
        raise ValueError("PNG payload size mismatch")
    rows = raw.reshape(h, stride + 1)
    filters = rows[:, 0]
    img = rows[:, 1:].astype(np.int32)
    out = np.zeros_like(img)
    c = channels
    for y in range(h):
        f = int(filters[y])
        cur = img[y]
        prev = out[y - 1] if y else np.zeros(stride, np.int32)
        if f == 0:
            out[y] = cur
        elif f == 2:  # up — vectorized
            out[y] = (cur + prev) & 0xFF
        elif f == 1:  # sub — recurrence on x
            row = cur.copy()
            for x in range(c, stride):
                row[x] = (row[x] + row[x - c]) & 0xFF
            out[y] = row
        elif f == 3:  # average
            row = cur.copy()
            for x in range(stride):
                a = row[x - c] if x >= c else 0
                row[x] = (row[x] + ((a + prev[x]) >> 1)) & 0xFF
            out[y] = row
        elif f == 4:  # paeth
            row = cur.copy()
            for x in range(stride):
                a = row[x - c] if x >= c else 0
                b = prev[x]
                cc = prev[x - c] if x >= c else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                row[x] = (row[x] + pred) & 0xFF
            out[y] = row
        else:
            raise ValueError(f"bad PNG filter {f}")
    return out.astype(np.uint8).reshape(h, w, channels)


def png_encode(pixels: np.ndarray) -> bytes:
    """Encode a (h, w, channels) uint8 array as a filter-0 PNG —
    the deterministic fixture generator for codec tests/queries."""
    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    h, w, c = pixels.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    raw = b"".join(b"\x00" + pixels[y].tobytes() for y in range(h))

    def chunk(typ: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def _png_features(data: bytes) -> tuple[int, int, int, float]:
    """(width, height, channels, mean_luma∈[0,1]) of a PNG payload."""
    px = png_decode(data).astype(np.float64)
    h, w, c = px.shape
    if c >= 3:
        luma = 0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
    else:
        luma = px[..., 0]
    return w, h, c, float(luma.mean() / 255.0)


# ---------------------------------------------------------------------------
# stdlib WAV codec
# ---------------------------------------------------------------------------


def wav_encode(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """Encode int16 mono PCM as RIFF/WAVE via stdlib ``wave``."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def _wav_features(data: bytes) -> tuple[int, int, float]:
    """(duration_ms, sample_rate, rms_energy∈[0,1]) of 16-bit PCM WAV."""
    with wave.open(io.BytesIO(data), "rb") as wf:
        rate = wf.getframerate()
        n = wf.getnframes()
        width = wf.getsampwidth()
        frames = wf.readframes(n)
    if width != 2:
        raise ValueError("only 16-bit PCM WAV supported")
    x = np.frombuffer(frames, "<i2").astype(np.float64) / 32768.0
    rms = float(np.sqrt(np.mean(x * x))) if x.size else 0.0
    duration_ms = int(round(n * 1000 / rate)) if rate else 0
    return duration_ms, rate, rms


# ---------------------------------------------------------------------------
# Y4M (YUV4MPEG2) codec — uncompressed video, fully stdlib-parseable
# ---------------------------------------------------------------------------

_Y4M_MAGIC = b"YUV4MPEG2"


def y4m_encode(
    y_frames: np.ndarray, fps: tuple[int, int] = (10, 1)
) -> bytes:
    """Encode ``(n_frames, h, w)`` uint8 luma planes as YUV4MPEG2
    C420jpeg (chroma planes constant 128 → grayscale video).  Y4M is
    raw planar YUV behind a one-line ASCII header — the one video
    container that needs no codec library, which is what lets the
    video path run REAL decode in this container."""
    n, h, w = y_frames.shape
    if w % 2 or h % 2:
        raise ValueError("C420 needs even frame dimensions")
    header = f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 C420jpeg\n"
    chroma = b"\x80" * ((w // 2) * (h // 2))
    out = [header.encode("ascii")]
    for f in range(n):
        out.append(b"FRAME\n")
        out.append(y_frames[f].astype(np.uint8).tobytes())
        out.append(chroma)
        out.append(chroma)
    return b"".join(out)


def y4m_parse(data: bytes) -> tuple[int, int, int, int, list[np.ndarray]]:
    """Parse YUV4MPEG2 C420 → (width, height, fps_num, fps_den,
    [per-frame (h, w) uint8 luma plane]).  Chroma planes are skipped
    (read-past) — luma carries the analyzable signal."""
    if not data.startswith(_Y4M_MAGIC):
        raise ValueError("not a YUV4MPEG2 stream (bad magic)")
    nl = data.index(b"\n")
    w = h = -1
    num, den = 25, 1
    for tok in data[len(_Y4M_MAGIC) : nl].split():
        tag, val = chr(tok[0]), tok[1:].decode("ascii")
        if tag == "W":
            w = int(val)
        elif tag == "H":
            h = int(val)
        elif tag == "F":
            num, den = (int(x) for x in val.split(":"))
            if num <= 0 or den <= 0:
                raise ValueError(f"Y4M frame rate must be positive, got F{val}")
        elif tag == "C" and not val.startswith("420"):
            raise ValueError(f"only C420 chroma supported, got C{val}")
    if w < 0 or h < 0:
        raise ValueError("Y4M header missing W/H")
    luma_sz, chroma_sz = w * h, 2 * ((w // 2) * (h // 2))
    frames: list[np.ndarray] = []
    pos = nl + 1
    while pos < len(data):
        if data[pos : pos + 5] != b"FRAME":
            raise ValueError("corrupt Y4M: expected FRAME marker")
        try:
            # FRAME line is tiny (marker + optional params); a missing
            # newline within 256 bytes means the stream is corrupt — do
            # not scan into binary plane data.
            fnl = data.index(b"\n", pos, pos + 256)
        except ValueError:
            raise ValueError("corrupt Y4M: unterminated FRAME header") from None
        pos = fnl + 1
        plane = data[pos : pos + luma_sz]
        if len(plane) < luma_sz:
            raise ValueError("truncated Y4M frame")
        frames.append(np.frombuffer(plane, np.uint8).reshape(h, w))
        pos += luma_sz + chroma_sz
    return w, h, num, den, frames


def sampled_frame_indices(
    n_frames: int, fps_num: int, fps_den: int, every_ms: int
) -> list[int]:
    """Frame indices sampled at every_ms ticks — pure integer floor
    arithmetic (``(k·every_ms·num) // (1000·den)``), so any SQL engine
    reproduces the exact sample set."""
    if fps_num <= 0 or fps_den <= 0 or every_ms <= 0:
        raise ValueError(
            f"fps_num/fps_den/every_ms must be positive, got "
            f"{fps_num}/{fps_den}/{every_ms}"
        )
    idxs: list[int] = []
    k = 0
    while True:
        idx = (k * every_ms * fps_num) // (1000 * fps_den)
        if idx >= n_frames:
            return idxs
        if not idxs or idx != idxs[-1]:
            idxs.append(idx)
        k += 1


#: Schema of a decoded-image feature row.
IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("mean_luma", T.DoubleType(), True),
    ]
)


def _fake_decode(payload: bytes) -> tuple[int, int, int, float]:
    """Deterministic stand-in for a real image decoder: derives shape
    and luminance from the content hash, so tests are reproducible."""
    h = hashlib.sha256(payload).digest()
    width = 64 + h[0] % 192
    height = 64 + h[1] % 192
    channels = 3
    mean_luma = h[2] / 255.0
    return width, height, channels, mean_luma


def decode_image_features(
    df: DataFrame,
    id_col: str = "media_id",
    binary_col: str = "content",
    fake: bool = False,
) -> DataFrame:
    """Decode images → (dims, mean luminance) via Arrow-batched
    ``mapInPandas``.

    ``fake=False`` runs the REAL pure-numpy PNG decoder
    (:func:`png_decode` — no PIL needed); non-PNG payloads raise
    ``ValueError`` (JPEG/WebP would need a real codec library).
    ``fake=True`` runs the deterministic content-hash fake so plumbing
    tests never depend on byte-level codec details.
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if fake:
                decoded = [_fake_decode(bytes(b)) for b in pdf[binary_col]]
            else:
                decoded = [_png_features(bytes(b)) for b in pdf[binary_col]]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "channels": [d[2] for d in decoded],
                    "mean_luma": [d[3] for d in decoded],
                }
            )

    return df.select(id_col, binary_col).mapInPandas(
        decode_batches, schema=IMAGE_FEATURES_SCHEMA
    )


#: Schema of a sampled video frame row (one row per sampled frame).
VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_index", T.IntegerType(), False),
        T.StructField("timestamp_ms", T.LongType(), False),
        T.StructField("frame_hash", T.StringType(), True),
    ]
)

#: Schema of decoded-audio features.
AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("rms_energy", T.DoubleType(), True),
    ]
)


def sample_video_frames(
    df: DataFrame,
    every_ms: int = 1000,
    id_col: str = "media_id",
    binary_col: str = "content",
    fake: bool = False,
) -> DataFrame:
    """Frame sampling: one output row per sampled frame — a 1→N
    ``mapInPandas``.

    ``fake=False`` runs REAL decode for Y4M (YUV4MPEG2) payloads via
    the stdlib :func:`y4m_parse` — true frame timestamps from the
    header's fps, frame_hash over the actual luma plane bytes.
    Compressed containers (mp4/webm/mkv) genuinely need ffmpeg, which
    isn't in this container: a non-Y4M payload raises
    ``NotImplementedError`` naming that boundary.  ``fake=True`` keeps
    the content-hash stub for plumbing tests."""

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                out_r: dict[str, list] = {
                    "media_id": [], "frame_index": [],
                    "timestamp_ms": [], "frame_hash": [],
                }
                for mid, payload in zip(pdf[id_col], pdf[binary_col]):
                    data = bytes(payload)
                    if not data.startswith(_Y4M_MAGIC):
                        raise NotImplementedError(
                            "compressed video (mp4/webm/…) needs ffmpeg, "
                            "which is not in this container; Y4M "
                            "(YUV4MPEG2) payloads decode for real"
                        )
                    w, h, num, den, frames = y4m_parse(data)
                    for i in sampled_frame_indices(len(frames), num, den, every_ms):
                        out_r["media_id"].append(int(mid))
                        out_r["frame_index"].append(i)
                        out_r["timestamp_ms"].append(i * 1000 * den // num)
                        out_r["frame_hash"].append(
                            hashlib.sha256(frames[i].tobytes()).hexdigest()[:16]
                        )
                yield pd.DataFrame(out_r)
                continue
            out: dict[str, list] = {
                "media_id": [], "frame_index": [], "timestamp_ms": [], "frame_hash": []
            }
            for mid, payload in zip(pdf[id_col], pdf[binary_col]):
                # Derivations stay in HEX-STRING space (not raw digest
                # bytes) so the fake is reproducible in any SQL engine
                # whose sha256 takes VARCHAR (DuckDB's does) — this is
                # what makes the plumbing query oracle-checkable.
                hx = hashlib.sha256(bytes(payload)).hexdigest()
                n_frames = 2 + int(hx[6:8], 16) % 6  # byte 3 → 2..7 frames
                for i in range(n_frames):
                    out["media_id"].append(int(mid))
                    out["frame_index"].append(i)
                    out["timestamp_ms"].append(i * every_ms)
                    out["frame_hash"].append(
                        hashlib.sha256((hx + str(i)).encode()).hexdigest()[:16]
                    )
            yield pd.DataFrame(out)

    return df.select(id_col, binary_col).mapInPandas(
        sample_batches, schema=VIDEO_FRAME_SCHEMA
    )


#: Schema of a sampled-frame stats row (real Y4M decode path).
VIDEO_FRAME_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_index", T.IntegerType(), False),
        T.StructField("timestamp_ms", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mean_y", T.DoubleType(), True),
    ]
)


def video_frame_stats(
    df: DataFrame,
    every_ms: int = 1000,
    id_col: str = "media_id",
    binary_col: str = "content",
) -> DataFrame:
    """REAL Y4M decode → per-sampled-frame luma statistics
    (width/height from the stream header, mean_y from the decoded
    plane, true timestamps from the fps).  Same Arrow-batched 1→N
    ``mapInPandas`` shape as :func:`sample_video_frames`, but the
    output is numeric — which is what makes the end-to-end
    encode→decode round trip value-checkable by an analytic SQL
    oracle (mean_y rounded to 6 dp: numpy pairwise sum vs SQL
    sequential avg differ ~1e-13)."""

    def stat_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "frame_index": [], "timestamp_ms": [],
                "width": [], "height": [], "mean_y": [],
            }
            for mid, payload in zip(pdf[id_col], pdf[binary_col]):
                w, h, num, den, frames = y4m_parse(bytes(payload))
                for i in sampled_frame_indices(len(frames), num, den, every_ms):
                    out["media_id"].append(int(mid))
                    out["frame_index"].append(i)
                    out["timestamp_ms"].append(i * 1000 * den // num)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["mean_y"].append(
                        float(frames[i].astype(np.float64).mean()) / 255.0
                    )
            yield pd.DataFrame(out)

    # Round JVM-side with F.round (HALF_UP) — same convention as the
    # image twin and the DuckDB oracles; the kernel emits the raw mean
    # so Python round() (banker's) never enters the comparison path.
    return (
        df.select(id_col, binary_col)
        .mapInPandas(stat_batches, schema=VIDEO_FRAME_STATS_SCHEMA)
        .withColumn("mean_y", F.round(F.col("mean_y"), 6))
    )


def _synth_y4m(media_id: int) -> bytes:
    """Deterministic real Y4M: id-seeded moving gradient whose decoded
    luma means are pure modular-integer functions of (id, frame, x, y)
    — the property the analytic DuckDB oracle exploits."""
    w = 16 + 2 * ((media_id * 3) % 8)
    h = 16 + 2 * ((media_id * 5) % 8)
    n_frames = 2 + media_id % 6
    xs = np.arange(w, dtype=np.int64)[None, :]
    ys = np.arange(h, dtype=np.int64)[:, None]
    frames = np.stack(
        [((xs + 2 * ys + 3 * f + media_id) % 256).astype(np.uint8) for f in range(n_frames)]
    )
    return y4m_encode(frames, fps=(10, 1))


def synth_y4m_table(df: DataFrame, id_col: str) -> DataFrame:
    """Real-Y4M media table: one deterministic gradient clip per input
    id, generated Arrow-batched (same ingest shape as synth_png_table)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": [_synth_y4m(int(i)) for i in ids],
                    "mime": ["video/x-yuv4mpeg"] * len(ids),
                }
            )

    return fan_out_small_scan(df.select(id_col)).mapInPandas(
        gen, schema=_MEDIA_TABLE_SCHEMA
    )


def decode_audio_features(
    df: DataFrame,
    id_col: str = "media_id",
    binary_col: str = "content",
    fake: bool = False,
) -> DataFrame:
    """Audio decode → (duration, sample rate, RMS energy).

    ``fake=False`` parses REAL RIFF/WAVE 16-bit PCM via the stdlib
    ``wave`` module (:func:`_wav_features`); compressed formats
    (mp3/ogg/flac) would need a codec library and raise ``ValueError``
    from the parser.  ``fake=True`` derives deterministic values from
    the content hash."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if fake:
                hs = [hashlib.sha256(bytes(b)).digest() for b in pdf[binary_col]]
                yield pd.DataFrame(
                    {
                        "media_id": pdf[id_col].astype("int64"),
                        "duration_ms": [1000 + h[4] * 100 for h in hs],
                        "sample_rate": [16000 for _ in hs],
                        "rms_energy": [h[5] / 255.0 for h in hs],
                    }
                )
                continue
            decoded = [_wav_features(bytes(b)) for b in pdf[binary_col]]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "duration_ms": [d[0] for d in decoded],
                    "sample_rate": [d[1] for d in decoded],
                    "rms_energy": [d[2] for d in decoded],
                }
            )

    return df.select(id_col, binary_col).mapInPandas(
        decode_batches, schema=AUDIO_FEATURES_SCHEMA
    )


def synth_media_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Manufacture an opaque-binary media column from any string column
    (test fixture for the FAKE decode path — the bytes are not a real
    media format)."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.encode(F.col(text_col), "utf-8").alias("content"),
        F.lit("image/fake").alias("mime"),
    )


_MEDIA_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), False),
        T.StructField("mime", T.StringType(), False),
    ]
)


def _synth_png(media_id: int) -> bytes:
    """Deterministic real PNG: an id-seeded gradient whose dimensions
    and mean luminance are pure functions of the id."""
    w = 16 + (media_id * 7) % 48
    h = 16 + (media_id * 13) % 32
    xs = np.arange(w, dtype=np.uint32)
    ys = np.arange(h, dtype=np.uint32)[:, None]
    r = ((xs + media_id) % 256).astype(np.uint8) * np.ones((h, 1), np.uint8)
    g = ((ys * 3 + media_id * 5) % 256).astype(np.uint8) * np.ones((1, w), np.uint8)
    b = ((xs[None, :] + ys * 2) % 256).astype(np.uint8)
    return png_encode(np.stack([r, g, b], axis=-1))


def _synth_wav(media_id: int, sample_rate: int = 16000) -> bytes:
    """Deterministic real WAV: an id-seeded sine tone (so RMS of the
    decoded PCM is analytically ≈ amplitude/√2)."""
    dur_ms = 50 + (media_id * 17) % 200
    freq = 200.0 + (media_id % 40) * 25.0
    amp = 0.1 + (media_id % 8) * 0.1
    t = np.arange(int(sample_rate * dur_ms / 1000)) / sample_rate
    samples = np.round(amp * 32767.0 * np.sin(2 * np.pi * freq * t)).astype("<i2")
    return wav_encode(samples, sample_rate)


def _synth_wav_square(media_id: int, sample_rate: int = 16000) -> bytes:
    """Deterministic real WAV, EXACT-RMS variant: an id-seeded square
    wave.  Every sample is ±A for integer ``A = 3277·(1 + id%8)``, so
    the decoded RMS is A/32768 EXACTLY — A/2^15 is a dyadic double,
    its square has ≤30 significand bits, the mean of identical doubles
    is exact, and IEEE sqrt of an exact square is exact.  That chain
    is what upgrades the audio decode query from rows-only to a full
    value oracle (the sine twin's RMS differs from the closed form by
    libm-rounding ulps; this one cannot)."""
    dur_ms = 50 + (media_id * 17) % 200
    amp = 3277 * (1 + media_id % 8)
    period = 16 + (media_id % 10) * 2  # even → clean half-periods
    n = sample_rate * dur_ms // 1000
    i = np.arange(n)
    samples = np.where((i % period) < period // 2, amp, -amp).astype("<i2")
    return wav_encode(samples, sample_rate)


def synth_png_table(df: DataFrame, id_col: str) -> DataFrame:
    """Real-PNG media table: one deterministic gradient PNG per input
    id, generated in the same Arrow-batched ``mapInPandas`` shape a
    real ingest (fetch-from-object-store) stage uses."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": [_synth_png(int(i)) for i in ids],
                    "mime": ["image/png"] * len(ids),
                }
            )

    return fan_out_small_scan(
        df.select(F.col(id_col).cast("long").alias(id_col))
    ).mapInPandas(gen, schema=_MEDIA_TABLE_SCHEMA)


#: id offset separating variant media rows from their base row in
#: synth_png_pair_table — far above any testdata doc_id, and small
#: enough that id arithmetic stays in exact-long territory.
PNG_VARIANT_ID_OFFSET = 10_000_000


def _synth_png_pair(base_id: int, variant: bool) -> bytes:
    """Base/variant image pair for perceptual near-dup detection.

    Base: the ``_synth_png`` gradient PLUS a bright red block over an
    id-keyed pseudo-random subset of ~half the 64 aHash cells
    (``((id % 9973)·(cell·131 + 7)) % 97 < 32`` — small-factor
    integer arithmetic that stays exact in both engines even for the
    scale-probe's 3·10⁸-range replica ids).  The cell pattern is
    load-bearing: aHash is (by design, and by exact algebra — the
    cross-multiplied mean comparison cancels any uniform luma offset)
    invariant to brightness AND to the dimension rescaling that are
    the only differences between two plain gradients, so a
    pattern-free corpus collapses into one giant identical-signature
    clique (measured: 106k Hamming-≤3 pairs over 2k images; a single
    id-positioned block still left 78k, two block bits apart) — a
    dedup-degenerate workload.  A ~32-cell random pattern puts
    distinct ids ~32 bits apart the way real photos are, leaving
    only true variants inside the Hamming threshold.

    Variant: the base plus a clamped +160 red patch over the top-left
    cell — one cell's luma moves hard while every other cell's sum is
    untouched (only bits at the global-mean boundary can flip), so
    the variant lands within small Hamming distance of its base:
    exactly the edit class (logo stamp, corner watermark) perceptual
    dedup exists to catch.  All-integer arithmetic (uint8 clamp), so
    the SQL oracle re-derives every pixel, bit, and pair exactly."""
    w = 16 + (base_id * 7) % 48
    h = 16 + (base_id * 13) % 32
    xs = np.arange(w, dtype=np.uint32)
    ys = np.arange(h, dtype=np.uint32)[:, None]
    r = ((xs + base_id) % 256).astype(np.int64) * np.ones((h, 1), np.int64)
    g = ((ys * 3 + base_id * 5) % 256).astype(np.int64) * np.ones((1, w), np.int64)
    b = ((xs[None, :] + ys * 2) % 256).astype(np.int64)
    cellmap = ((ys * 8) // h) * 8 + (xs[None, :] * 8) // w
    bright = ((base_id % 9973) * (cellmap * 131 + 7)) % 97 < 32
    r = np.where(bright, np.minimum(r + 120, 255), r)
    if variant:
        patch = (xs[None, :] * 8 < w) & (ys * 8 < h)
        r = np.where(patch, np.minimum(r + 160, 255), r)
    return png_encode(
        np.stack([r.astype(np.uint8), g.astype(np.uint8), b.astype(np.uint8)], axis=-1)
    )


def synth_png_pair_table(df: DataFrame, id_col: str) -> DataFrame:
    """Near-dup image corpus: per input id, the id-blocked base PNG
    (media_id = id) plus its corner-patched variant (media_id = id +
    PNG_VARIANT_ID_OFFSET) — the deterministic stand-in for a crawl
    that re-ingests the same image with a stamped watermark.  See
    :func:`_synth_png_pair` for why the base differs from
    ``_synth_png`` (aHash brightness-invariance makes plain gradients
    collide into degenerate cliques)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            rows = {"media_id": [], "content": [], "mime": []}
            for i in ids:
                i = int(i)
                rows["media_id"].append(i)
                rows["content"].append(_synth_png_pair(i, variant=False))
                rows["media_id"].append(i + PNG_VARIANT_ID_OFFSET)
                rows["content"].append(_synth_png_pair(i, variant=True))
            rows["mime"] = ["image/png"] * len(rows["media_id"])
            yield pd.DataFrame(rows)

    return fan_out_small_scan(
        df.select(F.col(id_col).cast("long").alias(id_col))
    ).mapInPandas(gen, schema=_MEDIA_TABLE_SCHEMA)


def synth_wav_table(df: DataFrame, id_col: str, wave_kind: str = "sine") -> DataFrame:
    """Real-WAV media table: one deterministic tone per input id.
    ``wave_kind``: "sine" (libm-shaped PCM) or "square" (exact-RMS —
    see :func:`_synth_wav_square`)."""
    if wave_kind not in ("sine", "square"):
        raise ValueError(f"unknown wave_kind: {wave_kind!r}")
    synth = _synth_wav if wave_kind == "sine" else _synth_wav_square

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": [synth(int(i)) for i in ids],
                    "mime": ["audio/wav"] * len(ids),
                }
            )

    return fan_out_small_scan(
        df.select(F.col(id_col).cast("long").alias(id_col))
    ).mapInPandas(gen, schema=_MEDIA_TABLE_SCHEMA)


#: Schema of a perceptual-hash fingerprint row.
AHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("ahash_hi", T.LongType(), True),
        T.StructField("ahash_lo", T.LongType(), True),
    ]
)


def _ahash64(px: np.ndarray) -> tuple[int, int]:
    """64-bit average-hash of a decoded image, in EXACT integer
    arithmetic: integer luma (299R+587G+114B — the BT.601 weights
    scaled by 1000, so no float enters), 8×8 block sums via the cell
    rule ``i = x·8 // w``, and each bit decided by the cross-
    multiplied comparison ``cell_sum · n_pixels > total_sum ·
    cell_npx`` — algebraically "cell mean > global mean" with zero
    float-boundary risk (the property that makes the fingerprint
    reproducible bit-for-bit in ANY engine, including the SQL
    oracle).  Bit b = cell (y-block · 8 + x-block); returned as two
    32-bit halves in int64s (sign-safe, band-friendly)."""
    h, w, c = px.shape
    p = px.astype(np.int64)
    if c >= 3:
        luma = 299 * p[..., 0] + 587 * p[..., 1] + 114 * p[..., 2]
    else:
        luma = 1000 * p[..., 0]
    ys, xs = np.indices((h, w))
    cell = (ys * 8) // h * 8 + (xs * 8) // w
    # float64 weights hold int sums < 2^53 exactly — order-independent
    sums = np.bincount(cell.ravel(), weights=luma.ravel(), minlength=64).astype(
        np.int64
    )
    npx = np.bincount(cell.ravel(), minlength=64)
    total = int(luma.sum(dtype=np.int64))
    n = w * h
    bits = sums * n > total * npx
    hi = sum(1 << (b - 32) for b in range(32, 64) if bits[b])
    lo = sum(1 << b for b in range(32) if bits[b])
    return hi, lo


def image_ahash(
    df: DataFrame, id_col: str = "media_id", binary_col: str = "content"
) -> DataFrame:
    """Perceptual (average-hash) fingerprints of PNG payloads:
    (media_id, width, height, ahash_hi, ahash_lo) via Arrow-batched
    ``mapInPandas`` over the real pure-numpy decoder.

    The image-side analogue of SimHash for text: resize-to-8×8-blocks
    + threshold-at-mean makes the 64-bit signature robust to uniform
    brightness shifts and small local edits, so near-identical images
    collide at low Hamming distance and the SAME banded bucketing
    machinery used for text near-dup applies downstream (16-bit bands
    over hi/lo halves).  Two media rows per fingerprint bytes — no
    image ever shuffles."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "width": [], "height": [],
                "ahash_hi": [], "ahash_lo": [],
            }
            for mid, payload in zip(pdf[id_col], pdf[binary_col]):
                px = png_decode(bytes(payload))
                hgt, wid = px.shape[0], px.shape[1]
                hi, lo = _ahash64(px)
                out["media_id"].append(int(mid))
                out["width"].append(wid)
                out["height"].append(hgt)
                out["ahash_hi"].append(hi)
                out["ahash_lo"].append(lo)
            yield pd.DataFrame(out)

    return df.select(id_col, binary_col).mapInPandas(kernel, schema=AHASH_SCHEMA)
