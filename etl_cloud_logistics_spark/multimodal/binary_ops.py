"""Multimodal (image/audio/video) column plumbing.

Opaque payloads travel as ``binary`` columns with a typed metadata struct;
decode / feature-extract / frame-sample run as Arrow-batched
``mapInPandas`` operators — per-partition batch iterators, the only part of
the engine that leaves the JVM, and it does so vectorized.

The actual codecs (PIL/libsndfile/ffmpeg) are NOT in this container.  The
real-decode seam is split (r8, widened r9): PNG/JPEG/GIF/BMP dimensions
come from a stdlib header parse (``parse_image_header`` — IHDR / SOF /
logical-screen descriptor / DIB header, CI-tested with no dependency),
WAV/PCM audio decodes FULLY via the stdlib ``wave`` parser
(``decode_audio_wav`` — header + samples + RMS, with ``make_wav`` as the
encoder twin so CI round-trips real payloads); full pixel decode of
anything else needs PIL and raises ``NotImplementedError`` without it;
the default path substitutes a deterministic fake derived from the
payload bytes.  The Spark-side plumbing — schema, Arrow batching,
partition mapping, frame math — is real and tested.

Scale notes:
- payload bytes never pass through a shuffle here: mapInPandas is a narrow
  map over the scan, so 100 TB of media only streams executor-local;
- batch size is governed by spark.sql.execution.arrow.maxRecordsPerBatch —
  for multi-MB payloads set it low (e.g. 64) to bound executor memory;
- metadata-only queries (width/duration filters) read just the metadata
  struct thanks to parquet column pruning — payloads stay on disk.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("aspect_ratio", T.DoubleType()),
    ]
)

AUDIO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("last_frame_bytes", T.LongType()),
    ]
)


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Carry an opaque payload as a binary column + typed metadata struct
    (the DynamoDB document-model analog, SURVEY.md §1.2).  Here the payload
    is the utf-8 text bytes standing in for image/audio bytes."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.octet_length(text_col).cast("bigint").alias("n_bytes"),
            F.lit("application/octet-stream").alias("mime"),
        ).alias("meta"),
    )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def parse_image_header(payload: bytes) -> tuple[int, int] | None:
    """Stdlib-only width×height parse of the container formats that carry
    dimensions in their headers (r8, VERDICT r7 item 4 — makes
    ``use_real_codec=True`` genuinely exercisable in CI without PIL; r9
    adds GIF and BMP, shrinking the PIL-only remainder to formats whose
    dimensions genuinely need pixel-stream decode):

    - PNG: the IHDR chunk is mandated first (PNG spec §11.2.2), so width
      and height are the two big-endian uint32s at bytes 16..24;
    - JPEG: walk the marker segments from SOI to the first SOF frame
      header (0xC0-0xCF excluding the non-frame DHT/JPG/DAC markers
      0xC4/0xC8/0xCC); its payload is precision byte, then height, width
      as big-endian uint16s (JPEG B.2.2);
    - GIF: the logical-screen descriptor directly follows the 6-byte
      signature — width, height as little-endian uint16s (GIF89a §18);
    - BMP: dimensions live in the DIB header at offset 14 — INFO-family
      headers (size ≥ 40) carry signed LE int32s at 18/26 (negative
      height = top-down row order, magnitude is the pixel height,
      BITMAPINFOHEADER spec); the legacy CORE header (size 12) carries
      LE uint16s.

    Returns None when the payload is none of these — the caller falls
    through to the full-decode path (PIL) or its documented error."""
    import struct  # noqa: PLC0415

    if payload[:8] == _PNG_SIG and len(payload) >= 24 and payload[12:16] == b"IHDR":
        w, h = struct.unpack(">II", payload[16:24])
        return int(w), int(h)
    if payload[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 10:
        w, h = struct.unpack("<HH", payload[6:10])
        return int(w), int(h)
    if payload[:2] == b"BM" and len(payload) >= 22:
        (dib_size,) = struct.unpack("<I", payload[14:18])
        if dib_size >= 40 and len(payload) >= 26:
            w, h = struct.unpack("<ii", payload[18:26])
            if w <= 0 or h == 0:
                # negative HEIGHT legitimately means top-down rows; a
                # non-positive width (or zero height) is corrupt per the
                # BITMAPINFOHEADER spec — reject rather than emit it
                return None
            return int(w), abs(int(h))
        if dib_size == 12:
            w, h = struct.unpack("<HH", payload[18:22])
            return int(w), int(h)
        return None
    if payload[:2] == b"\xff\xd8":
        i, n = 2, len(payload)
        while i + 4 <= n:
            if payload[i] != 0xFF:
                return None  # corrupt marker stream
            marker = payload[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if marker in (0x01,) or 0xD0 <= marker <= 0xD9:
                i += 2  # standalone markers carry no length
                continue
            (seg_len,) = struct.unpack(">H", payload[i + 2 : i + 4])
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 > n:
                    return None
                h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                return int(w), int(h)
            i += 2 + seg_len
    return None


def make_image_header_stub(kind: str, width: int, height: int) -> bytes:
    """Encoder twin for ``parse_image_header``: a structurally-valid header
    of the requested container format carrying the given dimensions.  PNG
    gets a correct IHDR chunk with a real zlib CRC; GIF a logical-screen
    descriptor; BMP a 40-byte BITMAPINFOHEADER.  Pixel data is absent on
    purpose — these synthesize the exact bytes the HEADER parse reads, for
    the oracle-checked round-trip row and tests."""
    import struct  # noqa: PLC0415
    import zlib  # noqa: PLC0415

    if kind == "png":
        ihdr = struct.pack(">II", width, height) + b"\x08\x02\x00\x00\x00"
        chunk = b"IHDR" + ihdr
        return (
            _PNG_SIG
            + struct.pack(">I", len(ihdr))
            + chunk
            + struct.pack(">I", zlib.crc32(chunk))
        )
    if kind == "gif":
        return b"GIF89a" + struct.pack("<HH", width, height) + b"\x00\x00\x00"
    if kind == "bmp":
        dib = struct.pack("<IiiHH", 40, width, height, 1, 24) + b"\x00" * 24
        return b"BM" + struct.pack("<IHHI", 14 + 40, 0, 0, 54) + dib
    raise ValueError(f"unknown header kind: {kind}")


def _decode_image_real(payload: bytes) -> tuple[int, int]:
    """Real decoder: stdlib header parse for PNG/JPEG/GIF/BMP (no
    dependency), full PIL decode for everything else — PIL is absent in
    this container, so other-format payloads raise the documented error."""
    dims = parse_image_header(payload)
    if dims is not None:
        return dims
    try:
        from PIL import Image  # noqa: PLC0415
        import io  # noqa: PLC0415

        img = Image.open(io.BytesIO(payload))
        return img.width, img.height
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "image codec not available in this environment; "
            "use the deterministic stub path"
        ) from exc


def decode_image_features(binary_df: DataFrame, use_real_codec: bool = False) -> DataFrame:
    """Arrow-batched image 'decode': per-batch pandas in/out via mapInPandas.
    The stub derives width/height deterministically from the byte length so
    the pipeline (batching, schema, downstream aggs) is fully exercisable
    and oracle-checkable; aspect_ratio is left unrounded here (rounding
    policy belongs to the query layer).

    With ``use_real_codec=True``, PNG/JPEG dimensions are HEADER-TRUSTED,
    not decode-verified (r9 ADVICE note): the stdlib parse reads the
    IHDR/SOF fields and never touches pixel data, so a truncated or
    pixel-corrupt file with a plausible header still reports its claimed
    dims — do not treat the output as an integrity check; a full PIL
    decode (absent in this container) is what would reject such files."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if use_real_codec:
                dims = [_decode_image_real(p) for p in pdf["payload"]]
                w = pd.Series([d[0] for d in dims], dtype="int64")
                h = pd.Series([d[1] for d in dims], dtype="int64")
            else:
                n = pdf["payload"].map(len).astype("int64")
                w = n % 640 + 1
                h = (n * 7) % 480 + 1
            n_bytes = pdf["payload"].map(len).astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": n_bytes,
                    "width": w,
                    "height": h,
                    "aspect_ratio": w.astype("float64") / h.astype("float64"),
                }
            )

    return binary_df.mapInPandas(batches, IMAGE_META_SCHEMA)


WAV_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("sample_width", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_us", T.LongType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def make_wav(
    n_channels: int, sample_rate: int, n_frames: int, amplitude: int
) -> bytes:
    """Deterministic 16-bit PCM WAV: an alternating ±amplitude square wave,
    identical in every channel, written by the stdlib ``wave`` encoder.
    Used to synthesize real (not faked) audio payloads in tests and the
    round-trip registry row — a square wave's RMS is exactly its amplitude,
    so the decoded RMS is integer-exact and oracle-expressible."""
    import io  # noqa: PLC0415
    import struct  # noqa: PLC0415
    import wave  # noqa: PLC0415

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        frames = bytearray()
        for i in range(n_frames):
            v = amplitude if i % 2 == 0 else -amplitude
            frames += struct.pack("<h", v) * n_channels
        w.writeframes(bytes(frames))
    return buf.getvalue()


def decode_audio_wav(binary_df: DataFrame) -> DataFrame:
    """REAL audio decode for WAV/PCM payloads — the stdlib ``wave`` parser,
    no external codec: header fields (channels, rate, sample width), true
    PCM frame count, integer-floor duration in microseconds, and the RMS
    of the decoded int16 samples.  This is the audio analog of the PNG/JPEG
    header parse: the one container format whose full decode is
    dependency-free, making ``multimodal_wav_roundtrip``'s encoder→decoder
    differential CI-exercisable.  Non-WAV or non-16-bit payloads raise
    loudly (``wave.Error`` / ``ValueError``) — never a silent fake.

    RMS: the squared sum is exact integer arithmetic (< 2^53 for any
    realistic payload); the mean is then ONE float division and ``sqrt``
    one correctly-rounded op.  For the constant-|amplitude| square waves
    the encoder twin emits, mean = A² exactly and sqrt(A²) = A exactly, so
    the registry row's RMS column is engine-exact; for arbitrary signals
    the two float ops make RMS correct to ~1 ulp — do NOT write an oracle
    that assumes bit-exact RMS for non-constant-amplitude payloads."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import array  # noqa: PLC0415
        import io  # noqa: PLC0415
        import math  # noqa: PLC0415
        import wave  # noqa: PLC0415

        for pdf in it:
            out: dict[str, list] = {
                k: [] for k in (
                    "doc_id", "n_channels", "sample_rate", "sample_width",
                    "n_frames", "duration_us", "rms",
                )
            }
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                with wave.open(io.BytesIO(bytes(p))) as w:
                    nch = w.getnchannels()
                    sw = w.getsampwidth()
                    rate = w.getframerate()
                    nf = w.getnframes()
                    data = w.readframes(nf)
                if sw != 2:
                    raise ValueError(
                        f"doc {doc_id}: only 16-bit PCM supported, got "
                        f"{8 * sw}-bit"
                    )
                if rate <= 0:
                    # the stdlib wave module accepts a fmt chunk declaring
                    # sample_rate=0; fail with the documented error, not a
                    # ZeroDivisionError out of the duration math
                    raise ValueError(f"doc {doc_id}: invalid sample rate {rate}")
                samples = array.array("h")
                samples.frombytes(data)
                rms = (
                    math.sqrt(sum(s * s for s in samples) / len(samples))
                    if samples
                    else 0.0
                )
                out["doc_id"].append(int(doc_id))
                out["n_channels"].append(nch)
                out["sample_rate"].append(rate)
                out["sample_width"].append(sw)
                out["n_frames"].append(nf)
                out["duration_us"].append(nf * 1_000_000 // rate)
                out["rms"].append(rms)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "n_channels": pd.Series(out["n_channels"], dtype="int32"),
                    "sample_rate": pd.Series(out["sample_rate"], dtype="int32"),
                    "sample_width": pd.Series(out["sample_width"], dtype="int32"),
                    "n_frames": pd.Series(out["n_frames"], dtype="int64"),
                    "duration_us": pd.Series(out["duration_us"], dtype="int64"),
                    "rms": pd.Series(out["rms"], dtype="float64"),
                }
            )

    return binary_df.mapInPandas(batches, WAV_META_SCHEMA)


VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("timescale", T.LongType()),
        T.StructField("duration_ticks", T.LongType()),
        T.StructField("duration_us", T.LongType()),
    ]
)


def make_mp4_stub(timescale: int, duration_ticks: int) -> bytes:
    """Minimal ISO BMFF (MP4) container: an ``ftyp`` box and a ``moov`` box
    holding one version-0 ``mvhd`` with the given timescale and duration.
    No media tracks — this is the encoder twin for the CONTAINER-metadata
    parser, the part of video decode that is dependency-free (sample data
    decode needs ffmpeg and stays behind the documented stub)."""
    import struct  # noqa: PLC0415

    def box(kind: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + kind + body

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    # mvhd v0: version/flags, ctime, mtime, timescale, duration, rate,
    # volume+reserved, 2x reserved, 3x3 matrix, 6x predefined, next_track_id
    mvhd_body = (
        struct.pack(">I", 0)
        + struct.pack(">II", 0, 0)
        + struct.pack(">II", timescale, duration_ticks)
        + struct.pack(">I", 0x00010000)
        + struct.pack(">HH", 0x0100, 0)
        + struct.pack(">II", 0, 0)
        + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + struct.pack(">6I", 0, 0, 0, 0, 0, 0)
        + struct.pack(">I", 2)
    )
    moov = box(b"moov", box(b"mvhd", mvhd_body))
    return ftyp + moov


def parse_mp4_mvhd(payload: bytes) -> tuple[int, int] | None:
    """Stdlib-only MP4 container-metadata parse: walk the top-level ISO
    BMFF boxes to ``moov``, then its children to ``mvhd``, and read
    (timescale, duration_ticks).  Handles version-0 (uint32) and
    version-1 (uint64) mvhd layouts and 64-bit ``largesize`` boxes.
    Returns None for non-MP4 payloads or a truncated box tree — the
    caller's ffmpeg-or-error fallthrough, same contract as
    ``parse_image_header``."""
    import struct  # noqa: PLC0415

    def walk(buf: bytes, start: int, end: int):
        i = start
        while i + 8 <= end:
            (size,) = struct.unpack(">I", buf[i : i + 4])
            kind = buf[i + 4 : i + 8]
            hdr = 8
            if size == 1:  # 64-bit largesize
                if i + 16 > end:
                    return
                (size,) = struct.unpack(">Q", buf[i + 8 : i + 16])
                hdr = 16
            elif size == 0:  # box runs to EOF
                size = end - i
            if size < hdr or i + size > end:
                return
            yield kind, i + hdr, i + size
            i += size

    if len(payload) < 16 or payload[4:8] not in (b"ftyp", b"moov"):
        return None
    for kind, body_start, body_end in walk(payload, 0, len(payload)):
        if kind != b"moov":
            continue
        for child, c_start, c_end in walk(payload, body_start, body_end):
            if child != b"mvhd" or c_end - c_start < 20:
                continue
            version = payload[c_start]
            # >= 20 so the read's precondition is local to this branch —
            # the outer `c_end - c_start < 20: continue` gate also covers
            # it today, but a refactor of that gate must not be able to
            # reintroduce a short read here (ADVICE r9)
            if version == 0 and c_end - c_start >= 20:
                ts, dur = struct.unpack(
                    ">II", payload[c_start + 12 : c_start + 20]
                )
            elif version == 1 and c_end - c_start >= 32:
                (ts,) = struct.unpack(">I", payload[c_start + 20 : c_start + 24])
                (dur,) = struct.unpack(">Q", payload[c_start + 24 : c_start + 32])
            else:
                return None
            return int(ts), int(dur)
    return None


def decode_video_meta(binary_df: DataFrame) -> DataFrame:
    """REAL video container-metadata decode for MP4 payloads (the mvhd
    timescale/duration walk — dependency-free); non-MP4 payloads raise
    loudly, never a silent fake.  Frame/sample data decode is the part
    that genuinely needs ffmpeg and stays behind the documented stubs."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, tss, durs, uss = [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                meta = parse_mp4_mvhd(bytes(p))
                if meta is None:
                    raise ValueError(
                        f"doc {doc_id}: not an MP4 container (no ftyp/mvhd)"
                    )
                ts, dur = meta
                if ts <= 0:
                    # same failure class the audio twin guards: a crafted
                    # mvhd with timescale=0 must fail loudly, not emit a
                    # plausible-looking zero duration
                    raise ValueError(f"doc {doc_id}: invalid mvhd timescale {ts}")
                ids.append(int(doc_id))
                tss.append(ts)
                durs.append(dur)
                uss.append(dur * 1_000_000 // ts)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "timescale": pd.Series(tss, dtype="int64"),
                    "duration_ticks": pd.Series(durs, dtype="int64"),
                    "duration_us": pd.Series(uss, dtype="int64"),
                }
            )

    return binary_df.mapInPandas(batches, VIDEO_META_SCHEMA)


def audio_frame_stats(binary_df: DataFrame, frame_bytes: int = 256) -> DataFrame:
    """Frame-sampling math for audio-like payloads (ceil-division frame
    count + tail size) as a mapInPandas batch operator."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n = pdf["payload"].map(len).astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": n,
                    "n_frames": (n + frame_bytes - 1) // frame_bytes,
                    "last_frame_bytes": n % frame_bytes,
                }
            )

    return binary_df.mapInPandas(batches, AUDIO_FRAME_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_start", T.LongType()),
        T.StructField("frame_len", T.LongType()),
    ]
)


def video_frame_sample(
    binary_df: DataFrame, frame_bytes: int = 256, every_n: int = 2
) -> DataFrame:
    """Frame sampling as a one-to-many batch operator (the UDTF shape):
    each payload splits into fixed-size frames and every ``every_n``-th
    frame is emitted as its own row — the ffmpeg keyframe-sample analog.
    Output rows carry offsets, not payload copies, so the fan-out is
    metadata-sized."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, starts, lens = [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                n = len(p)
                n_frames = (n + frame_bytes - 1) // frame_bytes
                for i in range(0, n_frames, every_n):
                    start = i * frame_bytes
                    ids.append(int(doc_id))
                    idxs.append(i)
                    starts.append(start)
                    lens.append(min(frame_bytes, n - start))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "frame_start": pd.Series(starts, dtype="int64"),
                    "frame_len": pd.Series(lens, dtype="int64"),
                }
            )

    return binary_df.mapInPandas(batches, FRAME_SCHEMA)


def extract_embedding_stub(binary_df: DataFrame, dim: int = 8) -> DataFrame:
    """Feature-extraction stub: a deterministic pseudo-embedding from the
    payload bytes (byte-bucket histogram, L1-normalized) — the stand-in for
    a real vision/audio encoder, emitting the same ``array<float>`` shape
    the similarity operators consume (X3/X5 interop)."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            embs = []
            for p in pdf["payload"]:
                counts = [0] * dim
                for b in p:
                    counts[b % dim] += 1
                total = max(sum(counts), 1)
                embs.append([c / total for c in counts])
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "embedding": embs}
            )

    return binary_df.mapInPandas(batches, schema)
