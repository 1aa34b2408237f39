"""Multimodal column pattern: media as opaque ``binary`` payloads with
typed metadata, processed by Arrow-batched ``mapInPandas`` (north-star
surface).

Two modalities decode for REAL with nothing beyond the stdlib
(round 4): AUDIO via :func:`synth_wav_table`/:func:`decode_wav`
(genuine RIFF/WAVE PCM16 through the ``wave`` module) and IMAGE via
:func:`synth_png_table`/:func:`decode_png` (spec-correct PNG chunks,
CRC32 verification, inflate, 5-filter scanline reconstruction) — both
hash-checked end-to-end by the ``wav_audio_decode`` /
``png_image_decode`` queries.  Codec-library formats (JPEG, video)
remain a STUB: ``decode_documents`` produces deterministic fake
features.  Everything Spark-side — schema, binary column handling,
Arrow batch shape, partition-parallel execution — is real and tested
for all paths.

Scale notes: payloads stay columnar (parquet binary) end-to-end;
mapInPandas streams Arrow batches so executor memory holds one batch,
not one partition, of decoded media.  Feature extraction parallelism ==
input partitions; no shuffle is introduced.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "doc_id long, n_bytes int, fake_width int, fake_height int, status string"
)


def to_media_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Model documents as a multimodal table: opaque binary payload +
    typed metadata struct (the pattern for image/audio/video columns)."""
    payload = F.col(text_col).cast("binary")
    meta = F.struct(
        F.octet_length(F.col(text_col)).alias("n_bytes"),
        F.md5(F.col(text_col)).alias("content_md5"),
        F.lit("text/plain").alias("mime"),
    )
    return docs.select("doc_id", payload.alias("payload"), meta.alias("meta"))


def decode_documents(media: DataFrame) -> DataFrame:
    """Arrow-batched 'decode': mapInPandas over the binary payload.
    Returns typed features; a real decoder (PIL/librosa/av) replaces
    the fake when the codec libraries exist.

    The batch function is fully self-contained (no references to this
    module) so cloudpickle ships it by value — executors don't need the
    package on their PYTHONPATH.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        def fake_decode(payload: bytes) -> tuple[int, int]:
            # Deterministic stand-in for decode: fake dimensions from
            # the payload digest (stable across runs/partitionings).
            d = _hashlib.md5(payload).digest()
            return 64 + d[0] % 64 * 16, 64 + d[1] % 64 * 16

        for pdf in it:
            dims = [fake_decode(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "fake_width": [w for w, _ in dims],
                    "fake_height": [h for _, h in dims],
                    "status": "decoded-fake",
                }
            )

    return media.mapInPandas(batches, schema=DECODED_SCHEMA)


# --- real audio decode (round 4): PCM WAV via stdlib ------------------
#
# The image/video codecs stay import-gated (no PIL/av in the
# container), but AUDIO needs nothing beyond the stdlib: the `wave`
# module is a real RIFF/WAVE parser and PCM16 is struct.unpack.  So
# the decode seam gets one genuinely REAL modality: synthesize actual
# WAV files (44-byte canonical header + interleaved PCM16 frames) as a
# binary column, then decode them back with the real parser — both
# sides Arrow-batched mapInPandas, no shuffle, executor memory holds
# one batch of audio, exactly the multimodal contract.  The waveform
# is integer arithmetic on (doc_id, sample index), so a SQL oracle
# regenerates every decoded feature exactly.

WAV_DECODED_SCHEMA = (
    "doc_id long, magic_ok boolean, sample_rate int, channels int, "
    "n_frames long, first_sample int, peak int, sum_sq long"
)


def synth_wav_table(docs: DataFrame) -> DataFrame:
    """(doc_id, payload) — a REAL RIFF/WAVE PCM16 file per doc, written
    by the stdlib ``wave`` module.  Deterministic synthesis:
    sample_rate = 8000 + (doc_id%4)*4000, channels = 1 + doc_id%2,
    n_frames = 100 + doc_id%50, flat sample i =
    (doc_id*31 + i*17) % 65536 - 32768."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io as _io
        import struct as _struct
        import wave as _wave

        import pandas as _pd

        def make(doc_id: int) -> bytes:
            rate = 8000 + (doc_id % 4) * 4000
            channels = 1 + doc_id % 2
            n_frames = 100 + doc_id % 50
            n = n_frames * channels
            samples = [
                (doc_id * 31 + i * 17) % 65536 - 32768 for i in range(n)
            ]
            buf = _io.BytesIO()
            with _wave.open(buf, "wb") as w:
                w.setnchannels(channels)
                w.setsampwidth(2)
                w.setframerate(rate)
                w.writeframes(_struct.pack(f"<{n}h", *samples))
            return buf.getvalue()

        for pdf in it:
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [make(int(d)) for d in pdf["doc_id"]],
                }
            )

    return docs.select("doc_id").mapInPandas(
        batches, schema="doc_id long, payload binary"
    )


def decode_wav(media: DataFrame) -> DataFrame:
    """REAL audio decode: parse the RIFF container with the stdlib
    ``wave`` module, unpack PCM16 frames, and emit exact integer
    features (first sample, peak amplitude, energy as a BIGINT sum of
    squares — no float in the output, so the oracle matches
    bit-for-bit)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io as _io
        import struct as _struct
        import wave as _wave

        import pandas as _pd

        def decode(payload: bytes):
            magic_ok = payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
            try:
                with _wave.open(_io.BytesIO(payload), "rb") as w:
                    channels = w.getnchannels()
                    rate = w.getframerate()
                    n_frames = w.getnframes()
                    raw = w.readframes(n_frames)
                n = n_frames * channels
                samples = _struct.unpack(f"<{n}h", raw)
            except Exception:
                # undecodable payload -> reported row, not a task
                # failure (a 100 TB corpus WILL contain corrupt media)
                return (False, 0, 0, 0, 0, 0, 0)
            return (
                magic_ok,
                rate,
                channels,
                n_frames,
                samples[0] if samples else 0,
                max(abs(s) for s in samples) if samples else 0,
                sum(s * s for s in samples),
            )

        for pdf in it:
            rows = [decode(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "magic_ok": [r[0] for r in rows],
                    "sample_rate": [r[1] for r in rows],
                    "channels": [r[2] for r in rows],
                    "n_frames": [r[3] for r in rows],
                    "first_sample": [r[4] for r in rows],
                    "peak": [r[5] for r in rows],
                    "sum_sq": [r[6] for r in rows],
                }
            )

    return media.mapInPandas(batches, schema=WAV_DECODED_SCHEMA)


# --- real image decode (round 4): PNG via stdlib ----------------------
#
# Same upgrade as WAV for the image modality: PNG needs only zlib +
# struct.  The synth side writes spec-correct non-interlaced 8-bit
# grayscale PNGs (signature, IHDR/IDAT/IEND chunks with real CRC32s,
# per-scanline filter bytes, deflate-compressed).  The decode side is
# a REAL minimal PNG decoder: chunk walk with CRC verification, IHDR
# parse, IDAT concat + inflate, and full 5-filter scanline
# reconstruction (None/Sub/Up/Average/Paeth per the spec — not just
# the filter the synth happens to emit).  JPEG/video stay gated.

PNG_DECODED_SCHEMA = (
    "doc_id long, sig_ok boolean, crc_ok boolean, width int, height int, "
    "bit_depth int, color_type int, first_pixel int, pixel_sum long"
)


def synth_png_table(docs: DataFrame) -> DataFrame:
    """(doc_id, payload) — a real 8-bit grayscale PNG per doc.
    Deterministic: width = 4 + doc_id%5, height = 3 + doc_id%4,
    pixel(x, y) = (doc_id*7 + y*13 + x*31) % 256."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _struct
        import zlib as _zlib

        import pandas as _pd

        def chunk(ctype: bytes, data: bytes) -> bytes:
            return (
                _struct.pack(">I", len(data))
                + ctype
                + data
                + _struct.pack(">I", _zlib.crc32(ctype + data) & 0xFFFFFFFF)
            )

        def make(doc_id: int) -> bytes:
            w = 4 + doc_id % 5
            h = 3 + doc_id % 4
            ihdr = _struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
            raw = b"".join(
                b"\x00"  # filter type None per scanline
                + bytes((doc_id * 7 + y * 13 + x * 31) % 256 for x in range(w))
                for y in range(h)
            )
            return (
                b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", _zlib.compress(raw, 9))
                + chunk(b"IEND", b"")
            )

        for pdf in it:
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [make(int(d)) for d in pdf["doc_id"]],
                }
            )

    return docs.select("doc_id").mapInPandas(
        batches, schema="doc_id long, payload binary"
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_decode_py(payload: bytes):
    """REAL minimal PNG decode (stdlib only) to
    ``(sig_ok, crc_ok, width, height, bit_depth, color_type, pixels)``
    — chunk walk + CRC32 verification, IHDR parse, IDAT inflate, and
    spec-complete scanline unfiltering (filters 0-4) for 8-bit
    grayscale.  Shared by :func:`decode_png` and
    :func:`resize_png_nearest` (module-level so executor workers
    resolve it by import)."""
    import struct as _struct
    import zlib as _zlib

    sig_ok = payload[:8] == b"\x89PNG\r\n\x1a\n"
    pos, crc_ok, idat = 8, True, b""
    width = height = bit_depth = color_type = 0
    while pos + 8 <= len(payload):
        (length,) = _struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = _struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if _zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            crc_ok = False
        if ctype == b"IHDR":
            width, height, bit_depth, color_type = _struct.unpack(
                ">IIBB", data[:10]
            )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    raw = _zlib.decompress(idat)
    stride = width  # 8-bit grayscale: 1 byte/pixel
    pixels = []
    prev = bytes(stride)
    for y in range(height):
        row = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
        ftype, line = row[0], bytearray(row[1:])
        for x in range(stride):
            a = line[x - 1] if x > 0 else 0
            b = prev[x]
            c = prev[x - 1] if x > 0 else 0
            if ftype == 1:
                line[x] = (line[x] + a) & 0xFF
            elif ftype == 2:
                line[x] = (line[x] + b) & 0xFF
            elif ftype == 3:
                line[x] = (line[x] + (a + b) // 2) & 0xFF
            elif ftype == 4:
                line[x] = (line[x] + _paeth(a, b, c)) & 0xFF
        prev = bytes(line)
        pixels.extend(prev)
    return sig_ok, crc_ok, width, height, bit_depth, color_type, pixels


def decode_png(media: DataFrame) -> DataFrame:
    """Decode the PNG payload column (:func:`_png_decode_py`) into
    header fields + integer pixel features.  Integer outputs only, so
    the oracle matches bit-for-bit."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        def decode(payload: bytes):
            try:
                sig, crc, w, h, depth, ctype, px = _png_decode_py(payload)
                return (
                    sig, crc, w, h, depth, ctype,
                    px[0] if px else 0,
                    sum(px),
                )
            except Exception:
                # malformed container (truncated chunk, bad deflate,
                # lying IHDR) -> reported row, not a task failure
                return (False, False, 0, 0, 0, 0, 0, 0)

        for pdf in it:
            rows = [decode(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sig_ok": [r[0] for r in rows],
                    "crc_ok": [r[1] for r in rows],
                    "width": [r[2] for r in rows],
                    "height": [r[3] for r in rows],
                    "bit_depth": [r[4] for r in rows],
                    "color_type": [r[5] for r in rows],
                    "first_pixel": [r[6] for r in rows],
                    "pixel_sum": [r[7] for r in rows],
                }
            )

    return media.mapInPandas(batches, schema=PNG_DECODED_SCHEMA)


RESIZED_SCHEMA = (
    "doc_id long, src_w int, src_h int, dst_w int, dst_h int, "
    "resized_first int, resized_sum bigint"
)


def resize_png_nearest(
    media: DataFrame, dst_w: int = 4, dst_h: int = 3
) -> DataFrame:
    """Image RESIZE on the decoded pixels (the spec's resize stage):
    REAL PNG decode (:func:`_png_decode_py`) followed by
    nearest-neighbor resampling to ``dst_w x dst_h`` with the standard
    floor mapping ``src = (dst * src_dim) // dst_dim`` — all-integer,
    so the oracle replays the resample bit-for-bit.  Arrow-batched
    mapInPandas, zero shuffle; real codec formats (JPEG) stay behind
    the declared import-gated stub."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        def resample(payload: bytes):
            try:
                _sig, _crc, w, h, _d, _c, px = _png_decode_py(payload)
                out = [
                    px[((dy * h) // dst_h) * w + ((dx * w) // dst_w)]
                    for dy in range(dst_h)
                    for dx in range(dst_w)
                ]
                return (w, h, dst_w, dst_h, out[0], sum(out))
            except Exception:
                return (0, 0, dst_w, dst_h, 0, 0)

        for pdf in it:
            rows = [resample(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "src_w": [r[0] for r in rows],
                    "src_h": [r[1] for r in rows],
                    "dst_w": [r[2] for r in rows],
                    "dst_h": [r[3] for r in rows],
                    "resized_first": [r[4] for r in rows],
                    "resized_sum": [r[5] for r in rows],
                }
            )

    return media.mapInPandas(batches, schema=RESIZED_SCHEMA)


# --- raw video: frame synthesis + frame sampling ----------------------
#
# No codec library ships in this container (declared stub for
# JPEG/H.264 etc.), but FRAME SAMPLING itself needs no codec: a raw
# uncompressed video is frames of known byte size, and sampling every
# k-th frame is deterministic byte slicing.  The plumbing — binary
# payload column, Arrow batching, per-frame feature shape — is exactly
# what a real decoder would sit behind.

VIDEO_W, VIDEO_H = 4, 4  # tiny raw frames: 16 bytes each

VIDEO_SAMPLED_SCHEMA = (
    "doc_id long, n_frames int, n_sampled int, frame0_mean int, "
    "sampled_sum bigint"
)


def synth_video_table(docs: DataFrame) -> DataFrame:
    """(doc_id, payload) — a raw grayscale 'video' per doc:
    ``n_frames = 5 + doc_id%6`` concatenated 4x4 frames,
    ``pixel(f, i) = (doc_id*3 + f*17 + i*11) % 256``."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        def make(doc_id: int) -> bytes:
            n = 5 + doc_id % 6
            return bytes(
                (doc_id * 3 + f * 17 + i * 11) % 256
                for f in range(n)
                for i in range(VIDEO_W * VIDEO_H)
            )

        for pdf in it:
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [make(int(d)) for d in pdf["doc_id"]],
                }
            )

    return docs.select("doc_id").mapInPandas(
        batches, schema="doc_id long, payload binary"
    )


def sample_video_frames(media: DataFrame, every: int = 2) -> DataFrame:
    """Frame sampling (the spec's frame-sample stage): slice every
    ``every``-th frame out of the raw payload and emit integer
    per-sample features — frame count, sampled count, integer mean of
    frame 0, and the exact sum over all sampled frames' pixels."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        fsz = VIDEO_W * VIDEO_H

        def sample(payload: bytes):
            n = len(payload) // fsz
            frames = [
                payload[f * fsz : (f + 1) * fsz] for f in range(0, n, every)
            ]
            f0 = payload[:fsz]
            return (
                n,
                len(frames),
                sum(f0) // fsz if f0 else 0,
                sum(sum(fr) for fr in frames),
            )

        for pdf in it:
            rows = [sample(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_frames": [r[0] for r in rows],
                    "n_sampled": [r[1] for r in rows],
                    "frame0_mean": [r[2] for r in rows],
                    "sampled_sum": [r[3] for r in rows],
                }
            )

    return media.mapInPandas(batches, schema=VIDEO_SAMPLED_SCHEMA)
