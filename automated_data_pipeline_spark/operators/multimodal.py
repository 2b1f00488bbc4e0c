"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched Pandas UDFs
over ``mapInPandas``.

The Spark-side machinery (schemas, partition-sized batch iteration, UDF
signatures) is real and tested, and so is the decode for the formats
the fixtures carry: decode_png/encode_png (zlib+struct, full filter
reconstruction), APNG frame extraction, and WAV PCM parsing are real
in-container stdlib codecs (see decode_png below and operators/
audio.py) with byte-level SQL oracles. Only formats needing external
libs (JPEG/MP3/H.264) stay behind an import-try with a deterministic
fake featurizer, so the pipeline shape (what runs where, what
shuffles, what schema flows) is exactly what a production deployment
with PIL/torchaudio would run for those.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),  # opaque bytes
        T.StructField("media_type", T.StringType(), True),  # image|audio|video
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURE_SCHEMA = (
    "media_id long, media_type string, n_bytes long, payload_sha string, "
    "feature array<float>, byte_acc array<long>, decode_ok boolean"
)


def attach_fake_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Test harness: derive an opaque binary payload + metadata from the
    documents fixture (UTF-8 bytes stand in for undecodable media)."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        (F.when(F.col(id_col) % 3 == 0, "image")
         .when(F.col(id_col) % 3 == 1, "audio")
         .otherwise("video")).alias("media_type"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )


PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def _png_chunks(payload: bytes):
    """Walk a PNG/APNG chunk stream, yielding (type, data). Validates
    the signature and that every declared chunk length fits inside the
    payload — a truncated file raises instead of silently yielding a
    short chunk (same contract as the WAV decoder)."""
    import struct

    if payload[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG payload")
    pos = 8
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        if len(data) != length:
            raise ValueError("truncated PNG chunk")
        pos += 12 + length  # length + type + data + crc
        yield ctype, data
        if ctype == b"IEND":
            return


def _parse_ihdr(data: bytes) -> tuple[int, int, int]:
    """IHDR -> (width, height, channels); rejects the unsupported
    variants (non-8-bit, interlaced, palette)."""
    import struct

    width, height, depth, color, _, _, interlace = struct.unpack(
        ">IIBBBBB", data
    )
    if depth != 8:
        raise ValueError(f"unsupported PNG bit depth {depth}")
    if interlace:
        raise ValueError("interlaced PNG unsupported")
    channels = {0: 1, 2: 3, 6: 4}.get(color, 0)
    if not channels:
        raise ValueError(f"unsupported PNG color type {color}")
    return width, height, channels


def decode_png(payload: bytes) -> tuple[int, int, int, bytes]:
    """Minimal pure-stdlib PNG decoder: returns (width, height,
    channels, raw pixel bytes row-major). Supports the common subset —
    8-bit depth, grayscale/RGB/RGBA (color types 0/2/6), no interlace —
    which covers the PNGs a thumbnail/featurize pipeline stages.
    Everything here is from the public PNG spec (RFC 2083): IHDR parse,
    IDAT zlib inflate, per-scanline unfiltering (None/Sub/Up/Average/
    Paeth). This is the in-container 'real decode' path; a production
    image with Pillow/torchvision plugs into the same seam
    (``_decode_image``) with broader format support."""
    import zlib

    width = height = channels = 0
    idat = b""
    for ctype, data in _png_chunks(payload):
        if ctype == b"IHDR":
            width, height, channels = _parse_ihdr(data)
        elif ctype == b"IDAT":
            idat += data
    return width, height, channels, _unfilter(
        zlib.decompress(idat), width, height, channels
    )


def _unfilter(raw: bytes, width: int, height: int, channels: int) -> bytes:
    """PNG scanline unfiltering (None/Sub/Up/Average/Paeth) — shared by
    still-PNG decode and per-frame APNG decode. Rejects streams whose
    decompressed size doesn't match the declared geometry — a
    truncated frame must flag its row, not yield short pixel buffers
    with decode_ok=True."""
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise ValueError(
            f"filtered stream is {len(raw)} bytes, geometry needs "
            f"{height * (stride + 1)}"
        )
    out = bytearray()
    prev = bytearray(stride)
    for y in range(height):
        off = y * (stride + 1)
        filt = raw[off]
        line = bytearray(raw[off + 1:off + 1 + stride])
        if filt == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif filt == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif filt == 3:  # Average
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + (left + prev[i]) // 2) & 0xFF
        elif filt == 4:  # Paeth
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                b = prev[i]
                c = prev[i - channels] if i >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif filt != 0:
            raise ValueError(f"unknown PNG filter {filt}")
        out += line
        prev = line
    return bytes(out)


def encode_png(width: int, height: int, channels: int, pixels: bytes) -> bytes:
    """Counterpart encoder (filter 0 rows, one zlib stream) — used to
    build golden fixtures in tests and by ``resize_image`` to re-encode."""
    import struct
    import zlib

    color = {1: 0, 3: 2, 4: 6}[channels]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    stride = width * channels
    raw = b"".join(
        b"\x00" + pixels[y * stride:(y + 1) * stride] for y in range(height)
    )

    def chunk(ctype: bytes, data: bytes) -> bytes:
        body = ctype + data
        return (
            struct.pack(">I", len(data))
            + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        )

    return (
        PNG_SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _decode_image(payload: bytes) -> tuple[int, int, int, bytes]:
    """Real decode seam: Pillow when available (full format coverage),
    else the stdlib PNG path. Returns (width, height, channels,
    pixel bytes)."""
    try:
        import io

        from PIL import Image

        img = Image.open(io.BytesIO(payload))
        mode_channels = {"L": 1, "RGB": 3, "RGBA": 4}
        if img.mode not in mode_channels:
            img = img.convert("RGB")
        return (
            img.width,
            img.height,
            mode_channels[img.mode],
            img.tobytes(),
        )
    except ImportError:
        return decode_png(payload)


def _byte_acc(payload: bytes, dim: int = 8) -> list[int]:
    """Exact integer bucket accumulators of the byte histogram:
    acc[k] = sum of payload bytes at positions i with i % dim == k.
    Pure integer math — bit-identical across engines, so the driver's
    value-hash gate can verify the featurizer against a SQL oracle
    (the float ``_fake_feature`` is acc/n rounded, which no two engines
    format identically). Vectorized: numpy strided sums are ~100x the
    Python byte loop, which matters because this runs inside the
    Arrow-batched hot path."""
    import numpy as np

    arr = np.frombuffer(payload, dtype=np.uint8)
    return [int(arr[k::dim].sum(dtype=np.int64)) for k in range(dim)]


def _fake_feature(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in featurizer: byte-histogram moments.
    Replaceable by a real model featurizer with the same signature."""
    if not payload:
        return [0.0] * dim
    acc = _byte_acc(payload, dim)
    n = max(len(payload), 1)
    return [round(a / n, 6) for a in acc]


def extract_features(df: DataFrame, batch_size_hint: int = 1024) -> DataFrame:
    """mapInPandas featurization: Arrow-batched binary payloads ->
    metadata + feature vectors. Partition-parallel; each batch is a
    pandas DataFrame so a real decoder would vectorize across the batch
    (or hand off to a GPU).
    """

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            payloads = pdf["payload"]
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": payloads.map(lambda p: len(p) if p is not None else 0),
                    "payload_sha": payloads.map(
                        lambda p: hashlib.sha256(p or b"").hexdigest()
                    ),
                    "feature": payloads.map(lambda p: _fake_feature(p or b"")),
                    "byte_acc": payloads.map(lambda p: _byte_acc(p or b"")),
                    "decode_ok": payloads.map(lambda p: p is not None),
                }
            )
            yield out

    return df.mapInPandas(featurize, schema=FEATURE_SCHEMA)


IMAGE_FEATURE_SCHEMA = (
    "media_id long, width int, height int, channels int, "
    "channel_means array<double>, decode_ok boolean"
)


def decode_image_features(df: DataFrame) -> DataFrame:
    """REAL decode featurization: parse each image payload (PNG via the
    stdlib decoder, or any Pillow format when Pillow is installed) and
    emit geometry + per-channel pixel means. Same mapInPandas shape as
    ``extract_features`` — Arrow-batched, partition-parallel, decode
    failures flagged per row instead of failing the task (a corrupt
    image in a 100 TB corpus must not kill the job)."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    import numpy as np

                    w, h, ch, px = _decode_image(bytes(payload or b""))
                    arr = np.frombuffer(px, dtype=np.uint8)
                    means = [
                        round(
                            float(arr[c::ch].sum(dtype=np.int64))
                            / max(len(px) // ch, 1),
                            6,
                        )
                        for c in range(ch)
                    ]
                    rows.append((mid, w, h, ch, means, True))
                except Exception:
                    rows.append((mid, None, None, None, None, False))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "channels",
                    "channel_means", "decode_ok",
                ],
            )

    return df.mapInPandas(featurize, schema=IMAGE_FEATURE_SCHEMA)


def resize_image(df: DataFrame, width: int, height: int) -> DataFrame:
    """REAL resize: decode -> nearest-neighbor resample -> re-encode
    PNG, inside one mapInPandas pass. Rows
    whose payloads don't decode pass through unchanged — payload AND
    original width/height metadata both kept (a corrupt row must not
    lose the geometry it arrived with)."""

    def do_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            new_payloads, new_w, new_h = [], [], []
            for payload, orig_w, orig_h in zip(
                pdf["payload"], pdf["width"], pdf["height"]
            ):
                try:
                    w, h, ch, px = _decode_image(bytes(payload or b""))
                    out = bytearray()
                    for y in range(height):
                        sy = min(y * h // height, h - 1)
                        for x in range(width):
                            sx = min(x * w // width, w - 1)
                            o = (sy * w + sx) * ch
                            out += px[o:o + ch]
                    new_payloads.append(
                        encode_png(width, height, ch, bytes(out))
                    )
                    new_w.append(width)
                    new_h.append(height)
                except Exception:
                    new_payloads.append(payload)
                    new_w.append(None if pd.isna(orig_w) else int(orig_w))
                    new_h.append(None if pd.isna(orig_h) else int(orig_h))
            pdf["payload"] = new_payloads
            pdf["width"] = pd.array(new_w, dtype="Int32")
            pdf["height"] = pd.array(new_h, dtype="Int32")
            yield pdf

    return df.mapInPandas(do_resize, schema=MEDIA_SCHEMA)


def dhash64(payload: bytes) -> int:
    """Perceptual difference hash (dHash, 64-bit): decode -> integer
    grayscale -> nearest-neighbor 9x8 thumbnail -> one bit per adjacent
    horizontal pixel pair (right brighter than left). Near-identical
    images (re-encodes, small edits, RESIZES — the thumbnail normalizes
    scale away) land within a few bits; unrelated images differ in
    ~32. Pure integer math, deterministic."""
    w, h, ch, px = _decode_image(payload)
    tw, th = 9, 8
    gray = []
    for y in range(th):
        sy = min(y * h // th, h - 1)
        row = []
        for x in range(tw):
            sx = min(x * w // tw, w - 1)
            o = (sy * w + sx) * ch
            row.append(sum(px[o:o + min(ch, 3)]) // min(ch, 3))
        gray.append(row)
    bits = 0
    for y in range(th):
        for x in range(tw - 1):
            if gray[y][x + 1] > gray[y][x]:
                bits |= 1 << (y * (tw - 1) + x)
    # fold into signed int64 (Spark LongType); bit semantics unchanged
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def attach_png_payload(df: DataFrame, id_col: str, text_col: str,
                       width: int = 16) -> DataFrame:
    """Test/fixture harness (the image twin of audio.attach_wav_payload):
    render each document's UTF-8 bytes as a REAL grayscale PNG —
    ``width`` pixels per row, zero-padded final row — so the whole
    decode->thumbnail->dHash loop runs on genuine PNG payloads while
    staying re-derivable from the text bytes in a SQL oracle."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for text in pdf["text"]:
                raw = (text or "").encode("utf-8")
                h = max((len(raw) + width - 1) // width, 1)
                px = raw + b"\x00" * (width * h - len(raw))
                payloads.append(encode_png(width, h, 1, px))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    src = df.selectExpr(f"{id_col} as media_id", f"{text_col} as text")
    return src.mapInPandas(build, schema="media_id long, payload binary")


def image_dhash(df: DataFrame, id_col: str = "media_id",
                payload_col: str = "payload") -> DataFrame:
    """Arrow-batched dHash per image payload: (id, dhash, decode_ok).
    Corrupt payloads flag their row (dhash NULL), never the task."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    rows.append((mid, dhash64(bytes(payload or b"")), True))
                except Exception:
                    rows.append((mid, None, False))
            yield pd.DataFrame(
                rows, columns=["media_id", "dhash", "decode_ok"]
            )

    src = df.select(F.col(id_col), F.col(payload_col))
    return src.mapInPandas(
        run, schema="media_id long, dhash long, decode_ok boolean"
    )


def image_near_dup_pairs(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_hamming: int = 6,
    n_blocks: int = 8,
) -> DataFrame:
    """Perceptual image near-dup pairs: dHash the payloads, then the
    generic pigeonhole block join (``dedup.hamming_near_dup_pairs``)
    finds all pairs within ``max_hamming`` bits — the image twin of
    SimHash text dedup, sharing its verified bucketing machinery.
    Undecodable images are excluded (no hash to compare)."""
    from . import dedup

    # decode failures have no hash; dHash == 0 means "no structure to
    # compare" (empty or uniform image) — at crawl scale those form one
    # quadratic hot bucket of spurious hamming-0 pairs, the same guard
    # simhash_pairs applies to token-less documents
    hashes = image_dhash(df, id_col, payload_col).filter(
        F.col("decode_ok") & (F.col("dhash") != 0)
    )
    return dedup.hamming_near_dup_pairs(
        hashes, "media_id", "dhash",
        bits=64, max_hamming=max_hamming, n_blocks=n_blocks,
    )


def encode_apng(frames: list[bytes], width: int, height: int,
                channels: int, delay_ms: int = 100) -> bytes:
    """Encode full-canvas frames as an APNG animation (public spec:
    acTL/fcTL/fdAT chunks layered over PNG). Frame 0 rides the default
    IDAT; later frames ship as fdAT with running sequence numbers —
    exactly the layout browsers emit for simple animations. Used to
    build golden fixtures and by tests; the real-world point is the
    DECODER below."""
    import struct
    import zlib

    color = {1: 0, 3: 2, 4: 6}[channels]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    stride = width * channels

    def chunk(ctype: bytes, data: bytes) -> bytes:
        body = ctype + data
        return (
            struct.pack(">I", len(data))
            + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        )

    def fctl(seq: int) -> bytes:
        return chunk(
            b"fcTL",
            struct.pack(
                ">IIIIIHHBB", seq, width, height, 0, 0,
                delay_ms, 1000, 0, 0,
            ),
        )

    def filtered(pixels: bytes) -> bytes:
        return zlib.compress(
            b"".join(
                b"\x00" + pixels[y * stride:(y + 1) * stride]
                for y in range(height)
            )
        )

    if not frames:
        raise ValueError("APNG needs at least one frame")
    for i, fr in enumerate(frames):
        if len(fr) != stride * height:
            raise ValueError(
                f"frame {i} is {len(fr)} bytes, geometry needs "
                f"{stride * height}"
            )
    out = PNG_SIGNATURE + chunk(b"IHDR", ihdr)
    out += chunk(b"acTL", struct.pack(">II", len(frames), 0))
    seq = 0
    out += fctl(seq)
    seq += 1
    out += chunk(b"IDAT", filtered(frames[0]))
    for fr in frames[1:]:
        out += fctl(seq)
        seq += 1
        out += chunk(
            b"fdAT", struct.pack(">I", seq) + filtered(fr)
        )
        seq += 1
    return out + chunk(b"IEND", b"")


def decode_apng_frames(payload: bytes):
    """Decode an APNG animation: returns (width, height, channels,
    [(offset_ms, pixel_bytes), ...]) with cumulative frame offsets from
    the fcTL delays. Supports the full-canvas standalone subset the
    encoder above writes (offsets 0, dispose_op 0, blend_op 0); a
    region-update or alpha-composited (blend_op=1) APNG RAISES rather
    than decoding to silently wrong pixels. A plain PNG decodes as a
    single frame at offset 0, so one code path (and one chunk walk)
    serves stills and animations."""
    import struct
    import zlib

    width = height = channels = None
    frames = []  # [(delay_ms, zlib-stream bytearray)]
    have_actl = False
    default_image_data = bytearray()
    default_is_frame = False
    for ctype, data in _png_chunks(payload):
        if ctype == b"IHDR":
            width, height, channels = _parse_ihdr(data)
        elif ctype == b"acTL":
            have_actl = True
        elif ctype == b"fcTL":
            (_, fw, fh, fx, fy, dnum, dden, dispose, blend) = struct.unpack(
                ">IIIIIHHBB", data
            )
            if (fw, fh, fx, fy) != (width, height, 0, 0):
                raise ValueError("region-update APNG unsupported")
            if dispose or blend:
                raise ValueError(
                    "composited APNG (dispose_op/blend_op != 0) unsupported"
                )
            delay_ms = dnum * 1000 // (dden or 100)
            frames.append((delay_ms, bytearray()))
            if not default_image_data and not frames[:-1]:
                default_is_frame = True
        elif ctype == b"IDAT":
            if default_is_frame and frames:
                frames[0][1].extend(data)
            else:
                default_image_data.extend(data)
        elif ctype == b"fdAT":
            if not frames:
                raise ValueError("fdAT before any fcTL")
            frames[-1][1].extend(data[4:])  # skip sequence number
    if width is None:
        raise ValueError("missing IHDR")
    if not have_actl or not frames:
        # plain still PNG: one frame at offset 0, from the already-
        # collected IDAT stream (no second chunk walk)
        px = _unfilter(
            zlib.decompress(bytes(default_image_data)),
            width, height, channels,
        )
        return width, height, channels, [(0, px)]
    out, offset = [], 0
    for delay_ms, stream in frames:
        px = _unfilter(
            zlib.decompress(bytes(stream)), width, height, channels
        )
        out.append((offset, px))
        offset += delay_ms
    return width, height, channels, out


def frame_sample(df: DataFrame, every_ms: int = 1000,
                 id_col: str = "media_id",
                 payload_col: str = "payload") -> DataFrame:
    """REAL video frame sampling: decode each APNG animation payload
    in-container and keep the FIRST frame at or after each fixed
    ``k * every_ms`` grid boundary (a non-drifting grid: a kept frame
    at 1100 ms still leaves the 2000 ms boundary live), re-encoded as
    standalone PNGs. Output: (media_id, frame_idx, offset_ms,
    frame_payload, decode_ok). Same Arrow-batched mapInPandas shape as
    the image/audio paths; a production deployment swaps the APNG
    parser for pyav/ffmpeg at the same seam. Corrupt payloads flag
    their row, never the task."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    w, h, ch, frames = decode_apng_frames(
                        bytes(payload or b"")
                    )
                    boundary = 0
                    idx = 0
                    for offset, px in frames:
                        if offset >= boundary:
                            rows.append((
                                mid, idx, offset,
                                encode_png(w, h, ch, px), True,
                            ))
                            idx += 1
                            boundary = (offset // every_ms + 1) * every_ms
                    del idx
                except Exception:
                    rows.append((mid, None, None, None, False))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "offset_ms",
                         "frame_payload", "decode_ok"],
            )

    src = df.select(F.col(id_col), F.col(payload_col))
    return src.mapInPandas(
        run,
        schema="media_id long, frame_idx int, offset_ms long, "
               "frame_payload binary, decode_ok boolean",
    )
