"""Multimodal column plumbing (SURVEY §2.2 B51; north-star tier).

Images/audio/video are opaque ``binary`` payload columns plus a typed
metadata struct. The Spark-side machinery — schema, content hashing,
partition-parallel Arrow batching, batch shape — is real and tested.
REAL zero-dependency decoders cover ``text/plain``
(:func:`decode_text`: charset detection + byte/char/line stats,
oracle-checked by q47), binary PPM images (:func:`decode_ppm`), RIFF/WAVE
audio (:func:`decode_wav`: PCM, and — round 11, the compressed-audio tier
— IMA ADPCM per the public IMA step/index tables, with writer counterpart
:func:`encode_adpcm_wav`), and — round 10 — PNG
(:func:`decode_png`: stdlib-zlib inflate, CRC-checked chunks, full
five-filter reconstruction, palette support; encoder counterpart
:func:`encode_png`), baseline JPEG (`operators/jpeg.py`: numpy
DCT/Huffman/zigzag per ITU-T T.81 with the Annex K tables, 4:4:4 and
4:2:0), and AVI video (:func:`decode_avi`: RIFF chunk walk; raw 24-bit DIB
'00db' frames, and — round 11 — MJPEG '00dc' frames decoded per-frame
through `operators/jpeg.py`; per-frame/whole-clip stats; writer
counterparts :func:`encode_avi_rgb` / :func:`encode_avi_mjpeg`). The
remaining deployment stubs are INTER-FRAME video codecs (h264/vp9 —
non-MJPG compressed streams fail closed) and PERCEPTUAL audio codecs
(mp3/aac/opus), behind ``decode_stub``: a deterministic fake a
deployment replaces with an ffmpeg call of the same signature.

Scale notes: payloads never pass through a groupBy — dedup is digest-first
(hash the bytes, shuffle 32-byte digests). Every decoder runs through ONE
Arrow scan, :func:`_decode_scan` (``mapInArrow``: zero shuffle, output
columns built from the feature schema's own field types), and every
fixture planter through ONE more, :func:`_plant_scan`. The batch size is
bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` so a partition
of large blobs cannot OOM an executor.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_s3_shuffle_spark.sources.catalog import widen_small_scan
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Canonical multimodal record schema: opaque payload + typed metadata.
MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("payload", BinaryType(), True),
    StructField("meta", StructType([
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_bytes", LongType(), True),
    ]), True),
])


def as_media(df: DataFrame, id_col: str, payload_col: str, mime: str) -> DataFrame:
    """Wrap an arbitrary binary (or string) column into the canonical media
    schema. Pure projection — no shuffle, no Python."""
    payload = F.col(payload_col).cast("binary")
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit(mime).alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def content_digest(df: DataFrame, out: str = "digest") -> DataFrame:
    """SHA-256 content hash of the payload — the dedup key. JVM-side."""
    return df.withColumn(out, F.sha2(F.col("payload"), 256))


def dedup_media(df: DataFrame) -> DataFrame:
    """Exact media dedup: keep min media_id per payload digest."""
    keep = (
        content_digest(df)
        .groupBy("digest")
        .agg(F.min("media_id").alias("media_id"))
        .select("media_id")
    )
    return df.join(keep, "media_id", "left_semi")


#: Output of :func:`_plant_scan`: one planted payload per id.
_PLANT_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("payload", BinaryType(), False),
])


def _decode_scan(
    df: DataFrame, decode: Callable[[bytes | None], dict], schema: StructType
) -> DataFrame:
    """The one Arrow scan every feature extractor runs: ``decode(payload)``
    per row of ``df``'s ``media_id``/``payload`` columns, through
    ``mapInArrow`` — zero shuffle, one Arrow batch in memory per task
    regardless of payload sizes (100 MB video blobs at 100 TB total).

    ``schema`` is ``media_id`` followed by the decoder's output keys; each
    feature column is built straight from its field's Arrow type, so a
    ``None`` from the decoder is a null. A boolean ``ok`` renders as the
    string ``"true"``/``"false"``."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    id_type, features = arrow_schema.field(0).type, list(arrow_schema)[1:]

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            decoded = [decode(p) for p in batch.column("payload").to_pylist()]
            cols = [batch.column("media_id").cast(id_type)]
            for field in features:
                vals = [d[field.name] for d in decoded]
                if field.name == "ok":
                    vals = ["true" if v else "false" for v in vals]
                cols.append(pa.array(vals, type=field.type))
            yield pa.RecordBatch.from_arrays(cols, schema=arrow_schema)

    return df.select("media_id", "payload").mapInArrow(run, schema)


def _plant_scan(df: DataFrame, id_col: str, plant: Callable[[int], bytes]) -> DataFrame:
    """The one Arrow scan every fixture planter runs: ``(media_id,
    plant(media_id))`` per row, ``media_id`` being ``id_col`` cast to long.
    The id scan is widened to one partition per core first, so the
    per-row Python encoder never runs on a single core."""

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            ids = batch.column("media_id")
            payload = pa.array([plant(i) for i in ids.to_pylist()], type=pa.binary())
            yield pa.RecordBatch.from_arrays([ids, payload], names=_PLANT_SCHEMA.names)

    return widen_small_scan(
        df.select(F.col(id_col).cast("long").alias("media_id"))
    ).mapInArrow(run, _PLANT_SCHEMA)


def decode_stub(payload: bytes) -> dict:
    """STUB decoder. Replace with a real decoder (PIL / torchaudio / ffmpeg)
    in deployment — same signature, same output keys.

    Deterministic fake: derives pseudo 'decoded' properties from the bytes
    so tests exercise real values end-to-end.
    """
    if payload is None:
        return {"ok": False, "width": None, "height": None, "n_frames": None,
                "n_bytes": 0}
    n = len(payload)
    return {
        "ok": True,
        "width": 16 + (n % 64),
        "height": 16 + ((n // 64) % 64),
        "n_frames": 1 + (n % 8),
        "n_bytes": n,
    }


def decode_text(payload: bytes | None) -> dict:
    """REAL ``text/plain`` decoder (replaces the stub tier for text media):
    charset detection by strict decode attempts (ascii ⊂ utf-8 ⊂ latin-1
    fallback tagged ``binary``) + byte/char/line stats over the decoded
    string.

    ``ascii_ratio`` rounds half-away-from-zero (floor(x·1e4 + 0.5)/1e4) to
    match SQL ROUND, so the output is oracle-checkable bit-for-bit.
    ``n_lines`` is newline-count + 1 (an empty document is one empty line).
    """
    if payload is None:
        return {"charset": None, "n_bytes": 0, "n_chars": None,
                "n_lines": None, "ascii_ratio": None}
    try:
        s, charset = payload.decode("ascii"), "ascii"
    except UnicodeDecodeError:
        try:
            s, charset = payload.decode("utf-8"), "utf-8"
        except UnicodeDecodeError:
            s, charset = payload.decode("latin-1"), "binary"
    n_chars = len(s)
    n_ascii = sum(1 for c in s if ord(c) < 128)
    import math

    ratio = math.floor(n_ascii / n_chars * 10000 + 0.5) / 10000 if n_chars else 1.0
    return {
        "charset": charset,
        "n_bytes": len(payload),
        "n_chars": n_chars,
        "n_lines": s.count("\n") + 1,
        "ascii_ratio": ratio,
    }


TEXT_FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("charset", StringType(), True),
    StructField("n_bytes", LongType(), True),
    StructField("n_chars", LongType(), True),
    StructField("n_lines", LongType(), True),
    StructField("ascii_ratio", DoubleType(), True),
])


def extract_text_features(df: DataFrame) -> DataFrame:
    """Decode text payloads + feature-extract through the one Arrow scan
    (:func:`_decode_scan`) with the REAL :func:`decode_text` decoder."""
    return _decode_scan(df, decode_text, TEXT_FEATURE_SCHEMA)


FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("ok", StringType(), False),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("n_frames", IntegerType(), True),
    StructField("n_bytes", LongType(), True),
])


def extract_features(df: DataFrame) -> DataFrame:
    """Decode + feature-extract with the :func:`decode_stub` decoder
    through the one Arrow scan (:func:`_decode_scan`)."""
    return _decode_scan(df, decode_stub, FEATURE_SCHEMA)


def decode_ppm(payload: bytes | None) -> dict:
    """REAL image decoder for binary PPM (P6) — the uncompressed RGB
    format parseable with zero media libraries, which narrows the decode
    seam to COMPRESSED formats only (PNG is closed too — :func:`decode_png`;
    JPEG/video still need PIL/ffmpeg in deployment; same signature, same
    output keys). Parses the header
    (magic, comments, dimensions, maxval) and computes per-channel means
    over the raw pixel block — a real decode producing real statistics.
    """
    bad = {
        "ok": False, "width": None, "height": None, "maxval": None,
        "mean_r": None, "mean_g": None, "mean_b": None,
    }
    if payload is None or not payload.startswith(b"P6"):
        return bad
    # header tokens: P6 <width> <height> <maxval>, '#' comments allowed
    pos, tokens = 2, []
    try:
        while len(tokens) < 3:
            while payload[pos : pos + 1].isspace():
                pos += 1
            if payload[pos : pos + 1] == b"#":
                pos = payload.index(b"\n", pos) + 1
                continue
            end = pos
            while not payload[end : end + 1].isspace():
                end += 1
            tokens.append(int(payload[pos:end]))
            pos = end
        pos += 1  # single whitespace after maxval, then raw RGB
        width, height, maxval = tokens
        if width <= 0 or height <= 0 or not 0 < maxval < 65536:
            return bad
        if maxval > 255:  # 2-byte samples: out of scope for the fixture tier
            return bad
        px = payload[pos : pos + width * height * 3]
        if len(px) != width * height * 3:
            return bad
    except (ValueError, IndexError):
        return bad
    n = width * height
    sums = [0, 0, 0]
    for i, b in enumerate(px):
        sums[i % 3] += b
    return {
        "ok": True, "width": width, "height": height, "maxval": maxval,
        "mean_r": round(sums[0] / n, 4),
        "mean_g": round(sums[1] / n, 4),
        "mean_b": round(sums[2] / n, 4),
    }


IMAGE_FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("ok", StringType(), False),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("maxval", IntegerType(), True),
    StructField("mean_r", DoubleType(), True),
    StructField("mean_g", DoubleType(), True),
    StructField("mean_b", DoubleType(), True),
])


def extract_image_features(df: DataFrame) -> DataFrame:
    """Decode PPM payloads + feature-extract through the one Arrow scan
    (:func:`_decode_scan`)."""
    return _decode_scan(df, decode_ppm, IMAGE_FEATURE_SCHEMA)


#: IMA ADPCM step-size table (89 entries) and index-adjust table — the
#: public DVI/IMA algorithm (IMA "Recommended Practices for Enhancing
#: Digital Audio Compatibility", rev 3.00; WAVE format tag 0x0011).
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_IMA_INDEX_ADJ = (-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)


def _ima_step(predictor: int, index: int, nibble: int) -> tuple[int, int]:
    """One IMA ADPCM reconstruction step — shared verbatim by the decoder
    and the encoder (the encoder must mirror the decoder's integer
    arithmetic exactly or the streams drift)."""
    step = _IMA_STEPS[index]
    delta = step >> 3
    if nibble & 1:
        delta += step >> 2
    if nibble & 2:
        delta += step >> 1
    if nibble & 4:
        delta += step
    predictor = predictor - delta if nibble & 8 else predictor + delta
    predictor = max(-32768, min(32767, predictor))
    index = max(0, min(88, index + _IMA_INDEX_ADJ[nibble]))
    return predictor, index


def _ima_decode_blocks(data: bytes, channels: int, block_align: int) -> list[int]:
    """Decode an IMA-ADPCM ``data`` chunk into interleaved int16 frames.

    WAV block layout (tag 0x0011): each ``block_align``-sized block opens
    with a 4-byte header PER CHANNEL (int16 predictor, uint8 step index,
    reserved), which IS the first output sample; the remainder interleaves
    4-byte words per channel, each holding 8 nibbles low-first.
    """
    import struct

    out: list[int] = []
    for base in range(0, len(data) - 4 * channels + 1, block_align):
        block = data[base : base + block_align]
        pred = [0] * channels
        idx = [0] * channels
        for ch in range(channels):
            pred[ch] = struct.unpack_from("<h", block, 4 * ch)[0]
            idx[ch] = min(88, block[4 * ch + 2])
        out.extend(pred)  # header predictor is the block's first frame
        pos = 4 * channels
        while pos + 4 * channels <= len(block):
            frame_samples = [[0] * 8 for _ in range(channels)]
            for ch in range(channels):
                word = block[pos + 4 * ch : pos + 4 * ch + 4]
                for k in range(8):
                    nib = (word[k // 2] >> (4 * (k % 2))) & 0xF
                    pred[ch], idx[ch] = _ima_step(pred[ch], idx[ch], nib)
                    frame_samples[ch][k] = pred[ch]
            for k in range(8):
                for ch in range(channels):
                    out.append(frame_samples[ch][k])
            pos += 4 * channels
    return out


def decode_wav(payload: bytes | None) -> dict:
    """REAL audio decoder for RIFF/WAVE — like binary PPM on the image
    side, WAV is parseable with zero media libraries. Parses the RIFF
    chunk tree (fmt + fact + data, skipping unknown chunks) and decodes
    PCM (format tag 1, 8/16-bit) AND — round 11, the compressed-audio
    tier — IMA ADPCM (format tag 0x0011, 4-bit: per-block header
    predictor/step-index then nibble reconstruction through the public
    IMA step/index tables), honouring the ``fact`` chunk's frame count,
    plus the G.711 companded telephony tiers (μ-law tag 0x0007 / A-law
    tag 0x0006, one byte per sample through the expansion tables).
    Computes duration, peak, and RMS over the decoded samples — real
    statistics from a real decode. Perceptual codecs (mp3/aac/opus) keep
    the deployment stub (same signature, same output keys).
    """
    import struct

    bad = {
        "ok": False, "channels": None, "sample_rate": None,
        "bits": None, "n_samples": None, "duration_s": None,
        "peak": None, "rms": None,
    }
    if payload is None or len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return bad
    pos, fmt, data, fact = 12, None, None, None
    try:
        while pos + 8 <= len(payload):
            cid = payload[pos : pos + 4]
            (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
            body = payload[pos + 8 : pos + 8 + size]
            if cid == b"fmt " and len(body) >= 16:
                fmt = struct.unpack("<HHIIHH", body[:16])
            elif cid == b"data":
                data = body
            elif cid == b"fact" and len(body) >= 4:
                (fact,) = struct.unpack("<I", body[:4])
            pos += 8 + size + (size & 1)  # chunks are word-aligned
        if fmt is None or data is None:
            return bad
        tag, channels, rate, _byterate, align, bits = fmt
        if channels < 1 or rate <= 0:
            return bad
        if tag == 1 and bits in (8, 16):
            if bits == 16:
                n = len(data) // 2
                samples = struct.unpack(f"<{n}h", data[: n * 2])
                scale = 32768.0
            else:
                samples = tuple(b - 128 for b in data)
                scale = 128.0
        elif tag == 0x0011 and bits == 4 and align >= 4 * channels:
            samples = _ima_decode_blocks(data, channels, align)
            scale = 32768.0
        elif tag in (0x0006, 0x0007) and bits == 8:
            # G.711 companded telephony audio: A-law (0x0006) / μ-law
            # (0x0007), one byte per sample through the expansion tables.
            table = _ALAW_TABLE if tag == 0x0006 else _ULAW_TABLE
            samples = tuple(table[b] for b in data)
            scale = 32768.0
        else:
            return bad
        n_frames = len(samples) // channels
        if tag == 0x0011 and fact is not None and fact < n_frames:
            n_frames = fact  # fact chunk trims encoder padding
            samples = samples[: n_frames * channels]
        if n_frames == 0:
            return bad
        peak = max(abs(s) for s in samples) / scale
        rms = (sum(s * s for s in samples) / len(samples)) ** 0.5 / scale
    except (struct.error, ValueError, IndexError):
        return bad
    return {
        "ok": True, "channels": channels, "sample_rate": rate,
        "bits": bits, "n_samples": n_frames,
        "duration_s": round(n_frames / rate, 6),
        "peak": round(peak, 6), "rms": round(rms, 6),
    }


AUDIO_FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("ok", StringType(), False),
    StructField("channels", IntegerType(), True),
    StructField("sample_rate", IntegerType(), True),
    StructField("bits", IntegerType(), True),
    StructField("n_samples", IntegerType(), True),
    StructField("duration_s", DoubleType(), True),
    StructField("peak", DoubleType(), True),
    StructField("rms", DoubleType(), True),
])


def extract_audio_features(df: DataFrame) -> DataFrame:
    """Decode WAV payloads + feature-extract through the one Arrow scan
    (:func:`_decode_scan`)."""
    return _decode_scan(df, decode_wav, AUDIO_FEATURE_SCHEMA)


def encode_adpcm_wav(samples: list[int], rate: int, block_align: int = 256) -> bytes:
    """REAL mono IMA-ADPCM encoder — writer counterpart of the tag-0x0011
    branch in :func:`decode_wav`, mirroring the decoder's integer
    reconstruction exactly (via the shared :func:`_ima_step`): the
    encoder quantizes each delta against its CURRENT reconstructed
    predictor, so decode output equals the encoder's internal
    reconstruction bit-for-bit (asserted in tests). Each block re-seeds
    the stream with an exact int16 predictor + step index header; a
    ``fact`` chunk records the true frame count so decoder-side padding
    trim is exercised."""
    import struct

    spb = (block_align - 4) * 2 + 1  # samples per (mono) block
    predictor, index = 0, 0
    blocks = []
    pos = 0
    while pos < len(samples):
        chunk = list(samples[pos : pos + spb])
        pos += spb
        predictor = max(-32768, min(32767, int(chunk[0])))
        header = struct.pack("<hBB", predictor, index, 0)
        nibbles = []
        for s in chunk[1:]:
            target = int(s)
            step = _IMA_STEPS[index]
            diff = target - predictor
            nib = 0
            if diff < 0:
                nib = 8
                diff = -diff
            if diff >= step:
                nib |= 4
                diff -= step
            if diff >= step >> 1:
                nib |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                nib |= 1
            predictor, index = _ima_step(predictor, index, nib)
            nibbles.append(nib)
        # pad the block's nibble area to its full size (decoder trims via fact)
        nibbles.extend(0 for _ in range((spb - 1) - len(nibbles)))
        body = bytearray()
        for k in range(0, len(nibbles), 2):
            body.append(nibbles[k] | (nibbles[k + 1] << 4))
        blocks.append(header + bytes(body))
    data = b"".join(blocks)
    fmt = struct.pack("<HHIIHH", 0x0011, 1, rate, rate * block_align // spb, block_align, 4)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<II", 4, len(samples))
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


#: Planted-ADPCM geometry (q322 oracle contract): mono 8 kHz, 4 blocks of
#: block_align 12 -> 17 samples each (68 frames). Block b's header seeds
#: predictor +/-M with M = 512 * ((id % 63) + 1) and step index 0; every
#: data byte is 0x08 (nibble pair 8,0 — one subtract step, one add step),
#: and at index 0 the step size is 7, whose delta 7>>3 == 0, so BOTH
#: branches of the reconstruction run while every decoded sample stays
#: exactly +/-M and the index re-clamps to 0. peak == rms == M/32768 ==
#: (id%63+1)/64 — a dyadic rational that is exact in float AND in 6-decimal
#: rounding, so DuckDB replays the whole decode from integer arithmetic.
ADPCM_PLANT_RATE, ADPCM_PLANT_BLOCKS, ADPCM_PLANT_ALIGN = 8000, 4, 12


def _plant_adpcm(media_id: int) -> bytes:
    import struct

    m = 512 * ((media_id % 63) + 1)
    spb = (ADPCM_PLANT_ALIGN - 4) * 2 + 1
    blocks = []
    for b in range(ADPCM_PLANT_BLOCKS):
        pred = m if b % 2 == 0 else -m
        blocks.append(struct.pack("<hBB", pred, 0, 0) + b"\x08" * (ADPCM_PLANT_ALIGN - 4))
    data = b"".join(blocks)
    n_frames = ADPCM_PLANT_BLOCKS * spb
    fmt = struct.pack(
        "<HHIIHH", 0x0011, 1, ADPCM_PLANT_RATE,
        ADPCM_PLANT_RATE * ADPCM_PLANT_ALIGN // spb, ADPCM_PLANT_ALIGN, 4,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<II", 4, n_frames)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def plant_adpcm_media(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic planted-ADPCM generator (:func:`_plant_scan`)
    — fixture-side counterpart of :func:`extract_audio_features`'s
    compressed tier."""
    return _plant_scan(df, id_col, _plant_adpcm)


# ---------------------------------------------------------------------------
# Round-11 (second pass): G.711 companded telephony audio — μ-law (WAVE
# format tag 0x0007) and A-law (tag 0x0006), the ITU-T G.711 logarithmic
# 8-bit codings every telephony/VoIP corpus ships in. One byte per sample,
# expanded through the public segment/mantissa construction (the Sun
# Microsystems g711.c convention: 16-bit-aligned linear values, BIAS 0x84
# for μ-law, XOR 0x55 scrambling for A-law). Pure table lookups — the
# decode is a 256-entry table built once at import.
# ---------------------------------------------------------------------------


def _ulaw_to_linear(code: int) -> int:
    """Expand one transmitted μ-law byte to 16-bit linear PCM (G.711 §4.1;
    Sun g711.c layout: complemented code, 3-bit segment, 4-bit mantissa,
    BIAS 132)."""
    u = ~code & 0xFF
    t = (((u & 0x0F) << 3) + 132) << ((u & 0x70) >> 4)
    return (132 - t) if (u & 0x80) else (t - 132)


def _alaw_to_linear(code: int) -> int:
    """Expand one transmitted A-law byte to 16-bit linear PCM (G.711 §4.2;
    even-bit inversion 0x55, segment 0/1 special cases)."""
    a = code ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if (a & 0x80) else -t


_ULAW_TABLE = tuple(_ulaw_to_linear(b) for b in range(256))
_ALAW_TABLE = tuple(_alaw_to_linear(b) for b in range(256))


def encode_g711_wav(
    samples: list[int], rate: int, law: str = "ulaw", channels: int = 1
) -> bytes:
    """Writer counterpart of the G.711 tiers: compress 16-bit linear PCM
    to μ-law/A-law bytes by nearest-decoded-value quantization against the
    SAME expansion tables the decoder uses (ties break toward the smaller
    byte code), so ``decode(encode(x))`` is exactly the nearest
    representable level — asserted in tests against the codec's ±step/2
    error bound."""
    import struct

    import numpy as np

    table = np.asarray(_ULAW_TABLE if law == "ulaw" else _ALAW_TABLE, dtype=np.int64)
    tag = 0x0007 if law == "ulaw" else 0x0006
    x = np.asarray(samples, dtype=np.int64)
    # 256 levels x n samples: fine for writer-side use; the hot path is decode.
    codes = np.abs(table[None, :] - x[:, None]).argmin(axis=1).astype(np.uint8)
    data = codes.tobytes()
    fmt = struct.pack("<HHIIHH", tag, channels, rate, rate * channels, channels, 8)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


#: Planted-G.711 geometry (q324/q325 oracle contract). μ-law: mono 8 kHz,
#: 160 samples (20 ms) alternating +/- the segment-7 level for mantissa
#: m = id%16 — linear value 1024*m + 16764, whose /32768 never lands on a
#: 6-decimal rounding tie (asserted exhaustively in tests), so Python's
#: half-even round and DuckDB's ROUND agree bit-for-bit. A-law: STEREO
#: 8 kHz, 80 frames, both channels at the segment-7 level 1024*m + 16896
#: — a multiple of 512, so peak == rms == (2*m + 33)/64 is exact even in
#: 6 decimal digits. Between them the two tiers cover both laws, both
#: signs, and the mono/stereo frame split.
G711_PLANT_RATE, G711_ULAW_SAMPLES, G711_ALAW_FRAMES = 8000, 160, 80


def _plant_g711(media_id: int, law: str) -> bytes:
    import struct

    m = media_id % 16
    if law == "ulaw":
        # positive seg-7 code: ~(0x70 | m) & 0x7F... derive from the decoder:
        # u = ~code, want u = 0x70 | m (sign clear) / 0xF0 | m (sign set).
        pos, neg = (~(0x70 | m)) & 0xFF, (~(0xF0 | m)) & 0xFF
        codes = bytes(pos if i % 2 == 0 else neg for i in range(G711_ULAW_SAMPLES))
        tag, channels = 0x0007, 1
    else:
        # a = code ^ 0x55, want a = 0xF0 | m (sign bit SET means positive).
        pos = (0xF0 | m) ^ 0x55
        codes = bytes(pos for _ in range(G711_ALAW_FRAMES * 2))
        tag, channels = 0x0006, 2
    fmt = struct.pack(
        "<HHIIHH", tag, channels, G711_PLANT_RATE, G711_PLANT_RATE * channels, channels, 8
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(codes)) + codes
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def plant_g711_media(df: DataFrame, id_col: str, law: str = "ulaw") -> DataFrame:
    """Deterministic planted-G.711 generator (:func:`_plant_scan`)
    — fixture-side counterpart of :func:`extract_audio_features`'s
    companded tiers."""
    return _plant_scan(df, id_col, lambda i: _plant_g711(i, law))


# ---------------------------------------------------------------------------
# Round-10: REAL PNG decode (stdlib zlib — closes the compressed-image seam
# the same way PPM/WAV closed the uncompressed ones; only JPEG/video remain
# deployment stubs). PNG is DEFLATE inside a CRC-checked chunk container,
# both of which the Python stdlib speaks natively.
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: channels per PNG color type (bit depth 8): gray, rgb, palette, gray+a, rgba
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (spec §9, Filtering): nearest of left/up/up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png(
    raw: bytes,
    width: int,
    height: int,
    color_type: int = 2,
    palette: bytes | None = None,
) -> bytes:
    """Zero-dependency PNG encoder (stdlib ``zlib``): packs raw 8-bit
    scanline bytes into a spec-conformant PNG, cycling the row filter
    through ALL FIVE filter types (None/Sub/Up/Average/Paeth, row y uses
    filter y % 5) so every encoded image exercises every un-filter path in
    :func:`decode_png`. Fixture/sink-side counterpart of the decoder; the
    filter cycling makes the round trip a real codec test, not an identity
    copy.

    ``raw`` is the packed pixel data without filter bytes
    (``width * height * channels`` bytes, rows in top-to-bottom order).
    """
    import struct
    import zlib

    ch = _PNG_CHANNELS[color_type]
    stride = width * ch
    if len(raw) != stride * height:
        raise ValueError(f"raw must be {stride * height} bytes, got {len(raw)}")

    out = bytearray()
    prior = bytes(stride)
    for y in range(height):
        row = raw[y * stride : (y + 1) * stride]
        f = y % 5
        out.append(f)
        if f == 0:
            out += row
        elif f == 1:  # Sub
            out += bytes((row[i] - (row[i - ch] if i >= ch else 0)) & 0xFF for i in range(stride))
        elif f == 2:  # Up
            out += bytes((row[i] - prior[i]) & 0xFF for i in range(stride))
        elif f == 3:  # Average
            out += bytes(
                (row[i] - (((row[i - ch] if i >= ch else 0) + prior[i]) >> 1)) & 0xFF
                for i in range(stride)
            )
        else:  # Paeth
            out += bytes(
                (row[i] - _paeth(row[i - ch] if i >= ch else 0, prior[i],
                                 prior[i - ch] if i >= ch else 0)) & 0xFF
                for i in range(stride)
            )
        prior = row

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    png = _PNG_SIG + chunk(b"IHDR", ihdr)
    if color_type == 3:
        if not palette or len(palette) % 3:
            raise ValueError("color_type 3 needs an RGB palette")
        png += chunk(b"PLTE", palette)
    png += chunk(b"IDAT", zlib.compress(bytes(out), 6)) + chunk(b"IEND", b"")
    return png


def decode_png(payload: bytes | None) -> dict:
    """REAL PNG decoder on the Python stdlib only: CRC-validated chunk walk,
    IHDR parse, IDAT concat + ``zlib`` inflate, full five-filter
    reconstruction (None/Sub/Up/Average/Paeth), palette resolution — then
    per-channel sums/means over the reconstructed pixels. Supports bit
    depth 8, color types 0/2/3/4/6, non-interlaced (the overwhelmingly
    common web corpus shape); 16-bit and Adam7 return ``ok=False`` rather
    than wrong numbers. Any CRC mismatch, truncated stream, or inflate
    error is ``ok=False`` — corrupt corpus blobs must never decode
    silently.

    Means are raw IEEE quotients sum/n (ONE fixed-shape double division —
    the repo's oracle-determinism recipe), so the output is
    oracle-checkable bit-for-bit. Gray images report the gray mean as
    r=g=b; alpha-less types report ``mean_a`` NULL.
    """
    import struct
    import zlib

    bad = {
        "ok": False, "width": None, "height": None, "color_type": None,
        "sum_r": None, "sum_g": None, "sum_b": None,
        "mean_r": None, "mean_g": None, "mean_b": None, "mean_a": None,
    }
    if payload is None or not payload.startswith(_PNG_SIG):
        return bad
    pos, ihdr, palette, idat = len(_PNG_SIG), None, None, bytearray()
    try:
        while pos + 12 <= len(payload):
            (length,) = struct.unpack(">I", payload[pos : pos + 4])
            ctype = payload[pos + 4 : pos + 8]
            body = payload[pos + 8 : pos + 8 + length]
            if len(body) != length:
                return bad
            (crc,) = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])
            if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
                return bad
            if ctype == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", body)
            elif ctype == b"PLTE":
                palette = body
            elif ctype == b"IDAT":
                idat += body
            elif ctype == b"IEND":
                break
            pos += 12 + length
        if ihdr is None or not idat:
            return bad
        width, height, depth, color_type, comp, filt, interlace = ihdr
        if (depth != 8 or color_type not in _PNG_CHANNELS or comp or filt
                or interlace or width <= 0 or height <= 0):
            return bad
        ch = _PNG_CHANNELS[color_type]
        stride = width * ch
        raw = zlib.decompress(bytes(idat))
        if len(raw) != (stride + 1) * height:
            return bad
        px = bytearray(stride * height)
        prior = bytes(stride)
        for y in range(height):
            f = raw[y * (stride + 1)]
            line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
            if f == 1:
                for i in range(ch, stride):
                    line[i] = (line[i] + line[i - ch]) & 0xFF
            elif f == 2:
                for i in range(stride):
                    line[i] = (line[i] + prior[i]) & 0xFF
            elif f == 3:
                for i in range(stride):
                    left = line[i - ch] if i >= ch else 0
                    line[i] = (line[i] + ((left + prior[i]) >> 1)) & 0xFF
            elif f == 4:
                for i in range(stride):
                    left = line[i - ch] if i >= ch else 0
                    ul = prior[i - ch] if i >= ch else 0
                    line[i] = (line[i] + _paeth(left, prior[i], ul)) & 0xFF
            elif f != 0:
                return bad
            px[y * stride : (y + 1) * stride] = line
            prior = bytes(line)
    except (struct.error, zlib.error, ValueError, IndexError):
        return bad

    n = width * height
    if color_type == 3:
        if palette is None or len(palette) % 3:
            return bad
        pmax = len(palette) // 3
        sums = [0, 0, 0]
        try:
            for idx in px:
                if idx >= pmax:
                    return bad
                sums[0] += palette[idx * 3]
                sums[1] += palette[idx * 3 + 1]
                sums[2] += palette[idx * 3 + 2]
        except IndexError:
            return bad
        sr, sg, sb, sa = sums[0], sums[1], sums[2], None
    elif color_type in (0, 4):
        sg_ = sum(px[0::ch])
        sr, sg, sb = sg_, sg_, sg_
        sa = sum(px[1::2]) if color_type == 4 else None
    else:  # 2 rgb, 6 rgba
        sr, sg, sb = sum(px[0::ch]), sum(px[1::ch]), sum(px[2::ch])
        sa = sum(px[3::4]) if color_type == 6 else None
    return {
        "ok": True, "width": width, "height": height, "color_type": color_type,
        "sum_r": sr, "sum_g": sg, "sum_b": sb,
        "mean_r": sr / n, "mean_g": sg / n, "mean_b": sb / n,
        "mean_a": (sa / n) if sa is not None else None,
    }


PNG_FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("ok", StringType(), False),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("color_type", IntegerType(), True),
    StructField("sum_r", LongType(), True),
    StructField("sum_g", LongType(), True),
    StructField("sum_b", LongType(), True),
    StructField("mean_r", DoubleType(), True),
    StructField("mean_g", DoubleType(), True),
    StructField("mean_b", DoubleType(), True),
    StructField("mean_a", DoubleType(), True),
])


def extract_png_features(df: DataFrame) -> DataFrame:
    """Decode PNG payloads + feature-extract through the one Arrow scan
    (:func:`_decode_scan`)."""
    return _decode_scan(df, decode_png, PNG_FEATURE_SCHEMA)


#: Planted-PNG fixture geometry shared by the Spark leg and the SQL oracle:
#: every media_id becomes a 16x8 RGB PNG whose pixel channels are fixed
#: affine functions of (media_id, x, y) mod 256 — so per-channel sums are
#: EXACTLY replayable in ANSI SQL over a 16x8 integer grid while the bytes
#: still vary per pixel and per row (all five PNG filters see non-trivial
#: deltas).
PNG_PLANT_W, PNG_PLANT_H = 16, 8


def _plant_png(media_id: int) -> bytes:
    w, h = PNG_PLANT_W, PNG_PLANT_H
    raw = bytearray()
    for y in range(h):
        for x in range(w):
            raw.append((media_id + 3 * x + 5 * y) % 256)
            raw.append((2 * media_id + 7 * x + y) % 256)
            raw.append((5 * media_id + x + 11 * y) % 256)
    return encode_png(bytes(raw), w, h, color_type=2)


def plant_png_media(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic planted-PNG generator (:func:`_plant_scan`):
    one synthetic RGB PNG per input id, built by the REAL encoder with the
    full five-filter cycle. Fixture-side counterpart of
    :func:`extract_png_features` — its planted statistics are what the
    q-entry's SQL oracle replays."""
    return _plant_scan(df, id_col, _plant_png)


# ---------------------------------------------------------------------------
# Round-10 (second seam): REAL baseline JPEG decode (operators/jpeg.py —
# pure numpy DCT/Huffman/zigzag per ITU-T T.81 + Annex K tables). With PNG
# and JPEG closed, VIDEO is the last deployment stub.
# ---------------------------------------------------------------------------

JPEG_FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("ok", StringType(), False),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("channels", IntegerType(), True),
    StructField("sum_r", LongType(), True),
    StructField("sum_g", LongType(), True),
    StructField("sum_b", LongType(), True),
    StructField("mean_r", DoubleType(), True),
    StructField("mean_g", DoubleType(), True),
    StructField("mean_b", DoubleType(), True),
])


def extract_jpeg_features(df: DataFrame) -> DataFrame:
    """Decode baseline JPEG payloads + feature-extract through the one
    Arrow scan (:func:`_decode_scan`)."""
    from spark_s3_shuffle_spark.operators.jpeg import decode_jpeg

    return _decode_scan(df, decode_jpeg, JPEG_FEATURE_SCHEMA)


#: Planted-JPEG geometry shared by the Spark leg and the SQL oracle: a
#: 32x16 grayscale image of 4x2 CONSTANT 8x8 blocks, encoded with the
#: flat-8 quant table. A constant block's only nonzero coefficient is
#: DC = 8*(v-128); with step 8 its quantization is exact and the IDCT
#: returns the constant — so the round trip is LOSSLESS and per-channel
#: sums are pure integer functions of (media_id, block) replayable in
#: ANSI SQL, even though baseline JPEG is lossy in general.
JPEG_PLANT_BX, JPEG_PLANT_BY = 4, 2


def _plant_jpeg(media_id: int) -> bytes:
    import numpy as np

    from spark_s3_shuffle_spark.operators.jpeg import QTAB_FLAT8, encode_jpeg

    blocks = np.array([
        [(media_id * 11 + 37 * bx + 73 * by) % 256 for bx in range(JPEG_PLANT_BX)]
        for by in range(JPEG_PLANT_BY)
    ])
    img = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1).astype("uint8")
    return encode_jpeg(img, quant_luma=QTAB_FLAT8)


def plant_jpeg_media(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic planted-JPEG generator (:func:`_plant_scan`):
    one block-constant grayscale JPEG per input id, built by the REAL
    encoder (full DCT/quantize/Huffman path). Fixture-side counterpart of
    :func:`extract_jpeg_features`."""
    return _plant_scan(df, id_col, _plant_jpeg)


# ---------------------------------------------------------------------------
# Round-10 (third seam): REAL uncompressed-video decode. AVI is RIFF — the
# same chunk grammar decode_wav already parses — and its '00db' frames are
# raw bottom-up BGR DIBs, so the uncompressed tier of VIDEO closes with
# zero dependencies exactly the way PPM closed images and WAV closed
# audio. Round-11 (VERDICT r10 item 5) adds the MJPEG tier: an 'MJPG'
# stream's '00dc' frames are each a complete baseline JPEG, so compressed
# video's most common legacy case decodes through operators/jpeg.py with
# zero new codec surface. Inter-frame codecs (h264/vp9 etc.) remain the
# one deployment stub, tagged ok=False here.
# ---------------------------------------------------------------------------

#: 'MJPG' fourcc as the little-endian biCompression dword.
MJPG_FOURCC = 0x47504A4D

#: BITMAPINFOHEADER biCompression for Microsoft 8-bit run-length coding
#: (the BMP/AVI 'MRLE' tier — Windows Metafile Format spec §2.1.1.7).
BI_RLE8 = 1


def _decode_rle8_frame(data: bytes, width: int, height: int) -> dict[int, int]:
    """Decode one BI_RLE8 frame to a palette-index histogram.

    Microsoft RLE8 (public spec): ``(count, index)`` encoded runs;
    ``count == 0`` escapes to end-of-line (0), end-of-bitmap (1), delta
    (2: skip dx,dy — skipped pixels keep palette index 0), or absolute
    mode (n >= 3 literal indices, word-padded). Rows are bottom-up like
    every DIB. The decoder tracks (x, y) strictly — runs crossing a row
    boundary, cursor escapes past the grid, or trailing garbage raise
    and fail the clip closed. Only the index HISTOGRAM is materialized
    (the channel-sum features are palette-weighted counts), so a frame
    costs O(pixels) time but O(palette) memory."""
    counts: dict[int, int] = {}
    x = y = 0  # y counts DIB rows, bottom-up
    painted = 0
    pos = 0
    ended = False
    while pos + 2 <= len(data):
        b0, b1 = data[pos], data[pos + 1]
        pos += 2
        if b0 > 0:  # encoded run
            if y >= height or x + b0 > width:
                raise ValueError("RLE8 run crosses row boundary")
            counts[b1] = counts.get(b1, 0) + b0
            painted += b0
            x += b0
        elif b1 == 0:  # end of line
            if y >= height:
                raise ValueError("RLE8 EOL past last row")
            x, y = 0, y + 1
        elif b1 == 1:  # end of bitmap
            ended = True
            break
        elif b1 == 2:  # delta: skipped pixels stay index 0
            if pos + 2 > len(data):
                raise ValueError("RLE8 truncated delta")
            dx, dy = data[pos], data[pos + 1]
            pos += 2
            if y + dy >= height or x + dx > width:
                raise ValueError("RLE8 delta escapes grid")
            x, y = x + dx, y + dy
        else:  # absolute mode: b1 literal indices, word-padded
            if y >= height or x + b1 > width or pos + b1 > len(data):
                raise ValueError("RLE8 absolute run crosses row boundary")
            for v in data[pos:pos + b1]:
                counts[v] = counts.get(v, 0) + 1
            painted += b1
            x += b1
            pos += b1 + (b1 & 1)
    if not ended:
        raise ValueError("RLE8 frame missing end-of-bitmap")
    # pixels never painted (delta skips / short rows) default to index 0
    skipped = width * height - painted
    if skipped < 0:
        raise ValueError("RLE8 painted more pixels than the grid holds")
    if skipped:
        counts[0] = counts.get(0, 0) + skipped
    return counts

def encode_avi_rgb(frames, width: int, height: int, us_per_frame: int = 40000) -> bytes:
    """Minimal-but-conformant AVI writer: RIFF('AVI ') -> LIST hdrl
    (avih + one 'vids'/DIB strl) -> LIST movi with one '00db' raw
    24-bit DIB per frame (bottom-up rows, BGR, 4-byte row padding) ->
    idx1. ``frames`` is a list of ``bytes`` of packed top-down RGB
    (width*height*3 each) — the writer does the DIB flip/swizzle."""
    import struct

    stride = (width * 3 + 3) & ~3
    pad = b"\x00" * (stride - width * 3)

    def dib(rgb: bytes) -> bytes:
        rows = []
        for y in range(height - 1, -1, -1):  # bottom-up
            row = rgb[y * width * 3:(y + 1) * width * 3]
            bgr = bytearray()
            for x in range(width):
                r, g, b = row[x * 3:x * 3 + 3]
                bgr += bytes((b, g, r))
            rows.append(bytes(bgr) + pad)
        return b"".join(rows)

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    frame_size = stride * height
    avih = struct.pack("<14I", us_per_frame, frame_size * 1_000_000 // max(us_per_frame, 1),
                       0, 0x10, len(frames), 0, 1, frame_size, width, height, 0, 0, 0, 0)
    strh = (b"vids" + b"DIB " + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0,
            us_per_frame, 1_000_000, 0, len(frames), frame_size, 0xFFFFFFFF, 0, 0)
            + struct.pack("<4H", 0, 0, width, height))
    strf = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, frame_size, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_frames = [chunk(b"00db", dib(f)) for f in frames]
    movi = lst(b"movi", b"".join(movi_frames))
    idx, off = [], 4
    for mf in movi_frames:
        idx.append(b"00db" + struct.pack("<III", 0x10, off, len(mf) - 8))
        off += len(mf)
    idx1 = chunk(b"idx1", b"".join(idx))
    return chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def encode_avi_mjpeg(jpeg_frames, width: int, height: int, us_per_frame: int = 40000) -> bytes:
    """MJPEG AVI writer: same RIFF layout as :func:`encode_avi_rgb` but
    the stream is fourcc 'MJPG' (strh handler + strf biCompression) and
    each frame is a '00dc' chunk holding one COMPLETE baseline JPEG
    verbatim — the Motion-JPEG convention. ``jpeg_frames`` is a list of
    JPEG ``bytes`` (e.g. from ``operators.jpeg.encode_jpeg``)."""
    import struct

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    buf = max(len(f) for f in jpeg_frames) if jpeg_frames else 0
    avih = struct.pack("<14I", us_per_frame, buf * 1_000_000 // max(us_per_frame, 1),
                       0, 0x10, len(jpeg_frames), 0, 1, buf, width, height, 0, 0, 0, 0)
    strh = (b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0,
            us_per_frame, 1_000_000, 0, len(jpeg_frames), buf, 0xFFFFFFFF, 0, 0)
            + struct.pack("<4H", 0, 0, width, height))
    strf = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, MJPG_FOURCC, buf, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_frames = [chunk(b"00dc", f) for f in jpeg_frames]
    movi = lst(b"movi", b"".join(movi_frames))
    idx, off = [], 4
    for mf in movi_frames:
        idx.append(b"00dc" + struct.pack("<III", 0x10, off, len(mf) - 8))
        off += len(mf)
    idx1 = chunk(b"idx1", b"".join(idx))
    return chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def decode_avi(payload: bytes | None) -> dict:
    """REAL AVI decoder (stdlib struct + operators/jpeg.py): RIFF chunk
    walk, avih/strh/strf validation (one 'vids' stream), then one of two
    frame tiers keyed on strf biCompression:

    - BI_RGB (0): '00db' raw 24-bit DIB frames, bottom-up/BGR/row-padding
      reconstruction — the round-10 uncompressed tier.
    - 'MJPG': '00dc' frames each holding a complete baseline JPEG,
      decoded through :func:`operators.jpeg.decode_jpeg` — the round-11
      compressed tier (VERDICT r10 item 5). Every frame must decode ok
      and match the container geometry, else the whole clip fails.
    - BI_RLE8 (1): '00dc' frames of Microsoft 8-bit run-length coding
      over the strf palette (:func:`_decode_rle8_frame`) — the round-11
      second-pass palette tier; channel sums are palette-weighted index
      histograms, so per-frame memory is O(palette), not O(pixels).

    Exact per-channel sums over ALL frames either way. Anything else —
    inter-frame codecs (h264/vp9/…), frame-type/stream mismatches,
    malformed containers — returns ``ok=False``, never silent garbage."""
    import struct

    bad = {
        "ok": False, "width": None, "height": None, "n_frames": None,
        "fps": None, "sum_r": None, "sum_g": None, "sum_b": None,
        "mean_r": None, "mean_g": None, "mean_b": None,
    }
    if payload is None or len(payload) < 24 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        return bad

    def walk(data, pos, end):
        while pos + 8 <= end:
            cid = data[pos:pos + 4]
            (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
            body_start = pos + 8
            if body_start + size > end:
                raise ValueError("truncated chunk")
            yield cid, body_start, size
            pos = body_start + size + (size & 1)

    width = height = None
    us_per_frame = None
    compression = None
    palette = None
    frames = []
    try:
        for cid, start, size in walk(payload, 12, len(payload)):
            if cid != b"LIST":
                continue
            kind = payload[start:start + 4]
            if kind == b"hdrl":
                for c2, s2, z2 in walk(payload, start + 4, start + size):
                    if c2 == b"avih":
                        vals = struct.unpack("<14I", payload[s2:s2 + 56])
                        us_per_frame = vals[0]
                        width, height = vals[8], vals[9]
                    elif c2 == b"LIST" and payload[s2:s2 + 4] == b"strl":
                        for c3, s3, z3 in walk(payload, s2 + 4, s2 + z2):
                            if c3 == b"strh" and payload[s3:s3 + 4] != b"vids":
                                return bad  # only single-video-stream files
                            if c3 == b"strf":
                                bmp = struct.unpack("<IiiHHI", payload[s3:s3 + 20])
                                if bmp[5] == 0 and bmp[4] != 24:
                                    return bad  # BI_RGB tier is 24-bit only
                                if bmp[5] == BI_RLE8:
                                    if bmp[4] != 8:
                                        return bad  # RLE8 is 8-bit palette only
                                    (clrused,) = struct.unpack(
                                        "<I", payload[s3 + 32:s3 + 36]
                                    )
                                    clrused = clrused or 256
                                    pal_raw = payload[s3 + 40:s3 + 40 + 4 * clrused]
                                    if len(pal_raw) < 4 * clrused:
                                        return bad  # truncated palette
                                    palette = [
                                        (pal_raw[4 * i + 2], pal_raw[4 * i + 1], pal_raw[4 * i])
                                        for i in range(clrused)
                                    ]  # RGBQUAD is (b, g, r, reserved)
                                elif bmp[5] not in (0, MJPG_FOURCC):
                                    return bad  # inter-frame codecs: the stub
                                compression = bmp[5]
            elif kind == b"movi":
                for c2, s2, z2 in walk(payload, start + 4, start + size):
                    if c2 in (b"00db", b"00dc"):
                        frames.append((c2, s2, z2))
        if width is None or not width or not height or compression is None or not frames:
            return bad
        stride = (width * 3 + 3) & ~3
        sums = [0, 0, 0]
        for cid, s2, z2 in frames:
            if compression == BI_RLE8:
                if cid != b"00dc" or palette is None:
                    return bad  # raw frame in an RLE stream: malformed
                counts = _decode_rle8_frame(payload[s2:s2 + z2], width, height)
                for idx, cnt in counts.items():
                    if idx >= len(palette):
                        return bad  # index beyond declared palette
                    r, g, b = palette[idx]
                    sums[0] += r * cnt
                    sums[1] += g * cnt
                    sums[2] += b * cnt
                continue
            if compression == MJPG_FOURCC:
                if cid != b"00dc":
                    return bad  # raw frame in an MJPG stream: malformed
                from spark_s3_shuffle_spark.operators.jpeg import decode_jpeg

                d = decode_jpeg(payload[s2:s2 + z2])
                if not d["ok"] or d["width"] != width or d["height"] != height:
                    return bad  # one bad frame fails the clip closed
                sums[0] += d["sum_r"]
                sums[1] += d["sum_g"]
                sums[2] += d["sum_b"]
                continue
            if cid != b"00db":
                return bad  # compressed frame in a BI_RGB stream: malformed
            if z2 != stride * height:
                return bad
            body = payload[s2:s2 + z2]
            for y in range(height):
                row = body[y * stride:y * stride + width * 3]
                sums[2] += sum(row[0::3])  # B
                sums[1] += sum(row[1::3])  # G
                sums[0] += sum(row[2::3])  # R
    except (struct.error, ValueError, IndexError):
        return bad
    n = width * height * len(frames)
    return {
        "ok": True, "width": width, "height": height, "n_frames": len(frames),
        "fps": 1_000_000 / us_per_frame if us_per_frame else None,
        "sum_r": sums[0], "sum_g": sums[1], "sum_b": sums[2],
        "mean_r": sums[0] / n, "mean_g": sums[1] / n, "mean_b": sums[2] / n,
    }


VIDEO_FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("ok", StringType(), False),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("n_frames", IntegerType(), True),
    StructField("fps", DoubleType(), True),
    StructField("sum_r", LongType(), True),
    StructField("sum_g", LongType(), True),
    StructField("sum_b", LongType(), True),
    StructField("mean_r", DoubleType(), True),
    StructField("mean_g", DoubleType(), True),
    StructField("mean_b", DoubleType(), True),
])


def extract_video_features(df: DataFrame) -> DataFrame:
    """Decode AVI payloads (raw DIB, MJPEG and RLE8 frames) through the one
    Arrow scan (:func:`_decode_scan`)."""
    return _decode_scan(df, decode_avi, VIDEO_FEATURE_SCHEMA)


#: Planted-AVI geometry (q320 oracle contract): 4 frames of 16x8, frame f
#: of media m is the constant color r=(m+7f)%256, g=(2m+13f)%256,
#: b=(3m+29f)%256 — uncompressed, so sums are exact integer functions.
AVI_PLANT_W, AVI_PLANT_H, AVI_PLANT_FRAMES = 16, 8, 4


def _plant_avi(media_id: int) -> bytes:
    frames = []
    for f in range(AVI_PLANT_FRAMES):
        r = (media_id + 7 * f) % 256
        g = (2 * media_id + 13 * f) % 256
        b = (3 * media_id + 29 * f) % 256
        frames.append(bytes((r, g, b)) * (AVI_PLANT_W * AVI_PLANT_H))
    return encode_avi_rgb(frames, AVI_PLANT_W, AVI_PLANT_H)


def plant_avi_media(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic planted-AVI generator (:func:`_plant_scan`) —
    fixture-side counterpart of :func:`extract_video_features`."""
    return _plant_scan(df, id_col, _plant_avi)


#: Planted-MJPEG geometry (q321 oracle contract): 4 frames, each a 32x16
#: grayscale baseline JPEG of 4x2 CONSTANT 8x8 blocks with block value
#: (11*m + 37*bx + 73*by + 97*f) % 256 under the flat step-8 quant table
#: — the same lossless tier as the q319 still-image oracle, so frame sums
#: are exact integer functions of (id, block, frame).
MJPEG_PLANT_W, MJPEG_PLANT_H, MJPEG_PLANT_FRAMES = 32, 16, 4


def _plant_avi_mjpeg(media_id: int) -> bytes:
    import numpy as np

    from spark_s3_shuffle_spark.operators.jpeg import QTAB_FLAT8, encode_jpeg

    frames = []
    for f in range(MJPEG_PLANT_FRAMES):
        blocks = np.array([
            [(media_id * 11 + 37 * bx + 73 * by + 97 * f) % 256
             for bx in range(MJPEG_PLANT_W // 8)]
            for by in range(MJPEG_PLANT_H // 8)
        ])
        img = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1).astype("uint8")
        frames.append(encode_jpeg(img, quant_luma=QTAB_FLAT8))
    return encode_avi_mjpeg(frames, MJPEG_PLANT_W, MJPEG_PLANT_H)


def plant_avi_mjpeg_media(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic planted-MJPEG generator (:func:`_plant_scan`):
    each id becomes a 4-frame MJPEG AVI whose '00dc' frames are REAL
    encoder output (full DCT/quantize/Huffman path per frame). Fixture-
    side counterpart of :func:`extract_video_features`'s MJPG tier."""
    return _plant_scan(df, id_col, _plant_avi_mjpeg)


def encode_avi_rle8(
    index_frames, palette, width: int, height: int, us_per_frame: int = 40000
) -> bytes:
    """BI_RLE8 AVI writer — the palette-video counterpart of
    :func:`encode_avi_rgb`: 8-bit palette-indexed frames compressed with
    Microsoft RLE8 into '00dc' chunks (runs for repeats >= 3, absolute
    mode for literal stretches >= 3, count-1 pairs otherwise, EOL per
    row, EOB per frame), palette appended to strf as RGBQUADs.
    ``index_frames`` is a list of ``bytes`` of packed TOP-DOWN palette
    indices (width*height each — the writer does the bottom-up flip);
    ``palette`` is a list of (r, g, b) tuples."""
    import struct

    def rle8_row(row: bytes) -> bytes:
        out = bytearray()
        i = 0
        while i < len(row):
            j = i
            while j < len(row) and row[j] == row[i] and j - i < 255:
                j += 1
            if j - i >= 3:
                out += bytes((j - i, row[i]))
                i = j
                continue
            # literal stretch: scan forward until a >=3 run begins
            k = i
            while k < len(row) and k - i < 255:
                r = k
                while r < len(row) and row[r] == row[k] and r - k < 3:
                    r += 1
                if r - k >= 3:
                    break
                k = r
            lits = row[i:k]
            if len(lits) >= 3:
                out += bytes((0, len(lits))) + lits
                if len(lits) & 1:
                    out += b"\x00"  # absolute mode is word-padded
            else:
                for v in lits:
                    out += bytes((1, v))
            i = k
        return bytes(out)

    def rle8_frame(idx: bytes) -> bytes:
        rows = [
            idx[y * width:(y + 1) * width] for y in range(height - 1, -1, -1)
        ]  # bottom-up
        body = bytearray()
        for n, row in enumerate(rows):
            body += rle8_row(row)
            body += b"\x00\x01" if n == len(rows) - 1 else b"\x00\x00"
        return bytes(body)

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    encoded = [rle8_frame(f) for f in index_frames]
    buf = max(len(f) for f in encoded) if encoded else 0
    avih = struct.pack("<14I", us_per_frame, buf * 1_000_000 // max(us_per_frame, 1),
                       0, 0x10, len(encoded), 0, 1, buf, width, height, 0, 0, 0, 0)
    strh = (b"vids" + b"MRLE" + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0,
            us_per_frame, 1_000_000, 0, len(encoded), buf, 0xFFFFFFFF, 0, 0)
            + struct.pack("<4H", 0, 0, width, height))
    pal = b"".join(bytes((b, g, r, 0)) for r, g, b in palette)  # RGBQUAD order
    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 8, BI_RLE8, buf, 0, 0, len(palette), 0
    ) + pal
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_frames = [chunk(b"00dc", f) for f in encoded]
    movi = lst(b"movi", b"".join(movi_frames))
    idx1_entries, off = [], 4
    for mf in movi_frames:
        idx1_entries.append(b"00dc" + struct.pack("<III", 0x10, off, len(mf) - 8))
        off += len(mf)
    idx1 = chunk(b"idx1", b"".join(idx1_entries))
    return chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


#: Planted-RLE8 geometry (q326 oracle contract): 4 frames of 16x8 over a
#: 256-entry palette pal[i] = ((3*id + 5*i) % 256, (7*id + 11*i) % 256,
#: (13*id + 17*i) % 256). Frame f's every row is 8 pixels of index 2f
#: then 8 alternating (2f, 2f+1, ...) — the encoder emits a 9-run, then
#: absolute mode for the 7-literal tail, so BOTH RLE8 opcode families are
#: exercised on every row while per-frame counts stay closed-form:
#: 96 pixels of index 2f and 32 of 2f+1.
RLE8_PLANT_W, RLE8_PLANT_H, RLE8_PLANT_FRAMES = 16, 8, 4


def _plant_avi_rle8(media_id: int) -> bytes:
    palette = [
        ((3 * media_id + 5 * i) % 256, (7 * media_id + 11 * i) % 256,
         (13 * media_id + 17 * i) % 256)
        for i in range(256)
    ]
    frames = []
    for f in range(RLE8_PLANT_FRAMES):
        a, b = 2 * f, 2 * f + 1
        row = bytes([a] * 8 + [a, b] * 4)
        frames.append(row * RLE8_PLANT_H)
    return encode_avi_rle8(frames, palette, RLE8_PLANT_W, RLE8_PLANT_H)


def plant_avi_rle8_media(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic planted-RLE8 generator (:func:`_plant_scan`)
    — fixture-side counterpart of :func:`extract_video_features`'s
    palette tier."""
    return _plant_scan(df, id_col, _plant_avi_rle8)
