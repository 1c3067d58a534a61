"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata,
processed by Arrow-batched ``mapInPandas`` stages.

Decode honesty, two tiers:
- **Real decoders** for the two formats the Python stdlib can parse with
  ``struct`` alone: BMP (BITMAPINFOHEADER width/height) and WAV (RIFF
  chunk walk → sample rate, sample count, duration). m01 synthesizes
  valid files for a deterministic subset of docs and the parsers extract
  the true header values FROM THE BYTES — builder and parser are
  independent code paths, so a header-layout bug in either breaks the
  oracle match.
- **A clearly marked deterministic stub** (`_decode_stub`) where a codec
  library would be required (JPEG/PNG/MP4 etc. — none exist in this
  container). Swapping it for PIL/ffmpeg is a one-function change.

Everything Spark-side is real and tested either way: schema, binary
columns, metadata struct, the mapInPandas batch shape, and
partition-parallel execution.

Scale: mapInPandas streams Arrow batches through Python — the right shape
for CPU-bound decode at 100 TB (per-partition parallelism, no collect, no
per-row UDF overhead). Binary payloads stay opaque until the decode stage,
so scans of metadata-only queries never read the bytes (parquet column
pruning).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import floor_scaled, sql_floor_scaled
from ..tables import fan_out, table

ADLER_MOD = 65521

def attach_payload(docs: DataFrame) -> DataFrame:
    """Model a multimodal ingest: text → opaque binary payload + metadata.

    Real pipelines read image/audio bytes from parquet/object storage; here
    the payload is the UTF-8 encoding of the text, which keeps the whole
    path deterministic and oracle-checkable.
    """
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("n_bytes"),
        ).alias("meta"),
    )


def _decode_stub(payload: bytes) -> dict:
    """STUB for the real decoder (PIL.Image.open / soundfile / av).

    Deterministic fake 'feature extraction': byte count, first byte, and an
    Adler-style checksum. Raise NotImplementedError here if you want a hard
    gate instead of a fake.
    """
    return {
        "n_bytes": len(payload),
        "first_byte": payload[0] if payload else -1,
        "checksum": int(np.frombuffer(payload, np.uint8).sum(dtype=np.int64))
        % ADLER_MOD,
    }


# ---------------------------------------------------------------------------
# Honest codec tier: BMP + WAV, pure-stdlib struct parsing. The builders
# below exist only to synthesize valid fixtures (the corpus has no media);
# the PARSERS are production-shaped — they read the header bytes, not the
# doc_id the builder happened to use.
# ---------------------------------------------------------------------------
def make_bmp(width: int, height: int, fill: int) -> bytes:
    """A valid 24-bpp uncompressed BMP: 14-byte file header +
    40-byte BITMAPINFOHEADER + 4-byte-aligned pixel rows."""
    row_bytes = ((3 * width + 3) // 4) * 4
    img_bytes = row_bytes * height
    file_header = struct.pack("<2sIHHI", b"BM", 54 + img_bytes, 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_bytes, 2835, 2835, 0, 0
    )
    pixels = ((np.arange(img_bytes, dtype=np.int64) + fill) % 256).astype(
        np.uint8
    ).tobytes()
    return file_header + dib + pixels


def parse_bmp(payload: bytes) -> tuple[int, int]:
    """(width, height) from the BITMAPINFOHEADER — the real decode."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    width, height = struct.unpack_from("<ii", payload, 18)
    return width, abs(height)  # negative height = top-down row order


def make_wav(sample_rate: int, n_samples: int, fill: int) -> bytes:
    """A valid 16-bit mono PCM WAV: RIFF header + fmt + data chunks."""
    data = (
        ((fill + 7 * np.arange(n_samples, dtype=np.int64)) % 65536) - 32768
    ).astype("<i2").tobytes()
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def parse_wav(payload: bytes) -> tuple[int, int]:
    """(sample_rate, duration_ms) via a real RIFF chunk walk."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    pos, rate, channels, bits, data_len = 12, None, 1, 16, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", payload, pos + 4)
        if cid == b"fmt ":
            _, channels, rate, _, _, bits = struct.unpack_from(
                "<HHIIHH", payload, pos + 8
            )
        elif cid == b"data":
            data_len = clen
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if rate is None or data_len is None:
        raise ValueError("missing fmt/data chunk")
    n_samples = data_len // (channels * (bits // 8))
    return rate, n_samples * 1000 // rate


# Deterministic media-ingest rule (the corpus has no real media, so m01
# synthesizes valid files for a subset): doc_id % 10 == 3 -> BMP,
# doc_id % 10 == 7 -> WAV, everything else stays a text payload. Header
# parameters derive from doc_id so the DuckDB oracle can predict what the
# REAL parser must extract from the bytes.
def _bmp_dims(doc_id: int) -> tuple[int, int]:
    return 16 + doc_id % 17, 8 + doc_id % 11


def _wav_params(doc_id: int) -> tuple[int, int]:
    return 8000 + (doc_id % 5) * 1000, 200 + doc_id % 30


def _attach_media_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-batch payload synthesis (the pandas half of
    attach_media_payload, shared with the fused stages)."""
    payloads, mimes = [], []
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        if doc_id % 10 == 3:
            w, h = _bmp_dims(doc_id)
            payloads.append(make_bmp(w, h, doc_id % 251))
            mimes.append("image/bmp")
        elif doc_id % 10 == 7:
            rate, n = _wav_params(doc_id)
            payloads.append(make_wav(rate, n, doc_id % 251))
            mimes.append("audio/wav")
        else:
            payloads.append(text.encode("utf-8"))
            mimes.append("text/plain")
    return pd.DataFrame(
        {"doc_id": pdf["doc_id"], "payload": payloads, "mime": mimes}
    )


def attach_media_payload(docs: DataFrame) -> DataFrame:
    """Mixed-modality ingest: binary column + mime metadata, built in an
    Arrow-batched stage (binary construction is Python-side by nature —
    a real ingest reads the bytes from object storage)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _attach_media_pdf(pdf)

    return docs.mapInPandas(run, schema="doc_id long, payload binary, mime string")


def fused_media_stage(docs: DataFrame, run, schema: str) -> DataFrame:
    """Compose payload synthesis into `run`'s batch stream so the whole
    stage is ONE mapInPandas (the m01/m02 round-10 fuse, shared by the
    m-family): one Arrow crossing, one Python-worker dispatch, and the
    synthesized payload bytes never travel through Arrow at all. `run`
    is any Iterator[pd.DataFrame] -> Iterator[pd.DataFrame] kernel that
    expects (doc_id, payload, mime) batches."""

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield from run(_attach_media_pdf(pdf) for pdf in batches)

    return docs.mapInPandas(fused, schema=schema)


M01_SCHEMA = (
    "doc_id long, kind string, n_bytes long, first_byte int, checksum long, "
    "width int, height int, sample_rate int, duration_ms long"
)


def _decode_media_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-batch magic-byte decode, m01's kernel. Dispatch is on MAGIC
    BYTES (not the mime column): BMP and WAV get the honest struct
    parsers; anything else falls back to the stub features.
    Non-applicable fields carry -1, not NULL (keeps hash comparison and
    column types exact across engines)."""
    out = {
        k: []
        for k in (
            "doc_id", "kind", "n_bytes", "first_byte", "checksum",
            "width", "height", "sample_rate", "duration_ms",
        )
    }
    for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
        row = {
            "doc_id": doc_id,
            "n_bytes": len(payload),
            "first_byte": payload[0] if payload else -1,
            "checksum": -1,
            "width": -1,
            "height": -1,
            "sample_rate": -1,
            "duration_ms": -1,
        }
        if payload[:2] == b"BM":
            row["kind"] = "image/bmp"
            row["width"], row["height"] = parse_bmp(payload)
        elif payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            row["kind"] = "audio/wav"
            row["sample_rate"], row["duration_ms"] = parse_wav(payload)
        else:
            row["kind"] = "text/plain"
            row["checksum"] = _decode_stub(payload)["checksum"]
        for k, v in row.items():
            out[k].append(v)
    return pd.DataFrame(out)


def m01_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesis + decode FUSED into ONE mapInPandas (round-10: the
    chained two-stage form paid two Arrow serialize/deserialize
    crossings and two Python-worker dispatches per run — the driver's
    r9 bench recorded m01 at 7.78x its best-ever under exactly that
    worker pressure. One stage halves the crossings and never ships the
    synthesized payload bytes back through Arrow at all)."""
    docs = fan_out(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _decode_media_pdf(_attach_media_pdf(pdf))

    return docs.mapInPandas(run, schema=M01_SCHEMA)


# The oracle predicts from doc_id arithmetic what the struct parsers must
# extract from the synthesized header BYTES (builder and parser never share
# code), and mirrors the text stub with list arithmetic (corpus is ASCII).
ORACLE_M01 = f"""
SELECT doc_id,
       CASE WHEN doc_id % 10 = 3 THEN 'image/bmp'
            WHEN doc_id % 10 = 7 THEN 'audio/wav'
            ELSE 'text/plain' END AS kind,
       CAST(CASE
            WHEN doc_id % 10 = 3 THEN
              54 + ((3 * (16 + doc_id % 17) + 3) // 4 * 4) * (8 + doc_id % 11)
            WHEN doc_id % 10 = 7 THEN 44 + 2 * (200 + doc_id % 30)
            ELSE length(text) END AS BIGINT) AS n_bytes,
       CAST(CASE WHEN doc_id % 10 = 3 THEN 66
                 WHEN doc_id % 10 = 7 THEN 82
                 ELSE unicode(substr(text, 1, 1)) END AS INTEGER) AS first_byte,
       CAST(CASE WHEN doc_id % 10 IN (3, 7) THEN -1
            ELSE list_sum(list_transform(range(1, length(text) + 1),
                 i -> unicode(substr(text, i, 1)))) % {ADLER_MOD}
            END AS BIGINT) AS checksum,
       CAST(CASE WHEN doc_id % 10 = 3 THEN 16 + doc_id % 17 ELSE -1 END
            AS INTEGER) AS width,
       CAST(CASE WHEN doc_id % 10 = 3 THEN 8 + doc_id % 11 ELSE -1 END
            AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 10 = 7 THEN 8000 + (doc_id % 5) * 1000 ELSE -1 END
            AS INTEGER) AS sample_rate,
       CAST(CASE WHEN doc_id % 10 = 7 THEN
              ((200 + doc_id % 30) * 1000) // (8000 + (doc_id % 5) * 1000)
            ELSE -1 END AS BIGINT) AS duration_ms
FROM documents
"""


# ---------------------------------------------------------------------------
# Frame-sampling stage stub: real Spark plumbing (schema, Arrow batching,
# partition parallelism), deterministic fake compute where the codec would
# run. Swap the marked line for ffmpeg on a cluster that has it.
# ---------------------------------------------------------------------------
FRAMES_SCHEMA = "doc_id long, frame_idx int, frame_checksum long"


def sample_frames(with_payload: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame-sampling stage (video/audio analog): emits n_frames rows per
    payload — a fan-out mapInPandas, the shape a real ffmpeg frame sampler
    has. STUB compute: per-frame checksum over a byte stride."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sums = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                stride = max(len(payload) // n_frames, 1)
                for i in range(n_frames):
                    chunk = payload[i * stride : (i + 1) * stride]
                    # STUB: replace with av/ffmpeg frame decode + feature
                    ids.append(doc_id)
                    idxs.append(i)
                    sums.append(
                        int(np.frombuffer(chunk, np.uint8).sum(dtype=np.int64))
                        % ADLER_MOD
                    )
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_checksum": sums}
            )

    return with_payload.mapInPandas(run, schema=FRAMES_SCHEMA)


# ---------------------------------------------------------------------------
# m02/m03 — the resize and frame-sample stages as ledger queries. The raw
# thumb bytes are summarized to (octet_length, checksum) so the result is
# hash-comparable; the corpus is ASCII, so DuckDB mirrors the byte
# arithmetic with string functions.
# ---------------------------------------------------------------------------
THUMB_W, THUMB_H = 32, 32
N_FRAMES = 4


def m02_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize + summarize FUSED into ONE mapInPandas (round-10, the m01
    fix): the thumb bytes are built and checksummed inside the same
    batch loop — one Arrow crossing, and the 1 KiB-per-row thumbnails
    never travel back through Arrow between stages. STUB decode: the
    payload is treated as raw bytes and repeated into a deterministic
    pseudo-thumbnail of exactly width*height bytes — the Arrow batch
    shape a PIL implementation would produce."""
    docs = fan_out(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    w, h = THUMB_W, THUMB_H

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sizes, sums = [], []
            for payload in pdf["payload"]:
                thumb = bytes(
                    (payload * ((w * h) // max(len(payload), 1) + 1))[: w * h]
                )
                # ^ STUB: replace with PIL.Image.open(io.BytesIO(payload)).resize((w, h))
                sizes.append(len(thumb))
                sums.append(sum(thumb) % ADLER_MOD)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": w,
                    "height": h,
                    "thumb_bytes": sizes,
                    "thumb_checksum": sums,
                }
            )

    return attach_payload(docs).mapInPandas(
        run,
        schema="doc_id long, width int, height int, thumb_bytes long, thumb_checksum long",
    )


ORACLE_M02 = f"""
WITH thumb AS (
  SELECT doc_id,
         substr(repeat(text, ({THUMB_W * THUMB_H} // GREATEST(length(text), 1)) + 1),
                1, {THUMB_W * THUMB_H}) AS t
  FROM documents
)
SELECT doc_id,
       {THUMB_W} AS width,
       {THUMB_H} AS height,
       CAST(length(t) AS BIGINT) AS thumb_bytes,
       CAST(COALESCE(list_sum(list_transform(range(1, length(t) + 1),
            i -> unicode(substr(t, i, 1)))), 0) % {ADLER_MOD} AS BIGINT) AS thumb_checksum
FROM thumb
"""


def m03_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    return sample_frames(attach_payload(docs), N_FRAMES)


ORACLE_M03 = f"""
WITH strided AS (
  SELECT doc_id, text,
         GREATEST(length(text) // {N_FRAMES}, 1) AS stride
  FROM documents
),
frames AS (
  SELECT doc_id,
         CAST(f.i AS INTEGER) AS frame_idx,
         substr(text, f.i * stride + 1, stride) AS chunk
  FROM strided, unnest(range(0, {N_FRAMES})) AS f(i)
)
SELECT doc_id, frame_idx,
       CAST(COALESCE(list_sum(list_transform(range(1, length(chunk) + 1),
            i -> unicode(substr(chunk, i, 1)))), 0) % {ADLER_MOD} AS BIGINT)
         AS frame_checksum
FROM frames
"""


# ---------------------------------------------------------------------------
# m04 — media content-hash dedup: the t01/t05 stage for binary payloads,
# run BEFORE any decode. sha2 over the payload bytes is pure JVM (no Python
# stage at all), the shuffle carries (32-byte digest, doc_id) only, and the
# parquet scan prunes to the payload column — at 100 TB this is the first
# filter of every media-ingest pipeline (exact byte-duplicates are the
# dominant duplication mode for scraped media). Duplicate payloads are
# synthesized (every 40th doc, ids +30000) since the corpus has none.
# ---------------------------------------------------------------------------
def m04_media_content_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 30000).alias("doc_id"), "text"
    )
    payloads = attach_payload(docs.unionByName(copies))
    return (
        payloads.select("doc_id", F.sha2("payload", 256).alias("content_sha"),
                        F.col("meta.n_bytes").alias("n_bytes"))
        .groupBy("content_sha")
        .agg(
            F.min("doc_id").alias("kept_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("n_bytes").cast("long").alias("n_bytes"),
        )
        .filter(F.col("n_copies") > 1)
        .select("content_sha", "kept_doc_id", "n_copies", "n_bytes")
    )


ORACLE_M04 = """
WITH unioned AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 30000 AS doc_id, text FROM documents WHERE doc_id % 40 = 0
)
SELECT sha256(text) AS content_sha,
       MIN(doc_id) AS kept_doc_id,
       COUNT(*) AS n_copies,
       CAST(MIN(length(text)) AS BIGINT) AS n_bytes
FROM unioned GROUP BY sha256(text) HAVING COUNT(*) > 1
"""


# ---------------------------------------------------------------------------
# m05 — HONEST downsampling over the mixed-modality corpus: BMP payloads
# get a real nearest-neighbor 2x image downsample (header-parsed width/
# height/row stride, pixel bytes selected from the actual pixel array),
# WAV payloads a real 2x decimation (every other 16-bit sample from the
# parsed data chunk). Text payloads pass through with -1 sentinels. The
# parsers read BYTES — the oracle predicts the same checksums from the
# builder's doc_id arithmetic, so parser shortcuts or layout bugs break
# the match (and a tamper test flips a pixel byte to prove byte-reads).
# One mapInPandas pass, magic-byte dispatch, Arrow-batched — the m01
# plumbing with real per-format compute.
# ---------------------------------------------------------------------------
def downsample_bmp_half(payload: bytes) -> tuple[int, int, int]:
    """(out_w, out_h, checksum) of a real nearest-neighbor 2x downsample:
    output pixel (r, c) takes input pixel (2r, 2c); the checksum sums the
    selected B/G/R bytes read from the pixel array.

    Vectorized: the pixel array is a zero-copy ``np.frombuffer`` view
    reshaped to (rows, row_stride); stride slicing picks every other row
    and a fancy-index gather picks the 3 channel bytes of every other
    pixel — no Python-level per-byte loop (at real media scale that loop
    is 100-1000x slower than this)."""
    w, h = parse_bmp(payload)
    row_bytes = ((3 * w + 3) // 4) * 4
    w2, h2 = max(w // 2, 1), max(h // 2, 1)
    rows = np.frombuffer(payload, dtype=np.uint8, count=h * row_bytes, offset=54)
    rows = rows.reshape(h, row_bytes)[0 : 2 * h2 : 2]
    cols = (6 * np.arange(w2)[:, None] + np.arange(3)).ravel()
    total = int(rows[:, cols].sum(dtype=np.int64))
    return w2, h2, total % ADLER_MOD


def downsample_wav_half(payload: bytes) -> tuple[int, int, int]:
    """(out_rate, out_samples, checksum) of a real 2x decimation: every
    other 16-bit sample from the parsed data chunk; the checksum sums the
    two raw bytes of each kept sample."""
    rate, _dur = parse_wav(payload)
    # locate the data chunk again (chunk walk, same as parse_wav)
    pos, data_off, data_len = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", payload, pos + 4)
        if cid == b"data":
            data_off, data_len = pos + 8, clen
            break
        pos += 8 + clen + (clen & 1)
    n_samples = data_len // 2
    # Vectorized decimation: a zero-copy byte view reshaped to
    # (n_samples, 2); row slicing keeps every other sample, one int64
    # reduction sums both raw bytes of each kept sample.
    samples = np.frombuffer(
        payload, dtype=np.uint8, count=n_samples * 2, offset=data_off
    ).reshape(n_samples, 2)
    total = int(samples[0::2].sum(dtype=np.int64))
    return rate // 2, (n_samples + 1) // 2, total % ADLER_MOD


M05_SCHEMA = (
    "doc_id long, kind string, out_w int, out_h int, out_rate int, "
    "out_samples int, ds_checksum long"
)


def _downsample_run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {k: [] for k in (
            "doc_id", "kind", "out_w", "out_h", "out_rate",
            "out_samples", "ds_checksum",
        )}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            row = {"doc_id": doc_id, "out_w": -1, "out_h": -1,
                   "out_rate": -1, "out_samples": -1, "ds_checksum": -1}
            if payload[:2] == b"BM":
                row["kind"] = "image/bmp"
                row["out_w"], row["out_h"], row["ds_checksum"] = (
                    downsample_bmp_half(payload)
                )
            elif payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
                row["kind"] = "audio/wav"
                row["out_rate"], row["out_samples"], row["ds_checksum"] = (
                    downsample_wav_half(payload)
                )
            else:
                row["kind"] = "text/plain"
            for k, v in row.items():
                out[k].append(v)
        yield pd.DataFrame(out)


def m05_media_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    # synthesis + downsample fused into one Python stage (round-10)
    return fused_media_stage(docs, _downsample_run, M05_SCHEMA)


# The oracle re-derives what the REAL downsamplers must read from the
# synthesized bytes: BMP pixel (r2, c2) channel ch lives at pixel-array
# offset 2*r2*row_bytes + 6*c2 + ch with value (fill + offset) % 256; WAV
# sample i is the SIGNED value ((fill + 7i) % 65536) - 32768, whose
# little-endian two's-complement storage is u = (fill + 7i + 32768) %
# 65536, so its two bytes sum to u % 256 + u // 256. Builder and oracle
# share only doc_id arithmetic.
ORACLE_M05 = f"""
WITH params AS (
  SELECT doc_id,
         16 + doc_id % 17 AS w, 8 + doc_id % 11 AS h,
         8000 + (doc_id % 5) * 1000 AS rate, 200 + doc_id % 30 AS ns,
         doc_id % 251 AS fill,
         ((3 * (16 + doc_id % 17) + 3) // 4) * 4 AS rb
  FROM documents
)
SELECT doc_id,
       CASE WHEN doc_id % 10 = 3 THEN 'image/bmp'
            WHEN doc_id % 10 = 7 THEN 'audio/wav'
            ELSE 'text/plain' END AS kind,
       CAST(CASE WHEN doc_id % 10 = 3 THEN w // 2 ELSE -1 END AS INTEGER) AS out_w,
       CAST(CASE WHEN doc_id % 10 = 3 THEN h // 2 ELSE -1 END AS INTEGER) AS out_h,
       CAST(CASE WHEN doc_id % 10 = 7 THEN rate // 2 ELSE -1 END AS INTEGER)
         AS out_rate,
       CAST(CASE WHEN doc_id % 10 = 7 THEN (ns + 1) // 2 ELSE -1 END AS INTEGER)
         AS out_samples,
       CAST(CASE
         WHEN doc_id % 10 = 3 THEN
           list_sum(list_transform(range(0, h // 2), r ->
             list_sum(list_transform(range(0, w // 2), c ->
               (fill + 2 * r * rb + 6 * c) % 256
               + (fill + 2 * r * rb + 6 * c + 1) % 256
               + (fill + 2 * r * rb + 6 * c + 2) % 256)))) % {ADLER_MOD}
         WHEN doc_id % 10 = 7 THEN
           list_sum(list_transform(range(0, ns, 2), i ->
             ((fill + 7 * i + 32768) % 65536) % 256
             + ((fill + 7 * i + 32768) % 65536) // 256)) % {ADLER_MOD}
         ELSE -1 END AS BIGINT) AS ds_checksum
FROM params
"""


QUERIES = {
    "m01_multimodal_decode": m01_multimodal_decode,
    "m02_multimodal_resize": m02_multimodal_resize,
    "m03_multimodal_frame_sample": m03_multimodal_frame_sample,
    "m04_media_content_dedup": m04_media_content_dedup,
    "m05_media_downsample": m05_media_downsample,
}
ORACLES = {
    "m01_multimodal_decode": ORACLE_M01,
    "m02_multimodal_resize": ORACLE_M02,
    "m03_multimodal_frame_sample": ORACLE_M03,
    "m04_media_content_dedup": ORACLE_M04,
    "m05_media_downsample": ORACLE_M05,
}


# ---------------------------------------------------------------------------
# m06 — media manifest: the per-kind governance rollup over the decoded
# metadata (counts, byte totals, dimension ranges). Composes m01's decode
# stage with a plain aggregate — the report a mixed-modality corpus needs
# before any budgeting/sharding decision. The decode is the m01 pass; the
# rollup shuffles ≤ |kinds| rows.
# ---------------------------------------------------------------------------
def m06_media_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    decoded = m01_multimodal_decode(spark, sf_dir)
    return (
        decoded.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.max("width").alias("max_width"),
            F.max("height").alias("max_height"),
            F.max("sample_rate").alias("max_sample_rate"),
            F.max("duration_ms").alias("max_duration_ms"),
        )
        .select(
            "kind",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("total_bytes").cast("long").alias("total_bytes"),
            F.col("max_width").cast("int").alias("max_width"),
            F.col("max_height").cast("int").alias("max_height"),
            F.col("max_sample_rate").cast("int").alias("max_sample_rate"),
            F.col("max_duration_ms").cast("long").alias("max_duration_ms"),
        )
    )


ORACLE_M06 = f"""
WITH decoded AS ({ORACLE_M01})
SELECT kind,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       CAST(MAX(width) AS INTEGER) AS max_width,
       CAST(MAX(height) AS INTEGER) AS max_height,
       CAST(MAX(sample_rate) AS INTEGER) AS max_sample_rate,
       CAST(MAX(duration_ms) AS BIGINT) AS max_duration_ms
FROM decoded GROUP BY kind
"""


QUERIES["m06_media_manifest"] = m06_media_manifest
ORACLES["m06_media_manifest"] = ORACLE_M06


# ---------------------------------------------------------------------------
# m07 — ingest validation by magic bytes: the corrupt-file triage every
# media pipeline runs BEFORE spending decode CPU. A deterministic fault
# injector (JVM-side substring/relabel — no second Arrow pass) truncates
# one BMP slice (doc_id % 40 == 13 → first 10 bytes) and mislabels
# another (doc_id % 40 == 3 → claimed audio/wav); validation then checks
# the claimed mime against header length and SNIFFED magic bytes.
#
# The whole check is binary column expressions (substring on binary +
# byte-literal equality) inside one codegen projection — the payload
# never crosses into Python, so at 100 TB the triage runs at scan speed.
# Only the per-(mime, status) aggregate shuffles.
# ---------------------------------------------------------------------------
def m07_media_magic_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    media = attach_media_payload(docs)
    faulted = media.select(
        "doc_id",
        F.when(F.col("doc_id") % 40 == 13, F.expr("substring(payload, 1, 10)"))
        .otherwise(F.col("payload"))
        .alias("payload"),
        F.when(F.col("doc_id") % 40 == 3, F.lit("audio/wav"))
        .otherwise(F.col("mime"))
        .alias("mime_claimed"),
    )
    n_bytes = F.length("payload")
    is_bmp = F.expr("substring(payload, 1, 2)") == F.lit(b"BM")
    is_wav = (F.expr("substring(payload, 1, 4)") == F.lit(b"RIFF")) & (
        F.expr("substring(payload, 9, 4)") == F.lit(b"WAVE")
    )
    status = (
        F.when(
            (F.col("mime_claimed") == "image/bmp") & (n_bytes < 54), "truncated"
        )
        .when((F.col("mime_claimed") == "audio/wav") & (n_bytes < 44), "truncated")
        .when((F.col("mime_claimed") == "image/bmp") & ~is_bmp, "mismatch")
        .when((F.col("mime_claimed") == "audio/wav") & ~is_wav, "mismatch")
        .otherwise("ok")
    )
    return (
        faulted.withColumn("status", status)
        .groupBy("mime_claimed", "status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("sample_doc_id"),
        )
        .select(
            "mime_claimed",
            "status",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("sample_doc_id").cast("long").alias("sample_doc_id"),
        )
    )


# The oracle predicts every status from doc_id arithmetic: the injector's
# rules and the synthesized headers are both doc_id-deterministic, so the
# sniff outcome is computable without the bytes (builder and validator
# never share code — same discipline as ORACLE_M01).
ORACLE_M07 = """
WITH claimed AS (
  SELECT doc_id,
         CASE WHEN doc_id % 40 = 3 THEN 'audio/wav'
              WHEN doc_id % 10 = 3 THEN 'image/bmp'
              WHEN doc_id % 10 = 7 THEN 'audio/wav'
              ELSE 'text/plain' END AS mime_claimed,
         CASE WHEN doc_id % 40 = 13 THEN 'truncated'
              WHEN doc_id % 40 = 3 THEN 'mismatch'
              ELSE 'ok' END AS status
  FROM documents
)
SELECT mime_claimed, status,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS sample_doc_id
FROM claimed GROUP BY mime_claimed, status
"""


QUERIES["m07_media_magic_validation"] = m07_media_magic_validation
ORACLES["m07_media_magic_validation"] = ORACLE_M07


# ---------------------------------------------------------------------------
# m08 — perceptual average-hash (aHash) near-dedup over the BMP corpus:
# sample the image on an 8x8 nearest-neighbor grid, gray = B+G+R (integer
# sum, no division), bit k = 1 iff 64*gray_k > sum(grays) — the classic
# aHash with the mean comparison kept INTEGER-EXACT (64*g > total avoids
# the mean's float division), emitted as a 64-char bit string. Images
# sharing a hash are perceptual near-duplicates. This is the image-side
# analog of t02's MinHash: content-derived signature → signature-equality
# blocking, never pixel-level all-pairs.
#
# HONESTY: the hash reads the REAL pixel bytes via the m05 zero-copy
# NumPy path (header-parsed stride, fancy-indexed gather); the oracle
# re-derives every sampled gray from the builder's doc_id arithmetic, so
# a parser shortcut or a wrong stride breaks the match.
# Scale: one Arrow-batched mapInPandas pass; the only shuffle is the
# hash-equality window (64-byte keys).
# ---------------------------------------------------------------------------
AHASH_GRID = 8


def ahash_bmp(payload: bytes) -> str:
    """64-bit perceptual average-hash of a BMP as a bit string."""
    w, h = parse_bmp(payload)
    rb = ((3 * w + 3) // 4) * 4
    pix = np.frombuffer(payload, dtype=np.uint8, count=h * rb, offset=54).reshape(
        h, rb
    )
    rows_idx = (np.arange(AHASH_GRID) * h) // AHASH_GRID
    cols_idx = 3 * ((np.arange(AHASH_GRID) * w) // AHASH_GRID)
    chan_cols = (cols_idx[:, None] + np.arange(3)).ravel()
    grays = (
        pix[rows_idx][:, chan_cols]
        .reshape(AHASH_GRID, AHASH_GRID, 3)
        .sum(axis=2, dtype=np.int64)
        .ravel()
    )
    total = int(grays.sum())
    return "".join("1" if 64 * int(g) > total else "0" for g in grays)


M08_SCHEMA = "doc_id long, ahash string"


def _ahash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged (doc_id, ahash) table — the hash extraction (payload build
    + pixel gather) is the dominant Python cost, and it feeds m08 plus
    both sides of m10's band self-join; persist it once per corpus (the
    t02 staging-table discipline)."""
    from .dedup import _stage_cached

    def build() -> DataFrame:
        docs = fan_out(
            table(spark, sf_dir, "documents").select("doc_id", "text"), spark
        )

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                ids, hashes = [], []
                for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                    if payload[:2] == b"BM":  # magic-byte dispatch, not doc_id
                        ids.append(doc_id)
                        hashes.append(ahash_bmp(payload))
                yield pd.DataFrame({"doc_id": ids, "ahash": hashes})

        return fused_media_stage(docs, run, M08_SCHEMA)

    return _stage_cached("m_ahash", sf_dir, build)


def m08_perceptual_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    hashed = _ahash_table(spark, sf_dir)
    w = Window.partitionBy("ahash")
    return hashed.select(
        "doc_id", "ahash", F.count(F.lit(1)).over(w).cast("long").alias("n_same_hash")
    )


# Shared aHash re-derivation CTE (oracle side): every sampled gray is
# rebuilt from the fixture builder's doc_id arithmetic — used by m08 and
# the m10 near-dup banding below.
SQL_AHASH_CTE = """params AS (
  SELECT doc_id,
         16 + doc_id % 17 AS w, 8 + doc_id % 11 AS h,
         doc_id % 251 AS fill,
         ((3 * (16 + doc_id % 17) + 3) // 4) * 4 AS rb
  FROM documents WHERE doc_id % 10 = 3
),
grays AS (
  SELECT doc_id,
         list_transform(range(0, 64), k ->
             (fill + ((k // 8) * h // 8) * rb + 3 * ((k % 8) * w // 8)) % 256
           + (fill + ((k // 8) * h // 8) * rb + 3 * ((k % 8) * w // 8) + 1) % 256
           + (fill + ((k // 8) * h // 8) * rb + 3 * ((k % 8) * w // 8) + 2) % 256
         ) AS g
  FROM params
),
hashed AS (
  SELECT doc_id,
         array_to_string(
           list_transform(g, x -> CASE WHEN 64 * x > list_sum(g)
                                       THEN '1' ELSE '0' END), '') AS ahash
  FROM grays
)"""

ORACLE_M08 = f"""
WITH {SQL_AHASH_CTE}
SELECT doc_id, ahash,
       COUNT(*) OVER (PARTITION BY ahash) AS n_same_hash
FROM hashed
"""


QUERIES["m08_perceptual_ahash"] = m08_perceptual_ahash
ORACLES["m08_perceptual_ahash"] = ORACLE_M08


# ---------------------------------------------------------------------------
# m09 — HONEST audio feature extraction: RMS energy, peak amplitude, and
# zero-crossing count per WAV payload, computed from the REAL 16-bit PCM
# samples (np.frombuffer over the parsed data chunk — the m05 zero-copy
# discipline). These are the loudness/activity features an audio-corpus
# quality filter thresholds on (silence, clipping, noise). The sums are
# INTEGER-exact (sum of squares in int64: 230 samples × 32768² ≈ 2.5e11,
# far inside int64), so the oracle re-derives them bit-for-bit from the
# builder arithmetic; RMS's one sqrt is correctly-rounded IEEE in both
# engines, rounded once.
#
# Scale: one Arrow-batched mapInPandas pass, magic-byte dispatch; no
# shuffle at all (per-payload features).
# ---------------------------------------------------------------------------
M09_SCHEMA = (
    "doc_id long, n_samples long, sum_sq long, peak_abs int, zero_crossings long"
)


def wav_features(payload: bytes) -> tuple[int, int, int, int]:
    """(n_samples, sum_sq, peak_abs, zero_crossings) from the data chunk."""
    pos, data_off, data_len = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", payload, pos + 4)
        if cid == b"data":
            data_off, data_len = pos + 8, clen
            break
        pos += 8 + clen + (clen & 1)
    n = data_len // 2
    s = np.frombuffer(payload, dtype="<i2", count=n, offset=data_off).astype(
        np.int64
    )
    sum_sq = int((s * s).sum())
    peak = int(np.abs(s).max()) if n else 0
    # zero crossing: consecutive samples with strictly opposite signs
    zc = int(((s[:-1] * s[1:]) < 0).sum()) if n > 1 else 0
    return n, sum_sq, peak, zc


def m09_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "n_samples", "sum_sq", "peak_abs", "zero_crossings"
            )}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
                    n, sum_sq, peak, zc = wav_features(payload)
                    out["doc_id"].append(doc_id)
                    out["n_samples"].append(n)
                    out["sum_sq"].append(sum_sq)
                    out["peak_abs"].append(peak)
                    out["zero_crossings"].append(zc)
            yield pd.DataFrame(out)

    feats = fused_media_stage(docs, run, M09_SCHEMA)
    return feats.select(
        "doc_id",
        "n_samples",
        floor_scaled(F.sqrt(F.col("sum_sq") / F.col("n_samples"))).alias("rms"),
        "peak_abs",
        "zero_crossings",
    )


# Oracle: sample i of doc d is ((fill + 7i) % 65536) - 32768 with
# fill = d % 251 — re-derived arithmetically, so a stride/offset bug in
# the real parser breaks every column.
ORACLE_M09 = f"""
WITH params AS (
  SELECT doc_id, 200 + doc_id % 30 AS ns, doc_id % 251 AS fill
  FROM documents WHERE doc_id % 10 = 7
),
samples AS (
  SELECT doc_id, ns,
         list_transform(range(0, ns),
                        i -> ((fill + 7 * i) % 65536) - 32768) AS s
  FROM params
)
SELECT doc_id,
       CAST(ns AS BIGINT) AS n_samples,
       {sql_floor_scaled('SQRT(list_sum(list_transform(s, x -> x * x)) * 1.0 / ns)')} AS rms,
       CAST(list_max(list_transform(s, x -> abs(x))) AS INTEGER) AS peak_abs,
       CAST(list_sum(list_transform(range(0, ns - 1),
              i -> CASE WHEN s[i + 1] * s[i + 2] < 0 THEN 1 ELSE 0 END))
            AS BIGINT) AS zero_crossings
FROM samples
"""


QUERIES["m09_audio_features"] = m09_audio_features
ORACLES["m09_audio_features"] = ORACLE_M09


# ---------------------------------------------------------------------------
# m10 — perceptual NEAR-dup banding: m08 finds exact aHash collisions;
# real near-duplicate images (recompressed, slightly recropped) differ
# in a few bits. The LSH discipline transfers unchanged from t02: split
# the 64-bit aHash into 4 bands of 16 bits — two images within Hamming
# distance 3 of each other agree on at least one full band (pigeonhole)
# — equi-join on (band_id, band_bits) for candidates, then verify the
# exact Hamming distance on candidates only. Never pixel-level or
# hash-level all-pairs.
#
# Scale: hash extraction is one Arrow-batched mapInPandas pass; the
# candidate join shuffles (band_id, 16-char key) — linear in image
# count; the 64-term Hamming compare is a codegen expression on
# candidate pairs only.
# ---------------------------------------------------------------------------
M10_N_BANDS, M10_BAND_LEN, M10_HAMMING_T = 4, 16, 6


def _hamming64(a: str, b: str):
    """64-term integer Hamming distance between two 64-char bit strings
    as a single codegen expression (no UDF)."""
    terms = [
        (F.substring(a, i, 1) != F.substring(b, i, 1)).cast("int")
        for i in range(1, 65)
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return total


M10_BUCKET_CAP = 128  # hot-bucket suppression: see build_bands below


def _neardup_image_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, hamming) banded near-dup image pairs — m10's
    pipeline, shared with the m11 cross-modal audit."""
    from .dedup import _stage_cached, suppress_hot_buckets

    hashed = _ahash_table(spark, sf_dir)  # staged: ONE extraction pass

    # Bucket-capped band table, staged per corpus (the t02 discipline;
    # round-11 scale probe: uncapped, m10 ran 5.75x at 10x data off hot
    # ahash band buckets — flat/synthetic images collide by the
    # thousands and the band self-join goes quadratic). The cap is 128,
    # above t02's 64, because image bands legitimately bucket larger
    # (sf0.1's max bucket is 59; text tops out at 5) — the cap must
    # never bite a driver-SF output, only the 100-TB blowup above it.
    def build_bands() -> DataFrame:
        bands_all = hashed.select(
            "doc_id",
            "ahash",
            F.posexplode(
                F.array(
                    *[
                        F.substring("ahash", 1 + b * M10_BAND_LEN, M10_BAND_LEN)
                        for b in range(M10_N_BANDS)
                    ]
                )
            ).alias("band_id", "band_bits"),
        )
        return suppress_hot_buckets(
            bands_all, ["band_id", "band_bits"], M10_BUCKET_CAP
        )

    bands = _stage_cached("m10_bands", sf_dir, build_bands)
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band_id", "band_bits"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.ahash").alias("h_a"),
            F.col("b.ahash").alias("h_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", _hamming64("h_a", "h_b"))
        .filter(F.col("hamming") <= M10_HAMMING_T)
        .select("doc_a", "doc_b", "hamming")
    )


def m10_image_neardup_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _neardup_image_pairs(spark, sf_dir)


def _sql_neardup_pairs_ctes() -> str:
    """The WITH-clause body producing the `pairs(doc_a, doc_b, hamming)`
    CTE — shared by the m10 and m11 oracles."""
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, ahash, {b} AS band_id,"
        f" substr(ahash, {1 + b * M10_BAND_LEN}, {M10_BAND_LEN}) AS band_bits"
        " FROM hashed"
        for b in range(M10_N_BANDS)
    )
    ham = " + ".join(
        f"(CASE WHEN substr(h_a, {i}, 1) <> substr(h_b, {i}, 1)"
        " THEN 1 ELSE 0 END)"
        for i in range(1, 65)
    )
    from .dedup import sql_capped_bands

    return f"""{SQL_AHASH_CTE},
bands_all AS (
{band_selects}
),
bands AS (
  {sql_capped_bands('SELECT * FROM bands_all', 'band_id, band_bits',
                    'doc_id, ahash, band_id, band_bits', M10_BUCKET_CAP)}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.ahash AS h_a, b.ahash AS h_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_bits = b.band_bits
   AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b, CAST({ham} AS INTEGER) AS hamming
  FROM cand
  WHERE {ham} <= {M10_HAMMING_T}
)"""


def _oracle_m10() -> str:
    return f"""
WITH {_sql_neardup_pairs_ctes()}
SELECT doc_a, doc_b, hamming FROM pairs
"""


QUERIES["m10_image_neardup_bands"] = m10_image_neardup_bands
ORACLES["m10_image_neardup_bands"] = _oracle_m10()


# ---------------------------------------------------------------------------
# m11 — cross-modal caption consistency: the curation decision BEHIND
# image near-dup pairs. Two visually-near-identical images (m10's banded
# pairs) whose attached captions AGREE are redundancy — drop one; pairs
# whose captions CONFLICT are labeling noise — route to review, because
# deleting either silently picks a winner for the contradicting text.
# This is the multimodal analogue of t42's canonical selection: the
# pixel signal and the text signal are audited TOGETHER.
#
# Scale: the pair set is banded (never all-pairs, m10's plan); each
# endpoint resolves its caption through a plain doc_id equi-join against
# documents (hint-free — AQE broadcasts if the pair set is small).  Two
# joins, both on unique keys; output is one row per near-dup pair.
# ---------------------------------------------------------------------------
def m11_caption_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _neardup_image_pairs(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a")
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b")
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "hamming",
            (F.col("text_a") == F.col("text_b")).alias("same_caption"),
            F.when(
                F.col("text_a") == F.col("text_b"), F.lit("redundant_pair")
            )
            .otherwise(F.lit("caption_conflict"))
            .alias("decision"),
            F.length("text_a").cast("long").alias("len_a"),
            F.length("text_b").cast("long").alias("len_b"),
        )
    )


def _oracle_m11() -> str:
    return f"""
WITH {_sql_neardup_pairs_ctes()}
SELECT p.doc_a, p.doc_b, p.hamming,
       (da.text = db.text) AS same_caption,
       CASE WHEN da.text = db.text THEN 'redundant_pair'
            ELSE 'caption_conflict' END AS decision,
       CAST(length(da.text) AS BIGINT) AS len_a,
       CAST(length(db.text) AS BIGINT) AS len_b
FROM pairs p
JOIN documents da ON p.doc_a = da.doc_id
JOIN documents db ON p.doc_b = db.doc_id
"""


QUERIES["m11_caption_consistency"] = m11_caption_consistency
ORACLES["m11_caption_consistency"] = _oracle_m11()


# ---------------------------------------------------------------------------
# m12 — VIDEO scene-cut detection: per-frame perceptual hashes, then a
# cut wherever consecutive frames' Hamming distance jumps — the shot
# segmentation step a video training pipeline runs right after m03's
# frame sampling (dedup within a shot, sample across shots). Videos are
# synthesized as real BMP frame sequences (doc_id % 10 == 4): fill
# drifts by +M12_STEP per frame (smooth motion) and jumps by +M12_JUMP
# at the doc's cut point — measured separation at the default params:
# smooth steps ≤ 12 bits, true cuts ≥ 19 bits, so M12_CUT_T = 16 sits
# in the gap with margin on both sides.
#
# HONESTY: every frame hash reads REAL pixel bytes (make_bmp →
# ahash_bmp, builder and parser independent code paths); the oracle
# re-derives each frame's 64 sampled grays from the doc_id arithmetic.
#
# Scale: frame build + hash is one Arrow-batched mapInPandas pass
# (frames-per-video is fixed); the only shuffle is the (doc_id)
# partition for the lag window; the 64-term Hamming is the m10 codegen
# expression on (video × frames) rows. No all-pairs anywhere — scene
# detection is sequential per video by nature.
# ---------------------------------------------------------------------------
M12_FRAMES, M12_STEP, M12_JUMP, M12_CUT_T = 6, 3, 97, 16
M12_SCHEMA = "doc_id long, frame_idx int, ahash string"


def m12_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = fan_out(table(spark, sf_dir, "documents").select("doc_id"), spark)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for doc_id in pdf["doc_id"]:
                if doc_id % 10 != 4:
                    continue
                w, h = _bmp_dims(doc_id)
                cut = 2 + doc_id % 3
                for k in range(M12_FRAMES):
                    fill = (
                        doc_id + M12_STEP * k + (M12_JUMP if k >= cut else 0)
                    ) % 251
                    payload = make_bmp(w, h, fill)
                    if payload[:2] == b"BM":  # magic-byte dispatch
                        ids.append(doc_id)
                        idxs.append(k)
                        hashes.append(ahash_bmp(payload))
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "ahash": hashes})

    frames = docs.mapInPandas(run, schema=M12_SCHEMA)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    steps = frames.withColumn("prev", F.lag("ahash").over(w)).filter(
        F.col("prev").isNotNull()
    )
    return steps.withColumn("hamming", _hamming64("prev", "ahash")).select(
        "doc_id",
        "frame_idx",
        F.col("hamming").cast("int").alias("hamming"),
        (F.col("hamming") >= M12_CUT_T).alias("is_cut"),
    )


def _sql_m12_frame_hashes() -> str:
    """Frame aHash re-derivation CTE: SQL_AHASH_CTE's per-frame form —
    every sampled gray rebuilt from (doc_id, frame) arithmetic."""
    return f"""params AS (
  SELECT doc_id,
         16 + doc_id % 17 AS w, 8 + doc_id % 11 AS h,
         ((3 * (16 + doc_id % 17) + 3) // 4) * 4 AS rb,
         2 + doc_id % 3 AS cut
  FROM documents WHERE doc_id % 10 = 4
),
frames AS (
  SELECT doc_id, w, h, rb, CAST(f.k AS INTEGER) AS frame_idx,
         (doc_id + {M12_STEP} * f.k
          + CASE WHEN f.k >= cut THEN {M12_JUMP} ELSE 0 END) % 251 AS fill
  FROM params, unnest(range(0, {M12_FRAMES})) AS f(k)
),
grays AS (
  SELECT doc_id, frame_idx,
         list_transform(range(0, 64), k ->
             (fill + ((k // 8) * h // 8) * rb + 3 * ((k % 8) * w // 8)) % 256
           + (fill + ((k // 8) * h // 8) * rb + 3 * ((k % 8) * w // 8) + 1) % 256
           + (fill + ((k // 8) * h // 8) * rb + 3 * ((k % 8) * w // 8) + 2) % 256
         ) AS g
  FROM frames
),
fhashed AS (
  SELECT doc_id, frame_idx,
         array_to_string(
           list_transform(g, x -> CASE WHEN 64 * x > list_sum(g)
                                       THEN '1' ELSE '0' END), '') AS ahash
  FROM grays
)"""


def _oracle_m12() -> str:
    ham = " + ".join(
        f"(CASE WHEN substr(prev, {i}, 1) <> substr(ahash, {i}, 1)"
        " THEN 1 ELSE 0 END)"
        for i in range(1, 65)
    )
    return f"""
WITH {_sql_m12_frame_hashes()},
steps AS (
  SELECT doc_id, frame_idx, ahash,
         LAG(ahash) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
  FROM fhashed
)
SELECT doc_id, frame_idx,
       CAST({ham} AS INTEGER) AS hamming,
       CAST({ham} AS INTEGER) >= {M12_CUT_T} AS is_cut
FROM steps WHERE prev IS NOT NULL
"""


QUERIES["m12_video_scene_cuts"] = m12_video_scene_cuts
ORACLES["m12_video_scene_cuts"] = _oracle_m12()


# ---------------------------------------------------------------------------
# m13 — audio SILENCE-TRIM spans: leading/trailing quiet-run lengths and
# the effective (trimmed) duration per WAV — the audio-curation step
# that drops dead air before feature extraction (m09) and prices how
# much of the corpus is silence. "Quiet" = |sample| < M13_QUIET_T
# (inner half of the 16-bit range for the synthetic sweep corpus).
#
# HONESTY: the spans are computed from the REAL 16-bit PCM samples via
# the m09 chunk-walk parser; the oracle re-derives every sample from
# the builder arithmetic (s_i = ((fill + 7i) % 65536) - 32768), so a
# stride or offset bug in the parser breaks lead/trail/effective in
# lockstep.
#
# Scale: one Arrow-batched mapInPandas pass, no shuffle at all
# (per-payload spans); integer sample arithmetic end-to-end
# (effective_ms = floor(eff_samples * 1000 / rate) — no float).
# ---------------------------------------------------------------------------
M13_QUIET_T = 16384
M13_SCHEMA = (
    "doc_id long, n_samples long, lead_quiet long, trail_quiet long, "
    "effective_samples long, effective_ms long"
)


def m13_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "n_samples", "lead_quiet", "trail_quiet",
                "effective_samples", "effective_ms",
            )}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if not (payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"):
                    continue
                pos, data_off, data_len = 12, None, None
                while pos + 8 <= len(payload):
                    cid = payload[pos : pos + 4]
                    (clen,) = struct.unpack_from("<I", payload, pos + 4)
                    if cid == b"data":
                        data_off, data_len = pos + 8, clen
                        break
                    pos += 8 + clen + (clen & 1)
                (rate,) = struct.unpack_from("<I", payload, 24)
                n = data_len // 2
                s = np.frombuffer(payload, dtype="<i2", count=n, offset=data_off)
                loud = np.nonzero(np.abs(s.astype(np.int64)) >= M13_QUIET_T)[0]
                if len(loud) == 0:
                    lead, trail = n, 0
                else:
                    lead = int(loud[0])
                    trail = n - 1 - int(loud[-1])
                eff = n - lead - trail
                out["doc_id"].append(doc_id)
                out["n_samples"].append(n)
                out["lead_quiet"].append(lead)
                out["trail_quiet"].append(trail)
                out["effective_samples"].append(eff)
                out["effective_ms"].append(eff * 1000 // rate)
            yield pd.DataFrame(out)

    return fused_media_stage(docs, run, M13_SCHEMA)


ORACLE_M13 = f"""
WITH params AS (
  SELECT doc_id,
         8000 + (doc_id % 5) * 1000 AS rate,
         200 + doc_id % 30 AS ns,
         doc_id % 251 AS fill
  FROM documents WHERE doc_id % 10 = 7
),
spans AS (
  SELECT doc_id, rate, ns,
         list_filter(range(0, ns),
                     i -> abs(((fill + 7 * i) % 65536) - 32768)
                          >= {M13_QUIET_T}) AS loud
  FROM params
)
SELECT doc_id,
       CAST(ns AS BIGINT) AS n_samples,
       CAST(CASE WHEN len(loud) = 0 THEN ns ELSE loud[1] END AS BIGINT)
         AS lead_quiet,
       CAST(CASE WHEN len(loud) = 0 THEN 0 ELSE ns - 1 - loud[-1] END AS BIGINT)
         AS trail_quiet,
       CAST(CASE WHEN len(loud) = 0 THEN 0
                 ELSE loud[-1] - loud[1] + 1 END AS BIGINT) AS effective_samples,
       CAST(CASE WHEN len(loud) = 0 THEN 0
                 ELSE (loud[-1] - loud[1] + 1) * 1000 // rate END AS BIGINT)
         AS effective_ms
FROM spans
"""


QUERIES["m13_silence_trim"] = m13_silence_trim
ORACLES["m13_silence_trim"] = ORACLE_M13


# ---------------------------------------------------------------------------
# m14 — cross-video SHOT REUSE: which frames repeat across DIFFERENT
# videos (stock intros, watermark cards, syndicated clips) — the video
# corpus' exact-dedup pass, run at FRAME granularity on perceptual
# hashes. Every 10th video carries a shared 2-frame "stock intro"
# (fixed dims/fill — the honest synthesis of syndicated footage); all
# other frames follow the m12 per-video arithmetic.
#
# Scale shape deliberately mirrors t01-vs-t02: repeated-shot detection
# CLUSTERS by exact aHash (one shuffle on 64-char keys, output linear
# in distinct hashes) instead of listing pairs — a clip shared by k
# videos is one row, not the O(k²) pair listing that a planted clique
# would explode into (t07's lesson applied to frames). Near-dup pairs
# stay m10's banded machinery.
#
# HONESTY: hashes come from real BMP bytes (builder/parser independent);
# the oracle re-derives stock and per-video frames arithmetically.
# ---------------------------------------------------------------------------
M14_STOCK_MOD = 100          # doc_id % 100 == 4 carries the stock intro
M14_STOCK_FRAMES = 2
M14_STOCK_W, M14_STOCK_H, M14_STOCK_FILL = 20, 10, 77


def m14_shot_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(table(spark, sf_dir, "documents").select("doc_id"), spark)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for doc_id in pdf["doc_id"]:
                if doc_id % 10 != 4:
                    continue
                w, h = _bmp_dims(doc_id)
                cut = 2 + doc_id % 3
                for k in range(M12_FRAMES):
                    if doc_id % M14_STOCK_MOD == 4 and k < M14_STOCK_FRAMES:
                        payload = make_bmp(
                            M14_STOCK_W, M14_STOCK_H, M14_STOCK_FILL + 3 * k
                        )
                    else:
                        fill = (
                            doc_id + M12_STEP * k
                            + (M12_JUMP if k >= cut else 0)
                        ) % 251
                        payload = make_bmp(w, h, fill)
                    if payload[:2] == b"BM":
                        ids.append(doc_id)
                        idxs.append(k)
                        hashes.append(ahash_bmp(payload))
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "ahash": hashes})

    frames = docs.mapInPandas(run, schema=M12_SCHEMA)
    clusters = frames.groupBy("ahash").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.count_distinct("doc_id").cast("long").alias("n_videos"),
        F.min("doc_id").cast("long").alias("example_doc"),
        F.min(F.struct("doc_id", "frame_idx")).getField("frame_idx")
        .cast("int")
        .alias("example_frame"),
    )
    return clusters.filter(F.col("n_videos") >= 2).select(
        "ahash", "n_frames", "n_videos", "example_doc", "example_frame"
    )


def _oracle_m14() -> str:
    return f"""
WITH params AS (
  SELECT doc_id,
         16 + doc_id % 17 AS w, 8 + doc_id % 11 AS h,
         ((3 * (16 + doc_id % 17) + 3) // 4) * 4 AS rb,
         2 + doc_id % 3 AS cut
  FROM documents WHERE doc_id % 10 = 4
),
frames AS (
  SELECT doc_id, CAST(f.k AS INTEGER) AS frame_idx,
         CASE WHEN doc_id % {M14_STOCK_MOD} = 4 AND f.k < {M14_STOCK_FRAMES}
              THEN {M14_STOCK_W} ELSE w END AS fw,
         CASE WHEN doc_id % {M14_STOCK_MOD} = 4 AND f.k < {M14_STOCK_FRAMES}
              THEN {M14_STOCK_H} ELSE h END AS fh,
         CASE WHEN doc_id % {M14_STOCK_MOD} = 4 AND f.k < {M14_STOCK_FRAMES}
              THEN ((3 * {M14_STOCK_W} + 3) // 4) * 4 ELSE rb END AS frb,
         CASE WHEN doc_id % {M14_STOCK_MOD} = 4 AND f.k < {M14_STOCK_FRAMES}
              THEN {M14_STOCK_FILL} + 3 * f.k
              ELSE (doc_id + {M12_STEP} * f.k
                    + CASE WHEN f.k >= cut THEN {M12_JUMP} ELSE 0 END) % 251
         END AS fill
  FROM params, unnest(range(0, {M12_FRAMES})) AS f(k)
),
grays AS (
  SELECT doc_id, frame_idx,
         list_transform(range(0, 64), k ->
             (fill + ((k // 8) * fh // 8) * frb + 3 * ((k % 8) * fw // 8)) % 256
           + (fill + ((k // 8) * fh // 8) * frb + 3 * ((k % 8) * fw // 8) + 1) % 256
           + (fill + ((k // 8) * fh // 8) * frb + 3 * ((k % 8) * fw // 8) + 2) % 256
         ) AS g
  FROM frames
),
fhashed AS (
  SELECT doc_id, frame_idx,
         array_to_string(
           list_transform(g, x -> CASE WHEN 64 * x > list_sum(g)
                                       THEN '1' ELSE '0' END), '') AS ahash
  FROM grays
),
clusters AS (
  SELECT ahash,
         CAST(COUNT(*) AS BIGINT) AS n_frames,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_videos,
         CAST(MIN(doc_id) AS BIGINT) AS example_doc,
         CAST(MIN({{'d': doc_id, 'f': frame_idx}})['f'] AS INTEGER) AS example_frame
  FROM fhashed GROUP BY ahash
)
SELECT ahash, n_frames, n_videos, example_doc, example_frame
FROM clusters WHERE n_videos >= 2
"""


QUERIES["m14_shot_reuse"] = m14_shot_reuse
ORACLES["m14_shot_reuse"] = _oracle_m14()


# ---------------------------------------------------------------------------
# m15 — letterbox / pillarbox border detection from REAL pixel bytes:
# black bars around image content are the single most common visual
# artifact in scraped media (TV crops, screenshots, social reposts) —
# they waste model pixels, poison aHash near-dup (bars dominate the
# hash), and the crop rectangle is the fix.  The detector scans the
# ACTUAL pixel array for maximal all-dark edge runs (every channel of
# every pixel in the row/column < 16), exactly what an ffmpeg cropdetect
# does, vectorized over a zero-copy NumPy view (no per-pixel loop, the
# m05 discipline).  BMP rows are stored BOTTOM-UP, so the stored-order
# leading run is the IMAGE-bottom bar — the detector must get that
# mapping right or top/bottom swap (the oracle would catch it).
#
# Fixture (the corpus has no media): every doc_id % 10 == 3 BMP gets a
# planted box by (doc_id // 10) % 3 — none / letterbox (k dark rows top
# and bottom) / pillarbox (k dark cols left and right), k = 1 + doc_id
# % 3; bar pixels are NEAR-black noise (byte % 13, below threshold),
# not pure zeros, and interior rows/columns can never alias as dark
# (consecutive-byte fill steps by >= 48 per pixel across any window —
# see the proof in the builder).  The oracle predicts every count and
# the crop rectangle from the doc_id arithmetic alone; the detector
# sees only bytes.
#
# Scale: one filter + two Arrow-batched mapInPandas stages (build,
# detect), embarrassingly parallel, no shuffle at all.
#
# Reference parity: no analog in the reference relay (app/app.py); part
# of the LLM-pipeline extension mandate (multimodal family).
# ---------------------------------------------------------------------------
M15_DARK = 16


def make_boxed_bmp(
    width: int, height: int, top: int, bottom: int, left: int, right: int, fill: int
) -> bytes:
    """A valid BMP with near-black bars planted over make_bmp's fill.

    Interior safety: make_bmp fills consecutive bytes (offset+fill) %
    256, so any full row (>= 48 consecutive bytes) spans >= 48 distinct
    residues and cannot be all-dark; along a column consecutive pixels
    differ by row_bytes % 256 ∈ [48, 100], which cannot stay inside a
    16-wide window two steps running."""
    buf = bytearray(make_bmp(width, height, fill))
    row_bytes = ((3 * width + 3) // 4) * 4
    px = np.frombuffer(memoryview(buf)[54:], dtype=np.uint8).reshape(
        height, row_bytes
    )
    dark_row = (np.arange(3 * width, dtype=np.int64) % 13).astype(np.uint8)
    # stored bottom-up: stored rows [0:bottom] = image bottom bar,
    # stored rows [height-top:] = image top bar.
    if bottom:
        px[0:bottom, 0 : 3 * width] = dark_row
    if top:
        px[height - top :, 0 : 3 * width] = dark_row
    if left:
        px[:, 0 : 3 * left] = (
            np.arange(3 * left, dtype=np.int64) % 13
        ).astype(np.uint8)
    if right:
        px[:, 3 * (width - right) : 3 * width] = (
            np.arange(3 * right, dtype=np.int64) % 13
        ).astype(np.uint8)
    return bytes(buf)


def detect_borders(payload: bytes) -> tuple[int, int, int, int, int, int]:
    """(w, h, top, bottom, left, right) from the pixel bytes alone."""
    w, h = parse_bmp(payload)
    row_bytes = ((3 * w + 3) // 4) * 4
    px = (
        np.frombuffer(payload, dtype=np.uint8, count=h * row_bytes, offset=54)
        .reshape(h, row_bytes)[:, : 3 * w]
        .reshape(h, w, 3)
    )
    dark = (px < M15_DARK).all(axis=2)
    row_dark = dark.all(axis=1)  # stored (bottom-up) order
    col_dark = dark.all(axis=0)

    def lead(v) -> int:
        nd = ~v
        return int(np.argmax(nd)) if nd.any() else len(v)

    bottom = lead(row_dark)  # stored-leading = image bottom
    top = lead(row_dark[::-1])
    left = lead(col_dark)
    right = lead(col_dark[::-1])
    return w, h, top, bottom, left, right


M15_SCHEMA = (
    "doc_id long, width int, height int, top_rows int, bottom_rows int, "
    "left_cols int, right_cols int"
)


def m15_letterbox_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(
        table(spark, sf_dir, "documents").select("doc_id"), spark
    ).filter(F.col("doc_id") % 10 == 3)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                w, h = _bmp_dims(doc_id)
                k = 1 + doc_id % 3
                kind = (doc_id // 10) % 3
                t, b, l, r = (
                    (0, 0, 0, 0) if kind == 0
                    else (k, k, 0, 0) if kind == 1
                    else (0, 0, k, k)
                )
                payloads.append(
                    make_boxed_bmp(w, h, t, b, l, r, doc_id % 251)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def detect(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "width", "height", "top_rows", "bottom_rows",
                "left_cols", "right_cols",
            )}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, t, b, l, r = detect_borders(payload)
                for k, v in zip(rows, (doc_id, w, h, t, b, l, r)):
                    rows[k].append(v)
            yield pd.DataFrame(rows)

    # build + detect fused into ONE Python stage (round-10, the m01
    # fuse): the boxed-BMP bytes never recross Arrow between stages.
    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield from detect(build(batches))

    detected = docs.mapInPandas(fused, schema=M15_SCHEMA)
    return detected.select(
        "doc_id",
        "width",
        "height",
        "top_rows",
        "bottom_rows",
        "left_cols",
        "right_cols",
        F.when(
            (F.col("top_rows") > 0) | (F.col("bottom_rows") > 0), "letterbox"
        )
        .when((F.col("left_cols") > 0) | (F.col("right_cols") > 0), "pillarbox")
        .otherwise("none")
        .alias("box_kind"),
        F.expr(
            "CAST(1000000 * (width - left_cols - right_cols)"
            " * (height - top_rows - bottom_rows)"
            " div (width * height) AS BIGINT)"
        ).alias("content_ppm"),
    )


ORACLE_M15 = """
WITH media AS (
  SELECT doc_id,
         16 + doc_id % 17 AS w,
         8 + doc_id % 11 AS h,
         1 + doc_id % 3 AS k,
         (doc_id // 10) % 3 AS kind
  FROM documents WHERE doc_id % 10 = 3
),
boxed AS (
  SELECT doc_id,
         CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
         CAST(CASE WHEN kind = 1 THEN k ELSE 0 END AS INTEGER) AS top_rows,
         CAST(CASE WHEN kind = 1 THEN k ELSE 0 END AS INTEGER) AS bottom_rows,
         CAST(CASE WHEN kind = 2 THEN k ELSE 0 END AS INTEGER) AS left_cols,
         CAST(CASE WHEN kind = 2 THEN k ELSE 0 END AS INTEGER) AS right_cols,
         CASE WHEN kind = 1 THEN 'letterbox'
              WHEN kind = 2 THEN 'pillarbox'
              ELSE 'none' END AS box_kind
  FROM media
)
SELECT doc_id, width, height, top_rows, bottom_rows, left_cols, right_cols,
       box_kind,
       CAST(1000000 * (width - left_cols - right_cols)
            * (height - top_rows - bottom_rows)
            // (width * height) AS BIGINT) AS content_ppm
FROM boxed
"""


QUERIES["m15_letterbox_detect"] = m15_letterbox_detect
ORACLES["m15_letterbox_detect"] = ORACLE_M15


# ---------------------------------------------------------------------------
# m16 — exposure / luminance quality gates over the BMP corpus: per
# image, the pixel-luminance distribution (mean, extremes, shadow and
# highlight tail fractions) and an under/over-exposure verdict — the
# image-side sibling of the t08 text-quality gates (a vision training
# set drops crushed-black and blown-white frames before they poison the
# loss, exactly as t08 drops degenerate text).
#
# HONESTY: stats come from the REAL pixel bytes (header-parsed stride,
# padding bytes excluded, NumPy-vectorized — the m05 discipline); the
# fixture plants exposure variants by doc_id arithmetic (dark span for
# doc_id % 40 == 13, bright span for % 40 == 33) so the DuckDB oracle
# re-derives every pixel's luminance in closed form — a parser that
# misstrides padding or miscounts channels breaks the match.
#
# Cross-engine determinism: luminance is the INTEGER channel sum
# (0..765, no weights, no division); mean/tails are truncating integer
# divisions (milli / ppm units); the verdict compares integers.
#
# Scale: filter + one Arrow-batched build stage + one extract stage,
# embarrassingly parallel, no shuffle anywhere.
# ---------------------------------------------------------------------------
M16_DARK_LUMA = 96       # shadow tail: luma < 96 of 765
M16_BRIGHT_LUMA = 672    # highlight tail: luma > 672 of 765
M16_UNDER_MILLI = 150_000   # mean_luma_milli below -> 'under'
M16_OVER_MILLI = 600_000    # mean_luma_milli above -> 'over'


def make_exposed_bmp(width: int, height: int, fill: int, lo: int, span: int) -> bytes:
    """A valid BMP whose payload bytes follow lo + (offset+fill) % span —
    span 256/lo 0 is make_bmp's standard fill; span 32 pins the whole
    image into a dark (lo=0) or bright (lo=224) band."""
    row_bytes = ((3 * width + 3) // 4) * 4
    img_bytes = row_bytes * height
    file_header = struct.pack("<2sIHHI", b"BM", 54 + img_bytes, 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_bytes, 2835, 2835, 0, 0
    )
    pixels = (
        lo + (np.arange(img_bytes, dtype=np.int64) + fill) % span
    ).astype(np.uint8).tobytes()
    return file_header + dib + pixels


def exposure_stats(payload: bytes) -> tuple[int, int, int, int, int, int]:
    """(n_pixels, mean_luma_milli, dark_ppm, bright_ppm, luma_min,
    luma_max) from the real pixel bytes (padding stripped)."""
    w, h = parse_bmp(payload)
    rb = ((3 * w + 3) // 4) * 4
    luma = (
        np.frombuffer(payload, dtype=np.uint8, count=h * rb, offset=54)
        .reshape(h, rb)[:, : 3 * w]
        .reshape(h, w, 3)
        .sum(axis=2, dtype=np.int64)
    )
    n = luma.size
    return (
        n,
        1000 * int(luma.sum()) // n,
        1_000_000 * int((luma < M16_DARK_LUMA).sum()) // n,
        1_000_000 * int((luma > M16_BRIGHT_LUMA).sum()) // n,
        int(luma.min()),
        int(luma.max()),
    )


M16_SCHEMA = (
    "doc_id long, n_pixels int, mean_luma_milli long, dark_ppm long, "
    "bright_ppm long, luma_min int, luma_max int"
)


def m16_exposure_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(
        table(spark, sf_dir, "documents").select("doc_id"), spark
    ).filter(F.col("doc_id") % 10 == 3)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                w, h = _bmp_dims(doc_id)
                lo, span = (
                    (0, 32) if doc_id % 40 == 13
                    else (224, 32) if doc_id % 40 == 33
                    else (0, 256)
                )
                payloads.append(make_exposed_bmp(w, h, doc_id % 251, lo, span))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "n_pixels", "mean_luma_milli", "dark_ppm",
                "bright_ppm", "luma_min", "luma_max",
            )}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                stats = exposure_stats(payload)
                for k, v in zip(rows, (doc_id, *stats)):
                    rows[k].append(v)
            yield pd.DataFrame(rows)

    # build + extract fused into ONE Python stage (round-10, the m01
    # fuse): the synthesized BMP bytes never recross Arrow.
    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield from extract(build(batches))

    extracted = docs.mapInPandas(fused, schema=M16_SCHEMA)
    return extracted.select(
        "*",
        F.when(F.col("mean_luma_milli") < M16_UNDER_MILLI, "under")
        .when(F.col("mean_luma_milli") > M16_OVER_MILLI, "over")
        .otherwise("ok")
        .alias("exposure"),
    )


ORACLE_M16 = f"""
WITH params AS (
  SELECT doc_id,
         16 + doc_id % 17 AS w, 8 + doc_id % 11 AS h,
         doc_id % 251 AS fill,
         ((3 * (16 + doc_id % 17) + 3) // 4) * 4 AS rb,
         CASE WHEN doc_id % 40 = 13 THEN 0
              WHEN doc_id % 40 = 33 THEN 224 ELSE 0 END AS lo,
         CASE WHEN doc_id % 40 IN (13, 33) THEN 32 ELSE 256 END AS span
  FROM documents WHERE doc_id % 10 = 3
),
lumas AS (
  SELECT doc_id, w * h AS n,
         list_transform(range(0, w * h), k ->
             3 * lo
           + (fill + (k // w) * rb + 3 * (k % w)) % span
           + (fill + (k // w) * rb + 3 * (k % w) + 1) % span
           + (fill + (k // w) * rb + 3 * (k % w) + 2) % span
         ) AS luma
  FROM params
),
stats AS (
  SELECT doc_id, n,
         1000 * list_sum(luma) // n AS mean_luma_milli,
         1000000 * list_sum(list_transform(luma,
             v -> CASE WHEN v < {M16_DARK_LUMA} THEN 1 ELSE 0 END)) // n
           AS dark_ppm,
         1000000 * list_sum(list_transform(luma,
             v -> CASE WHEN v > {M16_BRIGHT_LUMA} THEN 1 ELSE 0 END)) // n
           AS bright_ppm,
         list_min(luma) AS luma_min,
         list_max(luma) AS luma_max
  FROM lumas
)
SELECT doc_id, CAST(n AS INTEGER) AS n_pixels,
       CAST(mean_luma_milli AS BIGINT) AS mean_luma_milli,
       CAST(dark_ppm AS BIGINT) AS dark_ppm,
       CAST(bright_ppm AS BIGINT) AS bright_ppm,
       CAST(luma_min AS INTEGER) AS luma_min,
       CAST(luma_max AS INTEGER) AS luma_max,
       CASE WHEN mean_luma_milli < {M16_UNDER_MILLI} THEN 'under'
            WHEN mean_luma_milli > {M16_OVER_MILLI} THEN 'over'
            ELSE 'ok' END AS exposure
FROM stats
"""


QUERIES["m16_exposure_stats"] = m16_exposure_stats
ORACLES["m16_exposure_stats"] = ORACLE_M16


# ---------------------------------------------------------------------------
# m17 — audio clipping detection: count samples at/near digital full
# scale (|s| >= CLIP_T on 16-bit PCM). Clipped audio is distorted at the
# source — a training-data audio pipeline gates on clipping ratio before
# spending feature-extraction compute, exactly like t09 gates text on
# punctuation ratios. Rides the honest WAV tier: the Pandas UDF walks
# the real RIFF chunks and reads the real int16 samples (Arrow-batched,
# the m09/m13 plumbing); the oracle reconstructs the deterministic
# synthetic samples analytically from the fixture's fill formula.
#
# Scale: embarrassingly parallel per asset — no shuffle at all until
# the output pass-through; payload bytes stream through mapInPandas in
# Arrow batches.
# ---------------------------------------------------------------------------
M17_CLIP_T = 32700  # |sample| >= this counts as clipped (full scale 32768)
M17_CLIP_PPM = 10_000  # >= 1% clipped samples => asset flagged
M17_SCHEMA = (
    "doc_id long, n_samples long, n_clipped long, max_abs long, "
    "clipped_ppm long, is_clipped boolean"
)


def wav_clip_stats(payload: bytes) -> tuple | None:
    """(n_samples, n_clipped, max_abs, clipped_ppm, is_clipped) from a
    real RIFF/int16 parse, or None for rows m17 must SKIP: non-WAV
    payloads, and WAV-magic payloads with no usable 'data' chunk (the
    advisory case — a bare-magic payload used to die on None // 2 or a
    zero-sample ppm division and kill the whole Spark task).
    Module-level so the skip contract is directly unit-testable."""
    if not (payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"):
        return None
    pos, data_off, data_len = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", payload, pos + 4)
        if cid == b"data":
            data_off, data_len = pos + 8, clen
            break
        pos += 8 + clen + (clen & 1)
    if data_off is None or data_len < 2:
        return None
    # clamp to the bytes actually present (a declared length past EOF
    # would make frombuffer raise)
    n = min(data_len, len(payload) - data_off) // 2
    if n < 1:
        return None
    s = np.abs(
        np.frombuffer(payload, dtype="<i2", count=n, offset=data_off).astype(
            np.int64
        )
    )
    n_clip = int((s >= M17_CLIP_T).sum())
    ppm = n_clip * 1_000_000 // n
    return n, n_clip, int(s.max()), ppm, ppm >= M17_CLIP_PPM


def m17_audio_clipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "n_samples", "n_clipped", "max_abs",
                "clipped_ppm", "is_clipped",
            )}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                stats = wav_clip_stats(payload)
                if stats is None:
                    continue
                n, n_clip, max_abs, ppm, clipped = stats
                out["doc_id"].append(doc_id)
                out["n_samples"].append(n)
                out["n_clipped"].append(n_clip)
                out["max_abs"].append(max_abs)
                out["clipped_ppm"].append(ppm)
                out["is_clipped"].append(clipped)
            yield pd.DataFrame(out)

    return fused_media_stage(docs, run, M17_SCHEMA)


ORACLE_M17 = f"""
WITH params AS (
  SELECT doc_id,
         200 + doc_id % 30 AS ns,
         doc_id % 251 AS fill
  FROM documents WHERE doc_id % 10 = 7
),
samples AS (
  SELECT doc_id, ns,
         list_transform(range(0, ns),
                        i -> abs(((fill + 7 * i) % 65536) - 32768)) AS mags
  FROM params
),
scored AS (
  SELECT doc_id,
         CAST(ns AS BIGINT) AS n_samples,
         CAST(len(list_filter(mags, m -> m >= {M17_CLIP_T})) AS BIGINT)
           AS n_clipped,
         CAST(list_max(mags) AS BIGINT) AS max_abs
  FROM samples
)
SELECT doc_id, n_samples, n_clipped, max_abs,
       n_clipped * 1000000 // n_samples AS clipped_ppm,
       (n_clipped * 1000000 // n_samples) >= {M17_CLIP_PPM} AS is_clipped
FROM scored
"""


QUERIES["m17_audio_clipping"] = m17_audio_clipping
ORACLES["m17_audio_clipping"] = ORACLE_M17
