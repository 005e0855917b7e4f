"""Multimodal-column plumbing (north-star ops).

Treats media as opaque ``binary`` columns with typed metadata and runs
decode / feature-extraction as Arrow-batched ``mapInPandas`` — the
real 100 TB shape (schema, partitioning, batch iteration, UDF
signatures). The fixture media lake is synthesized from ``documents``
as REAL self-describing payloads — 8-bit grayscale BMP images
(BITMAPFILEHEADER + BITMAPINFOHEADER + palette + padded bottom-up
pixel rows) and PCM16 RIFF/WAVE audio — whose pixel/sample values
follow a closed-form rule of (doc_id, position). The decoders parse
the actual byte format with pure NumPy (magic check, header walk,
row-padding strip, bottom-up flip / chunk walk to the data block), so
a decode bug breaks the DuckDB oracle, which recomputes the closed
form without ever seeing the bytes. Only the video lane keeps an
honestly-labeled stub (mp4 needs ffmpeg, absent in this container):
fixed 8-byte ftyp header + deterministic body bytes, decode = header
skip + byte fold; a real deployment swaps pyav into the same batch
loop.
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eventstream_benchmark_spark.io import load_table
from eventstream_benchmark_spark.operators._util import bigint, scratch_path

# fixture-lake sizing rules (mirrored literally in the DuckDB oracles)
#   image:  w = n_chars % 56 + 8   (8..63),  h = n_chars*3 % 40 + 8 (8..47)
#   audio:  n_samples = n_chars % 500 + 100
#   video:  n_body_bytes = n_chars % 2000 + 64
# unit values:
#   pixel(i)  = (doc_id*31 + 7*i)  % 256
#   sample(i) = (doc_id*13 + 11*i) % 65536 - 32768
#   byte(i)   = (doc_id*17 + 3*i)  % 256

VIDEO_HEADER = b"\x00\x00\x00\x08ftypisom"  # 12-byte fixed stub header


def _bmp_bytes(doc_id: int, w: int, h: int) -> bytes:
    """A valid 8-bit grayscale BMP: 14-byte file header, 40-byte info
    header, 256-entry palette, 4-byte-padded bottom-up pixel rows."""
    import numpy as np

    stride = (w + 3) & ~3
    off = 14 + 40 + 1024
    header = b"BM" + struct.pack("<IHHI", off + stride * h, 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, stride * h, 2835, 2835, 256, 0)
    palette = bytes(c for g in range(256) for c in (g, g, g, 0))
    px = ((doc_id * 31 + 7 * np.arange(w * h, dtype=np.int64)) % 256).astype(np.uint8)
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :w] = px.reshape(h, w)[::-1]  # stored bottom-up
    return header + info + palette + rows.tobytes()


def _wav_bytes(doc_id: int, n_samples: int) -> bytes:
    """A valid PCM16 mono RIFF/WAVE file (44-byte canonical header)."""
    import numpy as np

    samples = (
        (doc_id * 13 + 11 * np.arange(n_samples, dtype=np.int64)) % 65536 - 32768
    ).astype("<i2")
    data = samples.tobytes()
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 16000, 32000, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def _video_bytes(doc_id: int, n_bytes: int) -> bytes:
    import numpy as np

    body = ((doc_id * 17 + 3 * np.arange(n_bytes, dtype=np.int64)) % 256).astype(np.uint8)
    return VIDEO_HEADER + body.tobytes()


def _build_payload_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {"doc_id": [], "media_type": [], "payload": [], "width": [], "height": []}
        for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
            doc_id, n_chars = int(doc_id), int(n_chars)
            if doc_id % 3 == 0:
                w, h = n_chars % 56 + 8, n_chars * 3 % 40 + 8
                payload, mt = _bmp_bytes(doc_id, w, h), "image/bmp"
            elif doc_id % 3 == 1:
                w = h = 0
                payload, mt = _wav_bytes(doc_id, n_chars % 500 + 100), "audio/wav"
            else:
                w = h = 0
                payload, mt = _video_bytes(doc_id, n_chars % 2000 + 64), "video/mp4"
            out["doc_id"].append(doc_id)
            out["media_type"].append(mt)
            out["payload"].append(payload)
            out["width"].append(w)
            out["height"].append(h)
        yield pd.DataFrame(out)


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture stand-in for a media lake table: one real binary payload
    per document (BMP / WAV / stub-mp4 by doc_id mod 3) with typed
    metadata columns. Built Arrow-batched inside the partition — no
    shuffle, no driver materialization."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return docs.mapInPandas(
        _build_payload_batches,
        "doc_id bigint, media_type string, payload binary, width int, height int",
    )


# --------------------------------------------------------------------------
# decode + feature extraction
# --------------------------------------------------------------------------


def _decode_bmp(buf: bytes):
    """Parse the actual BMP byte layout: magic, pixel-data offset,
    dimensions, bpp; strip the 4-byte row padding and flip the
    bottom-up rows to logical top-down order."""
    import numpy as np

    if buf[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = int.from_bytes(buf[10:14], "little")
    w = int.from_bytes(buf[18:22], "little", signed=True)
    h = int.from_bytes(buf[22:26], "little", signed=True)
    bpp = int.from_bytes(buf[28:30], "little")
    stride = (w * bpp // 8 + 3) & ~3
    arr = np.frombuffer(buf, dtype=np.uint8, offset=off, count=stride * h)
    grid = arr.reshape(h, stride)[:, :w][::-1]
    return w, h, grid


def _decode_wav(buf: bytes):
    """Walk the RIFF chunk list to the data block; no fixed offsets."""
    import numpy as np

    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a WAVE payload")
    pos = 12
    while buf[pos : pos + 4] != b"data":
        pos += 8 + int.from_bytes(buf[pos + 4 : pos + 8], "little")
    n = int.from_bytes(buf[pos + 4 : pos + 8], "little")
    return np.frombuffer(buf, dtype="<i2", offset=pos + 8, count=n // 2)


def _extract_one(media_type: str, payload: bytes):
    import numpy as np

    if media_type == "image/bmp":
        w, h, grid = _decode_bmp(payload)
        return "bmp-numpy", w * h, int(grid.astype(np.int64).sum())
    if media_type == "audio/wav":
        samples = _decode_wav(payload)
        return "wav-numpy", int(samples.size), int(samples.astype(np.int64).sum())
    # mp4: honest stub — skip the fixed header, fold the body bytes
    body = np.frombuffer(payload, dtype=np.uint8, offset=len(VIDEO_HEADER))
    return "stub-mp4", int(body.size), int(body.astype(np.int64).sum())


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        decoded = [
            _extract_one(mt, p) for mt, p in zip(pdf["media_type"], pdf["payload"])
        ]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "decoder": [d[0] for d in decoded],
                "n_units": [d[1] for d in decoded],
                "unit_sum": [d[2] for d in decoded],
            }
        )


def multimodal_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode over binary payloads (real BMP/WAV header
    parsing), then a per-media-type aggregate. Hash-checked: the
    DuckDB oracle recomputes pixel/sample sums from the closed-form
    generation rule without touching the bytes, so any decode drift
    (padding, bottom-up order, chunk offsets) fails the driver check."""
    feats = media_table(spark, sf_dir).mapInPandas(
        _extract_batches,
        "doc_id bigint, media_type string, decoder string, n_units bigint, unit_sum bigint",
    )
    return (
        feats.groupBy("media_type", "decoder")
        .agg(
            F.count("*").alias("n"),
            bigint(F.sum("n_units")).alias("total_units"),
            bigint(F.sum("unit_sum")).alias("unit_sum_total"),
        )
        .orderBy("media_type")
    )


# --------------------------------------------------------------------------
# resize (image path)
# --------------------------------------------------------------------------

TARGET_W, TARGET_H = 16, 16


def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        sums = []
        for payload in pdf["payload"]:
            w, h, grid = _decode_bmp(payload)
            rr = (np.arange(TARGET_H, dtype=np.int64) * h) // TARGET_H
            cc = (np.arange(TARGET_W, dtype=np.int64) * w) // TARGET_W
            out = grid[np.ix_(rr, cc)]
            sums.append(int(out.astype(np.int64).sum()))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "out_w": TARGET_W,
                "out_h": TARGET_H,
                "pixel_sum": sums,
            }
        )


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-lane nearest-neighbor resize to a fixed TARGET_W×TARGET_H
    grid on the DECODED pixel matrix (not raw bytes): out[j,i] =
    px[(j·h)//TH, (i·w)//TW]. Per-image output rows; fixed output
    budget keeps downstream batch sizes predictable at scale.
    Hash-checked against the closed-form oracle."""
    images = media_table(spark, sf_dir).filter(F.col("media_type") == "image/bmp")
    return images.mapInPandas(
        _resize_batches,
        "doc_id bigint, out_w int, out_h int, pixel_sum bigint",
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# frame sampling (video path)
# --------------------------------------------------------------------------

FRAMES_PER_VIDEO = 4


def _frame_sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One row in → FRAMES_PER_VIDEO rows out (the row-explosion shape
    real frame sampling has; pyav frame decode replaces the byte-slice
    stub). Emits (doc_id, frame_idx, frame_bytes, frame_checksum)."""
    import numpy as np

    for pdf in batches:
        rows = {"doc_id": [], "frame_idx": [], "frame_bytes": [], "frame_checksum": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            body = np.frombuffer(payload, dtype=np.uint8, offset=len(VIDEO_HEADER))
            for k, frame in enumerate(np.array_split(body, FRAMES_PER_VIDEO)):
                rows["doc_id"].append(doc_id)
                rows["frame_idx"].append(k)
                rows["frame_bytes"].append(int(frame.size))
                rows["frame_checksum"].append(int(frame.astype(np.int64).sum()))
        yield pd.DataFrame(rows)


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-lane frame sampling: one input row fans out to k frame
    rows inside mapInPandas (no shuffle — the fan-out happens within
    the partition), then a compact per-frame-index aggregate.
    Hash-checked: the oracle reproduces np.array_split's first-parts-
    get-the-remainder split boundaries in SQL."""
    videos = media_table(spark, sf_dir).filter(F.col("media_type") == "video/mp4")
    frames = videos.mapInPandas(
        _frame_sample_batches,
        "doc_id bigint, frame_idx int, frame_bytes bigint, frame_checksum bigint",
    )
    return (
        frames.groupBy("frame_idx")
        .agg(
            F.count("*").alias("n_frames"),
            bigint(F.sum("frame_bytes")).alias("total_bytes"),
            bigint(F.sum("frame_checksum")).alias("checksum_sum"),
        )
        .orderBy("frame_idx")
    )


def _audio_feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        rows = {"doc_id": [], "n_samples": [], "zero_crossings": [], "energy": [], "peak": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            s = _decode_wav(bytes(payload)).astype(np.int64)
            rows["doc_id"].append(int(doc_id))
            rows["n_samples"].append(len(s))
            rows["zero_crossings"].append(int(((s[:-1] * s[1:]) < 0).sum()))
            rows["energy"].append(int((s * s).sum()))
            rows["peak"].append(int(np.abs(s).max()))
        yield pd.DataFrame(rows)


def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio DSP features over REAL decoded PCM: the WAV lane's RIFF
    chunks are walked and the int16 samples profiled — zero-crossing
    count (the classic cheap pitch/voicedness proxy), total energy
    (Σs², the loudness side), and peak amplitude — Arrow-batched NumPy
    per partition, no shuffle until the (tiny) result.

    Every feature is exact int64 arithmetic, so the closed-form oracle
    (which regenerates the deterministic sample sequence from doc_id
    and never parses bytes, per the multimodal contract) matches
    hash-for-hash."""
    audio = media_table(spark, sf_dir).filter(F.col("media_type") == "audio/wav")
    return (
        audio.select("doc_id", "payload")
        .mapInPandas(
            _audio_feature_batches,
            "doc_id bigint, n_samples bigint, zero_crossings bigint, "
            "energy bigint, peak bigint",
        )
        .orderBy("doc_id")
    )


HIST_BUCKETS = 16  # 256 gray levels / 16 per bucket


def _image_hist_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        rows = {"bucket": [], "n_px": []}
        counts = np.zeros(HIST_BUCKETS, dtype=np.int64)
        for payload in pdf["payload"]:
            _, _, grid = _decode_bmp(bytes(payload))
            counts += np.bincount(
                np.asarray(grid).ravel() >> 4, minlength=HIST_BUCKETS
            )
        rows["bucket"] = list(range(HIST_BUCKETS))
        rows["n_px"] = counts.tolist()
        yield pd.DataFrame(rows)


def multimodal_image_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide pixel-intensity histogram over REAL decoded BMP
    grids (the exposure/contrast profile an image-curation pipeline
    computes before filtering): each partition decodes its images and
    emits per-bucket partial counts (16 buckets of 16 gray levels),
    which one tiny groupBy folds to the final histogram — the
    map-side-combine shape, with the combine done in NumPy inside the
    Arrow batch.

    Exact integers throughout; the closed-form oracle regenerates the
    (doc_id·31 + 7i) mod 256 pixel law per doc without parsing bytes."""
    images = media_table(spark, sf_dir).filter(F.col("media_type") == "image/bmp")
    partials = images.select("payload").mapInPandas(
        _image_hist_batches, "bucket int, n_px bigint"
    )
    return (
        partials.groupBy("bucket")
        .agg(bigint(F.sum("n_px")).alias("n_px"))
        .orderBy("bucket")
    )


PHASH_BITS = 64
PHASH_BANDS = 4  # 4 × 16-bit bands: pigeonhole-complete for hamming ≤ 3
PHASH_HAM_T = 3


def _phash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        out = {"doc_id": [], "hash_hi": [], "hash_lo": [],
               "k": [], "bv": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            _, _, grid = _decode_bmp(bytes(payload))
            flat = np.asarray(grid).ravel().astype(np.int64)
            n = flat.size
            total = int(flat.sum())
            probes = flat[(np.arange(PHASH_BITS) * n) // PHASH_BITS]
            # bit j = probe_j >= mean, cross-multiplied to stay integer
            bits = (probes * n >= total).astype(np.int64)
            val = 0
            for j in range(PHASH_BITS):
                val |= int(bits[j]) << j
            for k in range(PHASH_BANDS):
                out["doc_id"].append(int(doc_id))
                out["hash_hi"].append(val >> 32)
                out["hash_lo"].append(val & 0xFFFFFFFF)
                out["k"].append(k)
                out["bv"].append((val >> (16 * k)) & 0xFFFF)
        yield pd.DataFrame(out)


def multimodal_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-duplication — the multimodal twin of
    ``dedup_minhash_lsh``: decode each BMP, compute a 64-bit
    average-hash (bit j = probe pixel ≥ image mean, the mean test
    cross-multiplied so the hash is exact integer arithmetic), then
    find image pairs within Hamming distance 3. Candidate generation
    is banded LSH — 4 × 16-bit bands, an equi-join per band value;
    by pigeonhole a pair at Hamming ≤ 3 shares at least one intact
    band, so banding loses NOTHING at this threshold (exact recall,
    unlike probabilistic MinHash banding) — followed by the exact
    ``bit_count(xor)`` verify on candidates only. No all-pairs
    anywhere; at 100 TB the band join is the only shuffle wider than
    the hash table itself.

    The closed-form oracle regenerates hashes from the pixel law and
    replays the identical band join + Hamming verify."""
    images = media_table(spark, sf_dir).filter(F.col("media_type") == "image/bmp")
    hashes = images.select("doc_id", "payload").mapInPandas(
        _phash_batches,
        "doc_id bigint, hash_hi bigint, hash_lo bigint, k int, bv int",
    )
    a, b = hashes.alias("a"), hashes.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.hash_hi").alias("hi_a"),
            F.col("a.hash_lo").alias("lo_a"),
            F.col("b.hash_hi").alias("hi_b"),
            F.col("b.hash_lo").alias("lo_b"),
        )
        .distinct()
    )
    ham = bigint(
        F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
        + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
    )
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= PHASH_HAM_T)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


BINLAKE_FILES = 24  # fixture-lake size: deterministic, tiny, per-sf-dir


def multimodal_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest a directory of raw image FILES through Spark's
    ``binaryFile`` source — the lake-ingestion step every multimodal
    pipeline starts with (the other multimodal queries consume binary
    COLUMNS; this one proves the files-on-disk → DataFrame hop).

    Fixture materialization: the first ``BINLAKE_FILES`` documents are
    rendered to ``img_<doc_id>.bmp`` files with the SAME deterministic
    codec and sizing rules as ``media_table`` (w = n_chars%56+8,
    h = n_chars*3%40+8, pixel(i) = (doc_id·31+7i)%256), driver-side —
    24 tiny files, fixture setup rather than a data path; the scratch
    dir is cleared first so the glob can never pick up stale files.
    The ingest itself is distributed: ``binaryFile`` lists and reads
    the files partition-parallel, and the content audit (length, BMP
    magic, pixel checksum skipping the 1078-byte header — padding
    bytes are zeros, so the stride-padded sum equals the pixel sum)
    runs Arrow-batched in ``mapInPandas``, the lane's standard shape.

    The DuckDB oracle never opens a file: sizes and pixel checksums
    replay in SQL from ``documents`` alone (file size = 1078 +
    stride·h; checksum = Σ (doc_id·31+7i) mod 256), so a byte lost or
    reordered anywhere in write → list → read → decode fails the hash.
    At 100 TB this is the pattern for petabyte image lakes: file
    listing scales with the driver's listing parallelism, content
    never transits the driver."""
    import shutil

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .filter(F.col("doc_id") <= BINLAKE_FILES)
    )
    lake = os.path.join(scratch_path(sf_dir, "binlake"), "images")
    shutil.rmtree(lake, ignore_errors=True)
    os.makedirs(lake, exist_ok=True)
    for row in docs.collect():  # fixture setup: <= 24 tiny rows
        w = row["n_chars"] % 56 + 8
        h = row["n_chars"] * 3 % 40 + 8
        with open(os.path.join(lake, f"img_{row['doc_id']:05d}.bmp"), "wb") as fh:
            fh.write(_bmp_bytes(int(row["doc_id"]), w, h))

    def audit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                b = bytes(content)
                px = np.frombuffer(b, np.uint8, count=len(b) - 1078, offset=1078)
                out.append(
                    (
                        os.path.basename(path),
                        len(b),
                        int(px.sum(dtype=np.int64)),
                        b[:2].hex().upper(),
                    )
                )
            yield pd.DataFrame(
                out, columns=["file", "n_bytes", "pixel_sum", "header_hex"]
            )

    ingested = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bmp")
        .load(lake)
        .select("path", "content")
    )
    return (
        ingested.mapInPandas(
            audit, "file string, n_bytes bigint, pixel_sum bigint, header_hex string"
        )
        .orderBy("file")
    )


QUERIES = {
    "multimodal_binaryfile_ingest": multimodal_binaryfile_ingest,
    "multimodal_extract": multimodal_extract,
    "multimodal_image_phash": multimodal_image_phash,
    "multimodal_resize": multimodal_resize,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_audio_features": multimodal_audio_features,
    "multimodal_image_hist": multimodal_image_hist,
}

# The oracles never parse bytes: they recompute the closed-form unit
# values from (doc_id, position) and the sizing rules above, so they
# independently check that the Spark side both GENERATED and DECODED
# the real byte formats correctly.
ORACLES: dict[str, str] = {
    # replays the fixture-lake bytes WITHOUT reading a file: size =
    # 1078 + stride*h, checksum = sum of (doc_id*31+7i) mod 256 over
    # the w*h pixels (stride padding is zeros on the Spark side)
    "multimodal_binaryfile_ingest": f"""
        WITH d AS (
            SELECT doc_id, n_chars % 56 + 8 AS w, n_chars * 3 % 40 + 8 AS h
            FROM documents WHERE doc_id <= {BINLAKE_FILES}
        ),
        px AS (
            SELECT doc_id, w, h,
                   sum((doc_id * 31 + 7 * i) % 256) AS pixel_sum
            FROM d, LATERAL unnest(range(0, w * h)) AS t(i)
            GROUP BY doc_id, w, h
        )
        SELECT printf('img_%05d.bmp', doc_id) AS file,
               CAST(1078 + ((w + 3) // 4 * 4) * h AS BIGINT) AS n_bytes,
               CAST(pixel_sum AS BIGINT) AS pixel_sum,
               '424D' AS header_hex
        FROM px ORDER BY file
    """,
    # hashes regenerated from the pixel law; identical band join +
    # bit_count(xor) verify — exact integers end to end
    "multimodal_image_phash": f"""
        WITH d AS (
            SELECT doc_id,
                   (n_chars % 56 + 8) * (n_chars * 3 % 40 + 8) AS n
            FROM documents WHERE doc_id % 3 = 0
        ),
        tot AS (
            SELECT doc_id, n,
                   sum((doc_id * 31 + 7 * i) % 256) AS total
            FROM (SELECT doc_id, n,
                         unnest(generate_series(0, n - 1)) AS i FROM d)
            GROUP BY doc_id, n
        ),
        bits AS (
            SELECT doc_id, u.j,
                   CASE WHEN ((doc_id * 31 + 7 * ((u.j * n) // {PHASH_BITS}))
                              % 256) * n >= total
                        THEN 1 ELSE 0 END AS bit
            FROM tot, LATERAL unnest(range(0, {PHASH_BITS})) AS u(j)
        ),
        hashes AS (
            SELECT doc_id,
                   sum(CASE WHEN j >= 32
                            THEN bit * (CAST(1 AS BIGINT) << (j - 32))
                            ELSE 0 END) AS hash_hi,
                   sum(CASE WHEN j < 32
                            THEN bit * (CAST(1 AS BIGINT) << j)
                            ELSE 0 END) AS hash_lo
            FROM bits GROUP BY doc_id
        ),
        bands AS (
            SELECT doc_id, j // 16 AS k,
                   sum(bit * (CAST(1 AS BIGINT) << (j % 16))) AS bv
            FROM bits GROUP BY doc_id, j // 16
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(ha.hash_lo, hb.hash_lo))
                    + bit_count(xor(ha.hash_hi, hb.hash_hi)) AS BIGINT)
                   AS hamming
        FROM cand
        JOIN hashes ha ON ha.doc_id = cand.doc_a
        JOIN hashes hb ON hb.doc_id = cand.doc_b
        WHERE bit_count(xor(ha.hash_lo, hb.hash_lo))
              + bit_count(xor(ha.hash_hi, hb.hash_hi)) <= {PHASH_HAM_T}
        ORDER BY doc_a, doc_b
    """,
    "multimodal_image_hist": f"""
        WITH d AS (
            SELECT doc_id,
                   (n_chars % 56 + 8) * (n_chars * 3 % 40 + 8) AS n_px
            FROM documents WHERE doc_id % 3 = 0
        ),
        px AS (
            SELECT ((doc_id * 31 + 7 * i) % 256) // 16 AS bucket
            FROM (SELECT doc_id, n_px,
                         unnest(generate_series(0, n_px - 1)) AS i
                  FROM d)
        )
        SELECT CAST(bucket AS INTEGER) AS bucket,
               CAST(count(*) AS BIGINT) AS n_px
        FROM px GROUP BY 1 ORDER BY 1
    """,
    "multimodal_audio_features": """
        WITH d AS (
            SELECT doc_id, n_chars % 500 + 100 AS n FROM documents
            WHERE doc_id % 3 = 1
        ),
        s AS (
            SELECT doc_id, i,
                   (doc_id * 13 + 11 * i) % 65536 - 32768 AS v
            FROM (SELECT doc_id, n,
                         unnest(generate_series(0, n - 1)) AS i
                  FROM d)
        ),
        x AS (
            SELECT doc_id, v,
                   lead(v) OVER (PARTITION BY doc_id ORDER BY i) AS nv
            FROM s
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_samples,
               CAST(sum(CASE WHEN nv IS NOT NULL AND v * nv < 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
               CAST(sum(v * v) AS BIGINT) AS energy,
               CAST(max(abs(v)) AS BIGINT) AS peak
        FROM x GROUP BY doc_id ORDER BY doc_id
    """,
    "multimodal_extract": """
        WITH d AS (
            SELECT doc_id,
                   CASE doc_id % 3 WHEN 0 THEN 'image/bmp'
                                   WHEN 1 THEN 'audio/wav'
                                   ELSE 'video/mp4' END AS media_type,
                   CASE doc_id % 3
                       WHEN 0 THEN (n_chars % 56 + 8) * (n_chars * 3 % 40 + 8)
                       WHEN 1 THEN n_chars % 500 + 100
                       ELSE n_chars % 2000 + 64 END AS n_units
            FROM documents
        ),
        u AS (
            SELECT doc_id, media_type, n_units,
                   unnest(generate_series(0, n_units - 1)) AS i
            FROM d
        ),
        per_doc AS (
            SELECT doc_id, media_type, n_units,
                   sum(CASE media_type
                       WHEN 'image/bmp' THEN (doc_id * 31 + 7 * i) % 256
                       WHEN 'audio/wav' THEN (doc_id * 13 + 11 * i) % 65536 - 32768
                       ELSE (doc_id * 17 + 3 * i) % 256 END) AS unit_sum
            FROM u GROUP BY 1, 2, 3
        )
        SELECT media_type,
               CASE media_type WHEN 'image/bmp' THEN 'bmp-numpy'
                               WHEN 'audio/wav' THEN 'wav-numpy'
                               ELSE 'stub-mp4' END AS decoder,
               count(*) AS n,
               CAST(sum(n_units) AS BIGINT) AS total_units,
               CAST(sum(unit_sum) AS BIGINT) AS unit_sum_total
        FROM per_doc GROUP BY 1, 2 ORDER BY media_type
    """,
    "multimodal_resize": """
        WITH d AS (
            SELECT doc_id, n_chars % 56 + 8 AS w, n_chars * 3 % 40 + 8 AS h
            FROM documents WHERE doc_id % 3 = 0
        ),
        px AS (
            SELECT doc_id, w, h, unnest(generate_series(0, 255)) AS k
            FROM d
        )
        SELECT doc_id, 16 AS out_w, 16 AS out_h,
               CAST(sum((doc_id * 31
                    + 7 * (((k // 16) * h // 16) * w + ((k % 16) * w // 16)))
                    % 256) AS BIGINT) AS pixel_sum
        FROM px GROUP BY doc_id ORDER BY doc_id
    """,
    "multimodal_frame_sample": """
        WITH d AS (
            SELECT doc_id, n_chars % 2000 + 64 AS n
            FROM documents WHERE doc_id % 3 = 2
        ),
        b AS (
            SELECT doc_id, n, n // 4 AS q, n % 4 AS r,
                   unnest(generate_series(0, n - 1)) AS i
            FROM d
        ),
        f AS (
            SELECT doc_id,
                   CASE WHEN i < r * (q + 1) THEN i // (q + 1)
                        ELSE r + (i - r * (q + 1)) // q END AS frame_idx,
                   (doc_id * 17 + 3 * i) % 256 AS byte_val
            FROM b
        )
        SELECT CAST(frame_idx AS INTEGER) AS frame_idx,
               count(DISTINCT doc_id) AS n_frames,
               CAST(count(*) AS BIGINT) AS total_bytes,
               CAST(sum(byte_val) AS BIGINT) AS checksum_sum
        FROM f GROUP BY 1 ORDER BY 1
    """,
}
