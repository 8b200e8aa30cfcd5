"""Multimodal binary-column plumbing.

Treats media as opaque ``binary`` columns + typed metadata, the way a
100 TB multimodal training pipeline stores image/audio/video alongside
text. PNG payloads are decoded FOR REAL (pure-stdlib zlib + unfilter,
functions/png.py — see m07); other media stay behind the deterministic
stub (no PIL/ffmpeg in this container — ``decode_image_stub``), and
everything Spark-side is real and verified either way: binary encoding,
checksums, Arrow-batched ``mapInPandas`` over binary columns,
schema/partition behavior.

m01 is pure JVM expressions; m02 pushes the binary payloads through a
real Arrow → pandas → Arrow round trip with a deterministic fake
decoder, and its output is still SQL-checkable because the fake is a
pure function of the byte length — i.e. the oracle verifies the
mapInPandas plumbing end-to-end (batch boundaries must not change
results).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nlp_data_pipeline_spark.sources.catalog import load_table


# --------------------------------------------------------------------------
# m01: binary metadata — encode text → bytes, checksum, sizes.
# --------------------------------------------------------------------------
def m01_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.sha2(payload, 256).alias("sha256_hex"),
        F.substring(F.base64(payload), 1, 16).alias("b64_prefix"),
    )


M01_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS sha256_hex,
       substring(to_base64(encode(text)), 1, 16) AS b64_prefix
FROM documents
"""


def decode_image_stub(payload: bytes) -> dict:
    """Deterministic fake media decoder for non-PNG payloads.

    A real deployment swaps this for PIL/ffmpeg inside the same
    mapInPandas kernel; the container ships neither, so the decode is a
    pure function of the payload bytes (keeps the operator testable and
    the oracle exact). Raise pattern for genuinely-unsupported media:
    NotImplementedError("image decode requires pillow").
    """
    n = len(payload)
    return {
        "width": n % 640 + 1,
        "height": n % 480 + 1,
        "format": "fake/raw",
        "n_bytes": n,
    }


def decode_image(payload: bytes) -> dict:
    """Real decode where the stdlib can do it (PNG, functions/png.py);
    deterministic stub otherwise. Same dict shape either way, so the
    mapInPandas kernels are decoder-agnostic."""
    from nlp_data_pipeline_spark.functions.png import decode_png, is_png

    if is_png(payload):
        try:
            width, height, channels, _pixels = decode_png(payload)
            return {
                "width": width,
                "height": height,
                "format": f"image/png;ch={channels}",
                "n_bytes": len(payload),
            }
        except ValueError:
            pass  # unsupported PNG variant → metadata-only stub path
    return decode_image_stub(payload)


# --------------------------------------------------------------------------
# m02: Arrow-batched binary decode via mapInPandas.
# Scale: mapInPandas streams Arrow record batches through the Python
# worker — constant memory per batch, no collect; the only sanctioned
# Python hot path in this engine.
# --------------------------------------------------------------------------
def m02_decode_stub_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    with_payload = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = pdf["payload"].map(decode_image)  # PNG→real, else stub
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": meta.map(lambda m: m["width"]),
                    "height": meta.map(lambda m: m["height"]),
                    "format": meta.map(lambda m: m["format"]),
                    "n_bytes": meta.map(lambda m: m["n_bytes"]),
                }
            )

    return with_payload.mapInPandas(
        decode_batches, "doc_id long, width integer, height integer, format string, n_bytes integer"
    )


M02_SQL = """
SELECT doc_id,
       (octet_length(encode(text)) % 640 + 1)::INT AS width,
       (octet_length(encode(text)) % 480 + 1)::INT AS height,
       'fake/raw' AS format,
       octet_length(encode(text))::INT AS n_bytes
FROM documents
"""


# --------------------------------------------------------------------------
# m03: feature-extract + resize + frame-sample stubs — one Arrow pass.
# Real deployment swaps the kernels for torchvision/ffmpeg; the stubs
# are pure functions of the bytes so the full pipeline (binary in →
# fixed-size float vector + resized dims + sampled frame offsets out)
# stays deterministic and SQL-checkable end-to-end.
# --------------------------------------------------------------------------
FEAT_DIM = 4
TARGET_W, TARGET_H = 224, 224
FRAME_STRIDE = 100


def m03_feature_extract_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    d = load_table(spark, sf_dir, "documents")
    with_payload = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))

    # Feature dims surface as scalar columns feat_0..feat_{D-1}: a fixed
    # small embedding is as queryable as an array, and scalar columns
    # keep the result canonicalizable by the driver (array cells break
    # its hasher). The kernel is pure numpy broadcasting over the batch —
    # no per-row Python lists — which is the shape a real torchvision/
    # ffmpeg kernel would take at production batch sizes.
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf["payload"].map(len).to_numpy(dtype=np.int64)
            out = {"doc_id": pdf["doc_id"]}
            for j in range(FEAT_DIM):
                m = 13 + 7 * j
                out[f"feat_{j}"] = np.round((n % m) / float(m), 6)
            out["resized_w"] = np.full(len(n), TARGET_W, dtype=np.int32)
            out["resized_h"] = np.full(len(n), TARGET_H, dtype=np.int32)
            out["n_frames_sampled"] = (n // FRAME_STRIDE + 1).astype(np.int32)
            yield pd.DataFrame(out)

    feat_schema = ", ".join(f"feat_{j} double" for j in range(FEAT_DIM))
    return with_payload.mapInPandas(
        extract,
        f"doc_id long, {feat_schema}, resized_w int, resized_h int, n_frames_sampled int",
    )


_FEAT_SQL = ", ".join(
    f"round((octet_length(encode(text)) % ({13 + 7 * j})) / {13.0 + 7 * j}, 6) AS feat_{j}"
    for j in range(FEAT_DIM)
)

M03_SQL = f"""
SELECT doc_id,
       {_FEAT_SQL},
       {TARGET_W} AS resized_w,
       {TARGET_H} AS resized_h,
       (octet_length(encode(text)) // {FRAME_STRIDE} + 1)::INT AS n_frames_sampled
FROM documents
"""


# --------------------------------------------------------------------------
# m04: mapInArrow byte-level kernel — the zero-copy sibling of
# mapInPandas: the Python worker receives pyarrow RecordBatches and the
# kernel reads the binary payload buffers directly with numpy (no
# pandas object boxing — the right API for tight byte/tensor kernels
# like image preprocessing at 100 TB). Per-payload byte statistics are
# pure functions of the bytes, so the oracle is exact (corpus is ASCII:
# UTF-8 bytes == character codes, same trick t14 relies on).
# --------------------------------------------------------------------------
def m04_arrow_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pyarrow as pa

    d = load_table(spark, sf_dir, "documents")
    with_payload = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))

    def byte_stats(batches):
        for batch in batches:
            doc_ids = batch.column("doc_id")
            payloads = batch.column("payload")
            sums, mins, maxs, lens = [], [], [], []
            for i in range(batch.num_rows):
                buf = payloads[i].as_py()
                arr = np.frombuffer(buf, dtype=np.uint8)
                lens.append(len(arr))
                sums.append(int(arr.sum()))
                mins.append(int(arr.min()) if len(arr) else None)
                maxs.append(int(arr.max()) if len(arr) else None)
            yield pa.RecordBatch.from_arrays(
                [
                    doc_ids,
                    pa.array(lens, type=pa.int64()),
                    pa.array(sums, type=pa.int64()),
                    pa.array(mins, type=pa.int32()),
                    pa.array(maxs, type=pa.int32()),
                ],
                names=["doc_id", "n_bytes", "byte_sum", "byte_min", "byte_max"],
            )

    return with_payload.mapInArrow(
        byte_stats,
        "doc_id long, n_bytes long, byte_sum long, byte_min int, byte_max int",
    )


M04_SQL = """
WITH codes AS (
  SELECT doc_id, length(text) AS n_chars,
         list_transform(string_split(text, ''), c -> ascii(c)) AS cs
  FROM documents
)
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_bytes,
       CAST(CASE WHEN n_chars = 0 THEN 0
                 ELSE list_aggregate(cs, 'sum') END AS BIGINT) AS byte_sum,
       CAST(CASE WHEN n_chars = 0 THEN NULL
                 ELSE list_aggregate(cs, 'min') END AS INT) AS byte_min,
       CAST(CASE WHEN n_chars = 0 THEN NULL
                 ELSE list_aggregate(cs, 'max') END AS INT) AS byte_max
FROM codes
"""


# --------------------------------------------------------------------------
# m05: frame-sample EXPANSION — the row-multiplying half of video
# preprocessing: each binary payload expands to one row per sampled
# frame offset (stride FRAME_STRIDE), the shape a decode stage consumes
# (doc, frame_idx, byte_offset). posexplode keeps the ordinal without a
# window. Scale: explode of a sequence is a narrow transform — the
# expansion happens partition-local with no shuffle, and downstream
# per-frame kernels (mapInPandas) see bounded batches regardless of
# per-video frame counts.
# --------------------------------------------------------------------------
def m05_frame_sample_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    base = d.select("doc_id", F.octet_length(payload).cast("long").alias("n_bytes"))
    offsets = F.sequence(F.lit(0), F.col("n_bytes") - 1, F.lit(FRAME_STRIDE))
    return (
        base.filter(F.col("n_bytes") > 0)
        .select("doc_id", "n_bytes", F.posexplode(offsets).alias("frame_idx", "byte_offset"))
        .select("doc_id", "n_bytes", "frame_idx", F.col("byte_offset").cast("long").alias("byte_offset"))
    )


M05_SQL = f"""
WITH base AS (
  SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents
  WHERE octet_length(encode(text)) > 0
),
frames AS (
  SELECT doc_id, n_bytes,
         unnest(range(0, n_bytes, {FRAME_STRIDE})) AS byte_offset
  FROM base
)
SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(byte_offset // {FRAME_STRIDE} AS INT) AS frame_idx,
       CAST(byte_offset AS BIGINT) AS byte_offset
FROM frames
"""


# --------------------------------------------------------------------------
# m06: audio chunking — overlapping fixed-size windows over a PCM-style
# binary payload (chunk = 64 bytes ≙ 32 16-bit samples, 50% overlap),
# the standard front-end for audio feature extraction (e.g. STFT
# frames). Unlike m05 this slices the ACTUAL bytes and checksums each
# chunk, so the oracle verifies byte-exact slice plumbing, not just
# offset arithmetic. The payload is the UTF-8 text (the container has
# no audio files; a real table swaps `encode(text)` for the audio
# column — every downstream expression is already binary-typed).
# Scale: pure per-row explode + substring — scan-parallel, no shuffle;
# chunk tables at 100 TB partition by (doc_id range) for locality.
# --------------------------------------------------------------------------
CHUNK_BYTES = 64
CHUNK_STRIDE = 32


def m06_audio_chunk_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.octet_length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
    ).filter(F.col("n_bytes") >= CHUNK_BYTES)
    starts = F.sequence(
        F.lit(0), F.col("n_bytes") - CHUNK_BYTES, F.lit(CHUNK_STRIDE)
    )
    chunks = base.select(
        "doc_id",
        "payload",
        F.posexplode(starts).alias("chunk_idx", "byte_start"),
    )
    chunk_bytes = F.expr(f"substring(payload, byte_start + 1, {CHUNK_BYTES})")
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.col("byte_start").cast("long").alias("byte_start"),
        F.lit(CHUNK_BYTES).cast("long").alias("n_bytes_chunk"),
        # checksum of the chunk's (lowercase) hex encoding: byte-exact,
        # and expressible in both engines (DuckDB's sha256 is VARCHAR-only)
        F.sha2(F.lower(F.hex(chunk_bytes)), 256).alias("chunk_sha256"),
    )


M06_SQL = f"""
WITH base AS (
  SELECT doc_id, encode(text) AS payload, octet_length(encode(text)) AS n_bytes
  FROM documents
  WHERE octet_length(encode(text)) >= {CHUNK_BYTES}
),
chunks AS (
  SELECT doc_id, payload,
         unnest(range(0, n_bytes - {CHUNK_BYTES} + 1, {CHUNK_STRIDE})) AS byte_start
  FROM base
)
SELECT doc_id,
       CAST(byte_start // {CHUNK_STRIDE} AS INT) AS chunk_idx,
       CAST(byte_start AS BIGINT) AS byte_start,
       CAST({CHUNK_BYTES} AS BIGINT) AS n_bytes_chunk,
       sha256(lower(substring(hex(payload),
                              CAST(byte_start * 2 + 1 AS BIGINT),
                              {CHUNK_BYTES * 2}))) AS chunk_sha256
FROM chunks
"""


# --------------------------------------------------------------------------
# m07: REAL image decode — the committed PNG fixtures (tests/fixtures/
# png/, every row a different PNG filter type; tools/make_png_fixtures.py)
# through binaryFile scan → Arrow-batched mapInPandas → pure-stdlib
# decode_png → integer pixel statistics. The oracle is closed-form
# (VALUES of the generator-computed channel sums), so a hash match
# proves byte-exact pixel recovery through zlib + all five unfilter
# paths — no image library involved. Scale shape: identical to m02;
# the decoder is the swappable kernel, the plumbing is the operator.
# --------------------------------------------------------------------------
def m07_png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import numpy as np

    from nlp_data_pipeline_spark.sources.readers import read_binary_files

    here = _os.path.dirname(_os.path.abspath(__file__))
    png_dir = _os.path.normpath(_os.path.join(here, "..", "..", "tests", "fixtures", "png"))
    files = read_binary_files(spark, png_dir, glob="*.png")

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from nlp_data_pipeline_spark.functions.png import decode_png

        for pdf in batches:
            rows = []
            for path, payload in zip(pdf["path"], pdf["content"]):
                w, h, c, px = decode_png(bytes(payload))
                sums = px.reshape(-1, c).astype(np.int64).sum(axis=0)
                rows.append(
                    {
                        "filename": path.rsplit("/", 1)[-1],
                        "width": w,
                        "height": h,
                        "channels": c,
                        "pixel_sum": int(sums.sum()),
                        "ch0_sum": int(sums[0]),
                        "ch_last_sum": int(sums[-1]),
                    }
                )
            yield pd.DataFrame(rows)

    return (
        files.select("path", "content")
        .mapInPandas(
            stats,
            "filename string, width int, height int, channels int, "
            "pixel_sum long, ch0_sum long, ch_last_sum long",
        )
        .orderBy("filename")
    )


M07_SQL = """
SELECT * FROM (VALUES
  ('checker_gray.png', CAST(8  AS INT), CAST(8 AS INT), CAST(1 AS INT), CAST(8160  AS BIGINT), CAST(8160  AS BIGINT), CAST(8160  AS BIGINT)),
  ('gradient_rgb.png', CAST(16 AS INT), CAST(9 AS INT), CAST(3 AS INT), CAST(54953 AS BIGINT), CAST(18360 AS BIGINT), CAST(18289 AS BIGINT)),
  ('rings_rgba.png',   CAST(12 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(32452 AS BIGINT), CAST(4926  AS BIGINT), CAST(14610 AS BIGINT))
) AS t(filename, width, height, channels, pixel_sum, ch0_sum, ch_last_sum)
ORDER BY filename
"""


# --------------------------------------------------------------------------
# m08: perceptual-hash image dedup (oracle-parity-tested in
# test_round6_ops.py::test_m08_matches_duckdb_oracle).
#
# The multimodal twin of MinHash text dedup: decode (real PNG path,
# functions/png.py) → integer-only 64-bit average-hash → SimHash-style
# BANDING (4x16-bit keys) → equi-join on band keys for candidate pairs
# → exact Hamming distance (bit_count(xor)) only on candidates. At
# 100 TB of images the banded equi-join is the whole design: near-dup
# detection without any all-pairs comparison, same shape as d03/d04.
# The aHash is deliberately all floor-integer arithmetic (grayscale
# floor-mean, 8x8 box means, strict > threshold) so fixture hashes are
# bit-exact reproducible — the oracle pins them as closed-form VALUES
# (generator: tools/make_phash_fixtures.py).
# --------------------------------------------------------------------------
M08_BANDS = 4
_M08_NEAR_HAMMING = 10


def ahash64(px) -> int:
    """uint8 [h, w, c] -> 64-bit average hash, integer-only math."""
    import numpy as np

    arr = np.asarray(px, dtype=np.int64)
    h, w, c = arr.shape
    gray = arr[:, :, : min(c, 3)].sum(axis=2) // min(c, 3)
    cells = np.empty((8, 8), dtype=np.int64)
    for i in range(8):
        for j in range(8):
            box = gray[i * h // 8 : (i + 1) * h // 8, j * w // 8 : (j + 1) * w // 8]
            cells[i, j] = box.sum() // box.size
    mean = int(cells.sum()) // 64
    bits = (cells > mean).astype(np.uint64).ravel()
    return int(sum(int(b) << k for k, b in enumerate(bits)))


def hash_bands(h: int) -> list[int]:
    return [(h >> (16 * b)) & 0xFFFF for b in range(M08_BANDS)]


def m08_image_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from nlp_data_pipeline_spark.sources.readers import read_binary_files

    here = _os.path.dirname(_os.path.abspath(__file__))
    png_dir = _os.path.normpath(
        _os.path.join(here, "..", "..", "tests", "fixtures", "png_dedup")
    )
    files = read_binary_files(spark, png_dir, glob="*.png")

    def hash_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from nlp_data_pipeline_spark.functions.png import decode_png

        for pdf in batches:
            rows = []
            for path, payload in zip(pdf["path"], pdf["content"]):
                _w, _h, _c, px = decode_png(bytes(payload))
                u = ahash64(px)
                rows.append(
                    {
                        "filename": path.rsplit("/", 1)[-1],
                        # store as signed 64-bit for the BIGINT column
                        "ahash": u - (1 << 64) if u >= (1 << 63) else u,
                    }
                )
            yield pd.DataFrame(rows)

    hashes = files.select("path", "content").mapInPandas(
        hash_rows, "filename string, ahash long"
    )
    # banding: explode each hash into (band_idx, band_val) keys.
    # shiftrightunsigned keeps the top band correct when bit 63 is set
    # (two's-complement BIGINT); & 65535 masks each band to 16 bits, so
    # band values match hash_bands()'s unsigned arithmetic exactly.
    bands = hashes.select(
        "filename",
        "ahash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.expr(
                            f"shiftrightunsigned(ahash, {16 * b}) & 65535"
                        ).alias("band_val"),
                    )
                    for b in range(M08_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("filename", "ahash", "bk.band_idx", "bk.band_val")
    left = bands.alias("l")
    right = bands.alias("r")
    cands = (
        left.join(
            right,
            on=[
                F.col("l.band_idx") == F.col("r.band_idx"),
                F.col("l.band_val") == F.col("r.band_val"),
                F.col("l.filename") < F.col("r.filename"),
            ],
        )
        .select(
            F.col("l.filename").alias("file_a"),
            F.col("r.filename").alias("file_b"),
            F.col("l.ahash").alias("hash_a"),
            F.col("r.ahash").alias("hash_b"),
        )
        .distinct()
    )
    return cands.select(
        "file_a",
        "file_b",
        F.expr("bit_count(hash_a ^ hash_b)").cast("int").alias("hamming"),
        (F.expr("bit_count(hash_a ^ hash_b)") <= _M08_NEAR_HAMMING).alias("near_dup"),
    ).orderBy("file_a", "file_b")


# Closed-form oracle: ground truth printed by tools/make_phash_fixtures.py.
# Exactly ONE candidate pair survives banding — the planted near-dup
# (hamming 5, sharing band 2); every unrelated pair (hamming 27–35)
# shares zero bands and is never compared. That asymmetry IS the
# operator's contract: candidates ∝ near-dups, not ∝ n².
M08_SQL = """
SELECT * FROM (VALUES
  ('grad_a.png', 'grad_a_noisy.png', CAST(5 AS INT), TRUE)
) AS t(file_a, file_b, hamming, near_dup)
ORDER BY file_a, file_b
"""


# --------------------------------------------------------------------------
# m09: binary container-header parse in PURE JVM expressions
# (oracle-parity-tested in
# test_round7_ops.py::test_m09_matches_duckdb_oracle).
#
# m07 decodes PNG in Python; this shows the cheaper tier: structured
# FIELD EXTRACTION from a binary container without ever leaving
# whole-stage codegen. A 44-byte RIFF/WAVE header is synthesized per
# document (deterministic params from doc_id — the m02 fake-decoder
# convention, since no audio ships in the testdata), then parsed back
# by INDEPENDENT expressions: magic checks via byte-slice decode,
# little-endian u16/u32 fields via hex → byte-swap → conv(16→10). At
# 100 TB this is the header-sniff pass you run across a binary corpus
# BEFORE deciding what to hand to the expensive Python decode kernel —
# scan-speed, zero Python. The oracle recomputes every field closed-
# form from doc_id, proving the construct→parse loop lossless.
# --------------------------------------------------------------------------
def _le_hex(col, nbytes: int):
    """Little-endian hex encoding of an integer column (nbytes wide)."""
    h = F.lpad(F.lower(F.hex(col)), nbytes * 2, "0")
    return F.concat(*[F.substring(h, i * 2 + 1, 2) for i in range(nbytes - 1, -1, -1)])


def _parse_le(bin_col, off: int, nbytes: int):
    """Parse a little-endian unsigned int from a binary column slice."""
    h = F.lower(F.hex(F.expr(f"substring({bin_col}, {off}, {nbytes})")))
    swapped = F.concat(
        *[F.substring(h, i * 2 + 1, 2) for i in range(nbytes - 1, -1, -1)]
    )
    return F.conv(swapped, 16, 10).cast("long")


def m09_wav_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    channels = (F.lit(1) + F.col("doc_id") % 2).cast("long")
    rate = (F.lit(8000) * (F.lit(1) + F.col("doc_id") % 3)).cast("long")
    byte_rate = rate * channels * 2
    data_size = (F.col("n_chars") * channels * 2).cast("long")
    header_hex = F.concat(
        F.lit("52494646"),                      # 'RIFF'
        _le_hex(F.lit(36) + data_size, 4),
        F.lit("57415645666d7420"),              # 'WAVE' 'fmt '
        _le_hex(F.lit(16), 4),                  # fmt chunk size
        _le_hex(F.lit(1), 2),                   # PCM
        _le_hex(channels, 2),
        _le_hex(rate, 4),
        _le_hex(byte_rate, 4),
        _le_hex(channels * 2, 2),               # block align
        _le_hex(F.lit(16), 2),                  # bits per sample
        F.lit("64617461"),                      # 'data'
        _le_hex(data_size, 4),
    )
    wav = d.select("doc_id", F.unhex(header_hex).alias("wav"))
    return wav.select(
        "doc_id",
        (
            (F.expr("decode(substring(wav, 1, 4), 'UTF-8')") == "RIFF")
            & (F.expr("decode(substring(wav, 9, 4), 'UTF-8')") == "WAVE")
        ).alias("valid"),
        _parse_le("wav", 23, 2).alias("channels"),
        _parse_le("wav", 25, 4).alias("sample_rate"),
        _parse_le("wav", 29, 4).alias("byte_rate"),
        _parse_le("wav", 35, 2).alias("bits"),
        _parse_le("wav", 41, 4).alias("data_size"),
        F.round(
            _parse_le("wav", 41, 4) * 1000.0 / _parse_le("wav", 29, 4), 3
        ).alias("duration_ms"),
    ).orderBy("doc_id")


M09_SQL = """
SELECT doc_id,
       TRUE AS valid,
       CAST(1 + doc_id % 2 AS BIGINT) AS channels,
       CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sample_rate,
       CAST(8000 * (1 + doc_id % 3) * (1 + doc_id % 2) * 2 AS BIGINT) AS byte_rate,
       CAST(16 AS BIGINT) AS bits,
       CAST(n_chars * (1 + doc_id % 2) * 2 AS BIGINT) AS data_size,
       round(CAST(n_chars * (1 + doc_id % 2) * 2 AS DOUBLE) * 1000.0
             / (8000 * (1 + doc_id % 3) * (1 + doc_id % 2) * 2), 3) AS duration_ms
FROM documents
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# m10: image patch grid. The ViT/DiT preprocessing shape on top of
# m07's real PNG decode: each image is zero-padded to multiples of
# P=4 and split into a P×P patch grid (the patchify every
# vision-transformer training pipeline runs before embedding), one
# output ROW per patch with its exact int64 pixel sum — the
# one-row-in / many-rows-out mapInPandas batch shape (m05's expansion
# pattern applied to real decoded pixels). Patch sums are exact
# integers over the committed fixtures, so the oracle is a closed-form
# VALUES table (m07's pattern). At 100 TB the decode+patchify kernel
# is embarrassingly scan-parallel: Arrow batches of binary payloads
# in, patch rows out, no shuffle until the downstream consumer
# aggregates or embeds.
# --------------------------------------------------------------------------
_M10_P = 4


def m10_image_patch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import numpy as np

    from nlp_data_pipeline_spark.sources.readers import read_binary_files

    here = _os.path.dirname(_os.path.abspath(__file__))
    png_dir = _os.path.normpath(
        _os.path.join(here, "..", "..", "tests", "fixtures", "png")
    )
    files = read_binary_files(spark, png_dir, glob="*.png")

    def patches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from nlp_data_pipeline_spark.functions.png import decode_png

        P = _M10_P
        for pdf in batches:
            rows = []
            for path, payload in zip(pdf["path"], pdf["content"]):
                w, h, c, px = decode_png(bytes(payload))
                arr = px.reshape(h, w, c).astype(np.int64)
                ph, pw = -(-h // P), -(-w // P)
                pad = np.zeros((ph * P, pw * P, c), dtype=np.int64)
                pad[:h, :w, :] = arr
                sums = pad.reshape(ph, P, pw, P, c).sum(axis=(1, 3, 4))
                fn = path.rsplit("/", 1)[-1]
                for py in range(ph):
                    for pxi in range(pw):
                        rows.append(
                            {
                                "filename": fn,
                                "patch_row": py,
                                "patch_col": pxi,
                                "patch_sum": int(sums[py, pxi]),
                            }
                        )
            yield pd.DataFrame(rows)

    return (
        files.select("path", "content")
        .mapInPandas(
            patches,
            "filename string, patch_row int, patch_col int, patch_sum long",
        )
        .orderBy("filename", "patch_row", "patch_col")
    )


M10_SQL = """
SELECT filename, CAST(patch_row AS INT) AS patch_row,
       CAST(patch_col AS INT) AS patch_col,
       CAST(patch_sum AS BIGINT) AS patch_sum
FROM (VALUES
  ('checker_gray.png', 0, 0, 2040),
  ('checker_gray.png', 0, 1, 2040),
  ('checker_gray.png', 1, 0, 2040),
  ('checker_gray.png', 1, 1, 2040),
  ('gradient_rgb.png', 0, 0, 1692),
  ('gradient_rgb.png', 0, 1, 3484),
  ('gradient_rgb.png', 0, 2, 5282),
  ('gradient_rgb.png', 0, 3, 7084),
  ('gradient_rgb.png', 1, 0, 4440),
  ('gradient_rgb.png', 1, 1, 6238),
  ('gradient_rgb.png', 1, 2, 8040),
  ('gradient_rgb.png', 1, 3, 9832),
  ('gradient_rgb.png', 2, 0, 1540),
  ('gradient_rgb.png', 2, 1, 1992),
  ('gradient_rgb.png', 2, 2, 2440),
  ('gradient_rgb.png', 2, 3, 2889),
  ('rings_rgba.png', 0, 0, 9840),
  ('rings_rgba.png', 0, 1, 6384),
  ('rings_rgba.png', 0, 2, 9712),
  ('rings_rgba.png', 1, 0, 2108),
  ('rings_rgba.png', 1, 1, 2076),
  ('rings_rgba.png', 1, 2, 2332)
) AS t(filename, patch_row, patch_col, patch_sum)
ORDER BY filename, patch_row, patch_col
"""


# --------------------------------------------------------------------------
# m11: PCM frame energy. m09 parses the WAV HEADER without leaving
# codegen; this goes one tier deeper: SIGNAL-level compute on the
# sample payload, still entirely JVM-side. A 64-sample int16
# little-endian PCM payload is synthesized per document
# (deterministic samples from doc_id — the m02 fake-decoder
# convention, since no audio ships in the testdata), then parsed
# back by INDEPENDENT byte-slice expressions (hex → byte-swap →
# conv → two's-complement sign fold) and reduced to per-frame
# energy (Σ s²) and peak |s| — the VAD/silence-trim/loudness pass
# every audio curation pipeline runs before handing clips to an
# expensive Python codec kernel. The construct→parse loop proves
# the decode lossless; every declared value is an exact BIGINT the
# oracle recomputes closed-form from doc_id.
#
# Scale: scan-local (zero shuffles before the tiny ordered output);
# per-row cost is a constant-sized higher-order expression over the
# row's own bytes. At 100 TB this is the shape that beats a Python
# decoder: JVM array kernels over binary slices, zero Python and no
# Arrow boundary at all.
# --------------------------------------------------------------------------
_M11_N_DOCS = 16      # bounded declared output: 16 docs × 4 frames
_M11_SAMPLES = 64
_M11_FRAME = 16
_M11_A = 7919         # sample synth: u_i = (doc_id·A + i·B) mod 2^16
_M11_B = 104729


def m11_pcm_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _M11_N_DOCS
    )
    u = [
        (F.col("doc_id") * _M11_A + F.lit(i * _M11_B)) % 65536
        for i in range(_M11_SAMPLES)
    ]
    pcm = d.select(
        "doc_id", F.unhex(F.concat(*[_le_hex(x, 2) for x in u])).alias("pcm")
    )

    # ONE transform() builds the signed sample array (each byte pair
    # parsed once, two's-complement via the branch-free
    # ((u + 2^15) mod 2^16) - 2^15 fold) — the naive per-sample
    # expression expansion squared the tree into a multi-MB plan that
    # fell out of whole-stage codegen; the higher-order form keeps
    # the plan constant-sized regardless of sample count.
    parsed = pcm.withColumn(
        "s",
        F.expr(
            f"transform(sequence(0, {_M11_SAMPLES - 1}, 1), i -> "
            "((CAST(conv(hex(substring(pcm, 1 + 2*i, 1)), 16, 10) AS BIGINT)"
            " + 256 * CAST(conv(hex(substring(pcm, 2 + 2*i, 1)), 16, 10) AS BIGINT)"
            " + 32768) % 65536) - 32768)"
        ),
    )
    frames = [
        F.struct(
            F.lit(f).cast("long").alias("frame_id"),
            F.expr(
                f"aggregate(slice(s, {f * _M11_FRAME + 1}, {_M11_FRAME}),"
                " 0L, (acc, x) -> acc + x * x)"
            ).alias("energy"),
            F.expr(
                f"array_max(transform(slice(s, {f * _M11_FRAME + 1},"
                f" {_M11_FRAME}), x -> abs(x)))"
            ).alias("peak_abs"),
        )
        for f in range(_M11_SAMPLES // _M11_FRAME)
    ]
    return (
        parsed.select("doc_id", F.explode(F.array(*frames)).alias("fr"))
        .select("doc_id", "fr.frame_id", "fr.energy", "fr.peak_abs")
        .orderBy("doc_id", "frame_id")
    )


M11_SQL = f"""
WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_M11_N_DOCS}),
samples AS (
  SELECT doc_id, i,
         CASE WHEN (doc_id * {_M11_A} + i * {_M11_B}) % 65536 >= 32768
              THEN (doc_id * {_M11_A} + i * {_M11_B}) % 65536 - 65536
              ELSE (doc_id * {_M11_A} + i * {_M11_B}) % 65536 END AS s
  FROM docs CROSS JOIN (SELECT unnest(range(0, {_M11_SAMPLES})) AS i) t
)
SELECT doc_id,
       CAST(i // {_M11_FRAME} AS BIGINT) AS frame_id,
       CAST(SUM(s * s) AS BIGINT) AS energy,
       CAST(MAX(abs(s)) AS BIGINT) AS peak_abs
FROM samples
GROUP BY doc_id, i // {_M11_FRAME}
ORDER BY doc_id, frame_id
"""


# --------------------------------------------------------------------------
# m12: WebDataset tar-shard index. Multimodal training corpora ship as
# TAR shards (the WebDataset convention), and the first pipeline step
# over a lake of shards is building the INDEX: per member, its name,
# size, and the exact byte offsets that allow random access without
# re-streaming the shard. Here a shard is built from the first 8
# documents (USTAR, zeroed mtime/uid — byte-deterministic), staged to
# scratch, read back through the binaryFile source, and indexed by a
# tarfile-parsing mapInPandas kernel (binary-in, rows-out — the m05
# expansion shape on a real container format). Content integrity is
# declared as sha256 of the extracted member bytes.
#
# Oracle: TAR layout is closed-form — member i's header sits at
# Σ_{j<i} (512 + ⌈size_j/512⌉·512), data 512 bytes later — so DuckDB
# recomputes the whole index from `documents` with one running-sum
# window plus sha256(text); the hash gate proves the kernel parses
# the real bytes to the spec, not to itself. The 8-row driver
# manifest builds the FIXTURE only; the operator under test (the
# indexer) is scan-parallel: one Arrow batch of shard payloads in,
# index rows out, no shuffle — at 100 TB each executor indexes its
# own shards and the index table is orders of magnitude smaller than
# the data.
# --------------------------------------------------------------------------
_M12_N_DOCS = 8


def m12_webdataset_tar_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import io
    import os
    import shutil
    import tarfile

    from nlp_data_pipeline_spark.scratch import scratch_path

    d = load_table(spark, sf_dir, "documents")
    manifest = (
        d.filter(F.col("doc_id") < _M12_N_DOCS)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    )
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for r in manifest:
            data = r["text"].encode("utf-8")
            ti = tarfile.TarInfo(name=f"{r['doc_id']:06d}.txt")
            ti.size = len(data)
            ti.mtime = 0
            ti.mode = 0o644
            tf.addfile(ti, io.BytesIO(data))
    root = scratch_path(f"m12_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    with open(os.path.join(root, "shard-000000.tar"), "wb") as f:
        f.write(buf.getvalue())

    schema = (
        "member_name string, size long, header_offset long, "
        "data_offset long, content binary"
    )

    def index_kernel(batches):
        for pdf in batches:
            out = []
            for payload in pdf["content"]:
                with tarfile.open(fileobj=io.BytesIO(bytes(payload))) as shard:
                    for ti in shard.getmembers():
                        out.append(
                            (
                                ti.name,
                                ti.size,
                                ti.offset,
                                ti.offset_data,
                                shard.extractfile(ti).read(),
                            )
                        )
            yield pd.DataFrame(
                out,
                columns=[
                    "member_name", "size", "header_offset",
                    "data_offset", "content",
                ],
            )

    shards = spark.read.format("binaryFile").load(root)
    return (
        shards.select("content")
        .mapInPandas(index_kernel, schema)
        .select(
            "member_name",
            "size",
            "header_offset",
            "data_offset",
            F.sha2("content", 256).alias("content_sha256"),
        )
        .orderBy("member_name")
    )


M12_SQL = f"""
WITH m AS (
  SELECT doc_id,
         printf('%06d.txt', doc_id) AS member_name,
         CAST(strlen(text) AS BIGINT) AS size,
         sha256(text) AS content_sha256,
         CAST(512 + ((strlen(text) + 511) // 512) * 512 AS BIGINT) AS span
  FROM documents WHERE doc_id < {_M12_N_DOCS}
)
SELECT member_name, size,
       CAST(COALESCE(SUM(span) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS header_offset,
       CAST(COALESCE(SUM(span) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 512
            AS BIGINT) AS data_offset,
       content_sha256
FROM m
ORDER BY member_name
"""


# --------------------------------------------------------------------------
# m15: ZIP shard index. The OTHER shard container beside m12's TAR:
# ZIP's strength for training data is the CENTRAL DIRECTORY — one
# trailing structure listing every member with its local-header
# offset, so random access needs only the directory, never a
# member-by-member walk. Fixture: 8 documents stored UNCOMPRESSED
# (ZIP_STORED, zeroed DOS timestamps — byte-deterministic), indexed
# back through binaryFile + a zipfile kernel reading infolist().
# STORED layout is closed-form — member i's local header sits at
# Σ_{j<i}(30 + len(name_j) + size_j) — so DuckDB recomputes the
# whole index (offsets + sha256) from `documents`, proving the
# kernel reads the real central directory.
# Scale: same as m12 — index once per shard, scan-parallel, the
# directory is the random-access contract.
# --------------------------------------------------------------------------
_M15_N_DOCS = 8


def m15_zip_shard_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import io
    import os
    import shutil
    import zipfile

    from nlp_data_pipeline_spark.scratch import scratch_path

    d = load_table(spark, sf_dir, "documents")
    manifest = (
        d.filter(F.col("doc_id") < _M15_N_DOCS)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
        for r in manifest:
            zi = zipfile.ZipInfo(
                f"doc_{r['doc_id']:06d}.txt", date_time=(1980, 1, 1, 0, 0, 0)
            )
            zf.writestr(zi, r["text"])
    root = scratch_path(f"m15_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    with open(os.path.join(root, "shard-000000.zip"), "wb") as f:
        f.write(buf.getvalue())

    schema = (
        "member_name string, size long, header_offset long, content binary"
    )

    def index_kernel(batches):
        for pdf in batches:
            out = []
            for payload in pdf["content"]:
                with zipfile.ZipFile(io.BytesIO(bytes(payload))) as shard:
                    for zi in shard.infolist():
                        out.append(
                            (
                                zi.filename,
                                zi.file_size,
                                zi.header_offset,
                                shard.read(zi.filename),
                            )
                        )
            yield pd.DataFrame(
                out, columns=["member_name", "size", "header_offset", "content"]
            )

    shards = spark.read.format("binaryFile").load(root)
    return (
        shards.select("content")
        .mapInPandas(index_kernel, schema)
        .select(
            "member_name",
            "size",
            "header_offset",
            F.sha2("content", 256).alias("content_sha256"),
        )
        .orderBy("member_name")
    )


M15_SQL = f"""
WITH m AS (
  SELECT doc_id,
         printf('doc_%06d.txt', doc_id) AS member_name,
         CAST(strlen(text) AS BIGINT) AS size,
         sha256(text) AS content_sha256,
         CAST(30 + strlen(printf('doc_%06d.txt', doc_id)) + strlen(text)
              AS BIGINT) AS span
  FROM documents WHERE doc_id < {_M15_N_DOCS}
)
SELECT member_name, size,
       CAST(COALESCE(SUM(span) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS header_offset,
       content_sha256
FROM m
ORDER BY member_name
"""


# --------------------------------------------------------------------------
# m13: JPEG marker-walk header parse. m09 parses WAV's FIXED
# little-endian layout; JPEG is the other archetype: BIG-endian
# marker segments of VARIABLE length that must be WALKED (offset of
# segment k+1 = offset_k + 2 + BE16 length_k) — the shape every
# image-corpus audit hits before any decode (dimensions live in SOF0,
# which floats behind arbitrary APPn/COM segments). Each doc
# synthesizes a deterministic JPEG prefix — SOI, JFIF APP0, a COM
# segment carrying the (variable-length!) source name, SOF0 with
# dims derived from (n_chars, doc_id) — and the parser recovers
# dims/comment by walking markers in pure Catalyst byte expressions
# (substring at COMPUTED offsets, hex→int, zero Python).
#
# Oracle: the layout is closed-form from `documents`, so DuckDB
# declares the expected parse directly; hash equality proves the
# walker reads the real bytes (a wrong offset lands mid-segment and
# garbles every downstream field). Scale: scan-local expressions, no
# shuffle; at 100 TB this runs as the metadata pass over raw image
# bytes with zero decode cost.
# --------------------------------------------------------------------------
def _be_hex(col, nbytes: int):
    """Big-endian hex encoding of an integer column (nbytes wide)."""
    return F.lpad(F.lower(F.hex(col)), nbytes * 2, "0")


def m13_jpeg_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    height = (F.lit(16) + F.col("n_chars") % 240).cast("long")
    width = (F.lit(16) + F.col("doc_id") % 120).cast("long")
    com_len = (F.length("source") + 2).cast("long")
    header_hex = F.concat(
        F.lit("ffd8"),                                  # SOI
        F.lit("ffe0"), F.lit("0010"),                   # APP0, len 16
        F.lit("4a46494600"), F.lit("0102"),             # 'JFIF\0', v1.2
        F.lit("00"), F.lit("0048"), F.lit("0048"),      # units, 72x72 dpi
        F.lit("00"), F.lit("00"),                       # no thumbnail
        F.lit("fffe"), _be_hex(com_len, 2),             # COM, variable len
        F.lower(F.hex(F.encode(F.col("source"), "UTF-8"))),
        F.lit("ffc0"), F.lit("0011"), F.lit("08"),      # SOF0, len 17, 8-bit
        _be_hex(height, 2), _be_hex(width, 2),
        F.lit("03"),                                    # 3 components
        F.lit("011100"), F.lit("021101"), F.lit("031101"),
    )
    jpg = d.select("doc_id", F.unhex(header_hex).alias("jpg"))
    be16 = lambda off: (
        f"CAST(conv(lower(hex(substring(jpg, CAST({off} AS INT), 2))), 16, 10)"
        f" AS BIGINT)"
    )
    walked = (
        jpg.withColumn("soi_ok", F.expr("lower(hex(substring(jpg, 1, 2))) = 'ffd8'"))
        # segment 1 (APP0) marker at byte 3; its BE16 length at byte 5
        .withColumn("l1", F.expr(be16(5)))
        .withColumn("o2", F.lit(3) + 2 + F.col("l1"))   # COM marker offset
        .withColumn("l2", F.expr(be16("o2 + 2")))
        .withColumn(
            "comment_text",
            F.expr(
                "decode(substring(jpg, CAST(o2 + 4 AS INT),"
                " CAST(l2 - 2 AS INT)), 'UTF-8')"
            ),
        )
        .withColumn("o3", F.col("o2") + 2 + F.col("l2"))  # SOF0 marker offset
        .withColumn(
            "sof_ok", F.expr("lower(hex(substring(jpg, CAST(o3 AS INT), 2))) = 'ffc0'")
        )
    )
    return walked.select(
        "doc_id",
        (F.col("soi_ok") & F.col("sof_ok")).alias("valid"),
        "comment_text",
        F.expr(be16("o3 + 5")).alias("height"),
        F.expr(be16("o3 + 7")).alias("width"),
        F.expr(
            "CAST(conv(lower(hex(substring(jpg, CAST(o3 + 9 AS INT), 1))), 16, 10)"
            " AS BIGINT)"
        ).alias("n_components"),
        F.round(
            F.expr(be16("o3 + 7")).cast("double")
            / F.expr(be16("o3 + 5")).cast("double"),
            6,
        ).alias("aspect_ratio"),
    ).orderBy("doc_id")


M13_SQL = """
SELECT doc_id,
       TRUE AS valid,
       source AS comment_text,
       CAST(16 + n_chars % 240 AS BIGINT) AS height,
       CAST(16 + doc_id % 120 AS BIGINT) AS width,
       CAST(3 AS BIGINT) AS n_components,
       round(CAST(16 + doc_id % 120 AS DOUBLE)
             / CAST(16 + n_chars % 240 AS DOUBLE), 6) AS aspect_ratio
FROM documents
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# m14: NumPy .npy container parse. Tensor artifacts (embeddings,
# logits, features) ship between ML jobs as .npy — magic '\\x93NUMPY',
# version, an LE16 header length, an ASCII dict ('descr',
# 'fortran_order', 'shape') padded so data starts 64-aligned, then
# raw little-endian elements. Each doc synthesizes a valid v1.0 .npy
# of N = 1 + doc_id%5 int64s (value j+1 times n_chars), and the
# parser recovers dtype, shape, and the PAYLOAD (every element summed
# through a dynamic-offset substring walk inside one aggregate
# lambda) in pure Catalyst byte expressions — m09's fixed-layout LE
# parse plus m13's computed offsets, applied to the format every
# Python ML stack emits.
#
# Oracle: the layout is closed-form from `documents` (Gauss sum for
# the payload), so hash equality proves header arithmetic AND element
# decoding. Scale: scan-local, no shuffle, no decode library.
# --------------------------------------------------------------------------
def _m14_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthesized (doc_id, npy) relation — exposed so tests can
    np.load the engine-built bytes (format conformance, not just
    self-consistency)."""
    d = load_table(spark, sf_dir, "documents")
    base = (
        d.select(
            "doc_id",
            "n_chars",
            (F.lit(1) + F.col("doc_id") % 5).cast("long").alias("n"),
        )
        .withColumn(
            "head_txt",
            F.concat(
                F.lit("{'descr': '<i8', 'fortran_order': False, 'shape': ("),
                F.col("n").cast("string"),
                F.lit(",), }"),
            ),
        )
        # pad so 10 (magic+ver+hlen) + hlen is a multiple of 64, '\n' last
        .withColumn(
            "hlen",
            F.expr(
                "CAST((length(head_txt) + 1 + 10 + 63) / 64 AS BIGINT)"
                " * 64 - 10"
            ),
        )
        .withColumn(
            "padded",
            F.expr(
                "concat(rpad(head_txt, CAST(hlen - 1 AS INT), ' '), chr(10))"
            ),
        )
        .withColumn(
            "elems_hex",
            F.expr(
                "array_join(transform(sequence(1, CAST(n AS INT)), "
                "j -> concat("  # little-endian int64 of n_chars * j
                "  substring(lpad(lower(hex(n_chars * j)), 16, '0'), 15, 2),"
                "  substring(lpad(lower(hex(n_chars * j)), 16, '0'), 13, 2),"
                "  substring(lpad(lower(hex(n_chars * j)), 16, '0'), 11, 2),"
                "  substring(lpad(lower(hex(n_chars * j)), 16, '0'), 9, 2),"
                "  substring(lpad(lower(hex(n_chars * j)), 16, '0'), 7, 2),"
                "  substring(lpad(lower(hex(n_chars * j)), 16, '0'), 5, 2),"
                "  substring(lpad(lower(hex(n_chars * j)), 16, '0'), 3, 2),"
                "  substring(lpad(lower(hex(n_chars * j)), 16, '0'), 1, 2))), '')"
            ),
        )
    )
    npy_hex = F.concat(
        F.lit("934e554d5059" + "0100"),  # magic + v1.0
        _le_hex(F.col("hlen"), 2),
        F.lower(F.hex(F.encode(F.col("padded"), "UTF-8"))),
        F.col("elems_hex"),
    )
    return base.select("doc_id", F.unhex(npy_hex).alias("npy"))


def m14_npy_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    built = _m14_build(spark, sf_dir)
    parsed = (
        built.withColumn(
            "valid",
            F.expr("lower(hex(substring(npy, 1, 6))) = '934e554d5059'")
            & F.expr("lower(hex(substring(npy, 7, 2))) = '0100'"),
        )
        .withColumn("hlen", _parse_le("npy", 9, 2))
        .withColumn(
            "header_txt",
            F.expr("decode(substring(npy, 11, CAST(hlen AS INT)), 'UTF-8')"),
        )
        .withColumn(
            "descr", F.regexp_extract("header_txt", r"'descr': '([^']+)'", 1)
        )
        .withColumn(
            "n_elems",
            F.regexp_extract("header_txt", r"'shape': \((\d+),", 1).cast("long"),
        )
        .withColumn(
            "payload_bytes",
            F.octet_length("npy").cast("long") - 10 - F.col("hlen"),
        )
        .withColumn(
            "first_elem",
            F.expr(
                "CAST(conv(concat("
                " substring(lower(hex(substring(npy, CAST(11 + hlen AS INT), 8))), 15, 2),"
                " substring(lower(hex(substring(npy, CAST(11 + hlen AS INT), 8))), 13, 2),"
                " substring(lower(hex(substring(npy, CAST(11 + hlen AS INT), 8))), 11, 2),"
                " substring(lower(hex(substring(npy, CAST(11 + hlen AS INT), 8))), 9, 2),"
                " substring(lower(hex(substring(npy, CAST(11 + hlen AS INT), 8))), 7, 2),"
                " substring(lower(hex(substring(npy, CAST(11 + hlen AS INT), 8))), 5, 2),"
                " substring(lower(hex(substring(npy, CAST(11 + hlen AS INT), 8))), 3, 2),"
                " substring(lower(hex(substring(npy, CAST(11 + hlen AS INT), 8))), 1, 2)"
                "), 16, 10) AS BIGINT)"
            ),
        )
        .withColumn(
            "elem_sum",
            F.expr(
                "aggregate(transform(sequence(0, CAST(n_elems - 1 AS INT)), "
                "j -> CAST(conv(concat("
                " substring(lower(hex(substring(npy, CAST(11 + hlen + 8*j AS INT), 8))), 15, 2),"
                " substring(lower(hex(substring(npy, CAST(11 + hlen + 8*j AS INT), 8))), 13, 2),"
                " substring(lower(hex(substring(npy, CAST(11 + hlen + 8*j AS INT), 8))), 11, 2),"
                " substring(lower(hex(substring(npy, CAST(11 + hlen + 8*j AS INT), 8))), 9, 2),"
                " substring(lower(hex(substring(npy, CAST(11 + hlen + 8*j AS INT), 8))), 7, 2),"
                " substring(lower(hex(substring(npy, CAST(11 + hlen + 8*j AS INT), 8))), 5, 2),"
                " substring(lower(hex(substring(npy, CAST(11 + hlen + 8*j AS INT), 8))), 3, 2),"
                " substring(lower(hex(substring(npy, CAST(11 + hlen + 8*j AS INT), 8))), 1, 2)"
                "), 16, 10) AS BIGINT)), CAST(0 AS BIGINT), (a, b) -> a + b)"
            ),
        )
    )
    return parsed.select(
        "doc_id",
        "valid",
        "descr",
        "n_elems",
        "payload_bytes",
        "first_elem",
        "elem_sum",
    ).orderBy("doc_id")


M14_SQL = """
SELECT doc_id,
       TRUE AS valid,
       '<i8' AS descr,
       CAST(1 + doc_id % 5 AS BIGINT) AS n_elems,
       CAST((1 + doc_id % 5) * 8 AS BIGINT) AS payload_bytes,
       CAST(n_chars AS BIGINT) AS first_elem,
       CAST(n_chars * (1 + doc_id % 5) * (2 + doc_id % 5) / 2 AS BIGINT)
         AS elem_sum
FROM documents
ORDER BY doc_id
"""


QUERIES = {
    "m01_binary_metadata": m01_binary_metadata,
    "m02_decode_stub_pipeline": m02_decode_stub_pipeline,
    "m03_feature_extract_stub": m03_feature_extract_stub,
    "m04_arrow_byte_stats": m04_arrow_byte_stats,
    "m05_frame_sample_expand": m05_frame_sample_expand,
    "m06_audio_chunk_checksums": m06_audio_chunk_checksums,
    "m07_png_pixel_stats": m07_png_pixel_stats,
    "m08_image_dedup_phash": m08_image_dedup_phash,
    "m09_wav_header_parse": m09_wav_header_parse,
    "m10_image_patch_grid": m10_image_patch_grid,
    "m11_pcm_frame_energy": m11_pcm_frame_energy,
    "m12_webdataset_tar_index": m12_webdataset_tar_index,
    "m13_jpeg_header_parse": m13_jpeg_header_parse,
    "m14_npy_header_parse": m14_npy_header_parse,
    "m15_zip_shard_index": m15_zip_shard_index,
}

ORACLES = {
    "m01_binary_metadata": M01_SQL,
    "m02_decode_stub_pipeline": M02_SQL,
    "m03_feature_extract_stub": M03_SQL,
    "m04_arrow_byte_stats": M04_SQL,
    "m05_frame_sample_expand": M05_SQL,
    "m06_audio_chunk_checksums": M06_SQL,
    "m07_png_pixel_stats": M07_SQL,
    "m08_image_dedup_phash": M08_SQL,
    "m09_wav_header_parse": M09_SQL,
    "m10_image_patch_grid": M10_SQL,
    "m11_pcm_frame_energy": M11_SQL,
    "m12_webdataset_tar_index": M12_SQL,
    "m13_jpeg_header_parse": M13_SQL,
    "m14_npy_header_parse": M14_SQL,
    "m15_zip_shard_index": M15_SQL,
}
