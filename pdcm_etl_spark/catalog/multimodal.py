"""Binary image, video and audio payloads processed over Arrow batches
(``operators/multimodal.py``): metadata, real BMP and WAV decoding,
frame sampling, byte-stride resizing and payload-digest dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pdcm_etl_spark.operators import multimodal
from pdcm_etl_spark.sources.lake import read_docs, read_table


def x_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload exact dedup on the blob digest: only 32-byte
    sha256s + ids shuffle; payloads never leave their scan tasks."""
    docs = read_table(spark, sf_dir, "documents")
    return multimodal.payload_dedup(docs)


SQL_MULTIMODAL_DEDUP = """
SELECT sha256(text) AS payload_sha256,
       CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
       MIN(doc_id) AS keep_id, COUNT(*) AS n_payloads
FROM documents
GROUP BY 1, 2
"""


def x_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return multimodal.payload_metadata(docs)


SQL_MULTIMODAL_META = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
       sha256(text) AS payload_sha256
FROM documents
"""


def x_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-stage mapInPandas codec pipeline with a REAL byte-level
    decode (round-5: the stub is retired): stage 1 renders each document
    into an actual 8×8 24-bit BMP file (operators/multimodal._bmp_encode
    — headers, padding, bottom-up rows), stage 2 PARSES those BMP bytes
    back (magic + BITMAPINFOHEADER + padded row walk) seeing only the
    binary column. The oracle re-derives the expected features from the
    shared deterministic pixel rule (text_pixels: pixel i = codepoint of
    char i mod len, mod 256) — integer-exact, incl. a position-weighted
    checksum that pins pixel ORDER through the bottom-up round trip."""
    docs = read_table(spark, sf_dir, "documents")
    return multimodal.decode_features(docs)


SQL_MULTIMODAL_DECODE = """
WITH px AS (
  SELECT doc_id,
         list_transform(range(64), i ->
           CASE WHEN length(coalesce(text, '')) = 0 THEN 0
                ELSE ord(substr(text,
                         CAST(i % length(text) + 1 AS INTEGER), 1)) % 256
           END) AS p
  FROM documents
)
SELECT doc_id,
       CAST(246 AS INTEGER) AS byte_len,
       CAST(8 AS INTEGER) AS width,
       CAST(8 AS INTEGER) AS height,
       CAST(24 AS INTEGER) AS bpp,
       CAST(list_sum(p) * 1000 // 64 AS BIGINT) AS mean_pixel_milli,
       CAST(list_sum(list_transform(range(64),
            i -> p[CAST(i + 1 AS INTEGER)] * (i + 1))) AS BIGINT)
         AS pixel_checksum
FROM px
"""


def x_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-4th-frame sampling over 16-byte payload frames via
    mapInPandas (1 row in → N frame rows out). The oracle re-derives the
    frame geometry from the text (payloads are UTF-8 of the ASCII-only
    fixture text, so byte and char offsets coincide)."""
    docs = read_docs(spark, sf_dir).select("doc_id", "text")
    return multimodal.sample_frames(docs, frame_bytes=16, every_k=4)


SQL_MULTIMODAL_FRAMES = """
WITH t AS (
  SELECT doc_id, text, length(text) AS n FROM documents
), f AS (
  SELECT doc_id, text, n,
         unnest(range(0, CAST(ceil(n / 16.0) AS BIGINT), 4)) AS fi
  FROM t
)
SELECT doc_id,
       CAST(fi AS INTEGER) AS frame_index,
       CAST(least(16, n - fi * 16) AS INTEGER) AS frame_len,
       CAST(ord(substr(text, CAST(fi * 16 + 1 AS INTEGER), 1)) AS INTEGER) AS frame_head
FROM f
"""


def x_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-stride 'resize' plumbing (1:1 mapInPandas, binary in/out),
    summarised as lengths + 8-byte prefix for the oracle."""
    docs = read_docs(spark, sf_dir).select("doc_id", "text")
    return multimodal.resize_payload(docs, stride=4)


SQL_MULTIMODAL_RESIZE = """
SELECT doc_id,
       CAST(length(text) AS INTEGER) AS orig_len,
       CAST(ceil(length(text) / 4.0) AS INTEGER) AS resized_len,
       array_to_string(
         list_transform(
           range(0, least(8, CAST(ceil(length(text) / 4.0) AS BIGINT))),
           i -> substr(text, CAST(i * 4 + 1 AS INTEGER), 1)
         ), ''
       ) AS resized_prefix
FROM documents
"""


def x_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio twin of multimodal_decode: each document becomes a REAL
    RIFF/WAV PCM file (canonical fmt chunk, little-endian int16 data)
    and the feature kernel parses it back by chunk walking — magic,
    fmt fields, sample unpack — seeing only the binary column
    (operators/multimodal.py::audio_features). Features are integer
    exact; the position-weighted checksum pins sample ORDER through
    the container round trip. Oracle re-derives everything from the
    shared deterministic sample rule (codepoint·257 − 32768)."""
    docs = read_table(spark, sf_dir, "documents")
    return multimodal.audio_features(docs)


SQL_MULTIMODAL_AUDIO = """
WITH sm AS (
  SELECT doc_id,
         list_transform(range(256), i ->
           CASE WHEN length(coalesce(text, '')) = 0 THEN 0
                ELSE (ord(substr(text,
                         CAST(i % length(text) + 1 AS INTEGER), 1)) % 256)
                     * 257 - 32768
           END) AS ss
  FROM documents
)
SELECT doc_id,
       -- RIFF hdr 12 + fmt chunk 24 + data hdr 8 + 2 bytes x 256 samples
       CAST(556 AS INTEGER) AS byte_len,
       CAST(16000 AS INTEGER) AS sample_rate,
       CAST(256 AS INTEGER) AS n_samples,
       CAST(list_sum(list_transform(ss, x -> abs(x))) AS BIGINT) AS sum_abs,
       CAST(list_max(list_transform(ss, x -> abs(x))) AS INTEGER) AS peak,
       CAST(len(list_filter(range(1, 256),
            i -> (ss[i + 1] < 0) != (ss[i] < 0))) AS INTEGER)
         AS zero_crossings,
       CAST(list_sum(list_transform(range(256),
            i -> CAST(ss[i + 1] AS BIGINT) * (i + 1))) AS BIGINT)
         AS sample_checksum
FROM sm
"""


CATALOG: dict[str, tuple] = {
    "multimodal_dedup": (x_multimodal_dedup, SQL_MULTIMODAL_DEDUP),
    "multimodal_meta": (x_multimodal_meta, SQL_MULTIMODAL_META),
    "multimodal_decode": (x_multimodal_decode, SQL_MULTIMODAL_DECODE),
    "multimodal_frames": (x_multimodal_frames, SQL_MULTIMODAL_FRAMES),
    "multimodal_resize": (x_multimodal_resize, SQL_MULTIMODAL_RESIZE),
    "multimodal_audio": (x_multimodal_audio, SQL_MULTIMODAL_AUDIO),
}
