"""Multimodal column plumbing — north-star extension.

Treats image/audio/video payloads as opaque ``binary`` columns with a
typed metadata struct, and implements the Spark-side machinery a real
pipeline needs: schema, Arrow-batched feature extraction over
``mapInPandas``, and partition-friendly layout.

Two modalities get REAL pure-Python codecs (no external libraries,
nothing beyond struct/bytes):

- **PPM (P6)** images: :func:`decode_ppm` is a genuine parser — magic
  check, whitespace/comment-tolerant ASCII header scan for
  width/height/maxval, payload-length validation, channel-byte stats
  over the raster — and :func:`resize_ppm` is a real nearest-neighbor
  resample that re-encodes a valid P6 file.
- **WAV (RIFF/PCM)**: :func:`decode_wav` walks RIFF chunks (honoring
  the odd-size pad byte), reads the ``fmt `` struct, and unpacks the
  16-bit PCM ``data`` samples.

The payloads under test are genuine PPM/WAV files synthesized
deterministically from ``(doc_id, n_chars)`` by :func:`synth_ppm` /
:func:`synth_wav`, so the DuckDB oracle can compute the *expected*
decoded stats in closed form — if the parser mis-reads the header or
lands one byte off in the raster, the value hash breaks. Only video
remains a stub (no pure-Python video codec exists); its frame-sampling
plumbing is exercised and oracle-checked separately.

The legacy metadata/frame-sample queries keep their UTF-8-text
payloads (identical bytes in Spark and DuckDB) so their oracles are
unchanged.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_datafusion_spark.functions.pinning import pin
from http_datafusion_spark.plans.registry import query
from http_datafusion_spark.plans.tables import load_tables

MEDIA_SCHEMA = (
    "doc_id bigint, media_type string, payload binary, "
    "meta struct<n_bytes: bigint, declared_kind: string, source: string>"
)


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the multimodal table: binary payload + typed metadata.

    At 100 TB the payload column dominates storage: keep it out of every
    query that doesn't decode (column pruning makes the metadata-only
    scans cheap), and partition by media_type/source so decode jobs
    prune to the modality they need.
    """
    d = load_tables(spark, sf_dir, "documents")["documents"]
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        kind.alias("media_type"),
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).cast("bigint").alias("n_bytes"),
            kind.alias("declared_kind"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------- codecs
# Real pure-Python PPM/WAV codecs. Reference scope note: the reference
# engine has no multimodal surface at all (SURVEY §2.10 extension);
# these follow the public netpbm and RIFF/WAVE format specs.


def synth_ppm(doc_id: int, n_chars: int) -> bytes:
    """A genuine binary-PPM (P6) file whose dimensions and raster are a
    closed-form function of (doc_id, n_chars) — so an SQL oracle can
    predict every decoded stat without a codec."""
    w = 4 + doc_id % 5
    h = 1 + n_chars % 7
    header = f"P6\n{w} {h}\n255\n".encode("ascii")
    raster = bytes((doc_id * 31 + i * 7) % 256 for i in range(w * h * 3))
    return header + raster


def synth_wav(doc_id: int, n_chars: int) -> bytes:
    """A genuine RIFF/WAVE file (PCM, mono, 16-bit) with closed-form
    sample values: s_i = ((doc_id*131 + i*17) % 4096) - 2048."""
    rate = 8000 + (doc_id % 4) * 4000
    n = 16 + n_chars % 50
    data = struct.pack(
        f"<{n}h", *(((doc_id * 131 + i * 17) % 4096) - 2048 for i in range(n))
    )
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)  # PCM, mono, 16-bit
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def _ppm_header_ints(payload: bytes, pos: int, count: int) -> tuple[list[int], int]:
    """Scan `count` whitespace-separated ASCII ints from a netpbm
    header, honoring '#' comments (run to end-of-line), per the spec."""
    vals: list[int] = []
    n = len(payload)
    while len(vals) < count:
        while pos < n and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < n and payload[pos] == 0x23:  # '#' comment
            while pos < n and payload[pos] not in (0x0A, 0x0D):
                pos += 1
            continue
        start = pos
        while pos < n and payload[pos : pos + 1].isdigit():
            pos += 1
        if pos == start:
            raise ValueError(f"PPM: expected integer at byte {pos}")
        vals.append(int(payload[start:pos]))
    return vals, pos


def decode_ppm(payload: bytes) -> dict:
    """Parse a binary PPM (P6): magic, header ints, raster stats.

    The raster starts exactly ONE whitespace byte after maxval (the
    spec's rule — raster bytes may themselves look like whitespace, so
    the parser must not keep skipping). Validates the raster length
    against the parsed dimensions.
    """
    if payload[:2] != b"P6":
        raise ValueError(f"not a P6 PPM (magic {payload[:2]!r})")
    (w, h, maxval), pos = _ppm_header_ints(payload, 2, 3)
    if not payload[pos : pos + 1].isspace():
        raise ValueError("PPM: missing single whitespace after maxval")
    raster = payload[pos + 1 :]
    if len(raster) != w * h * 3:
        raise ValueError(f"PPM: raster is {len(raster)} bytes, want {w * h * 3}")
    if maxval <= 0 or maxval > 255:
        raise ValueError(f"PPM: 1-byte maxval out of range: {maxval}")
    return {
        "width": w,
        "height": h,
        "maxval": maxval,
        "n_units": len(raster),  # channel bytes
        "unit_sum": sum(raster),
        "unit_min": min(raster),
        "unit_max": max(raster),
    }


def wav_pcm_samples(payload: bytes) -> tuple[int, int, tuple]:
    """RIFF/WAVE chunk walk (odd-size pad bytes honored) -> (sample_rate,
    channels, 16-bit PCM samples) — the parser shared by the stats
    decode and the frame-level QC kernel."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV: missing fmt or data chunk")
    audio_format, channels, rate, _byte_rate, _block_align, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"WAV: only 16-bit PCM supported (fmt={audio_format}, bits={bits})")
    samples = struct.unpack(f"<{len(data) // 2}h", data[: len(data) // 2 * 2])
    return rate, channels, samples


def decode_wav(payload: bytes) -> dict:
    """Parse a RIFF/WAVE file: chunk walk (with odd-size pad bytes),
    ``fmt `` struct, 16-bit PCM sample stats."""
    rate, channels, samples = wav_pcm_samples(payload)
    return {
        "sample_rate": rate,
        "channels": channels,
        "n_units": len(samples),
        "unit_sum": sum(abs(s) for s in samples),
        "unit_min": min(samples),
        "unit_max": max(samples),
    }


def resize_ppm(payload: bytes, width: int, height: int) -> bytes:
    """Real nearest-neighbor PPM resize: decode, resample, re-encode a
    valid P6 file (decode_ppm(resize_ppm(p, w, h)) round-trips)."""
    meta = decode_ppm(payload)
    w0, h0 = meta["width"], meta["height"]
    raster = payload[len(payload) - meta["n_units"] :]
    out = bytearray()
    for y in range(height):
        sy = y * h0 // height
        for x in range(width):
            sx = x * w0 // width
            off = (sy * w0 + sx) * 3
            out += raster[off : off + 3]
    return f"P6\n{width} {height}\n{meta['maxval']}\n".encode("ascii") + bytes(out)


def decode_real(payload: bytes, media_type: str) -> dict:
    """Decode a payload with the real pure-Python codec for its
    modality. Video has no pure-Python codec — it stays a declared
    stub (frame sampling covers its plumbing)."""
    if media_type == "image":
        return decode_ppm(payload)
    if media_type == "audio":
        return decode_wav(payload)
    raise NotImplementedError(
        f"no pure-Python codec for media_type={media_type!r}; "
        "video decode requires an external codec"
    )


def sample_frames(media: DataFrame, every_n_bytes: int = 64, max_frames: int = 8) -> DataFrame:
    """Frame sampling for the 'video' modality — one output row per
    sampled frame (doc_id, frame_idx, frame_bytes).

    A real implementation would seek keyframes via a codec; the
    deterministic stand-in slices the payload every ``every_n_bytes``.
    The Spark-side shape is the real thing: explode-style fan-out in
    Arrow batches, payload chunks stay off the driver, downstream
    stages see (id, idx, bytes) exactly as a decoder would emit.
    """
    out_schema = "doc_id bigint, frame_idx bigint, frame_bytes binary, frame_len bigint"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, frames, lens = [], [], [], []
            for doc_id, media_type, payload in zip(
                pdf["doc_id"], pdf["media_type"], pdf["payload"]
            ):
                if media_type != "video":
                    continue
                for j in range(min(max_frames, max(len(payload) // every_n_bytes, 1))):
                    chunk = bytes(payload[j * every_n_bytes : (j + 1) * every_n_bytes])
                    ids.append(doc_id)
                    idxs.append(j)
                    frames.append(chunk)
                    lens.append(len(chunk))
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_bytes": frames, "frame_len": lens}
            )

    return media.mapInPandas(batches, schema=out_schema)


def media_codec_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The codec-backed media table: alternating REAL PPM / WAV payloads
    synthesized executor-side in one Arrow pass (no text bytes — the
    raster/samples come from the closed-form generators, so the decoded
    stats are SQL-predictable). Payload bytes never reach the driver."""
    d = load_tables(spark, sf_dir, "documents")["documents"]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf["doc_id"].tolist()
            ncs = pdf["n_chars"].tolist()
            kinds = ["image" if i % 2 == 0 else "audio" for i in ids]
            payloads = [
                synth_ppm(i, nc) if k == "image" else synth_wav(i, nc)
                for i, nc, k in zip(ids, ncs, kinds)
            ]
            yield pd.DataFrame(
                {"doc_id": ids, "media_type": kinds, "payload": payloads}
            )

    return d.select("doc_id", "n_chars").mapInPandas(
        batches, schema="doc_id bigint, media_type string, payload binary"
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH m AS (
      SELECT doc_id, octet_length(encode(text)) AS nb,
             least(8, greatest(octet_length(encode(text)) // 64, 1)) AS nf
      FROM documents
      WHERE doc_id % 3 = 2
    )
    SELECT doc_id,
           CAST(nf AS BIGINT)            AS n_frames,
           CAST(least(nb, nf * 64) AS BIGINT) AS n_bytes
    FROM m
    """,
    doc="video frame sampling: mapInPandas fan-out, frame counts oracle-checked (north-star multimodal)",
    tags=("multimodal",),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = sample_frames(media_table(spark, sf_dir))
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("frame_len").cast("bigint").alias("n_bytes"),
    )


@query(
    "multimodal_metadata",
    oracle="""
    SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
           source,
           CAST(count(*) AS BIGINT)                       AS n_items,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes
    FROM documents
    GROUP BY 1, 2
    """,
    doc="multimodal metadata scan: binary payload sizes by modality/source, payload column pruned (north-star multimodal)",
    tags=("multimodal",),
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media_table(spark, sf_dir)
    return m.groupBy("media_type", F.col("meta.source").alias("source")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("meta.n_bytes").alias("total_bytes"),
        F.max("meta.n_bytes").alias("max_bytes"),
    )


@query(
    "multimodal_features",
    # The oracle predicts the DECODED stats from the closed-form
    # generators (synth_ppm / synth_wav): per image doc the raster is
    # 3*w*h bytes of (doc_id*31 + i*7) % 256 with w = 4 + doc_id%5,
    # h = 1 + n_chars%7; per audio doc 16 + n_chars%50 samples of
    # ((doc_id*131 + i*17) % 4096) - 2048. The Spark side round-trips
    # encode -> REAL parse (header scan / RIFF chunk walk) -> stats, so
    # any parse-offset bug breaks the value hash. All sums are exact
    # int64; the one double is a ratio of exact ints (deterministic).
    oracle="""
    WITH per_doc AS (
      SELECT
        CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
        CASE WHEN doc_id % 2 = 0
             THEN 3 * (4 + doc_id % 5) * (1 + n_chars % 7)
             ELSE 16 + n_chars % 50
        END AS n_units,
        CASE WHEN doc_id % 2 = 0
             THEN list_sum(list_transform(
                    range(0, 3 * (4 + doc_id % 5) * (1 + n_chars % 7)),
                    i -> (doc_id * 31 + i * 7) % 256))
             ELSE list_sum(list_transform(
                    range(0, 16 + n_chars % 50),
                    i -> abs(((doc_id * 131 + i * 17) % 4096) - 2048)))
        END AS unit_sum
      FROM documents
    )
    SELECT media_type,
           CAST(count(*) AS BIGINT)      AS n_items,
           CAST(sum(n_units) AS BIGINT)  AS total_units,
           CAST(sum(unit_sum) AS BIGINT) AS unit_sum,
           round(CAST(sum(unit_sum) AS DOUBLE) / sum(n_units), 4) AS mean_unit
    FROM per_doc
    GROUP BY media_type
    """,
    doc=(
        "multimodal feature extraction with REAL pure-Python codecs: "
        "mapInPandas synthesizes genuine PPM/WAV files, a second Arrow pass "
        "parses them (netpbm header scan / RIFF chunk walk + PCM unpack) and "
        "emits channel-byte / |sample| stats; the oracle predicts the decoded "
        "values from the generator's closed form, so the parser itself is "
        "value-checked (north-star multimodal)"
    ),
    tags=("multimodal",),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_codec_table(spark, sf_dir)

    def decode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [
                decode_real(bytes(p), k)
                for p, k in zip(pdf["payload"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "media_type": pdf["media_type"],
                    "n_units": [r["n_units"] for r in rows],
                    "unit_sum": [r["unit_sum"] for r in rows],
                }
            )

    decoded = media.mapInPandas(
        decode_batches, schema="media_type string, n_units bigint, unit_sum bigint"
    )
    return decoded.groupBy("media_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("n_units").cast("bigint").alias("total_units"),
        F.sum("unit_sum").cast("bigint").alias("unit_sum"),
        F.round(
            F.sum("unit_sum").cast("double") / F.sum("n_units"), 4
        ).alias("mean_unit"),
    )


# ----------------------------------------------- binary exact dedup

BLOB_DUP_SEEDS = 50  # payloads are seeded by doc_id % SEEDS -> byte-identical groups


@query(
    "multimodal_blob_dedup",
    oracle=f"""
    WITH g AS (
      SELECT doc_id % {BLOB_DUP_SEEDS} AS seed,
             CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
             CAST(count(*) AS BIGINT)    AS group_size
      FROM documents GROUP BY 1
    )
    SELECT keep_doc_id, group_size,
           CASE WHEN seed % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
           CAST(CASE WHEN seed % 2 = 0
                THEN 11 + (4 + seed % 5) * (1 + seed % 7) * 3
                ELSE 44 + 2 * (16 + seed % 50) END AS BIGINT) AS n_bytes
    FROM g
    """,
    doc="EXACT dedup over BINARY media payloads — the dedup family extended to "
    "the multimodal modality: genuine PPM/WAV files are synthesized executor-"
    f"side seeded by doc_id % {BLOB_DUP_SEEDS} (so byte-identical duplicates "
    "exist by construction), fingerprinted by md5 OVER THE RAW BYTES in the "
    "same Arrow pass, and hash-grouped with a min-id survivor — the payload "
    "never leaves the executor and only the 16-byte fingerprint shuffles, the "
    "dedup_exact discipline applied to binary columns. The oracle predicts "
    "every group (survivor, size, type, byte length) from the closed-form "
    "generators WITHOUT running a codec, so the byte-level grouping is "
    "value-checked end to end (north-star multimodal + dedup)",
    tags=("multimodal", "dedup"),
)
def multimodal_blob_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    d = load_tables(spark, sf_dir, "documents")["documents"]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf["doc_id"].tolist()
            seeds = [i % BLOB_DUP_SEEDS for i in ids]
            kinds = ["image" if s % 2 == 0 else "audio" for s in seeds]
            payloads = [
                synth_ppm(s, s) if k == "image" else synth_wav(s, s)
                for s, k in zip(seeds, kinds)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "media_type": kinds,
                    "fingerprint": [hashlib.md5(p).hexdigest() for p in payloads],
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    fp = d.select("doc_id").mapInPandas(
        batches,
        schema="doc_id bigint, media_type string, fingerprint string, n_bytes bigint",
    )
    return (
        fp.groupBy("fingerprint", "media_type", "n_bytes")
        .agg(
            F.min("doc_id").cast("bigint").alias("keep_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("group_size"),
        )
        .select("keep_doc_id", "group_size", "media_type", "n_bytes")
    )


# --------------------------------------------------- resize audit (codec)

RESIZE_W, RESIZE_H = 8, 4


@query(
    "multimodal_resize_audit",
    oracle=f"""
    WITH img AS (
      SELECT doc_id,
             4 + doc_id % 5  AS w0,
             1 + n_chars % 7 AS h0
      FROM documents WHERE doc_id % 2 = 0
    ),
    px AS (
      SELECT doc_id, w0, h0,
             (((y.y * h0 // {RESIZE_H}) * w0 + (x.x * w0 // {RESIZE_W})) * 3 + c.c) AS off
      FROM img,
           (SELECT unnest(range({RESIZE_H})) AS y) y,
           (SELECT unnest(range({RESIZE_W})) AS x) x,
           (SELECT unnest(range(3)) AS c) c
    )
    SELECT doc_id,
           CAST({RESIZE_W} AS BIGINT) AS w1,
           CAST({RESIZE_H} AS BIGINT) AS h1,
           CAST(max(w0) AS BIGINT)    AS w0,
           CAST(max(h0) AS BIGINT)    AS h0,
           CAST(sum((doc_id * 31 + off * 7) % 256) AS BIGINT) AS raster_sum
    FROM px GROUP BY doc_id
    """,
    doc="image resize audit — the REAL nearest-neighbor PPM resize codec "
    f"(resize_ppm: decode -> resample -> re-encode) run executor-side on every "
    f"image payload, downscaling to {RESIZE_W}x{RESIZE_H}; the emitted resized-"
    "raster byte sum is predicted by the oracle in CLOSED FORM (the source "
    "raster is a formula of (doc_id, offset), and nearest-neighbor maps output "
    "pixel (x,y) to src offset ((y*h0//H)*w0 + x*w0//W)*3+c), so the codec's "
    "byte-level resample arithmetic is value-checked without any codec on the "
    "oracle side. Payloads never leave executors; one Arrow pass, one "
    "doc-bounded agg (north-star multimodal / decode-transform tier)",
    tags=("multimodal",),
)
def multimodal_resize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"doc_id": [], "w1": [], "h1": [], "w0": [], "h0": [], "raster_sum": []}
            for doc_id, nc in zip(pdf["doc_id"].tolist(), pdf["n_chars"].tolist()):
                if doc_id % 2 != 0:
                    continue
                src = synth_ppm(doc_id, nc)
                meta0 = decode_ppm(src)
                resized = resize_ppm(src, RESIZE_W, RESIZE_H)
                meta1 = decode_ppm(resized)
                raster = resized[len(resized) - meta1["n_units"]:]
                rows["doc_id"].append(doc_id)
                rows["w1"].append(meta1["width"])
                rows["h1"].append(meta1["height"])
                rows["w0"].append(meta0["width"])
                rows["h0"].append(meta0["height"])
                rows["raster_sum"].append(int(sum(raster)))
            yield pd.DataFrame(rows)

    return d.select("doc_id", "n_chars").mapInPandas(
        batches,
        schema="doc_id bigint, w1 bigint, h1 bigint, w0 bigint, h0 bigint, raster_sum bigint",
    )


# --------------------------------------------------- WAV decimation audit

DECIMATE_BY = 2  # keep every 2nd sample (rate/2 resample)


@query(
    "multimodal_wav_decimate_audit",
    oracle=f"""
    WITH aud AS (
      SELECT doc_id,
             8000 + (doc_id % 4) * 4000 AS rate,
             16 + n_chars % 50          AS n_samples
      FROM documents WHERE doc_id % 2 = 1
    ),
    kept AS (
      SELECT doc_id, rate, n_samples,
             i.i AS i,
             ((doc_id * 131 + (i.i * {DECIMATE_BY}) * 17) % 4096) - 2048 AS s
      FROM aud, (SELECT unnest(range(0, 66)) AS i) i
      WHERE i.i * {DECIMATE_BY} < n_samples
    )
    SELECT doc_id,
           CAST(max(rate) / {DECIMATE_BY} AS BIGINT)       AS out_rate,
           CAST(count(*) AS BIGINT)                         AS out_samples,
           CAST(sum(s) AS BIGINT)                           AS sample_checksum
    FROM kept GROUP BY doc_id
    """,
    doc=f"audio decimation audit — the WAV analogue of multimodal_resize_audit: "
    f"every audio payload is decoded with the real RIFF/PCM codec, decimated "
    f"by {DECIMATE_BY} (keep every {DECIMATE_BY}nd sample, halve the rate — "
    "the naive resampler; a production one low-pass-filters first, same "
    "plumbing), re-encoded, decoded AGAIN, and the output rate/sample-count/"
    "sample-sum are value-checked against the closed-form generator — so the "
    "codec's byte-level round-trip arithmetic is proven for the audio "
    "modality too. Payloads never leave executors; one Arrow pass "
    "(north-star multimodal / decode-transform tier)",
    tags=("multimodal",),
)
def multimodal_wav_decimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct as _struct

    d = load_tables(spark, sf_dir, "documents")["documents"]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"doc_id": [], "out_rate": [], "out_samples": [], "sample_checksum": []}
            for doc_id, nc in zip(pdf["doc_id"].tolist(), pdf["n_chars"].tolist()):
                if doc_id % 2 != 1:
                    continue
                src = synth_wav(doc_id, nc)
                meta = decode_wav(src)
                data = src[len(src) - meta["n_units"] * 2:]
                samples = _struct.unpack(f"<{meta['n_units']}h", data)
                dec = samples[::DECIMATE_BY]
                rate = meta["sample_rate"] // DECIMATE_BY
                payload = _struct.pack(f"<{len(dec)}h", *dec)
                fmt = _struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
                out = (
                    b"RIFF" + _struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(payload))
                    + b"WAVE" + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
                    + b"data" + _struct.pack("<I", len(payload)) + payload
                )
                meta2 = decode_wav(out)  # round-trip through the real codec
                data2 = out[len(out) - meta2["n_units"] * 2:]
                samples2 = _struct.unpack(f"<{meta2['n_units']}h", data2)
                rows["doc_id"].append(doc_id)
                rows["out_rate"].append(meta2["sample_rate"])
                rows["out_samples"].append(meta2["n_units"])
                rows["sample_checksum"].append(int(sum(samples2)))
            yield pd.DataFrame(rows)

    return d.select("doc_id", "n_chars").mapInPandas(
        batches,
        schema="doc_id bigint, out_rate bigint, out_samples bigint, sample_checksum bigint",
    )


# ------------------------------------- perceptual-hash near-dup (aHash)

PHASH_MAX_HAMMING = 16  # of 64 bits
PHASH_COPY_MOD = 10  # plant a perturbed copy of every 10th document
PHASH_COPY_OFFSET = 1_000_000_000
PHASH_PERT_MOD = 13  # perturb raster bytes at offsets divisible by this
PHASH_PERT_DELTA = 5
PHASH_MAX_BAND_BUCKET = 64  # drop non-discriminative (stop) band buckets


@query(
    "multimodal_phash_near_dup",
    oracle=f"""
    WITH img AS (
      SELECT doc_id AS src_id, doc_id AS img_id,
             4 + doc_id % 5 AS w0, 1 + n_chars % 7 AS h0, 0 AS pert
      FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, doc_id + {PHASH_COPY_OFFSET},
             4 + doc_id % 5, 1 + n_chars % 7, 1
      FROM documents WHERE doc_id % {PHASH_COPY_MOD} = 0
    ), px AS (
      SELECT img_id, src_id, pert, p.p AS p,
             (((p.p // 8) * h0 // 8) * w0 + ((p.p % 8) * w0 // 8)) * 3 AS o
      FROM img, (SELECT unnest(range(64)) AS p) p
    ), gray AS (
      SELECT img_id, p,
             ( ((src_id * 31 + o * 7) % 256
                + CASE WHEN pert = 1 AND o % {PHASH_PERT_MOD} = 0
                       THEN {PHASH_PERT_DELTA} ELSE 0 END) % 256
             + ((src_id * 31 + (o + 1) * 7) % 256
                + CASE WHEN pert = 1 AND (o + 1) % {PHASH_PERT_MOD} = 0
                       THEN {PHASH_PERT_DELTA} ELSE 0 END) % 256
             + ((src_id * 31 + (o + 2) * 7) % 256
                + CASE WHEN pert = 1 AND (o + 2) % {PHASH_PERT_MOD} = 0
                       THEN {PHASH_PERT_DELTA} ELSE 0 END) % 256
             ) // 3 AS g
      FROM px
    ), tot AS (
      SELECT img_id, sum(g) AS tg FROM gray GROUP BY 1
    ), bits AS (
      SELECT g.img_id, g.p, CASE WHEN 64 * g.g > t.tg THEN 1 ELSE 0 END AS b
      FROM gray g JOIN tot t ON g.img_id = t.img_id
    ), hashes AS (
      SELECT img_id,
             CAST(sum(CASE WHEN p < 32 THEN b * (CAST(1 AS BIGINT) << (31 - p)) ELSE 0 END) AS BIGINT) AS h_hi,
             CAST(sum(CASE WHEN p >= 32 THEN b * (CAST(1 AS BIGINT) << (63 - p)) ELSE 0 END) AS BIGINT) AS h_lo
      FROM bits GROUP BY 1
    ), bands AS (
      SELECT img_id,
             j.j AS j,
             CASE WHEN j.j = 0 THEN (h_hi >> 16) & 65535
                  WHEN j.j = 1 THEN h_hi & 65535
                  WHEN j.j = 2 THEN (h_lo >> 16) & 65535
                  ELSE h_lo & 65535 END AS v
      FROM hashes, (SELECT unnest(range(4)) AS j) j
    ), kept AS (
      SELECT j, v FROM bands GROUP BY j, v
      HAVING count(*) <= {PHASH_MAX_BAND_BUCKET}
    ), sel AS (
      SELECT b.img_id, b.j, b.v FROM bands b JOIN kept k ON b.j = k.j AND b.v = k.v
    ), cand AS (
      SELECT DISTINCT a.img_id AS img_a, b.img_id AS img_b
      FROM sel a JOIN sel b
        ON a.j = b.j AND a.v = b.v AND a.img_id < b.img_id
    )
    SELECT img_a, img_b,
           CAST(bit_count(xor(ha.h_hi, hb.h_hi))
              + bit_count(xor(ha.h_lo, hb.h_lo)) AS BIGINT) AS hamming
    FROM cand
    JOIN hashes ha ON ha.img_id = img_a
    JOIN hashes hb ON hb.img_id = img_b
    WHERE bit_count(xor(ha.h_hi, hb.h_hi)) + bit_count(xor(ha.h_lo, hb.h_lo))
          <= {PHASH_MAX_HAMMING}
    ORDER BY img_a, img_b
    """,
    doc=f"perceptual-hash image near-dup: every image payload (plus a planted "
    f"+{PHASH_PERT_DELTA}-perturbed copy of every {PHASH_COPY_MOD}th doc — the "
    "dedup fixture) runs the REAL codec path executor-side — synth -> "
    "nearest-neighbor resize_ppm to 8x8 -> decode -> 64-bit average-hash "
    "(bit p = pixel gray above image mean) — and near-dups are found by "
    "hamming-LSH: 4 sixteen-bit bands, candidates share an identical band "
    f"(equi-join, never all-pairs), verified with bit_count(xor) <= "
    f"{PHASH_MAX_HAMMING}. Band buckets holding more than "
    f"{PHASH_MAX_BAND_BUCKET} images are dropped as non-discriminative stop "
    "bands BEFORE the self-join (the graph_triangle_count degree-cap "
    "discipline, documented undercount: a pair surfacing only through a "
    "saturated pattern is missed) — with 4x65536 bucket keys and the cap, "
    "candidate pairs are hard-bounded regardless of corpus size; the naive "
    "8-bit banding measured 234 s at sf1 (55x the sf0.1 wall, quadratic "
    "saturation) vs 5.7 s with this shape (isolated same-session pair, idle "
    "box). The oracle predicts every hash bit in closed form (raster formula "
    "-> resample map -> integer gray -> threshold), so a one-bit codec error "
    "anywhere flips the value hash. Shuffles at 100 TB: hash groupBy, "
    "bucket-count agg, one capped banded self-join — all equi-keyed "
    "(north-star multimodal x dedup)",
    tags=("multimodal", "dedup"),
)
def multimodal_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]

    def ahash(payload: bytes) -> tuple[int, int]:
        small = resize_ppm(payload, 8, 8)
        meta = decode_ppm(small)
        raster = small[len(small) - meta["n_units"]:]
        grays = [
            (raster[3 * p] + raster[3 * p + 1] + raster[3 * p + 2]) // 3
            for p in range(64)
        ]
        total = sum(grays)
        h_hi = h_lo = 0
        for p, g in enumerate(grays):
            if 64 * g > total:
                if p < 32:
                    h_hi |= 1 << (31 - p)
                else:
                    h_lo |= 1 << (63 - p)
        return h_hi, h_lo

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"img_id": [], "h_hi": [], "h_lo": []}
            for doc_id, nc in zip(pdf["doc_id"].tolist(), pdf["n_chars"].tolist()):
                if doc_id % 2 != 0:
                    continue
                base = synth_ppm(doc_id, nc)
                hi, lo = ahash(base)
                rows["img_id"].append(doc_id)
                rows["h_hi"].append(hi)
                rows["h_lo"].append(lo)
                if doc_id % PHASH_COPY_MOD == 0:
                    meta = decode_ppm(base)
                    head = base[: len(base) - meta["n_units"]]
                    raster = bytearray(base[len(base) - meta["n_units"]:])
                    for off in range(0, len(raster), PHASH_PERT_MOD):
                        raster[off] = (raster[off] + PHASH_PERT_DELTA) % 256
                    hi2, lo2 = ahash(bytes(head) + bytes(raster))
                    rows["img_id"].append(doc_id + PHASH_COPY_OFFSET)
                    rows["h_hi"].append(hi2)
                    rows["h_lo"].append(lo2)
            yield pd.DataFrame(rows)

    # One hash row (or two, for the perturbed copy) per even doc; four
    # downstream consumers re-derived the mapInPandas decode 6x
    # unpinned — checkpoint the per-image hash table.
    hashes = d.select("doc_id", "n_chars").mapInPandas(
        batches, schema="img_id bigint, h_hi bigint, h_lo bigint"
    ).transform(pin)
    band_vals = F.array(
        F.shiftright(F.col("h_hi"), 16).bitwiseAND(65535),
        F.col("h_hi").bitwiseAND(65535),
        F.shiftright(F.col("h_lo"), 16).bitwiseAND(65535),
        F.col("h_lo").bitwiseAND(65535),
    )
    bands = hashes.select("img_id", F.posexplode(band_vals).alias("j", "v"))
    kept = (
        bands.groupBy("j", "v")
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter(F.col("bn") <= PHASH_MAX_BAND_BUCKET)
        .select("j", "v")
    )
    # sel stays UNcheckpointed: the expensive decode is already pinned
    # by the hashes checkpoint (bands/kept re-derive only cheap RDD
    # reads), and the stop-band cap filter must stay visible in the
    # final plan for the quadratic guard (test_r8_operators_plan_
    # invariants' `bn <= 64` regex).
    sel = bands.join(kept, ["j", "v"])
    a, b = sel.alias("a"), sel.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.img_id") < F.col("b.img_id")),
        )
        .select(F.col("a.img_id").alias("img_a"), F.col("b.img_id").alias("img_b"))
        .distinct()
    )
    ha, hb = hashes.alias("ha"), hashes.alias("hb")
    hamming = F.bit_count(
        F.col("ha.h_hi").bitwiseXOR(F.col("hb.h_hi"))
    ) + F.bit_count(F.col("ha.h_lo").bitwiseXOR(F.col("hb.h_lo")))
    return (
        cand.join(ha, F.col("img_a") == F.col("ha.img_id"))
        .join(hb, F.col("img_b") == F.col("hb.img_id"))
        .select("img_a", "img_b", hamming.cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= PHASH_MAX_HAMMING)
        .orderBy("img_a", "img_b")
    )


# --------------------------------- voice-activity detection segments

# Energy-threshold VAD (the classic frame-energy gate, public): samples
# are framed, a frame is "active" when its mean |amplitude| clears the
# threshold, and consecutive active frames merge into segments
# (gaps-and-islands). The codec decode runs executor-side in the Arrow
# pass; the segmentation itself is RELATIONAL (per-doc keyed window),
# so the analytics layer scales independently of the Python decode.
VAD_FRAME = 8  # samples per frame
VAD_THRESHOLD = 1024  # mean-|s| activity gate (samples are in [-2048, 2047])


@query(
    "multimodal_vad_segments",
    oracle=f"""
    WITH aud AS (
      SELECT doc_id, 16 + n_chars % 50 AS n_samples
      FROM documents WHERE doc_id % 2 = 1
    ),
    samp AS (
      SELECT doc_id,
             i.i AS i,
             abs(((doc_id * 131 + i.i * 17) % 4096) - 2048) AS a
      FROM aud, (SELECT unnest(range(0, 66)) AS i) i
      WHERE i.i < n_samples
    ),
    fr AS (
      SELECT doc_id, CAST(floor(i / {VAD_FRAME}) AS BIGINT) AS f,
             CAST(sum(a) AS BIGINT) AS sa,
             CAST(count(*) AS BIGINT) AS fl
      FROM samp GROUP BY 1, 2
    ),
    af AS (SELECT doc_id, f FROM fr WHERE sa >= {VAD_THRESHOLD} * fl),
    isl AS (
      SELECT doc_id, f,
             f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS g
      FROM af
    ),
    seg AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS len FROM isl GROUP BY 1, 2),
    segagg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
             CAST(max(len) AS BIGINT) AS longest_segment
      FROM seg GROUP BY 1
    ),
    tot AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
             CAST(sum(CASE WHEN sa >= {VAD_THRESHOLD} * fl THEN 1 ELSE 0 END) AS BIGINT)
               AS n_active
      FROM fr GROUP BY 1
    )
    SELECT t.doc_id, t.n_frames, t.n_active,
           coalesce(s.n_segments, 0) AS n_segments,
           coalesce(s.longest_segment, 0) AS longest_segment
    FROM tot t LEFT JOIN segagg s ON s.doc_id = t.doc_id
    """,
    doc=f"voice-activity detection over the audio payloads: every WAV is "
    "decoded with the real RIFF/PCM codec executor-side, framed "
    f"({VAD_FRAME} samples), gated on mean |amplitude| >= {VAD_THRESHOLD}, "
    "and consecutive active frames merge into segments via relational "
    "gaps-and-islands (per-doc keyed window) — the speech-segmentation "
    "pre-step of every audio training pipeline (energy VAD, public "
    "classic; a production gate swaps in a model score, same plumbing). "
    "Frame stats are integers end to end (sum|s| >= T*len, no float "
    "energies), so the closed-form generator proves the decode + framing "
    "byte-exactly. Payloads never leave executors; one Arrow pass emits "
    "frames, Catalyst does the rest (north-star multimodal / audio "
    "segmentation tier)",
    tags=("multimodal", "window"),
)
def multimodal_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"doc_id": [], "f": [], "sa": [], "fl": []}
            for doc_id, nc in zip(pdf["doc_id"].tolist(), pdf["n_chars"].tolist()):
                if doc_id % 2 != 1:
                    continue
                meta = decode_wav(synth_wav(doc_id, nc))
                src = synth_wav(doc_id, nc)
                data = src[len(src) - meta["n_units"] * 2:]
                samples = struct.unpack(f"<{meta['n_units']}h", data)
                for f in range((len(samples) + VAD_FRAME - 1) // VAD_FRAME):
                    fr = samples[f * VAD_FRAME : (f + 1) * VAD_FRAME]
                    rows["doc_id"].append(doc_id)
                    rows["f"].append(f)
                    rows["sa"].append(int(sum(abs(s) for s in fr)))
                    rows["fl"].append(len(fr))
            yield pd.DataFrame(rows)

    fr = d.select("doc_id", "n_chars").mapInPandas(
        batches, schema="doc_id bigint, f bigint, sa bigint, fl bigint"
    )
    active = F.col("sa") >= VAD_THRESHOLD * F.col("fl")
    af = fr.filter(active).select("doc_id", "f")
    isl = af.select(
        "doc_id",
        "f",
        (F.col("f") - F.row_number().over(W.partitionBy("doc_id").orderBy("f"))).alias(
            "g"
        ),
    )
    seg = isl.groupBy("doc_id", "g").agg(F.count(F.lit(1)).cast("bigint").alias("len"))
    segagg = seg.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.max("len").cast("bigint").alias("longest_segment"),
    )
    tot = fr.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.sum(active.cast("long")).cast("bigint").alias("n_active"),
    )
    return tot.join(segagg, "doc_id", "left").select(
        "doc_id",
        "n_frames",
        "n_active",
        F.coalesce(F.col("n_segments"), F.lit(0)).cast("bigint").alias("n_segments"),
        F.coalesce(F.col("longest_segment"), F.lit(0))
        .cast("bigint")
        .alias("longest_segment"),
    )


# ------------------------------------------------- video scene cuts

VID_FRAME_W = 4
VID_FRAME_H = 2
VID_CUT_THRESHOLD = 64  # mean-luminance jump that counts as a hard cut


def synth_vid(doc_id: int, n_chars: int) -> bytes:
    """A minimal but genuine video container: b'VID1' magic + u16 frame
    count + per frame a u32-length-prefixed FULL binary-PPM (P6) blob.
    Every frame is a solid color c_f = (doc_id*31 + f*97) % 256, so an
    SQL oracle can predict each frame's luminance sum without a codec
    while the decoder still parses real headers and rasters."""
    nf = 4 + n_chars % 12
    out = [b"VID1", struct.pack("<H", nf)]
    for f in range(nf):
        c = (doc_id * 31 + f * 97) % 256
        header = f"P6\n{VID_FRAME_W} {VID_FRAME_H}\n255\n".encode("ascii")
        raster = bytes([c]) * (VID_FRAME_W * VID_FRAME_H * 3)
        blob = header + raster
        out.append(struct.pack("<I", len(blob)))
        out.append(blob)
    return b"".join(out)


def decode_vid(payload: bytes) -> list[tuple[int, int, int]]:
    """Parse the VID1 container: returns (frame_idx, luminance_sum,
    n_raster_bytes) per frame, decoding each embedded PPM for real
    (header parse + raster byte sum — no closed-form shortcuts)."""
    if payload[:4] != b"VID1":
        raise ValueError("not a VID1 container")
    nf = struct.unpack("<H", payload[4:6])[0]
    pos = 6
    frames = []
    for f in range(nf):
        (blen,) = struct.unpack("<I", payload[pos : pos + 4])
        pos += 4
        blob = payload[pos : pos + blen]
        pos += blen
        meta = decode_ppm(blob)
        frames.append((f, int(meta["unit_sum"]), int(meta["n_units"])))
    return frames


@query(
    "multimodal_scene_cuts",
    oracle=f"""
    WITH vid AS (
      SELECT doc_id, 4 + n_chars % 12 AS nf
      FROM documents WHERE doc_id % 3 = 2
    ), fr AS (
      SELECT doc_id, i.i AS f,
             ((doc_id * 31 + i.i * 97) % 256)
               * {VID_FRAME_W * VID_FRAME_H * 3} AS ls
      FROM vid, (SELECT unnest(range(0, 16)) AS i) i
      WHERE i.i < nf
    ), cut AS (
      SELECT doc_id, f, ls,
             CASE WHEN f = 0 THEN 0
                  WHEN abs(ls - lag(ls) OVER (PARTITION BY doc_id ORDER BY f))
                       >= {VID_CUT_THRESHOLD} * {VID_FRAME_W * VID_FRAME_H * 3}
                  THEN 1 ELSE 0 END AS is_cut
      FROM fr
    ), scn AS (
      SELECT doc_id, f, is_cut,
             sum(is_cut) OVER (PARTITION BY doc_id ORDER BY f
                               ROWS UNBOUNDED PRECEDING) AS scene
      FROM cut
    ), seg AS (
      SELECT doc_id, scene, CAST(count(*) AS BIGINT) AS len
      FROM scn GROUP BY 1, 2
    )
    SELECT s.doc_id,
           CAST(sum(s.len) AS BIGINT) AS n_frames,
           CAST(count(*) - 1 AS BIGINT) AS n_cuts,
           CAST(count(*) AS BIGINT) AS n_scenes,
           CAST(max(s.len) AS BIGINT) AS longest_scene
    FROM seg s
    GROUP BY s.doc_id
    """,
    doc=f"video scene-cut detection: every video payload (a real VID1 "
    f"container of length-prefixed P6 frames) is decoded executor-side "
    f"into per-frame luminance sums; a hard cut fires when the "
    f"frame-to-frame jump is >= {VID_CUT_THRESHOLD} mean-luminance units "
    f"(integer compare: |ls_f - ls_f-1| >= T * raster_bytes, no float "
    f"means), and cut flags prefix-sum into scene ids relationally — the "
    f"shot-segmentation pre-step of every video training pipeline (a "
    f"production gate swaps in a histogram/SSIM score, same plumbing; "
    f"mirrors multimodal_vad_segments' energy gate). Frame stats are "
    f"integers end to end, so the closed-form solid-color generator "
    f"proves the container + PPM decode byte-exactly. Payloads never "
    f"leave executors; per-doc keyed lag/cumsum windows, contents bounded "
    f"by one clip (north-star multimodal / video tier)",
    tags=("multimodal", "window"),
)
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"doc_id": [], "f": [], "ls": [], "npx": []}
            for doc_id, nc in zip(pdf["doc_id"].tolist(), pdf["n_chars"].tolist()):
                if doc_id % 3 != 2:
                    continue
                for f, ls, npx in decode_vid(synth_vid(doc_id, nc)):
                    rows["doc_id"].append(doc_id)
                    rows["f"].append(f)
                    rows["ls"].append(ls)
                    rows["npx"].append(npx)
            yield pd.DataFrame(rows)

    fr = d.select("doc_id", "n_chars").mapInPandas(
        batches, schema="doc_id bigint, f bigint, ls bigint, npx bigint"
    )
    w = W.partitionBy("doc_id").orderBy("f")
    prev = F.lag("ls").over(w)
    is_cut = (
        F.when(F.col("f") == 0, F.lit(0))
        .when(
            F.abs(F.col("ls") - prev) >= VID_CUT_THRESHOLD * F.col("npx"), F.lit(1)
        )
        .otherwise(F.lit(0))
    )
    scn = fr.select("doc_id", "f", is_cut.alias("is_cut")).select(
        "doc_id",
        "f",
        F.sum("is_cut").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("scene"),
    )
    seg = scn.groupBy("doc_id", "scene").agg(
        F.count(F.lit(1)).cast("bigint").alias("len")
    )
    return seg.groupBy("doc_id").agg(
        F.sum("len").cast("bigint").alias("n_frames"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_cuts"),
        F.count(F.lit(1)).cast("bigint").alias("n_scenes"),
        F.max("len").cast("bigint").alias("longest_scene"),
    )


# ----------------------------------------------- aspect-ratio bucketing

# SDXL-style aspect buckets (NovelAI aspect-bucketing write-up / SDXL
# report, public): batch training needs same-shape tensors, so each
# image snaps to the nearest-aspect bucket of a fixed ladder and is
# scale-to-fit + padded there. Ladder aspects span 8:1 .. 1:8.
ASPECT_BUCKETS = (
    (64, 8), (64, 16), (64, 32), (64, 64), (32, 64), (16, 64), (8, 64),
)


@query(
    "multimodal_aspect_bucketing",
    # Closed-form oracle: image docs (doc_id % 2 = 0) decode to
    # w = 4 + doc_id % 5, h = 1 + n_chars % 7 (synth_ppm). All bucket
    # math is IEEE-exact on both engines: w/h and bw/bh are single
    # correctly-rounded divisions, the distance is one subtraction —
    # no transcendentals (a log-space distance would hit libm
    # rounding differences between the JVM and DuckDB).
    oracle=f"""
    WITH imgs AS (
      SELECT doc_id,
             CAST(4 + doc_id % 5 AS DOUBLE)  AS w,
             CAST(1 + n_chars % 7 AS DOUBLE) AS h
      FROM documents WHERE doc_id % 2 = 0
    ), buckets AS (
      SELECT unnest(range(0, {len(ASPECT_BUCKETS)})) AS idx,
             unnest({[float(bw) for bw, _ in ASPECT_BUCKETS]}) AS bw,
             unnest({[float(bh) for _, bh in ASPECT_BUCKETS]}) AS bh
    ), snapped AS (
      SELECT doc_id, idx, bw, bh,
             least(bw / w, bh / h) AS scale, w, h
      FROM (
        SELECT i.doc_id, b.idx, b.bw, b.bh, i.w, i.h,
               row_number() OVER (
                 PARTITION BY i.doc_id
                 ORDER BY abs(i.w / i.h - b.bw / b.bh), b.idx) AS rk
        FROM imgs i CROSS JOIN buckets b
      ) WHERE rk = 1
    )
    SELECT CAST(idx AS BIGINT)            AS bucket_id,
           CAST(bw AS BIGINT)             AS bucket_w,
           CAST(bh AS BIGINT)             AS bucket_h,
           CAST(count(*) AS BIGINT)       AS n_images,
           round(CAST(sum(CAST(round(
             1.0 - (w * scale) * (h * scale) / (bw * bh), 6) AS DECIMAL(18,6)))
             AS DOUBLE) / count(*), 6)    AS avg_pad_frac
    FROM snapped
    GROUP BY idx, bw, bh
    ORDER BY bucket_id
    """,
    doc=f"aspect-ratio bucketing audit (SDXL/NovelAI bucketed training, "
    f"public): every image (REAL PPM decode — header scan, not "
    f"metadata trust) snaps to the nearest-aspect bucket of a fixed "
    f"{len(ASPECT_BUCKETS)}-rung ladder (linear aspect distance, ties "
    f"to the smaller index — deliberately not log-space: transcendental "
    f"rounding differs between JVM and DuckDB libm, |w/h - bw/bh| is "
    f"IEEE-exact on both), reporting per-bucket image counts and the "
    f"mean scale-to-fit padding waste — the batch-shape / wasted-pixels "
    f"readout an image-training pipeline reads before committing a "
    f"ladder. Pad fractions 6dp-quantized to decimal before the mean "
    f"(order-independent). Plan: payload decode in one Arrow pass, "
    f"{len(ASPECT_BUCKETS)}-row broadcast ladder, per-image argmin as "
    f"a map-side min(struct) partial agg — no window, no shuffle of "
    f"payload bytes (north-star multimodal / training data)",
    tags=("multimodal", "pipeline"),
)
def multimodal_aspect_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_codec_table(spark, sf_dir)

    def decode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, ws, hs = [], [], []
            for doc_id, media_type, payload in zip(
                pdf["doc_id"], pdf["media_type"], pdf["payload"]
            ):
                if media_type != "image":
                    continue
                m = decode_ppm(bytes(payload))
                ids.append(doc_id)
                ws.append(m["width"])
                hs.append(m["height"])
            yield pd.DataFrame({"doc_id": ids, "w": ws, "h": hs})

    imgs = media.mapInPandas(
        decode_batches, schema="doc_id bigint, w bigint, h bigint"
    ).select("doc_id", F.col("w").cast("double").alias("w"), F.col("h").cast("double").alias("h"))
    buckets = spark.createDataFrame(
        [(i, float(bw), float(bh)) for i, (bw, bh) in enumerate(ASPECT_BUCKETS)],
        "idx int, bw double, bh double",
    )
    dist = F.abs(F.col("w") / F.col("h") - F.col("bw") / F.col("bh"))
    best = (
        imgs.crossJoin(F.broadcast(buckets))
        .groupBy("doc_id")
        .agg(
            F.min(
                F.struct(
                    dist.alias("d"),
                    F.col("idx").alias("idx"),
                    F.col("bw").alias("bw"),
                    F.col("bh").alias("bh"),
                    F.col("w").alias("w"),
                    F.col("h").alias("h"),
                )
            ).alias("s")
        )
        .select("s.idx", "s.bw", "s.bh", "s.w", "s.h")
    )
    scale = F.least(F.col("bw") / F.col("w"), F.col("bh") / F.col("h"))
    pad = F.round(
        1.0 - (F.col("w") * scale) * (F.col("h") * scale) / (F.col("bw") * F.col("bh")),
        6,
    ).cast("decimal(18,6)")
    return (
        best.select("idx", "bw", "bh", pad.alias("pad"))
        .groupBy("idx", "bw", "bh")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_images"),
            F.round(F.sum("pad").cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_pad_frac"
            ),
        )
        .select(
            F.col("idx").cast("bigint").alias("bucket_id"),
            F.col("bw").cast("bigint").alias("bucket_w"),
            F.col("bh").cast("bigint").alias("bucket_h"),
            "n_images",
            "avg_pad_frac",
        )
        .orderBy("bucket_id")
    )


# ----------------------------------------------- audio QC (frame peaks)

AUDIO_QC_FRAME = 16  # samples per QC frame
AUDIO_QC_SILENT_PEAK = 256  # frame peak |s| below this -> silence
AUDIO_QC_CLIP_PEAK = 2040  # frame peak |s| at/above this -> clipping
# (synth_wav's PCM spans [-2048, 2047]; thresholds are INTEGER compares)


@query(
    "multimodal_audio_qc",
    # Closed-form oracle from synth_wav: audio docs (doc_id % 2 = 1)
    # carry n = 16 + n_chars % 50 samples s_i = ((doc_id*131 + i*17) %
    # 4096) - 2048; frame peaks, silence and clipping are pure integer
    # arithmetic on both engines.
    oracle=f"""
    WITH a AS (
      SELECT doc_id, 16 + n_chars % 50 AS n
      FROM documents WHERE doc_id % 2 = 1
    ), fr AS (
      SELECT doc_id, n,
             unnest(range(0, (n + {AUDIO_QC_FRAME} - 1) // {AUDIO_QC_FRAME})) AS f
      FROM a
    ), pk AS (
      SELECT doc_id,
             list_max(list_transform(
               range(f * {AUDIO_QC_FRAME}, least((f + 1) * {AUDIO_QC_FRAME}, n)),
               i -> abs((doc_id * 131 + i * 17) % 4096 - 2048))) AS peak
      FROM fr
    )
    SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_clips,
           CAST(count(*) AS BIGINT)               AS n_frames,
           CAST(sum(CASE WHEN peak < {AUDIO_QC_SILENT_PEAK} THEN 1 ELSE 0 END)
                AS BIGINT)                        AS n_silent,
           CAST(sum(CASE WHEN peak >= {AUDIO_QC_CLIP_PEAK} THEN 1 ELSE 0 END)
                AS BIGINT)                        AS n_clipped,
           round(sum(CASE WHEN peak < {AUDIO_QC_SILENT_PEAK} THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6)             AS frac_silent,
           round(sum(CASE WHEN peak >= {AUDIO_QC_CLIP_PEAK} THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6)             AS frac_clipped
    FROM pk
    """,
    doc=f"audio QC audit — the silence/clipping gate a speech-data "
    f"pipeline runs before transcription or training: every WAV is "
    f"REALLY decoded (RIFF chunk walk + PCM unpack, not metadata "
    f"trust), split into {AUDIO_QC_FRAME}-sample frames, and each "
    f"frame's peak |amplitude| classifies it silent "
    f"(< {AUDIO_QC_SILENT_PEAK}) or clipped (>= {AUDIO_QC_CLIP_PEAK}) "
    f"— all INTEGER compares, exact cross-engine; the oracle predicts "
    f"every frame peak from the generator's closed form, so a parser "
    f"off by one byte breaks the hash. One Arrow decode pass, per-doc "
    f"integer counts, one zero-key agg; payload bytes never shuffle "
    f"(north-star multimodal / data quality)",
    tags=("multimodal", "pipeline"),
)
def multimodal_audio_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    media = media_codec_table(spark, sf_dir)

    def qc(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, nf, ns, nc = [], [], [], []
            for doc_id, media_type, payload in zip(
                pdf["doc_id"], pdf["media_type"], pdf["payload"]
            ):
                if media_type != "audio":
                    continue
                _rate, _ch, samples = wav_pcm_samples(bytes(payload))
                a = np.abs(np.asarray(samples, dtype=np.int64))
                pad = (-len(a)) % AUDIO_QC_FRAME
                if pad:
                    # zero-pad the tail frame: |s| >= 0, so a 0 pad can
                    # never raise a frame's peak
                    a = np.concatenate([a, np.zeros(pad, dtype=np.int64)])
                peaks = a.reshape(-1, AUDIO_QC_FRAME).max(axis=1)
                ids.append(doc_id)
                nf.append(len(peaks))
                ns.append(int((peaks < AUDIO_QC_SILENT_PEAK).sum()))
                nc.append(int((peaks >= AUDIO_QC_CLIP_PEAK).sum()))
            yield pd.DataFrame(
                {"doc_id": ids, "n_frames": nf, "n_silent": ns, "n_clipped": nc}
            )

    per_doc = media.mapInPandas(
        qc, schema="doc_id bigint, n_frames bigint, n_silent bigint, n_clipped bigint"
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clips"),
        F.sum("n_frames").cast("bigint").alias("n_frames"),
        F.sum("n_silent").cast("bigint").alias("n_silent"),
        F.sum("n_clipped").cast("bigint").alias("n_clipped"),
        F.round(F.sum("n_silent") * 1.0 / F.sum("n_frames"), 6).alias("frac_silent"),
        F.round(F.sum("n_clipped") * 1.0 / F.sum("n_frames"), 6).alias("frac_clipped"),
    )


# ------------------------------------------------- audio SNR proxy

SNR_DB_FLOOR = 10.0  # scored docs below this amplitude-SNR are flagged


@query(
    "multimodal_audio_snr",
    oracle=f"""
    WITH aud AS (
      SELECT doc_id, source, 16 + n_chars % 50 AS n_samples
      FROM documents WHERE doc_id % 2 = 1
    ),
    samp AS (
      SELECT doc_id, source,
             i.i AS i,
             abs(((doc_id * 131 + i.i * 17) % 4096) - 2048) AS a
      FROM aud, (SELECT unnest(range(0, 66)) AS i) i
      WHERE i.i < n_samples
    ),
    fr AS (
      SELECT doc_id, source, CAST(floor(i / {VAD_FRAME}) AS BIGINT) AS f,
             CAST(sum(a) AS BIGINT) AS sa,
             CAST(count(*) AS BIGINT) AS fl
      FROM samp GROUP BY 1, 2, 3
    ),
    perdoc AS (
      SELECT doc_id, source,
             CAST(sum(CASE WHEN sa >= {VAD_THRESHOLD} * fl THEN 1 ELSE 0 END) AS BIGINT) AS n_act,
             CAST(sum(CASE WHEN sa >= {VAD_THRESHOLD} * fl THEN sa END) AS BIGINT) AS s_act,
             CAST(sum(CASE WHEN sa >= {VAD_THRESHOLD} * fl THEN fl END) AS BIGINT) AS l_act,
             CAST(sum(CASE WHEN sa < {VAD_THRESHOLD} * fl THEN 1 ELSE 0 END) AS BIGINT) AS n_sil,
             CAST(sum(CASE WHEN sa < {VAD_THRESHOLD} * fl THEN sa END) AS BIGINT) AS s_sil,
             CAST(sum(CASE WHEN sa < {VAD_THRESHOLD} * fl THEN fl END) AS BIGINT) AS l_sil
      FROM fr GROUP BY 1, 2
    ),
    scored AS (
      SELECT doc_id, source,
             CASE WHEN n_act > 0 AND n_sil > 0 AND s_sil > 0 THEN
               round(20.0 * log10(round((CAST(s_act AS DOUBLE) / l_act)
                                        / (CAST(s_sil AS DOUBLE) / l_sil), 6)), 6)
             END AS snr_db
      FROM perdoc
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_audio_docs,
           CAST(count(snr_db) AS BIGINT) AS n_scored,
           round(CAST(sum(CAST(round(snr_db, 6) AS DECIMAL(18,6))) AS DOUBLE)
                 / nullif(count(snr_db), 0), 6) AS mean_snr_db,
           round(CAST(sum(CASE WHEN snr_db < {SNR_DB_FLOOR} THEN 1 ELSE 0 END)
                      AS DOUBLE) / nullif(count(snr_db), 0), 6) AS frac_low_snr
    FROM scored GROUP BY source ORDER BY source
    """,
    doc=f"per-source audio SNR proxy (the energy-VAD-based estimate a "
    f"speech pipeline gates ingest on before transcription — active-"
    f"frame mean amplitude over silent-frame mean amplitude, in dB): "
    f"frames come from the SAME real RIFF/PCM decode + {VAD_FRAME}-"
    f"sample framing as multimodal_vad_segments, split at the VAD "
    f"activity gate; docs lacking either frame class (all speech or "
    f"all silence) stay unscored rather than faking infinity. "
    f"Amplitude ratio 6dp-rounded BEFORE log10 and the dB after (the "
    f"transcendental discipline); per-source means from 6dp-decimal "
    f"sums; frac below the {SNR_DB_FLOOR:.0f} dB floor is the gate "
    f"readout. Integer frame sums end to end until the one ratio, so "
    f"the closed-form generator proves decode + framing byte-exactly; "
    f"payloads never leave executors, one Arrow pass, then "
    f"|sources|-bounded math",
    tags=("multimodal",),
)
def multimodal_audio_snr(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"doc_id": [], "source": [], "sa": [], "fl": []}
            for doc_id, src, nc in zip(
                pdf["doc_id"].tolist(),
                pdf["source"].tolist(),
                pdf["n_chars"].tolist(),
            ):
                if doc_id % 2 != 1:
                    continue
                meta = decode_wav(synth_wav(doc_id, nc))
                raw = synth_wav(doc_id, nc)
                data = raw[len(raw) - meta["n_units"] * 2:]
                samples = struct.unpack(f"<{meta['n_units']}h", data)
                for f in range((len(samples) + VAD_FRAME - 1) // VAD_FRAME):
                    frm = samples[f * VAD_FRAME : (f + 1) * VAD_FRAME]
                    rows["doc_id"].append(doc_id)
                    rows["source"].append(src)
                    rows["sa"].append(int(sum(abs(s) for s in frm)))
                    rows["fl"].append(len(frm))
            yield pd.DataFrame(rows)

    fr = d.select("doc_id", "source", "n_chars").mapInPandas(
        batches, schema="doc_id bigint, source string, sa bigint, fl bigint"
    )
    act = F.col("sa") >= VAD_THRESHOLD * F.col("fl")
    perdoc = fr.groupBy("doc_id", "source").agg(
        F.sum(act.cast("long")).cast("bigint").alias("n_act"),
        F.sum(F.when(act, F.col("sa"))).cast("bigint").alias("s_act"),
        F.sum(F.when(act, F.col("fl"))).cast("bigint").alias("l_act"),
        F.sum((~act).cast("long")).cast("bigint").alias("n_sil"),
        F.sum(F.when(~act, F.col("sa"))).cast("bigint").alias("s_sil"),
        F.sum(F.when(~act, F.col("fl"))).cast("bigint").alias("l_sil"),
    )
    ratio = F.round(
        (F.col("s_act").cast("double") / F.col("l_act"))
        / (F.col("s_sil").cast("double") / F.col("l_sil")),
        6,
    )
    scored = perdoc.select(
        "source",
        F.when(
            (F.col("n_act") > 0) & (F.col("n_sil") > 0) & (F.col("s_sil") > 0),
            F.round(F.lit(20.0) * F.log10(ratio), 6),
        ).alias("snr_db"),
    )
    n_scored = F.count("snr_db")
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_audio_docs"),
            n_scored.cast("bigint").alias("n_scored"),
            F.round(
                F.sum(F.round(F.col("snr_db"), 6).cast("decimal(18,6)"))
                .cast("double")
                / F.nullif(n_scored, F.lit(0)),
                6,
            ).alias("mean_snr_db"),
            F.round(
                F.sum(
                    F.when(F.col("snr_db") < SNR_DB_FLOOR, 1).otherwise(0)
                ).cast("double")
                / F.nullif(n_scored, F.lit(0)),
                6,
            ).alias("frac_low_snr"),
        )
        .orderBy("source")
    )
