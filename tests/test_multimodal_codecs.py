"""Real pure-Python PPM/WAV codec tests + data-quality-audit
robustness (the codec query is value-checked, not rows-only, and the
fused FK/range audit must survive PK violations)."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from http_datafusion_spark.operators.multimodal import (
    decode_ppm,
    decode_real,
    decode_wav,
    media_codec_table,
    resize_ppm,
    synth_ppm,
    synth_wav,
)


def test_ppm_round_trip_and_closed_form():
    for doc_id, n_chars in [(0, 0), (7, 13), (1234, 987), (10**9, 3)]:
        m = decode_ppm(synth_ppm(doc_id, n_chars))
        w, h = 4 + doc_id % 5, 1 + n_chars % 7
        assert (m["width"], m["height"], m["maxval"]) == (w, h, 255)
        assert m["n_units"] == 3 * w * h
        assert m["unit_sum"] == sum(
            (doc_id * 31 + i * 7) % 256 for i in range(3 * w * h)
        )


def test_ppm_parser_is_a_real_parser():
    # Comments + arbitrary whitespace in the header (netpbm spec).
    p = b"P6\n# comment line\n  2\t1 # trailing\n255\n" + bytes(range(6))
    m = decode_ppm(p)
    assert (m["width"], m["height"]) == (2, 1) and m["unit_sum"] == sum(range(6))
    # Raster begins exactly ONE whitespace byte after maxval: a raster
    # whose first byte is 0x20 (space) must NOT be skipped.
    p2 = b"P6\n1 1\n255\n" + bytes([0x20, 0x00, 0x00])
    assert decode_ppm(p2)["unit_sum"] == 0x20
    with pytest.raises(ValueError):
        decode_ppm(b"P5\n1 1\n255\n\x00")  # wrong magic (PGM)
    with pytest.raises(ValueError):
        decode_ppm(b"P6\n2 2\n255\n" + bytes(5))  # truncated raster


def test_wav_round_trip_chunk_walk_and_closed_form():
    for doc_id, n_chars in [(0, 0), (5, 49), (999, 200)]:
        wav = synth_wav(doc_id, n_chars)
        m = decode_wav(wav)
        n = 16 + n_chars % 50
        assert m["sample_rate"] == 8000 + (doc_id % 4) * 4000
        assert m["n_units"] == n
        assert m["unit_sum"] == sum(
            abs(((doc_id * 131 + i * 17) % 4096) - 2048) for i in range(n)
        )
    # Chunk walk must skip unknown chunks and honor the odd-size pad.
    wav = synth_wav(7, 3)
    junk = b"JUNK" + struct.pack("<I", 3) + b"abc" + b"\x00"
    assert decode_wav(wav[:12] + junk + wav[12:]) == decode_wav(wav)
    with pytest.raises(ValueError):
        decode_wav(b"RIFF" + struct.pack("<I", 4) + b"AVI ")


def test_resize_ppm_is_a_real_resample():
    # 2x1 image, distinct pixels; upscale to 4x2 must replicate
    # nearest-neighbor style, and the output must re-parse as valid P6.
    src = b"P6\n2 1\n255\n" + bytes([10, 10, 10, 200, 200, 200])
    out = resize_ppm(src, 4, 2)
    m = decode_ppm(out)
    assert (m["width"], m["height"]) == (4, 2)
    raster = out[len(out) - m["n_units"] :]
    # left half maps to pixel 0, right half to pixel 1, both rows.
    assert raster == bytes([10] * 6 + [200] * 6) * 2


def test_decode_real_dispatch():
    assert decode_real(synth_ppm(2, 2), "image")["width"] == 4 + 2 % 5
    assert decode_real(synth_wav(3, 3), "audio")["sample_rate"] == 8000 + 3 % 4 * 4000
    with pytest.raises(NotImplementedError):
        decode_real(b"anything", "video")


def test_media_codec_table_payloads_decode_on_executors(spark, sf_dir):
    media = media_codec_table(spark, sf_dir)
    sample = media.orderBy("doc_id").limit(4).collect()
    assert sample, "codec table is empty"
    for r in sample:
        kind = "image" if r.doc_id % 2 == 0 else "audio"
        assert r.media_type == kind
        meta = decode_real(bytes(r.payload), kind)
        assert meta["n_units"] > 0


def test_data_quality_audit_range_count_survives_pk_violation(spark, tmp_path):
    """With duplicate o_orderkey rows the fused
    FK/range scan must still count out-of-range quantities against RAW
    lineitem rows (the checks stay independent)."""
    import os

    from http_datafusion_spark.operators.pipeline import data_quality_audit

    d = str(tmp_path)
    # orders with a DUPLICATED pk (1 appears twice)
    spark.createDataFrame(
        [(1,), (1,), (2,)], "o_orderkey bigint"
    ).write.parquet(os.path.join(d, "orders.parquet"))
    # lineitem: orderkey 1 has qty 99 (out of range, must count ONCE),
    # orderkey 3 dangles (FK violation), orderkey 2 is clean.
    spark.createDataFrame(
        [(1, 99.0), (2, 10.0), (3, 5.0)], "l_orderkey bigint, l_quantity double"
    ).write.parquet(os.path.join(d, "lineitem.parquet"))
    spark.createDataFrame([(1, 0.0)], "c_custkey bigint, c_acctbal double").write.parquet(
        os.path.join(d, "customer.parquet")
    )
    spark.createDataFrame([(1, "x")], "doc_id bigint, text string").write.parquet(
        os.path.join(d, "documents.parquet")
    )
    rows = {r.check_name: r for r in data_quality_audit(spark, d).collect()}
    assert rows["orders_pk_unique"].violations == 1
    assert not rows["orders_pk_unique"].passed
    assert rows["lineitem_orders_fk"].violations == 1
    # The duplicate PK must NOT double-count the out-of-range row.
    assert rows["lineitem_qty_in_range"].violations == 1


def test_vid_container_round_trip_and_closed_form():
    """synth_vid -> decode_vid: frame count, per-frame luminance sums
    and raster sizes all match the closed-form generator; the decoder
    walks real length prefixes and parses each embedded PPM."""
    from http_datafusion_spark.operators.multimodal import (
        VID_FRAME_H,
        VID_FRAME_W,
        decode_vid,
        synth_vid,
    )

    for doc_id, n_chars in ((2, 7), (5, 0), (98, 123)):
        frames = decode_vid(synth_vid(doc_id, n_chars))
        assert len(frames) == 4 + n_chars % 12
        npx = VID_FRAME_W * VID_FRAME_H * 3
        for f, ls, n in frames:
            assert n == npx
            assert ls == ((doc_id * 31 + f * 97) % 256) * npx


def test_vid_decoder_is_a_real_parser():
    import struct

    import pytest

    from http_datafusion_spark.operators.multimodal import decode_vid, synth_vid

    with pytest.raises(ValueError):
        decode_vid(b"NOPE" + b"\x00" * 16)
    # corrupt an embedded frame's PPM magic -> the PPM parser objects
    good = bytearray(synth_vid(3, 9))
    pos = 6 + 4  # magic + count + first length prefix
    assert good[pos : pos + 2] == b"P6"
    good[pos] = ord("X")
    with pytest.raises(ValueError):
        decode_vid(bytes(good))
