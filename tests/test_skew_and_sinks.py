"""Streaming foreachBatch exactly-once-style parquet sink."""

from __future__ import annotations

import os

from http_datafusion_spark.plans.tables import load_tables
from http_datafusion_spark.streaming.queries import read_events_stream


def test_foreachbatch_parquet_sink(spark, sf_dir, tmp_path):
    out = str(tmp_path / "sink")
    stream = read_events_stream(spark, sf_dir)

    def write_batch(batch_df, epoch_id):
        # idempotent-by-epoch layout: the exactly-once pattern for
        # non-transactional sinks.
        batch_df.write.mode("overwrite").parquet(os.path.join(out, f"epoch={epoch_id}"))

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    written = spark.read.parquet(out)
    expected = load_tables(spark, sf_dir, "events")["events"].count()
    assert written.count() == expected
