"""Structured Streaming ingestion — the async-submit path as a stream.

The reference's async lane is submit -> queue -> worker -> poll
(/root/reference/src/routes/ocr.py:84-126 enqueue; queue_manager.py:
998-1027 worker pool; routes/jobs.py:12-64 poll). SURVEY §2.9 found no
true streaming operators (no watermarks/event-time state), so batch is the
primary execution mode; this module provides the continuous-arrival analog
for deployments where raw documents land in a table/directory over time:

    readStream (file source, exactly-once file tracking)
      -> extract_auto (same kernel, unchanged)
      -> writeStream parquet sink + checkpoint

Checkpointing gives the crash-resume semantics the reference implements
by hand (job persistence across restarts, API_DOCUMENTATION.md:166-171);
Trigger.AvailableNow drains the backlog and stops — the batch-job analog
of the reference's bounded queue drain.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..model import DOCS_RAW_SCHEMA
from ..operators.dispatch import extract_auto


def stream_extract(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start the streaming extraction; returns the StreamingQuery.
    One file-arrival = one micro-batch of documents; the kernel is the
    same narrow mapInArrow as the batch path."""
    raw = (
        spark.readStream.schema(DOCS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "8")
        .parquet(in_dir)
    )
    extracted = extract_auto(raw)
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
