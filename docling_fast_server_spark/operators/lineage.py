"""Per-partition lineage + extraction metrics — the job-store analog.

The reference persists one row per job with status/timestamps/summary
(/root/reference/src/services/job_db.py:100-121 jobs table;
queue_manager.py:366-401 result summary; job states job.py:21-34).
Rows are the queue here, so job-level state collapses to per-partition
lineage rows: which partition of which run processed how many documents,
how many spans/errors, which conversion tiers — enough to audit a run and
to resume it.

Resume semantics (the find_duplicate_job / 409 analog,
queue_manager.py:917-929 and ocr.py:99-103): a re-run anti-joins the
input against already-committed doc_ids and processes only the remainder.
The committed doc_ids are the output table's manifest key set
(sources.io.committed_keys: one key column, read from the key files the
commit manifests reference), not a plain read of the table, which would
also see the rows of a writer that crashed before its manifest publish.
The write path is append-only with job-commit atomicity, so re-executed
tasks never double-write (Spark's parquet commit protocol stages and
renames — the atomic-write discipline of queue_manager.py:527-541).

The lineage rows (lineage_summary) are NOT counted on the write: they are
aggregated from a read-back of the files the run's commit added, so they
count what committed even when a racing writer's commit dropped some of
this run's rows. Under sources.io.ONE_TASK_ROWS committed rows the
aggregate and its append are one job of one task (no exchange); above
it, an aggregate-and-append job pair. The
commit's own row and key counts are observed on its staging writes
(sources.io.merge_append_table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def with_partition_metrics(extracted: DataFrame, run_id: str) -> DataFrame:
    """Attach run/partition provenance columns to each extracted row.
    spark_partition_id is evaluated before any later exchange, so it
    records the extraction partition (the worker_info analog,
    job.py:31)."""
    return extracted.withColumns(
        {
            "run_id": F.lit(run_id),
            "partition_id": F.spark_partition_id().cast("int"),
        }
    )


def lineage_summary(extracted_with_meta: DataFrame) -> DataFrame:
    """Aggregate per-partition lineage rows (LINEAGE_SCHEMA shape).
    One map-side-combinable groupBy — no wide shuffle beyond the tiny
    (run_id, partition_id) keyspace."""
    return extracted_with_meta.groupBy("run_id", "partition_id").agg(
        F.lit("completed").alias("status"),
        F.count(F.lit(1)).cast("long").alias("doc_count"),
        F.sum(F.size("spans")).cast("long").alias("span_count"),
        F.sum((F.col("conversion_method") == "failed").cast("int")).cast("long").alias("error_count"),
        F.sum((F.col("conversion_method") == "default").cast("int")).cast("long").alias("method_default"),
        F.sum((F.col("conversion_method") == "limited").cast("int")).cast("long").alias("method_limited"),
        F.sum(
            F.aggregate(
                F.transform("spans", lambda s: F.coalesce(F.length(s["text"]), F.lit(0))),
                F.lit(0),
                lambda acc, x: acc + x,
            )
        ).cast("long").alias("total_characters"),
    )


def anti_join_committed(raw: DataFrame, committed_doc_ids: DataFrame) -> DataFrame:
    """The resume operator: keep only docs not yet committed. No distinct
    on the committed side: a left-anti join's result does not depend on
    duplicate right-side keys, and the aggregate would only add a shuffle
    stage in front of the join."""
    return raw.join(committed_doc_ids.select("doc_id"), "doc_id", "left_anti")
