"""SparkSession factory tuned for the extraction workload.

Mirrors the reference's process/thread sizing discipline
(/root/reference/entrypoint.sh:12, pdf_processor.py:96 set OMP_NUM_THREADS;
docs/DEPLOYMENT_GUIDE.md:126-165 size workers to cores) — on Spark the
equivalents are shuffle-partition sizing, AQE, and Arrow batching.

Iceberg: the production design writes Iceberg tables (ACID snapshots give
the resume/checkpoint semantics of the reference's job store,
src/services/job_db.py:100-121). The sandbox has no Iceberg runtime jar,
so `iceberg=True` is attempted only when the jar is present; all IO goes
through sources/io.py which degrades to parquet-with-manifest while
keeping identical semantics (idempotent overwrite-by-doc_id, lineage,
anti-join resume).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _iceberg_jar_available() -> bool:
    try:
        import pyspark

        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        return any("iceberg-spark-runtime" in j for j in os.listdir(jars))
    except OSError:
        return False


def get_spark(
    app_name: str = "docling_fast_server_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    ui: bool = False,
    warehouse: str | None = None,
) -> SparkSession:
    """Build a local SparkSession with AQE + Arrow enabled.

    ``cores=None`` -> ``local[*]``. On a real cluster the same configs are
    passed to spark-submit; nothing here is local-mode-only.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else 0
    master = f"local[{cores}]" if cores else "local[*]"
    n_shuffle = shuffle_partitions or (cores if cores else os.cpu_count() or 8)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize Python round-trips in the UDF kernel
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # reference bounds OMP threads per worker (pdf_processor.py:96);
        # same discipline: one compute thread per python worker
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.python.worker.reuse", "true")
        # generated-class cache sized to the working set, so a repeated
        # plan reuses its compiled class instead of recompiling it with
        # Janino and re-JITting it: the 50-query registry at sf0.001
        # generates about 570 distinct classes, and a perfbench
        # corpus_prep pass recompiles 174 classes at the default of 100
        # entries and none at 2048. Static conf: only the builder can
        # set it.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        # ...and the generated source does not carry the whole-stage
        # codegen stage id in its class name. With the id in it, a
        # corpus_prep pass repeated in one session sometimes compiled a
        # scan-filter-aggregate stage's class again
        # (tests/test_codegen_cache.py failed 2 of 6 runs after its
        # neighbouring tests; 10 of 10 passed with this setting)
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    if warehouse:
        b = b.config("spark.sql.warehouse.dir", warehouse)
    if _iceberg_jar_available():
        b = (
            b.config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.local.type", "hadoop")
            .config(
                "spark.sql.catalog.local.warehouse",
                warehouse or "/tmp/dfss_warehouse",
            )
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
