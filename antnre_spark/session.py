"""SparkSession builder with scale-oriented defaults (SURVEY.md §0.3, §4).

Defaults are tuned for the sandbox (local[N], single JVM) but every setting
is the one we would ship to a 1000-executor cluster:

- AQE on (skew-join splitting + partition coalescing — BASELINE.json:6's
  "AQE skew-join splitting" obligation is config, not code; SURVEY.md §4.1).
- Arrow on with a capped records-per-batch so a pandas-UDF batch can never
  blow up a Python worker (size-capped extraction batches, SURVEY.md §4.3.3).
- UTC session timezone so timestamp semantics are machine-independent.
- shuffle.partitions sized by caller: tests use 8-32; a real cluster would
  use ~2-3x total cores (AQE coalesces the excess).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# 512 is sized for the WORST row shape (multimodal binary payloads); the
# sentence-shaped extraction stage tolerates much larger batches — override
# per run with $SPARK_GRAFT_ARROW_BATCH when the job has no blob columns.
# (r8 probe, REVERTED: a 2048 default won ~9% on the extraction rows —
# Spark 4's arrow.maxBytesPerBatch keeps blob transfers byte-bounded
# regardless — but consistently LOST 15-40% on the MinHash rows, whose
# signature UDF builds [K, total_grams] int64 temporaries per batch:
# 4x the docs per batch pushes those past the allocator-friendly range
# across 32 concurrent workers. Net negative; per-job overrides remain
# the right tool.)
ARROW_MAX_RECORDS_PER_BATCH = int(os.environ.get("SPARK_GRAFT_ARROW_BATCH", "512"))


def get_spark(
    app_name: str = "antnre-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    ``cores=None`` → honor $SPARK_GRAFT_CPUS, else local[*].
    """
    if cores is not None:
        master = f"local[{cores}]"
    else:
        env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env_cpus}]" if env_cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = 32

    # one BLAS thread per python worker: the workers themselves are the
    # parallelism; nested BLAS threads oversubscribe cores (set before the
    # JVM starts so forked python workers inherit it)
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    os.environ.setdefault("OMP_NUM_THREADS", "1")

    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # local mode: the one JVM is driver AND all executors — the 1g
        # default heap OOMs under real load on this 128 GiB box
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce small shuffles aggressively (size-based, not
        # parallelism-first): the compute-bound model stage owns its
        # parallelism via an EXPLICIT repartition to one partition per
        # core (assemble.partition_for_extraction), which AQE never
        # coalesces, so letting AQE shrink the many tiny linking/agg
        # shuffles does not starve the model stage (a measured 3x
        # slowdown when it did) — it only removes empty-task scheduling
        # overhead.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    for key, value in (extra or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
