"""Session sizing for the machine the benchmark runs on.

- ``local[<usable cores>]``; shuffle partitions = cores;
- driver heap = a quarter of RAM, at most 2 GiB (the product default of
  16g does not fit a 15 GiB machine; a smaller heap grows less from run to
  run, which steadies peak memory);
- console progress bar off;
- the checkout root on the Python workers' path (``mapInPandas`` closures
  import ``antnre_spark`` inside the worker);
- every scratch directory (Spark local dirs, java.io.tmpdir, TMPDIR, the
  warehouse, the event log) inside the run's work directory, so a run
  writes nothing outside its checkout.

The event log (uncompressed, not rolling) is written only for traced runs.
"""

from __future__ import annotations

import os
import tempfile


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(1024, min(2048, total_mb // 4))
    return 2048


def start_spark(repo: str, work: str, app: str, event_log_dir: str | None = None):
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # pyspark's gateway hand-off file goes through tempfile
    # every JVM (the spark-submit launcher too): temp files in the work dir,
    # and no /tmp/hsperfdata_* performance-data file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_mb()}m"
    paths = [repo, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    cores = usable_cores()
    java_opts = f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp}"
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
        "spark.executorEnv.PYTHONPATH": repo,
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    from antnre_spark.session import get_spark

    spark = get_spark(app, cores=cores, shuffle_partitions=cores, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark
