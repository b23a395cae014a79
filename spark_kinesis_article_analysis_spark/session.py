"""SparkSession factory tuned for the test harness and for scale.

The reference builds its session at ``reference/app/process_articles.py:40-50``
(appName + master + s3a + checkpoint conf). Here the factory additionally
pins everything that matters for correctness (UTC session timezone — the
DuckDB oracle compares naive-UTC timestamps) and for 100 TB posture (AQE,
skew-join handling, sane shuffle partitioning, Arrow for the Pandas-UDF
paths).

On a real cluster only ``master`` and the shuffle-partition count change;
the plan-shaping configs below are scale-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: Python worker daemon that starts workers without Spark's archives on
#: their import path (see ``worker_daemon``).
WORKER_DAEMON = f"{__package__}.worker_daemon"


def _workers_import_package(master: str, extra_conf: dict[str, str]) -> bool:
    """Whether Python workers can import this package when their daemon
    starts, judged from the paths they will see: ``spark.executorEnv.PYTHONPATH``;
    in local mode also this process's ``PYTHONPATH`` and its working
    directory, which ``python -m`` puts first on the path."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen = extra_conf.get("spark.executorEnv.PYTHONPATH", "").split(os.pathsep)
    if master.startswith("local"):
        seen += os.environ.get("PYTHONPATH", "").split(os.pathsep)
        if not os.environ.get("PYTHONSAFEPATH"):
            seen.append(os.getcwd())
    return any(p and os.path.abspath(p) == root for p in seen)


def get_spark(
    app_name: str = "spark_kinesis_article_analysis_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Local mode: one JVM, ``local[N]`` threads. Cluster mode: pass
    ``master`` and raise ``shuffle_partitions`` to ~2-3x total cores
    (at 100 TB: thousands; AQE coalesces small post-shuffle partitions
    back down, so over-provisioning the static number is safe).
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    extra_conf = extra_conf or {}
    shuffle_partitions = shuffle_partitions or DEFAULT_CPUS
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- correctness-critical ---
        # DuckDB oracle timestamps are naive UTC; pin the session TZ so
        # Spark's TIMESTAMP (_LTZ) round-trips identically.
        .config("spark.sql.session.timeZone", "UTC")
        # --- scale posture (plan shaping; holds at any SF) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # 10 MB broadcast threshold is Spark's default; keep explicit so a
        # cluster profile can widen it. Dim tables (region/nation/customer/
        # supplier/part) stay broadcast even at 100 TB fact scale.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # Runtime bloom-filter pushdown: on selective non-broadcast joins the
        # optimizer builds a bloom filter on the filtered build side and
        # semi-filters the probe-side SCAN before the shuffle — at 100 TB
        # this is the difference between shuffling the full fact table and
        # shuffling only rows that can match (verified in
        # tests/test_scale_layout.py::TestRuntimeBloomFilter).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Python DataSource filter pushdown: required for sources that
        # implement pushFilters() (Spark 4 refuses the read otherwise) —
        # the article_replay source prunes shard files through this.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # --- Python boundary: Arrow batches for the Pandas-UDF slow path ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local-mode niceties; harmless on a cluster
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    # Python workers skip the per-task re-read of pyspark.zip and the
    # spark-core jar (worker_daemon); Spark's stock daemon otherwise.
    if _workers_import_package(master, extra_conf):
        b = b.config("spark.python.daemon.module", WORKER_DAEMON)
    for k, v in extra_conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
