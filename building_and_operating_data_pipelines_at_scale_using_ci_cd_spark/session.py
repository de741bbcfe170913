"""SparkSession factory with job-level conf passthrough.

The reference passes per-job Spark confs straight through its config
(``spark.json:3-6`` ``sparkConfig``; ``example-shareprice.py:148-151``
``--conf spark.sql.broadcastTimeout=3000``). We do the same, layered on
scale-oriented defaults: AQE (runtime re-planning, skew-join splitting,
partition coalescing), Arrow for any Python exchange, and a UTC session
timezone for deterministic timestamp semantics.

Designed for a 1000-executor cluster; tested on local[N]. Nothing here is
local-mode-specific except the default master.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Scale-posture defaults. Every one of these is overridable per job via
#: the config dialect's ``sparkConfig`` map (reference ``spark.json:3-6``).
DEFAULT_CONFS: dict[str, str] = {
    # Runtime re-planning: coalesce post-shuffle partitions, split skewed
    # joins, convert sort-merge→broadcast when a side turns out small.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batching for every pandas UDF / toPandas crossing.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # Reference scan/write sizing posture (spark.json:4-5).
    "spark.sql.files.maxPartitionBytes": "134217728",
    # ANSI off: the dialect tolerates dirty data via the error lane, not
    # runtime exceptions.
    "spark.sql.ansi.enabled": "false",
}


def get_session(
    app_name: str = "pipelines-spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults + overrides.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset and no
    cluster manager is configured — on a real cluster, spark-submit's
    ``--master`` wins because we only set it when explicitly asked.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif "SPARK_GRAFT_CPUS" in os.environ:
        builder = builder.master(f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
    if master is None or master.startswith("local"):
        # local[N] is a single JVM: "driver" memory IS all working memory,
        # and Spark's 1g default starves broadcast builds / shuffles on a
        # big machine. Only effective at JVM launch; on a real cluster the
        # submit-time --driver-memory wins because we never set master.
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )

    confs = dict(DEFAULT_CONFS)
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def apply_job_confs(spark: SparkSession, confs: dict[str, str]) -> list[str]:
    """Apply a job's ``sparkConfig`` map to a live session (O8 passthrough,
    reference ``spark.json:3-6``). Only runtime-mutable SQL confs take
    effect on a live session; that covers the dialect's documented keys.

    Returns the keys the session refused, in config order; the job runs
    on without them."""
    not_applied = []
    for k, v in confs.items():
        try:
            spark.conf.set(k, str(v))
        except Exception:
            # Static confs (executor memory etc.) can't change post-launch;
            # the reference applies those at submit time (deploy.yaml:16-18).
            not_applied.append(k)
    return not_applied
