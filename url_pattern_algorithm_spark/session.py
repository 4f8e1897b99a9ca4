"""SparkSession factory with the configuration the engine assumes.

Scale design (100 TB / 1000-executor target, tested on local[N]):
- AQE on: runtime partition coalescing + skew-join splitting replace the
  reference's hand-tuned MR knobs (PatternJob.java:79-85).
- Arrow on: every custom kernel crosses the JVM/Python boundary as Arrow
  batches (pandas UDFs), never row-at-a-time.
- shuffle.partitions is 32 (``SPARK_GRAFT_SHUFFLE`` or ``shuffle_partitions``
  overrides it); AQE coalesces each shuffle from that initial number, and on
  a real cluster the initial number is set deliberately high.
- Cached plans may change their output partitioning. Spark's default pins a
  persisted frame at its shuffle's initial partition count, so every Python
  UDF stage reading one would run that many mostly-empty tasks; allowing the
  change lets AQE coalesce the final stage of a persisted plan like any
  other.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "url-pattern-frontier",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# ---------------------------------------------------------------------------
# Persisted-frame registry. Bench/correctness sessions run dozens of queries
# on ONE SparkSession, and a query-scoped persist that outlives its terminal
# action leaks cached blocks for the session lifetime (r2 ADVICE). Queries
# persist through persist_tracked(); the query registry releases the
# previous query's frames when the next query starts (the returned DataFrame
# has been consumed by then; recompute stays correct regardless — all
# kernels are deterministic).
# ---------------------------------------------------------------------------

_PERSISTED: list = []

# Direct library callers (anything reaching gated_dim outside the query
# registry's _with_release wrappers) never drain the registry, so it is
# BOUNDED: beyond this many tracked frames the OLDEST are evicted
# (unpersisted). Eviction makes recompute possible, so ONLY frames whose
# lineage is deterministic may be tracked here (all kernels are) — a frame
# whose assignment is partition-dependent (monotonically_increasing_id,
# rand) must freeze via localCheckpoint instead, never persist_tracked
# (see operators/rewrite.cluster_rows_from_text). Sized above any single
# query's persist count (the widest plan tracks 4) times a few in-flight
# queries.
_MAX_TRACKED = 32


def persist_tracked(df):
    _PERSISTED.append(df.persist())
    while len(_PERSISTED) > _MAX_TRACKED:
        try:
            _PERSISTED.pop(0).unpersist()
        except Exception:
            pass
    return df


def release_persisted() -> None:
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist()
        except Exception:
            pass
