"""Per-host sampling caps, gates, train/test split — the reference's skew
and memory controls (SURVEY.md §2.11), as deterministic DataFrame ops.

Parity targets:
- per-host cap p = cap/count     — PatternJob.java:250-262 (cap 500k),
  host counts joined as a side input (PatternJob.java:200-239);
- per-host custom caps           — GarbagePageUrlPatternJob.java:261-266;
- min-size gates                 — PatternJob.java:263-265 (100k),
  GarbagePageUrlPatternJob.java:285-287 (50);
- 75/25 ordered train/test split — GarbagePageUrlPatternJob.java:296-304;
- host-count reporting           — StatisticJob.java:197-220.

Determinism: the reference samples with ``Random`` — irreproducible. We keep
a row iff ``pmod(xxhash64(url, salt), 1e6) < p*1e6``: same rows every run,
any partitioning, and the per-host *expected* rate equals the reference's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from url_pattern_algorithm_spark.scaling import gated_dim

DEFAULT_CAP = 500_000  # PatternJob.java:256
_PRECISION = 1_000_000


def host_counts(urls: DataFrame) -> DataFrame:
    """(host, host_count) — the reference's precomputed stats table."""
    return urls.groupBy("host").agg(F.count("*").alias("host_count"))


def cap_per_host(
    urls: DataFrame,
    cap: int = DEFAULT_CAP,
    custom_caps: dict[str, int] | None = None,
    seed: int = 42,
    keep_hash=None,
    est_hosts: int | None = None,
) -> DataFrame:
    """Thin each host to <= ~cap URLs, keeping each row with p = cap/count.

    ``custom_caps`` mirrors the hot-host overrides (m.newsmth.net -> 1M etc,
    GarbagePageUrlPatternJob.java:261-266). The keep-decision hashes the URL
    (never rand()) so reruns and the oracle agree. The counts dimension
    grows with DISTINCT HOSTS: the broadcast hint is size-gated
    (scaling.broadcast_if_small) — past the threshold the join is left to
    AQE. ``est_hosts`` supplies a caller-known host cardinality; when None
    a bounded probe decides over a tracked-persisted counts dimension
    (the probe materializes the aggregation once; the join reads the
    cache — no second fact-side scan).

    ``keep_hash`` overrides the keep-decision hash column (must be uniform in
    [0, 1e6)); default is the fast built-in xxhash64. The oracle queries pass
    an md5-derived column DuckDB can reproduce.
    """
    counts = host_counts(urls)
    if custom_caps:
        mapping = F.create_map(
            *[F.lit(x) for kv in custom_caps.items() for x in kv]
        )
        cap_col = F.coalesce(mapping[F.col("host")], F.lit(cap))
    else:
        cap_col = F.lit(cap)
    if keep_hash is None:
        keep_hash = F.pmod(F.xxhash64(F.col("url"), F.lit(seed)), F.lit(_PRECISION))
    joined = urls.join(gated_dim(counts, est_hosts), "host")
    p = F.least(F.lit(1.0), cap_col / F.col("host_count"))
    keep = keep_hash < (p * _PRECISION)
    return joined.filter(keep).drop("host_count")


def gate_min_host_size(urls: DataFrame, min_size: int,
                       est_hosts: int | None = None) -> DataFrame:
    """Keep only hosts with >= min_size URLs (reducer early-return gates).
    The qualifying-host dimension is size-gated like cap_per_host's."""
    counts = host_counts(urls).filter(F.col("host_count") >= min_size)
    return urls.join(
        gated_dim(counts.select("host"), est_hosts), "host",
        "left_semi",
    )


def train_test_split(urls: DataFrame, train_frac: float = 0.75,
                     order_col=None) -> DataFrame:
    """Ordered 75/25 split per host (GarbagePageUrlPatternJob.java:296-304):
    first ceil(0.75n) rows are train. The reference's 'order' is reducer
    arrival order (nondeterministic); we define it as (url_hash ASC) — the
    documented deterministic replacement (override with ``order_col``).
    Adds is_train boolean."""
    if order_col is None:
        order_col = F.xxhash64("url").asc()
    w = Window.partitionBy("host").orderBy(order_col)
    wc = Window.partitionBy("host")
    return urls.withColumn("_rn", F.row_number().over(w)).withColumn(
        "is_train",
        F.col("_rn") <= F.ceil(F.count("*").over(wc) * train_frac),
    ).drop("_rn")


def big_hosts_report(urls: DataFrame, threshold: int = 400_000) -> DataFrame:
    """StatisticJob.java:209-211: hosts with > threshold URLs."""
    return (
        urls.groupBy("host")
        .agg(F.count("*").alias("url_count"))
        .filter(F.col("url_count") > threshold)
    )
