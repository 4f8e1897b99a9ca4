"""Distributed rewrite-rule learning + application (EP1 parity, SURVEY.md §2.8).

Learning is per-host (trees and clusters never span hosts), so it runs as one
grouped-map pandas UDF per host over the cluster rows — the same
distribution boundary the reference's local main() would have if sharded
(Fun.java:519-569). Application cogroups each host's URLs with that host's
rules (RewriteTool.java:29-48's per-host side input) in one Arrow task.
Every URL enters Python; one whose host has no rules passes through without
a match attempt.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from url_pattern_algorithm_spark.kernel.rules import (
    Cluster,
    candidate_rule_generation,
    emit_rules,
    rewrite_url,
    select_deployable_rules,
)
from url_pattern_algorithm_spark.kernel.tree import TreeBuilder, Url

RULES_SCHEMA = "host string, rule_id int, pattern string, rule string"


def learn_rules_for_host(urls: list[Url], clusters: list[Cluster]):
    """Pure kernel: EP1 learning for one host's clusters (Fun.java:536-548)."""
    b = TreeBuilder()
    b.build(urls)
    candidate_rule_generation(b, clusters)
    select_deployable_rules(b)
    return emit_rules(b)


def learn_rules(cluster_rows: DataFrame, min_cluster_size: int = 10) -> DataFrame:
    """(host, cluster_id, url) -> rules table (host, rule_id, pattern, rule).

    Clusters <= min_cluster_size are dropped (InputUtil.java:177). Rule order
    within a host is the deterministic BFS emission order — it IS the match
    precedence at application time.
    """

    def learn(pdf: pd.DataFrame) -> pd.DataFrame:
        host = pdf["host"].iloc[0]
        clusters: list[Cluster] = []
        urls: list[Url] = []
        for _, grp in pdf.sort_values(["cluster_id", "url"]).groupby("cluster_id"):
            members = [Url.parse(u) for u in grp["url"]]
            members = [m for m in members if m is not None]
            if len(members) <= min_cluster_size:
                continue
            clusters.append(Cluster(urls=members))
            urls.extend(members)
        if not clusters:
            return pd.DataFrame(columns=["host", "rule_id", "pattern", "rule"])
        rules = learn_rules_for_host(urls, clusters)
        return pd.DataFrame(
            {
                "host": host,
                "rule_id": range(len(rules)),
                "pattern": [r[0] for r in rules],
                "rule": [r[1] for r in rules],
            }
        )

    return cluster_rows.groupBy("host").applyInPandas(learn, RULES_SCHEMA)


def apply_rules(
    spark: SparkSession, urls: DataFrame, rules: DataFrame,
    out_col: str = "url_rewritten",
) -> DataFrame:
    """urls(host, url, ...) -> + rewritten column (first matching rule per
    host, rule_id order; pass-through when none matches).

    One host cogroup: a host's URLs meet its rule list in one group
    (RewriteTool.java:29-48's per-host side input). The bound: one host's
    URLs in a batch fit one task, as learn_rules before it and
    compression_metric after it already require; a hot host is not split.
    Rows travel as Arrow tables, so every input column comes back
    unchanged. ``spark`` is unused; callers pass it positionally.
    """
    out_schema = StructType(
        urls.schema.fields + [StructField(out_col, StringType())]
    )

    def rewrite(host_urls: pa.Table, host_rules: pa.Table) -> pa.Table:
        srt = host_rules.sort_by("rule_id")
        rs = list(zip(srt["pattern"].to_pylist(), srt["rule"].to_pylist()))
        out = [rewrite_url(rs, u) if rs else u
               for u in host_urls["url"].to_pylist()]
        return host_urls.append_column(out_col, pa.array(out, pa.string()))

    return (
        urls.groupBy("host").cogroup(rules.groupBy("host"))
        .applyInArrow(rewrite, out_schema)
    )


def compression_metric(rewritten: DataFrame, url_col: str = "url",
                       rw_col: str = "url_rewritten") -> DataFrame:
    """|distinct rewritten| / |distinct original| per host from the two URL
    sets (Fun.java:550-568, kernel.rules.compression_ratio); NULLs are in
    neither, and a host with no non-NULL URL reads 1.0 as the kernel's empty
    set does. One task holds a host's sets, as apply_rules already
    assumes."""
    n_urls = F.size(F.collect_set(url_col)).cast("long")
    n_rewritten = F.size(F.collect_set(rw_col)).cast("long")
    return rewritten.groupBy("host").agg(
        n_urls.alias("n_urls"),
        n_rewritten.alias("n_rewritten"),
        F.when(n_urls > 0, n_rewritten / n_urls).otherwise(F.lit(1.0))
        .alias("compression_ratio"),
    )


def cluster_rows_from_text(spark: SparkSession, lines: DataFrame,
                           rows_per_bucket: int = 1 << 20) -> DataFrame:
    """Cluster text-file scan (InputUtil.java:169-186) as DataFrame ops:
    '#' lines open a new cluster; running cluster id = count of '#' markers
    up to each row. Input: (line_no, line). Clusters without a following
    '#' terminator are dropped by learn_rules' size gate only if small —
    note the reference drops the LAST cluster unconditionally;
    parse_cluster_lines stays bit-faithful, this relational variant keeps a
    trailing cluster (documented divergence for the distributed path).

    Scale shape (r3 verdict item 5 — this was the repo's one remaining
    single-task stage): the prefix sum runs as TWO passes instead of a
    global ``Window.orderBy``:

    1. per-BUCKET '#' counts (bucket = line_no // rows_per_bucket — a
       deterministic range split, no sampling), collected as O(n_lines /
       rows_per_bucket) rows and prefix-summed on the driver;
    2. a window partitioned BY BUCKET (parallel per-bucket sorts, never a
       single-partition exchange) computes the local running count, and a
       broadcast of the tiny (bucket, offset) table shifts it to the
       global id.
    """
    from pyspark.sql.window import Window

    marker = F.when(F.col("line") == "#", 1).otherwise(0)
    # localCheckpoint (NOT a tracked persist): BOTH passes must read the
    # SAME materialized (line_no, line) assignment — the only caller
    # derives line_no from monotonically_increasing_id (sources/files.py),
    # which is partition-layout-dependent, so re-evaluating the lineage
    # between the pass-1 collect and the pass-2 window could silently
    # shift the driver offsets off their buckets (r4 ADVICE). A tracked
    # persist is EVICTABLE (session._MAX_TRACKED) and an evicted persist
    # recomputes — fine for deterministic kernels, correctness-fatal here;
    # eager localCheckpoint freezes the assignment for the frame's
    # lifetime regardless of registry pressure.
    b = lines.withColumn(
        "_bucket", F.floor(F.col("line_no") / F.lit(rows_per_bucket))
    ).localCheckpoint()
    # pass 1: one small aggregate (O(buckets) rows) -> driver prefix sums
    counts = sorted(
        (int(r["_bucket"]), int(r["_n"]))
        for r in b.groupBy("_bucket").agg(F.sum(marker).alias("_n")).collect()
    )
    offsets, acc = [], 0
    for bucket, n in counts:
        offsets.append((bucket, acc))
        acc += n
    off = spark.createDataFrame(offsets or [(0, 0)],
                                "_bucket long, _offset long")
    # pass 2: per-bucket local running count + broadcast offset shift
    w = Window.partitionBy("_bucket").orderBy("line_no")
    tagged = (
        b.join(F.broadcast(off), "_bucket", "left")
        .na.fill({"_offset": 0})
        .withColumn("cluster_id", F.sum(marker).over(w) + F.col("_offset"))
    )
    return (
        tagged.filter(F.col("line") != "#")
        .withColumn("host", F.lower(getattr(F, "try_parse_url", F.parse_url)(F.col("line"), F.lit("HOST"))))
        .filter(F.col("host").isNotNull())
        .select("host", "cluster_id", F.col("line").alias("url"))
    )
