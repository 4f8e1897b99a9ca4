"""URL-shape page classification (EP3 parity, SURVEY.md §2.7).

Two classifiers:
- structural: a page is THEME_PAGE iff any leaf pattern of its host's tree
  structurally matches its URL (ThemePageUrlPatternJob.java:275-294) —
  each host's pages cogrouped with its leaf patterns in one Arrow task;
- regex: match the canonical URL against the host's leaf alternation
  (TreeNode.java:547-560) — pure ``regexp_like``, stays in codegen;
- support-ratio variant (ContentPageAnalyzer.java:25-58): support = sum of
  matched-leaf sizes / sum of leaf sizes >= min_support — relational join.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from url_pattern_algorithm_spark.kernel.tokenize import tokenize_full
from url_pattern_algorithm_spark.kernel.tree import structural_match
from url_pattern_algorithm_spark.scaling import broadcast_if_small, gated_dim


def classify_structural(
    spark: SparkSession, pages: DataFrame, nodes: DataFrame,
    out_col: str = "page_type",
) -> DataFrame:
    """pages(host, url, ...) + nodes -> + page_type column.

    One host cogroup: a host's pages meet its leaf patterns in one group
    (the reference's per-host side input, GarbagePageUrlPatternJob.java:
    216-253), with the bound apply_rules has: one host's pages fit one
    task. Rows travel as Arrow tables, so every input column comes back
    unchanged. ``spark`` is unused; callers pass it positionally.
    """
    leaves = nodes.filter("is_leaf").select("host", "pattern")
    out_schema = StructType(
        pages.schema.fields + [StructField(out_col, StringType())]
    )

    def classify(host_pages: pa.Table, host_leaves: pa.Table) -> pa.Table:
        pats = host_leaves["pattern"].to_pylist()

        def one(url):
            if not pats:
                return "OTHER_PAGE"
            pairs = tokenize_full(url)
            if pairs is None:
                return "OTHER_PAGE"
            for p in pats:
                if structural_match(p, pairs, star="*"):
                    return "THEME_PAGE"
            return "OTHER_PAGE"

        out = [one(u) for u in host_pages["url"].to_pylist()]
        return host_pages.append_column(out_col, pa.array(out, pa.string()))

    return (
        pages.groupBy("host").cogroup(leaves.groupBy("host"))
        .applyInArrow(classify, out_schema)
    )


def classify_regex(pages_with_canon: DataFrame, alternations: DataFrame,
                   out_col: str = "page_type",
                   est_rows: int | None = None) -> DataFrame:
    """Canonical-regex classification: broadcast-join the per-host
    alternation and regexp_like in codegen (no Python).

    The alternation dimension is one row per GATED HOST — post-gate it is
    usually tiny, but at 10^7+-host scale the hint is a hazard, so it is
    size-gated (scaling.broadcast_if_small). Callers that already count the
    persisted alternation frame (plans/theme_pages.py) pass ``est_rows`` so
    no extra job runs; ``None`` probes — persist ``alternations`` first if
    its lineage includes the tree UDF."""
    j = pages_with_canon.join(
        broadcast_if_small(alternations, est_rows), "host", "left"
    )
    return j.withColumn(
        out_col,
        F.when(
            F.col("patterns").isNotNull()
            & F.regexp_like(F.col("url_canon"), F.col("patterns")),
            F.lit("THEME_PAGE"),
        ).otherwise(F.lit("OTHER_PAGE")),
    ).drop("patterns", "n_leaves")


def support_ratio(membership: DataFrame, nodes: DataFrame,
                  min_support: float = 0.5,
                  est_hosts: int | None = None) -> DataFrame:
    """ContentPageAnalyzer.java:25-58: per URL, (sum of sizes of matched
    leaves) / (sum of all leaf sizes for the host) >= min_support.
    Matched leaves come from the membership table (equi-join, no scan).
    The per-host totals dimension is size-gated like classify_regex's."""
    leaves = nodes.filter("is_leaf").select(
        "host", "node_id", F.col("url_count").alias("leaf_size")
    )
    totals = leaves.groupBy("host").agg(F.sum("leaf_size").alias("total"))
    matched = membership.join(leaves, ["host", "node_id"])
    per_url = matched.groupBy("host", "url").agg(
        F.sum("leaf_size").alias("matched_size")
    )
    return (
        per_url.join(gated_dim(totals, est_hosts), "host")
        .withColumn("support", F.col("matched_size") / F.col("total"))
        .withColumn("is_theme", F.col("support") >= min_support)
    )
