"""Per-host pattern-tree mining as grouped-map pandas UDFs (EP2 parity).

Distribution strategy matches the reference exactly: the tree recursion runs
once per host inside one task (the reference runs it inside one reducer per
host key — PatternJob.java:268-271), with per-host URL counts bounded by the
sampling caps (operators/sampling.py) so a group always fits a task
(SURVEY.md §4.3). Leaf collection and alternation assembly run the same way:
one task per host rebuilds the tree skeleton from the node table and walks
it with the kernel's star-collapse BFS (Main.java:242-287). Gating, sampling
and match-rate evaluation are relational.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from url_pattern_algorithm_spark.kernel.tree import (
    TreeBuilder,
    Url,
    collect_leaf_patterns,
    flatten_nodes,
    membership_rows,
    unflatten_nodes,
)
from url_pattern_algorithm_spark.scaling import broadcast_if_small

TREE_SCHEMA = (
    "host string, node_id int, parent_id int, depth int, partition_key string, "
    "partition_value string, pattern string, pattern_output string, "
    "url_count long, is_leaf boolean, child_has_star boolean, urls_type int, "
    "example_urls array<string>"
)

MEMBERSHIP_SCHEMA = "host string, url string, node_id int"

ALTERNATION_SCHEMA = "host string, patterns string, n_leaves long"


def _host_tree(pdf: pd.DataFrame, min_host_urls: int,
               sort_urls: bool) -> TreeBuilder | None:
    """One host's tree from its (host, url) rows, or None when the host
    fails the ``min_host_urls`` gate or has no parseable URL."""
    col = pdf["url"].drop_duplicates()
    if sort_urls:
        col = col.sort_values(kind="mergesort")
    parsed = [p for p in map(Url.parse, col) if p is not None]
    if len(parsed) < min_host_urls or not parsed:
        return None
    b = TreeBuilder()
    b.build(parsed)
    return b


def build_trees(urls: DataFrame, min_host_urls: int = 0,
                example_cap: int = 300, sort_urls: bool = False) -> DataFrame:
    """(host, url) -> flattened per-host pattern-tree node table.

    ``min_host_urls`` is the reducer gate (100000 in PatternJob.java:263-265,
    50 in GarbagePageUrlPatternJob.java:285-287); enforced INSIDE the UDF
    (cheap: the group is already materialized) and also worth pre-filtering
    with gate_min_host_size when most hosts are tiny, so they never cross
    the Python boundary.

    ``sort_urls=True`` pins the recursion's input to sorted-URL order: node
    ids, sibling order, and tie-broken split choices all follow first-
    encounter order (Fun.java consumes file order), and the row order a
    shuffle delivers to applyInPandas is not stable across partitionings or
    task retries. Sorted input makes the node table a pure function of the
    URL SET — required by the fixed-corpus driver oracles, recommended
    anywhere the output feeds a persisted artifact.
    """

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        b = _host_tree(pdf, min_host_urls, sort_urls)
        if b is None:
            return pd.DataFrame(
                columns=[f.split()[0] for f in TREE_SCHEMA.split(", ")]
            )
        out = pd.DataFrame(flatten_nodes(b, example_cap=example_cap))
        out.insert(0, "host", pdf["host"].iloc[0])
        return out

    return urls.groupBy("host").applyInPandas(build, TREE_SCHEMA)


def build_membership(urls: DataFrame, min_host_urls: int = 0,
                     sort_urls: bool = False) -> DataFrame:
    """(host, url) -> (host, url, node_id) membership rows — the relational
    replacement for belongToNodeList (Fun.java:323-341). ``sort_urls`` pins
    input order exactly as in build_trees."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        b = _host_tree(pdf, min_host_urls, sort_urls)
        if b is None:
            return pd.DataFrame(columns=["host", "url", "node_id"])
        rows = membership_rows(b)
        return pd.DataFrame(
            {"host": pdf["host"].iloc[0], "url": [r[0] for r in rows],
             "node_id": [r[1] for r in rows]}
        )

    return urls.groupBy("host").applyInPandas(build, MEMBERSHIP_SCHEMA)


def leaf_alternations(nodes: DataFrame) -> DataFrame:
    """(host, patterns, n_leaves) — the '|'-joined escaped output patterns
    of the leaves the star-collapse BFS keeps (Main.java:242-287), one row
    per host, from the kernel walk over the host's rebuilt tree."""

    def alternation(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = pdf.to_dict("records")
        for r in rows:  # Arrow hands the nullable int column over as float
            p = r["parent_id"]
            r["parent_id"] = None if pd.isna(p) else int(p)
        leaves = collect_leaf_patterns(unflatten_nodes(rows))
        return pd.DataFrame({"host": [pdf["host"].iloc[0]],
                             "patterns": ["|".join(leaves)],
                             "n_leaves": [len(leaves)]})

    return (
        nodes.select("host", "node_id", "parent_id", "child_has_star",
                     "pattern_output")
        .groupBy("host")
        .applyInPandas(alternation, ALTERNATION_SCHEMA)
    )


def match_rate(urls_with_canon: DataFrame, alternations: DataFrame,
               est_rows: int | None = None) -> DataFrame:
    """Coverage self-check (Main.java:142-153): fraction of a host's
    canonical URLs matched by the host's leaf alternation regex. Relational:
    per-host pattern table joined under a size-gated broadcast hint
    (one row per gated host — tiny post-gate, a hazard at 10^7+ hosts),
    regexp in codegen. Pass ``est_rows`` when the alternation frame is
    already counted (plans do); ``None`` probes — persist first if the
    lineage includes the tree UDF."""
    j = urls_with_canon.join(broadcast_if_small(alternations, est_rows), "host")
    hit = F.when(
        F.regexp_like(F.col("url_canon"), F.col("patterns")), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    return j.groupBy("host").agg(F.avg(hit).alias("match_rate"))
