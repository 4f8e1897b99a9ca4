"""EP2-G: the assembled garbage-page (precision-gated) mining plan.

Parity target: ``GarbagePageUrlPatternJob`` (/root/reference/applications/
GarbagePageUrlPatternJob.java:254-342) — per host: thin to the (custom)
cap (:261-266,275-283), require >= 50 URLs (:285-287), ordered 75/25
train/test split (:296-304), build the pattern tree on TRAIN only
(:305-308), gate the host on train match-rate >= 0.5 (:309-334), then
report the test-side match counts (:335-342).

Spark-first composition (the third production job, after EP2's plain
mining and EP3's theme classification): capping / gating / splitting /
match-rate are relational (codegen regexp vs broadcast alternations); only
the per-host tree recursion crosses Arrow, on the train subset, once.
The reference's Random-based thinning and arrival-order split are replaced
by the repo's deterministic hash-keep and explicit order column
(operators/sampling.py module docstring) so reruns and the SQL oracle
agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from url_pattern_algorithm_spark.functions.udfs import normalize_url_udf
from url_pattern_algorithm_spark.operators.pattern_tree import (
    build_trees,
    leaf_alternations,
    match_rate,
)
from url_pattern_algorithm_spark.operators.sampling import (
    cap_per_host,
    gate_min_host_size,
    train_test_split,
)
from url_pattern_algorithm_spark.scaling import broadcast_if_small
from url_pattern_algorithm_spark.session import persist_tracked


def garbage_page_plan(
    spark: SparkSession,
    pages: DataFrame,
    min_host_urls: int = 50,
    cap: int = 500_000,
    custom_caps: dict[str, int] | None = None,
    train_frac: float = 0.75,
    gate: float = 0.5,
    example_cap: int = 300,
    order_col=None,
    keep_hash=None,
) -> DataFrame:
    """pages(host, url [, url_canon]) -> per-host precision-gated report:
    (host, n_train, train_match_rate, n_test, test_matches, patterns).

    Hosts whose TRAIN match-rate falls under ``gate`` are dropped — the
    reference's guard against deploying low-precision patterns (java
    :318-320,331-333). Unparseable URLs never enter the tree (ProcessedUrl
    construction failures) but DO count against the rate: a host of mostly
    garbage URLs fails the gate by construction.
    """
    capped = cap_per_host(pages, cap=cap, custom_caps=custom_caps,
                          keep_hash=keep_hash)
    gated = gate_min_host_size(capped, min_host_urls)
    if "url_canon" not in gated.columns:
        gated = gated.withColumn("url_canon", normalize_url_udf(F.col("url")))
    # persist: the split feeds the tree build, the train-rate scan and the
    # test-count scan (three consumers of the cap+gate+normalize work)
    split = persist_tracked(train_test_split(gated, train_frac, order_col))
    train = split.filter(F.col("is_train"))
    # sort_urls: the alternation feeds two downstream scans that may
    # evaluate the tree UDF independently — pin the recursion to the URL
    # set, not the shuffle's delivery order
    nodes = build_trees(train.select("host", "url"),
                        min_host_urls=min_host_urls, example_cap=example_cap,
                        sort_urls=True)
    # persist + count: alts feeds THREE scans (train match-rate, test-side
    # counts, the final pattern join) — without it each one re-runs the
    # tree UDF. The count also supplies the size gate for the broadcast
    # hints below (zero extra jobs).
    alts = persist_tracked(leaf_alternations(nodes))
    n_alts = alts.count()
    rates = match_rate(train.select("host", "url_canon"), alts,
                       est_rows=n_alts)
    kept = rates.filter(F.col("match_rate") >= gate)
    test = split.filter(~F.col("is_train"))
    hit = F.regexp_like(F.col("url_canon"), F.col("patterns"))
    test_counts = (
        test.join(broadcast_if_small(alts, n_alts), "host")
        .groupBy("host")
        .agg(
            F.count("*").alias("n_test"),
            F.sum(hit.cast("long")).alias("test_matches"),
        )
    )
    train_counts = train.groupBy("host").agg(F.count("*").alias("n_train"))
    return (
        kept.join(train_counts, "host")
        .join(test_counts, "host")
        .join(alts.select("host", "patterns"), "host")
        .select(
            "host", "n_train",
            F.round("match_rate", 6).alias("train_match_rate"),
            "n_test", "test_matches", "patterns",
        )
    )
