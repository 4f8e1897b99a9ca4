"""EP3: the assembled theme-page classification plan.

Parity target: ``ThemePageUrlPatternJob`` (/root/reference/
ThemePageUrlPatternJob.java:51-80,203-266) — per host: collect pages, build
the pattern tree from the THEME_PAGE-typed subset (java :217-232), classify
every page against the leaf patterns (:237-248,275-294), and emit the
classified pages plus the per-host patterns as two named outputs
(:121-128,243-257).

Spark-first composition (SURVEY.md §3 EP3): phase 1 is relational gating +
deterministic capping feeding the per-host ``applyInPandas`` tree build;
phase 2 is a codegen ``regexp_like`` against the broadcast per-host leaf
alternation — the full page table never crosses the Python boundary. The two
sinks write off one persisted parent (Spark has no single-pass multi-output;
the persist replaces the reference's named-output reducer)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from url_pattern_algorithm_spark.functions.udfs import normalize_url_udf
from url_pattern_algorithm_spark.operators.classify import classify_regex
from url_pattern_algorithm_spark.operators.pattern_tree import (
    build_trees,
    leaf_alternations,
)
from url_pattern_algorithm_spark.operators.sampling import (
    cap_per_host,
    gate_min_host_size,
)
from url_pattern_algorithm_spark.session import persist_tracked
from url_pattern_algorithm_spark.sources.catalog import Catalog


def theme_page_plan(
    spark: SparkSession,
    pages: DataFrame,
    cat: Catalog | None = None,
    run_id: str = "ep3",
    iteration: int = 0,
    min_host_urls: int = 50,
    cap: int = 500_000,
    example_cap: int = 300,
) -> tuple[DataFrame, DataFrame]:
    """pages(host, url [, type] [, url_canon]) -> (classified, alternations).

    - training subset: rows with ``type == 'THEME_PAGE'`` when a ``type``
      column exists (java :217), else all pages;
    - gate hosts < ``min_host_urls`` BEFORE the Python boundary (the reducer
      early-return, java :224-226 — relationally they never cross Arrow);
    - cap per host (PatternJob.java:250-262's side-input sampling) so a
      group always fits one task;
    - classify phase stays JVM-side: canonical regex vs broadcast
      alternations;
    - with ``cat``: two checkpoint writes — ``theme_patterns_{i}`` (the
      HostThemePagePattern named output) and ``theme_pages_{i}`` (the main
      classified-pages output).
    """
    if "type" in pages.columns:
        train = pages.filter(F.col("type") == "THEME_PAGE").select("host", "url")
    else:
        train = pages.select("host", "url")
    gated = gate_min_host_size(train, min_host_urls)
    capped = cap_per_host(gated, cap=cap)
    # sort_urls: alts outlives this call through the tracked registry and
    # may be RECOMPUTED after release — the recursion's input order must be
    # a pure function of the URL set, not of shuffle delivery order
    nodes = build_trees(capped, min_host_urls=min_host_urls,
                        example_cap=example_cap, sort_urls=True)
    # alts outlives this call (it backs the returned `classified` plan), so
    # it goes through the tracked registry — released when the caller's
    # next registry query starts instead of leaking for the session
    alts = persist_tracked(leaf_alternations(nodes))
    n_alts = alts.count()
    if "url_canon" in pages.columns:
        pages_c = pages
    else:
        pages_c = pages.withColumn("url_canon", normalize_url_udf(F.col("url")))
    # n_alts rides the materializing count above: the classify join's
    # broadcast hint is size-gated with zero extra jobs
    classified = classify_regex(pages_c, alts, est_rows=n_alts)
    if cat is not None:
        cat.write_checkpoint(alts, f"theme_patterns_{iteration}", run_id,
                             iteration)
        cat.write_checkpoint(classified, f"theme_pages_{iteration}", run_id,
                             iteration)
        cat.flush_metrics()
    return classified, alts
