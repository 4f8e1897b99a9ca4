"""Per-layer replay for traced runs.

After a traced run's timed loop, each layer's public calls are replayed on
inputs drawn from that run's own workload, one call at a time, so their
cost shows separately from the plan that composes them:

- ``operators`` and ``functions``: each call is run to completion inside
  a span, with wall time and rows in and out recorded — through Spark's
  ``noop`` sink, or persisted and counted when a later step reads it;
- ``kernel``: direct single-process calls on a sample of the workload's
  documents and URLs — the per-core ceiling under the UDFs.
"""

from __future__ import annotations

import statistics
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from url_pattern_algorithm_spark.functions.links import (
    extract_links,
    extract_normalize_udf,
)
from url_pattern_algorithm_spark.functions.udfs import normalize_url_udf
from url_pattern_algorithm_spark.kernel.rfc3986 import normalize_frontier_url
from url_pattern_algorithm_spark.kernel.rules import Cluster
from url_pattern_algorithm_spark.kernel.tree import TreeBuilder, Url
from url_pattern_algorithm_spark.operators import cuckoo, frontier
from url_pattern_algorithm_spark.operators.classify import classify_regex
from url_pattern_algorithm_spark.operators.pattern_tree import (
    build_trees,
    leaf_alternations,
)
from url_pattern_algorithm_spark.operators.rewrite import (
    apply_rules,
    learn_rules,
    learn_rules_for_host,
)
from url_pattern_algorithm_spark.sources.synthetic import gen_doc

from perfbench.trace import Tracer

MIN_HOST_URLS = 50
SALTS = 16


def materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """Persist + count outside any timed region."""
    df = df.persist()
    return df, df.count()


def measure(tracer: Tracer, name: str, df: DataFrame, rows_in: int,
            keep: bool = False) -> tuple[DataFrame | None, int]:
    """Run ``df`` to completion inside a span and return (frame, rows out).

    An output nothing else reads goes through the ``noop`` sink, its row
    count riding the same action; an output a later replay step reads is
    persisted and counted inside the span instead (one computation, cache
    write included), and returned."""
    with tracer.span(name, rows_in=rows_in) as rec:
        if keep:
            df = df.persist()
            rec["rows_out"] = df.count()
        else:
            obs = Observation()
            df.observe(obs, F.count(F.lit(1)).alias("rows")) \
                .write.format("noop").mode("overwrite").save()
            rec["rows_out"] = int(obs.get["rows"])
            df = None
    return df, rec["rows_out"]


def replay_frontier(spark: SparkSession, tracer: Tracer, inp: dict) -> dict:
    """Frontier + cuckoo operators on one iteration's inputs: ``host_state``,
    ``pending``, ``seen`` (url_hash), ``candidates`` (url, url_canon, host,
    url_hash), ``robots``, ``cuckoo`` (filter state), ``n_buckets``,
    ``nb``, ``m_bits``."""
    nbk, m_bits, nb = inp["n_buckets"], inp["m_bits"], inp["nb"]
    host_state, n_hosts = materialize(inp["host_state"])
    budgets, _ = measure(tracer, "operators.frontier.politeness_budgets",
                         frontier.politeness_budgets(host_state, 1.0, 4.0),
                         n_hosts, keep=True)
    pending, n_pending = materialize(inp["pending"].join(
        F.broadcast(budgets), "host", "inner"))
    measure(tracer, "operators.frontier.schedule_top_k",
            frontier.schedule_top_k(pending, F.col("budget"), salts=SALTS),
            n_pending)

    cand, n_cand = materialize(inp["candidates"])
    cand_r, n_cand_r = measure(tracer, "operators.frontier.robots_filter",
                               frontier.robots_filter(cand, inp["robots"]),
                               n_cand, keep=True)
    seen, _ = materialize(inp["seen"])
    blooms, _ = materialize(frontier.build_bloom(seen, nbk, m_bits=m_bits))
    unseen, _ = measure(tracer, "operators.frontier.seen_filter",
                        frontier.seen_filter(cand_r, seen, blooms, nbk),
                        n_cand_r, keep=True)
    maybe = (frontier.bloom_maybe_seen(cand_r, blooms, nbk)
             .filter(F.col("maybe_seen")).count())
    new, n_new = materialize(unseen.select("url_hash").distinct())
    measure(tracer, "operators.frontier.update_blooms",
            frontier.update_blooms(blooms, new, nbk, m_bits), n_new)

    filters, _ = materialize(inp["cuckoo"])
    measure(tracer, "operators.cuckoo.seen_filter_cuckoo",
            cuckoo.seen_filter_cuckoo(cand_r, seen, filters, nbk), n_cand_r)
    maybe_c = (cuckoo.cuckoo_maybe_seen(cand_r, filters, nbk)
               .filter(F.col("maybe_seen")).count())
    measure(tracer, "operators.cuckoo.update_cuckoos",
            cuckoo.update_cuckoos(filters, new, nbk, nb), n_new)
    dels, n_dels = materialize(seen.select("url_hash").limit(max(n_new, 1)))
    measure(tracer, "operators.cuckoo.delete_from_cuckoos",
            cuckoo.delete_from_cuckoos(filters, dels, nbk), n_dels)
    for df in (host_state, budgets, pending, cand, cand_r, seen, blooms,
               unseen, new, filters, dels):
        df.unpersist()
    return {
        "operators.frontier.prefilter_pass_ratio": maybe / max(n_cand_r, 1),
        "operators.cuckoo.prefilter_pass_ratio": maybe_c / max(n_cand_r, 1),
    }


def replay_functions(tracer: Tracer, docs: DataFrame,
                     urls: DataFrame) -> dict:
    """The Arrow UDF boundary: the fused extract+normalize link UDF over
    documents, and the normalize UDF over URLs."""
    docs, n_docs = materialize(docs.select("spans"))
    urls, n_urls = materialize(urls.select("url"))
    _, links = measure(tracer, "functions.extract_normalize_udf",
                       docs.select(F.explode(
                           extract_normalize_udf(F.col("spans"))).alias("l")),
                       n_docs)
    measure(tracer, "functions.normalize_url_udf",
            urls.select(normalize_url_udf(F.col("url")).alias("c")), n_urls)
    docs.unpersist()
    urls.unpersist()
    t_links = tracer.named("functions.extract_normalize_udf")[-1].dur
    t_norm = tracer.named("functions.normalize_url_udf")[-1].dur
    return {"functions.links_per_s": links / t_links,
            "functions.normalize_url_per_s": n_urls / t_norm}


def replay_learn(spark: SparkSession, tracer: Tracer, corpus: DataFrame,
                 clusters: DataFrame) -> None:
    """Pattern-tree, rewrite and classify operators on a (host, url)
    corpus and a (host, cluster_id, url) duplicate-cluster corpus."""
    corpus, n_corpus = materialize(corpus.select("host", "url"))
    nodes, n_nodes = measure(
        tracer, "operators.pattern_tree.build_trees",
        build_trees(corpus, min_host_urls=MIN_HOST_URLS, sort_urls=True),
        n_corpus, keep=True)
    alts, n_alts = measure(tracer, "operators.pattern_tree.leaf_alternations",
                           leaf_alternations(nodes), n_nodes, keep=True)
    pages = corpus.withColumn("url_canon", F.col("url"))
    measure(tracer, "operators.classify.classify_regex",
            classify_regex(pages, alts, est_rows=n_alts), n_corpus)

    clusters, n_clusters = materialize(clusters)
    rules, _ = measure(tracer, "operators.rewrite.learn_rules",
                       learn_rules(clusters, min_cluster_size=2), n_clusters,
                       keep=True)
    measure(tracer, "operators.rewrite.apply_rules",
            apply_rules(spark, clusters.select("host", "url"), rules),
            n_clusters)
    for df in (corpus, nodes, alts, clusters, rules):
        df.unpersist()


def _median_time(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def replay_kernel(tracer: Tracer, doc_ids: list[int], n_hosts: int,
                  host_urls: list[str], cluster_rows: list[tuple]) -> dict:
    """Single-process kernel calls: link extraction and normalization on
    the workload's documents, the tree build on its largest host, and rule
    learning on one host's duplicate clusters."""
    spans = [gen_doc(i, n_hosts)[1] for i in doc_ids]
    links = [u for s in spans for u in extract_links(s)]
    with tracer.span("kernel.extract_links", rows_in=len(spans)):
        t_ext = _median_time(lambda: [extract_links(s) for s in spans])
    with tracer.span("kernel.normalize_frontier_url", rows_in=len(links)):
        t_norm = _median_time(
            lambda: [normalize_frontier_url(u) for u in links])

    parsed = [p for p in (Url.parse(u) for u in sorted(set(host_urls)))
              if p is not None]
    with tracer.span("kernel.tree_build", rows_in=len(parsed)):
        t_tree = _median_time(lambda: TreeBuilder().build(parsed))

    by_cluster: dict[str, list[Url]] = {}
    for _, cid, url in sorted(cluster_rows):
        u = Url.parse(url)
        if u is not None:
            by_cluster.setdefault(cid, []).append(u)
    clusters = [Cluster(urls=v) for _, v in sorted(by_cluster.items())]
    urls = [u for c in clusters for u in c.urls]
    with tracer.span("kernel.rules_learn", rows_in=len(urls)):
        t_rules = _median_time(lambda: learn_rules_for_host(urls, clusters))
    return {
        "kernel.extract_links_per_s": len(spans) / t_ext,
        "kernel.normalize_frontier_url_per_s": len(links) / t_norm,
        "kernel.tree_build_s": t_tree,
        "kernel.rules_learn_s": t_rules,
    }


def span_metrics(tracer: Tracer) -> dict:
    """``<span name>_s`` for every operator replay span."""
    return {f"{s.name}_s": s.dur for s in tracer.spans
            if s.name.startswith("operators.")}
