"""Seeded inputs for the benchmark workloads.

The program's synthetic generator (``sources/synthetic.py``) has no seed
parameter: document ``i`` is always the same bytes. Every input here is a
pure function of ``--seed`` instead, built on top of the generator's public
kernels: document ``i`` of a run is ``gen_doc(i + doc_offset(seed))``,
stored with an explicit ``doc_index = i`` column (the crawl loop fetches by
that column), and seed lists, takedown sets, recrawl sets and the rule
corpus all derive from the same seed. The program only ever sees the
generated DataFrames.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from url_pattern_algorithm_spark.functions.links import (
    extract_links,
    get_host_lower,
)
from url_pattern_algorithm_spark.kernel.rfc3986 import normalize_frontier_url
from url_pattern_algorithm_spark.sources.synthetic import (
    _CATS,
    DOCS_SCHEMA,
    _mix,
    gen_doc,
    robots_rules,
)

DOCS_INDEXED_SCHEMA = StructType(
    [*DOCS_SCHEMA.fields, StructField("doc_index", LongType(), False)]
)

# cluster-corpus page names; the last absorbs most of the mass so the
# learner's trivial/salient split sees a skewed histogram
_PAGES = ("alpha", "beta", "gamma", "delta", "epsilon")


def doc_offset(seed: int) -> int:
    """Where in the generator's document space a seed's universe starts.
    Below 10^9 so every generated ``doc_id`` keeps its 10-digit form."""
    return _mix(0x5EED, seed) % 1_000_000_000


def docs_indexed(spark: SparkSession, n_docs: int, n_hosts: int,
                 seed: int) -> DataFrame:
    """Docs ``gen_doc(i + doc_offset(seed))`` with ``doc_index = i``,
    generated distributed (``spark.range -> mapInPandas``)."""
    off = doc_offset(seed)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].tolist()
            rows = [gen_doc(int(i) + off, n_hosts) for i in ids]
            yield pd.DataFrame({
                "doc_id": [r[0] for r in rows],
                "spans": [r[1] for r in rows],
                "doc_index": ids,
            })

    return spark.range(n_docs).mapInPandas(gen, DOCS_INDEXED_SCHEMA)


def learn_pages(n_docs: int, n_hosts: int, seed: int) -> list[tuple[str, str]]:
    """Distinct (host, canonical URL) pairs linked from the seeded documents
    — the same extraction and normalization chain the crawl's link UDF
    runs, computed on the driver."""
    off = doc_offset(seed)
    pages = set()
    for i in range(n_docs):
        for u in extract_links(gen_doc(i + off, n_hosts)[1]):
            host, canon = get_host_lower(u), normalize_frontier_url(u)
            if host is not None and canon is not None:
                pages.add((host, canon))
    return sorted(pages)


def seed_urls(n_hosts: int, seed: int) -> list[tuple[str, float]]:
    """Two seeds per host: the root and one seeded category page. Priorities
    are seeded too, so the schedule order differs across seeds."""
    rows = []
    for h in range(n_hosts):
        host = f"site{h}.example.com"
        r = _mix(0x5EED, seed, h)
        cat = _CATS[r % len(_CATS)]
        ident = (r >> 8) % 500
        jitter = ((r >> 20) % 1000) / 1e5
        rows.append((f"http://{host}/", 1.0 - jitter))
        rows.append((f"http://{host}/cat/{cat}/{ident}", 0.5 - jitter))
    return rows


def robots_frame(spark: SparkSession, n_hosts: int) -> DataFrame:
    return spark.createDataFrame(robots_rules(n_hosts),
                                 "host string, prefix string, allow boolean")


def pick(rows: list[tuple[str, int]], k: int, seed: int,
         salt: int) -> list[tuple[str, int]]:
    """Deterministic seeded sample of ``k`` ``(url, url_hash)`` rows."""
    mask = (1 << 64) - 1
    return sorted(rows, key=lambda r: _mix(salt, seed, r[1] & mask))[:k]


def churn_sets(scheduled: list[tuple[str, int]], k: int, seed: int,
               cycle: int) -> tuple[list[tuple[str, int]],
                                    list[tuple[str, int]]]:
    """(takedowns, recrawls) from one iteration's scheduled ``(url,
    url_hash)`` rows: ``k`` seeded takedowns, then ``k`` recrawls of which
    half re-enqueue taken-down URLs (exercising the seen/prefilter restore)
    and half are still-seen URLs."""
    rows = sorted(scheduled, key=lambda r: r[1])
    takedowns = pick(rows, k, seed, 0xD0 + cycle)
    taken = {h for _, h in takedowns}
    rest = [r for r in rows if r[1] not in taken]
    recrawls = takedowns[: k // 2] + pick(rest, k - k // 2, seed, 0xEC + cycle)
    return takedowns, recrawls


def cluster_corpus(spark: SparkSession, n_hosts: int, keys_per_host: int,
                   seed: int) -> DataFrame:
    """Duplicate-cluster corpus for rewrite-rule learning: every page is
    reachable under two URL shapes (``/doc/{page}?s=k`` and
    ``/view?id={page}&t=k``), each alias carrying a unique key, and the
    cluster is (host, page). Doc:view is 6:4 and the last page absorbs 6/10
    of the keys, so every per-page count clears the learner's salient
    override. The key space starts at a seeded base."""
    base = (_mix(0xC1, seed) % 1_000_000) * 10
    k = F.col("id") + F.lit(base)
    host = F.concat(
        F.lit("www.site"),
        (F.col("id") / F.lit(keys_per_host)).cast("long").cast("string"),
        F.lit(".com"),
    )
    pages = F.array(*[F.lit(p) for p in _PAGES])
    page = F.element_at(
        pages, (F.least(F.floor(k / 10) % 10, F.lit(4)) + 1).cast("int")
    )
    url = F.when(
        k % 10 < 6,
        F.concat(F.lit("http://"), host, F.lit("/doc/"), page, F.lit("?s="),
                 k.cast("string")),
    ).otherwise(
        F.concat(F.lit("http://"), host, F.lit("/view?id="), page,
                 F.lit("&t="), k.cast("string")),
    )
    return spark.range(n_hosts * keys_per_host).select(
        host.alias("host"),
        F.concat(host, F.lit("#"), page).alias("cluster_id"),
        url.alias("url"),
    )
