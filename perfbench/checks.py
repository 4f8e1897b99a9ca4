"""Correctness checks run on every benchmark run.

Each check returns a list of human-readable failures (empty = pass); the
runner counts every failed check toward ``failed`` and exits non-zero.
"""

from __future__ import annotations

import math
import re
from collections import Counter

from pyspark.sql import SparkSession

from url_pattern_algorithm_spark.kernel import crawl_oracle
from url_pattern_algorithm_spark.plans.crawl import (
    DEFAULT_POLITENESS,
    Politeness,
    read_seen,
)
from url_pattern_algorithm_spark.sources.catalog import Catalog
from url_pattern_algorithm_spark.sources.synthetic import gen_doc


def scheduled_rows(cat: Catalog, it: int) -> list[tuple]:
    """scheduled_N as (url, url_canon, url_hash, host, sched_rank) rows in
    (host, sched_rank) order — the oracle's row order."""
    rows = (cat.read(f"scheduled_{it}")
            .select("url", "url_canon", "url_hash", "host", "sched_rank")
            .collect())
    return sorted((tuple(r) for r in rows), key=lambda r: (r[3], r[4]))


def check_budgets(sched: dict[int, list[tuple]],
                  host_state: dict[int, dict[str, tuple[float, float]]],
                  pol: Politeness = DEFAULT_POLITENESS) -> list[str]:
    """Per host and iteration N, the scheduled count is at most the token
    budget floor(min(cap, tokens + refill / crawl_delay)) computed from
    host_state_{N-1} (``host_state[N-1][host] = (tokens, crawl_delay)``)."""
    out = []
    for it, rows in sorted(sched.items()):
        per_host = Counter(r[3] for r in rows)
        state = host_state[it - 1]
        for host, n in sorted(per_host.items()):
            if host not in state:
                out.append(f"iteration {it}: scheduled host {host} has no "
                           "politeness state")
                continue
            tokens, delay = state[host]
            budget = math.floor(min(pol.tokens_cap,
                                    tokens + pol.refill / delay))
            if n > budget:
                out.append(f"iteration {it}: host {host} scheduled {n} > "
                           f"budget {budget}")
    return out[:5]


def check_no_rescheduling(sched: dict[int, list[tuple]],
                          recrawled: set[int]) -> list[str]:
    """No url_hash is scheduled twice, except through a recrawl."""
    counts = Counter(r[2] for rows in sched.values() for r in rows)
    dups = sorted(h for h, n in counts.items() if n > 1 and h not in recrawled)
    return [f"{len(dups)} url_hash scheduled twice without a recrawl "
            f"(e.g. {dups[:3]})"] if dups else []


def check_robots(sched: dict[int, list[tuple]],
                 robots: list[tuple[str, str, bool]]) -> list[str]:
    """No scheduled URL matches a disallow rule of its host."""
    disallow: dict[str, list[str]] = {}
    for host, prefix, allow in robots:
        if not allow:
            disallow.setdefault(host, []).append(prefix)
    bad = [(it, r[0]) for it, rows in sorted(sched.items()) for r in rows
           if any(crawl_oracle.raw_path(r[0]).startswith(p)
                  for p in disallow.get(r[3], ()))]
    return [f"{len(bad)} scheduled URLs match a disallow rule "
            f"(e.g. {bad[:3]})"] if bad else []


def check_pending_in_seen(cat: Catalog, last: int) -> list[str]:
    missing = (
        cat.read(f"pending_{last}").select("url_hash")
        .join(read_seen(cat, last).select("url_hash"), "url_hash", "left_anti")
        .count()
    )
    return [f"{missing} pending_{last} rows are not in seen"] if missing else []


def check_seen_count(cat: Catalog, last: int, n_purged: int,
                     n_restored: int) -> list[str]:
    """Seen rows == seeds + the new rows of every iteration, as the lineage
    metrics table records them, minus takedowns plus recrawl restores."""
    seen = read_seen(cat, last).count()
    by_table: Counter = Counter()
    for r in cat.read("_metrics").collect():
        key = "new" if r["table"] == "seen" and r["iteration"] > 0 else r["table"]
        by_table[key] += r["rows"]
    seeds, new = by_table["pending_0"], by_table["new"]
    out = []
    if by_table["seen"] != seeds:
        out.append(f"_metrics: iteration-0 seen rows {by_table['seen']} != "
                   f"seeds {seeds}")
    want = seeds + new - n_purged + n_restored
    if seen != want:
        out.append(f"seen has {seen} rows, expected {want} (seeds {seeds} + "
                   f"new {new} - purged {n_purged} + restored {n_restored})")
    return out


def check_crawl_state(cat: Catalog, last: int,
                      sched: dict[int, list[tuple]],
                      robots: list[tuple[str, str, bool]],
                      recrawled: set[int], n_purged: int,
                      n_restored: int) -> list[str]:
    """Every crawl invariant over iterations 1..``last``."""
    host_state = {
        it: {r["host"]: (r["tokens"], r["crawl_delay"]) for r in
             cat.read(f"host_state_{it}")
             .select("host", "tokens", "crawl_delay").collect()}
        for it in range(last)
    }
    return (check_budgets(sched, host_state)
            + check_no_rescheduling(sched, recrawled)
            + check_robots(sched, robots)
            + check_pending_in_seen(cat, last)
            + check_seen_count(cat, last, n_purged, n_restored))


def check_oracle(got: list[tuple], seeds: list[tuple[str, float]],
                 robots: list[tuple[str, str, bool]], n_docs: int,
                 n_hosts: int, offset: int) -> list[str]:
    """Iteration 1 (run before any takedown or recrawl) matches the
    pure-Python oracle row for row. The oracle fetches documents through
    the same generator at the run's seeded offset."""
    # the oracle scans the whole disallow list per link, which is
    # quadratic at 10^4 hosts; the same rule is applied through a per-host
    # index of that list (same matcher, same result)
    by_host: dict[str, list[str]] = {}
    for host, prefix, allow in robots:
        if not allow:
            by_host.setdefault(host, []).append(prefix)

    def allowed(url: str, host: str, _disallow) -> bool:
        path = crawl_oracle.raw_path(url)
        return not any(crawl_oracle._rule_matches(path, p)
                       for p in by_host.get(host, ()))

    saved = crawl_oracle.gen_doc, crawl_oracle._robots_allowed
    crawl_oracle.gen_doc = lambda i, n: gen_doc(i + offset, n)
    crawl_oracle._robots_allowed = allowed
    try:
        oracle = crawl_oracle.run_oracle_crawl(seeds, robots, n_docs, n_hosts,
                                               1)
    finally:
        crawl_oracle.gen_doc, crawl_oracle._robots_allowed = saved
    want = [(r[0], r[1], r[2], r[3], r[6]) for r in oracle.scheduled[1]]
    if got == want:
        return []
    diff = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b),
                min(len(got), len(want)))
    return [f"iteration 1: {len(got)} scheduled rows vs oracle {len(want)}, "
            f"first difference at row {diff}"]


def check_purged(spark: SparkSession, cat: Catalog, last: int,
                 hashes: list[int]) -> list[str]:
    """After unsee_urls, the purged hashes are absent from seen."""
    if not hashes:
        return []
    req = spark.createDataFrame([(h,) for h in hashes], "url_hash long")
    left = read_seen(cat, last).join(req, "url_hash", "semi").count()
    return [f"{left} purged url_hash still in seen"] if left else []


def check_reenqueued(spark: SparkSession, cat: Catalog, last: int,
                     hashes: list[int]) -> list[str]:
    """After reenqueue_urls, the recrawled hashes are in pending and seen."""
    req = spark.createDataFrame([(h,) for h in hashes], "url_hash long")
    out = []
    pend = cat.read(f"pending_{last}").join(req, "url_hash", "semi") \
        .select("url_hash").distinct().count()
    if pend != len(set(hashes)):
        out.append(f"{len(set(hashes)) - pend} recrawled url_hash missing "
                   f"from pending_{last}")
    seen = read_seen(cat, last).join(req, "url_hash", "semi") \
        .select("url_hash").distinct().count()
    if seen != len(set(hashes)):
        out.append(f"{len(set(hashes)) - seen} recrawled url_hash missing "
                   "from seen")
    return out


def check_alternations(alts: list[tuple[str, str]],
                       gated: set[str]) -> list[str]:
    """leaf_alternations returns exactly one row, with a non-empty
    alternation, for every host that passed the tree gate."""
    out = []
    bad = [a for a in alts if not a[0] or not a[1]]
    if bad:
        out.append(f"{len(bad)} leaf-alternation rows with a null host or "
                   f"pattern (e.g. {bad[:2]})")
    hosts = [h for h, _ in alts if h]
    if sorted(hosts) != sorted(gated):
        out.append(f"alternations for {len(hosts)} hosts, {len(gated)} "
                   f"passed the gate (missing {sorted(set(gated) - set(hosts))[:3]})")
    return out


def check_same_patterns(plan: list[tuple[str, str]],
                        trees: list[tuple[str, str]]) -> list[str]:
    """theme_page_plan learned the same per-host leaf alternations as
    build_trees + leaf_alternations over the same pages."""
    if sorted(plan) == sorted(trees):
        return []
    diff = sorted(set(plan) ^ set(trees))
    return [f"theme_page_plan patterns differ from the tree pass for "
            f"{len({h for h, _ in diff})} hosts (e.g. {diff[:1]})"]


def check_classification(classified: list[tuple[str, str, str]],
                         patterns: list[tuple[str, str]]) -> list[str]:
    """Each page is THEME_PAGE exactly when its host learned an alternation
    and the alternation matches the canonical URL (unanchored search, the
    regexp_like semantics) — recomputed here with Python's ``re``."""
    rx = {h: re.compile(p) for h, p in patterns}
    bad = [(h, u, t) for h, u, t in classified
           if t != ("THEME_PAGE" if h in rx and rx[h].search(u)
                    else "OTHER_PAGE")]
    return [f"{len(bad)} of {len(classified)} pages misclassified "
            f"(e.g. {bad[:2]})"] if bad else []


def theme_coverage(classified: list[tuple[str, str, str]],
                   gated: set[str]) -> float:
    """Share of the training pages of gated hosts classified THEME_PAGE."""
    mine = [t for h, _, t in classified if h in gated]
    return sum(t == "THEME_PAGE" for t in mine) / max(len(mine), 1)


def check_repeatable(name: str, outputs: list) -> list[str]:
    """Every pass of one seed produced the same output."""
    first = outputs[0]
    n_diff = sum(1 for o in outputs[1:] if o != first)
    return [f"{name}: {n_diff} of {len(outputs)} passes differ from the "
            "first"] if n_diff else []


def finite_positive(metrics: dict[str, float]) -> list[str]:
    return [f"metric {k} = {v} is not a positive number"
            for k, v in metrics.items()
            if not (isinstance(v, (int, float)) and math.isfinite(v) and v > 0)]
