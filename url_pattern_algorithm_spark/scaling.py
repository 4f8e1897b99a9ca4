"""Cardinality-derived parameter defaults (r2 verdict item 10).

The sandbox constants — 64 Bloom buckets, 8 LSH planes — are right for
the 10^5..10^6-key test corpora and wrong at the 10^10-key north_rule
scale (the operator docstrings promise ~4096 Bloom buckets there). These
helpers derive the parameters from an input-cardinality ESTIMATE: a
known universe size, a catalog row count, a planner statistic — never a
mandatory extra Spark action. Every result is a power of two (the bucket
arithmetic uses masks/pmod) and clamped to a sane range.

Documented targets (pinned by tests/test_scaling.py):
- ``derive_bloom_buckets(10**10)`` == 4096 — ~2.4M keys per bucket, so
  each cogroup task holds one ~4 MiB bitmap slice
  (operators/frontier.py:49-62,132-144);
- ``derive_bloom_m_bits(10**10, 4096)`` == 2**25 — ~13 bits/key in the
  bucket (fp ~0.2% with the 7-hash scheme, operators/frontier.py
  BLOOM_HASHES);
- ``derive_n_planes(10**9)`` == 18 — LSH bucket occupancy ~4096 rows, so
  a bucket self-join stays ~10^7 pairs, not quadratic in the corpus
  (operators/similarity.py lsh_buckets);
- ``derive_salts(5 * 10**9)`` == 4096 — the top-k salt factor under the
  worst-case one-host-holds-half assumption at a 10^10 frontier
  (~1.2M rows per phase-1 window task; PredictFssJob.java:155-185 is the
  reference's 80-way hand-tuned analogue);
- small inputs clamp DOWN to the sandbox constants, so deriving is always
  safe: derive_bloom_buckets(10**6) == 64, derive_n_planes(500) == 8.
"""

from __future__ import annotations

import math


def _pow2_round(x: float, lo: int, hi: int) -> int:
    """Nearest power of two to ``x``, clamped to [lo, hi] (both pow2)."""
    if x <= lo:
        return lo
    return min(hi, 1 << round(math.log2(x)))


def _pow2_ceil(x: float, lo: int, hi: int) -> int:
    if x <= lo:
        return lo
    return min(hi, 1 << math.ceil(math.log2(x)))


def derive_bloom_buckets(n_keys: int,
                         keys_per_bucket: int = 2_500_000) -> int:
    """Bloom bucket count for an expected ``n_keys`` seen-set size: one
    bucket per ~2.5M keys, so a bucket's bitmap (see derive_bloom_m_bits)
    stays a few MiB — small enough for one cogroup task, large enough
    that 10^10 keys need only thousands of tasks."""
    return _pow2_round(n_keys / keys_per_bucket, 64, 65536)


def derive_bloom_m_bits(n_keys: int, n_buckets: int,
                        bits_per_key: int = 10) -> int:
    """Fixed per-bucket bitmap size for the incremental OR-merge mode:
    next power of two over ``bits_per_key`` x the expected keys per
    bucket (~0.8% fp at 10 bits/key with the 7-hash scheme,
    operators/frontier.py BLOOM_HASHES; tests/test_bloom.py measures it)."""
    per_bucket = max(n_keys / max(n_buckets, 1), 1.0)
    return _pow2_ceil(per_bucket * bits_per_key, 1 << 17, 1 << 28)


def derive_n_planes(n_rows: int, target_bucket: int = 4096) -> int:
    """LSH hyperplane count targeting ~``target_bucket`` rows per bucket:
    ceil(log2(n / target)), clamped to [8, 28]. Complements (does not
    replace) the hot-bucket guard — this sizes the AVERAGE occupancy;
    the guard handles the skewed tail."""
    if n_rows <= target_bucket:
        return 8
    return max(8, min(28, math.ceil(math.log2(n_rows / target_bucket))))


def derive_salts(est_hot_host_rows: int,
                 rows_per_task: int = 1_000_000) -> int:
    """Salt count for the two-phase priority top-k: enough (host, salt)
    phase-1 partitions that the HOTTEST host's rows split into
    ~``rows_per_task`` windows per task. The reference hard-codes 80-way
    salting for its 16 known-hot hosts (PredictFssJob.java:155-185); this
    derives the factor from an upper-bound estimate of the hottest host's
    pending rows (e.g. frontier size x worst-case host share). Clamped to
    [16, 4096]: 16 is the tested sandbox floor, 4096 bounds the phase-2
    survivor count (salts x budget rows re-ranked exactly)."""
    return _pow2_round(est_hot_host_rows / rows_per_task, 16, 4096)


# Size gate for forced-broadcast hints on host-cardinality dimensions.
# ~100 B/row for a (host, few numerics) dimension puts 2M rows near
# 200 MB broadcast — comfortably inside executor memory and far under
# Spark's 8 GB broadcast hard cap. Past this, the hint is dropped and the
# (equi-)join strategy is left to AQE / autoBroadcastJoinThreshold.
BROADCAST_MAX_ROWS = 2_000_000


def broadcast_if_small(df, est_rows: int | None = None,
                       max_rows: int = BROADCAST_MAX_ROWS):
    """Size-gated ``F.broadcast`` hint for dimension tables that grow with
    DISTINCT-HOST cardinality (politeness budgets, robots rule sets,
    per-host counts, leaf alternations). At the north_rule's 10^10-URL
    scale these reach 10^7-10^8 rows — a forced hint there is a multi-GB
    broadcast that OOMs the driver or hits the 8 GB cap, while under the
    threshold the hint saves the fact-side shuffle the static planner
    can't always avoid (the dimension's own size estimate is unknown
    before its aggregation runs).

    - ``est_rows`` given: a caller-known cardinality (the crawl loop's
      tracked host count, a checkpoint write count) — no extra Spark job.
    - ``est_rows is None``: a bounded probe ``df.limit(max_rows+1).count()``
      decides. NB the probe evaluates ``df``'s lineage once in addition
      to the join — persist an expensive dimension before calling (the
      plans do).

    All call sites are equi-joins, so the un-hinted fallback (AQE picks
    shuffle-hash / sort-merge, converting back to broadcast at runtime if
    the dimension turns out tiny) is always a valid plan.
    """
    from pyspark.sql import functions as F

    if est_rows is None:
        est_rows = df.limit(max_rows + 1).count()
    return F.broadcast(df) if est_rows <= max_rows else df


def gated_dim(dim, est_rows: int | None = None,
              max_rows: int = BROADCAST_MAX_ROWS):
    """``broadcast_if_small`` for an EXPENSIVE dimension (an aggregation,
    not a scan): with no caller estimate the dimension is tracked-persisted
    FIRST so the bounded probe materializes the aggregation once and the
    join reads the cache — without the persist the probe re-runs the full
    fact-side lineage a second time. The single shared home for the
    persist-then-probe pattern.

    Callers that KNOW the dimension cardinality should pass ``est_rows``
    (no probe job, no persist). Probe persists land in the session's
    tracked registry, which the query wrappers drain per query and which
    is BOUNDED for direct library callers (session._MAX_TRACKED oldest-
    evicted), so repeated calls cannot accumulate caches without limit."""
    from url_pattern_algorithm_spark.session import persist_tracked

    if est_rows is None:
        dim = persist_tracked(dim)
    return broadcast_if_small(dim, est_rows, max_rows)
