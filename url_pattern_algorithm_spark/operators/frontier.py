"""Frontier core: seen-filter, Bloom prefilter, robots, politeness, priority.

These are the north_rule's native additions (no reference analogue except the
salting pattern, PredictFssJob.java:155-185). Every operator is a DataFrame
transform — no driver-side loops, no collect of frontier-scale data:

- seen filter     = ``left_anti`` join on the 64-bit canonical hash, with an
  optional partitioned-Bloom prefilter that routes the (at steady state,
  dominant) definitely-unseen candidates around the shuffle (the crawl
  loop uses the cuckoo prefilter of operators/cuckoo.py instead);
- robots filter   = broadcast join of per-host disallow prefixes;
- politeness      = token-bucket state table joined on host; budget caps the
  per-host top-k;
- priority queue  = salted two-phase window top-k: phase 1 ranks inside
  (host, salt) partitions so a hot host spreads over `salts` shuffle
  partitions, phase 2 ranks the <= salts x budget survivors exactly.
  Ordering: priority DESC, url_hash ASC — the deterministic total order that
  replaces the reference's HashMap nondeterminism (SURVEY.md §7).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from url_pattern_algorithm_spark.scaling import broadcast_if_small

# ---------------------------------------------------------------------------
# partitioned Bloom seen-prefilter
# ---------------------------------------------------------------------------

BLOOM_BITS_PER_KEY = 10  # ~1% fp at k=7
BLOOM_HASHES = 7


def _remix(hashes: "np.ndarray") -> "np.ndarray":
    """Decorrelate Bloom position bits from the bucket selector.

    bucket = url_hash % n_buckets fixes every in-bucket hash's low bits, so
    positions derived from the RAW hash address only 1/n_buckets of the
    bitmap on the first probe — measured 5.2% fp at the 10-bits/key design
    load instead of the ~0.8% theoretical rate. The murmur3 64-bit
    finalizer restores position uniformity; tests/test_bloom.py pins the
    measured rate (<2%) at derived sizing."""
    h = hashes.copy()
    h ^= h >> np.uint64(33)
    h *= np.uint64(0xFF51AFD7ED558CCD)
    h ^= h >> np.uint64(33)
    h *= np.uint64(0xC4CEB9FE1A85EC53)
    h ^= h >> np.uint64(33)
    return h


def _set_bits(bits: "np.ndarray", hashes: "np.ndarray", m: int) -> None:
    """Set the k Bloom positions for each 64-bit hash (double hashing)."""
    h1 = _remix(hashes)
    h2 = (h1 >> np.uint64(17)) | (h1 << np.uint64(47))
    for k in range(BLOOM_HASHES):
        idx = (h1 + np.uint64(k) * h2) % np.uint64(m)
        np.bitwise_or.at(bits, (idx >> np.uint64(3)).astype(np.int64),
                         (1 << (idx & np.uint64(7))).astype(np.uint8))


def _probe_bits(bits: "np.ndarray", hashes: "np.ndarray",
                m: int) -> "np.ndarray":
    """Membership probe over the k Bloom positions — the exact mirror of
    :func:`_set_bits` (same _remix + double-hashing schedule). Shared by
    the Spark-side cogroup probe and tests/test_bloom.py's measured
    fp-rate pin, so a position-schedule change can't drift between the
    builder, the prober, and the test."""
    h1 = _remix(hashes)
    h2 = (h1 >> np.uint64(17)) | (h1 << np.uint64(47))
    m_ = np.uint64(m)
    hit = np.ones(len(h1), dtype=bool)
    for k in range(BLOOM_HASHES):
        pos = (h1 + np.uint64(k) * h2) % m_
        hit &= (
            bits[(pos >> np.uint64(3)).astype(np.int64)]
            >> (pos & np.uint64(7)).astype(np.uint8)
        ) & 1 == 1
    return hit


# perfbench replays this Bloom operator; the crawl loop runs operators/cuckoo
def build_bloom(seen: DataFrame, n_buckets: int = 64,
                bits_per_key: int = BLOOM_BITS_PER_KEY,
                m_bits: int | None = None) -> DataFrame:
    """Build per-bucket Bloom bitmaps over ``seen.url_hash``.

    bucket = url_hash & (n_buckets-1). Each bucket's bitmap is built inside
    one ``applyInPandas`` task from that bucket's hashes only — nothing is
    collected on the driver, and bitmap size scales with the bucket's key
    count, so at 10^10 keys each of e.g. 4096 buckets holds ~2.4M keys -> 3MB
    bitmaps (fits an executor easily). Returns (bucket, m_bits, bitmap).

    ``m_bits`` fixes every bucket's bitmap size instead of sizing it from
    the bucket's key count — required for the *incremental* maintenance mode
    (:func:`update_blooms`): bitmaps built from per-iteration deltas can only be
    OR-merged when all share one m. Size m for the run's expected keys per
    bucket (~10 bits/key for ~1% fp).
    """

    def make(pdf: pd.DataFrame) -> pd.DataFrame:
        hashes = pdf["url_hash"].to_numpy(dtype=np.int64).astype(np.uint64)
        n = max(len(hashes), 1)
        if m_bits is not None:
            m = m_bits
        else:
            m = 1 << int(np.ceil(np.log2(max(n * bits_per_key, 64))))
        bits = np.zeros(m // 8, dtype=np.uint8)
        _set_bits(bits, hashes, m)
        return pd.DataFrame(
            {"bucket": [int(pdf["bucket"].iloc[0])], "m_bits": [int(m)],
             "bitmap": [bits.tobytes()]}
        )

    seen_b = seen.withColumn(
        "bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int")
    )
    return seen_b.groupBy("bucket").applyInPandas(
        make, "bucket int, m_bits long, bitmap binary"
    )


# perfbench replays this Bloom operator; the crawl loop runs operators/cuckoo
def update_blooms(state: DataFrame, delta_hashes: DataFrame,
                  n_buckets: int = 64,
                  m_bits: int = 1 << 17) -> DataFrame:
    """One-pass incremental Bloom update: state' = state | bloom(delta).

    Fuses the delta-bitmap build and the OR-merge into a single COGROUP on
    bucket (one shuffle of the delta's hashes, state rows ride along one per
    bucket) — half the passes of a separate build + merge. Buckets absent
    from the delta pass their state row through; buckets absent from the
    state get a fresh bitmap at the fixed ``m_bits``.
    """

    def merge(delta_pdf: pd.DataFrame, state_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(state_pdf):
            m = int(state_pdf["m_bits"].iloc[0])
            if m != m_bits:
                raise ValueError(
                    f"stored bloom m_bits={m} != configured {m_bits}; "
                    "rebuild blooms with build_bloom(..., m_bits=...)"
                )
            bits = np.frombuffer(state_pdf["bitmap"].iloc[0],
                                 dtype=np.uint8).copy()
            bucket = int(state_pdf["bucket"].iloc[0])
        else:
            bits = np.zeros(m_bits // 8, dtype=np.uint8)
            bucket = int(delta_pdf["bucket"].iloc[0])
        if len(delta_pdf):
            hashes = delta_pdf["url_hash"].to_numpy(dtype=np.int64).astype(
                np.uint64
            )
            _set_bits(bits, hashes, m_bits)
        return pd.DataFrame(
            {"bucket": [bucket], "m_bits": [int(m_bits)],
             "bitmap": [bits.tobytes()]}
        )

    delta_b = delta_hashes.withColumn(
        "bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int")
    )
    return (
        delta_b.groupBy("bucket")
        .cogroup(state.select("bucket", "m_bits", "bitmap").groupBy("bucket"))
        .applyInPandas(merge, "bucket int, m_bits long, bitmap binary")
    )


# perfbench replays this Bloom operator; the crawl loop runs operators/cuckoo
def bloom_maybe_seen(candidates: DataFrame, blooms: DataFrame,
                     n_buckets: int = 64) -> DataFrame:
    """Tag candidates with ``maybe_seen``: False -> definitely unseen (skip
    the anti-join shuffle), True -> needs the exact check.

    Formulated as a COGROUP on bucket: each bucket's candidate rows meet
    their single bitmap row once per task — the bitmap never rides along as
    a per-row column (a broadcast-join + mapInPandas variant pushed the
    bitmap through Arrow once PER CANDIDATE ROW: ~16KB x n_candidates, the
    dominant cost of the whole iteration). This shape also scales: at 10^10
    seen keys the bitmaps total ~12 GB across 4096 buckets — far too big to
    broadcast, but each cogroup task only ever holds its own bucket's ~3 MB
    slice."""

    def test(cand_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
        if bloom_pdf.empty:
            return cand_pdf.assign(maybe_seen=False)
        m = int(bloom_pdf["m_bits"].iloc[0])
        bits = np.frombuffer(bloom_pdf["bitmap"].iloc[0], dtype=np.uint8)
        hit = _probe_bits(
            bits,
            cand_pdf["url_hash"].to_numpy(dtype=np.int64).astype(np.uint64),
            m,
        )
        return cand_pdf.assign(maybe_seen=hit)

    cand_b = candidates.withColumn(
        "bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int")
    )
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in cand_b.schema.fields
    ) + ", maybe_seen boolean"
    return (
        cand_b.groupBy("bucket")
        .cogroup(blooms.groupBy("bucket"))
        .applyInPandas(test, schema)
        .drop("bucket")
    )


# perfbench passes the Bloom ``blooms`` argument; the crawl loop runs cuckoo
def seen_filter(candidates: DataFrame, seen: DataFrame | None,
                blooms: DataFrame | None = None,
                n_buckets: int = 64) -> DataFrame:
    """Candidates not in the seen set (URL-seen anti-join, SURVEY.md §2.3).

    With a Bloom prefilter: definitely-unseen rows bypass the anti-join
    entirely; only 'maybe seen' rows shuffle against the seen table. Without:
    a plain ``left_anti`` on url_hash (AQE handles skew/coalesce).
    """
    if seen is None:
        return candidates
    if blooms is not None:
        tagged = bloom_maybe_seen(candidates, blooms, n_buckets)
        sure_new = tagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = tagged.filter(F.col("maybe_seen")).drop("maybe_seen")
        checked = maybe.join(seen.select("url_hash"), "url_hash", "left_anti")
        return sure_new.unionByName(checked)
    return candidates.join(seen.select("url_hash"), "url_hash", "left_anti")


# ---------------------------------------------------------------------------
# robots + politeness + priority
# ---------------------------------------------------------------------------


def robots_filter(candidates: DataFrame, robots: DataFrame,
                  longest_match: bool = False,
                  est_rows: int | None = None) -> DataFrame:
    """Robots rule matching on the candidate's path.

    Robots rule sets are per-host and small *per host* -> broadcast join
    (the reference's side-input pattern, PatternJob.java:200-239) — but the
    table grows with DISTINCT HOSTS (10^7-10^8 at north_rule scale), so the
    hint is size-gated (scaling.broadcast_if_small). ``est_rows`` is the
    caller-known robots row count (the crawl loop probes once per run);
    when None a bounded probe decides. Uses the url's raw path.

    Default mode: drop candidates whose path matches any disallow rule
    (allow rows ignored) — the crawl loop's parity semantics (the
    pure-python oracle implements the same rule). Plain prefixes match by
    startswith; prefixes carrying the spec's wildcards ('*' run, trailing
    '$' anchor — body-parsed robots produce these) match via their
    translated regex, so raw-robots.txt rules are honored here too.

    ``longest_match=True``: standard robots.txt precedence — among all
    rules whose PATTERN matches the path, the LONGEST (raw pattern length;
    Google robots spec's most-specific rule) wins; the candidate survives
    iff that rule is an allow (or no rule matches). Patterns support the
    spec's wildcards: ``*`` matches any character run, a trailing ``$``
    anchors the end; everything else is literal (a plain prefix behaves
    exactly like the old startswith). Implemented as one equi broadcast
    join against per-host collected rule arrays (each carrying its
    pre-translated anchored regex, built once on the dimension side) +
    a codegen ``array_max`` over the matched rules — no window, no row
    identity: deterministic under task retry/stage recomputation (r2's
    monotonically_increasing_id window key could split one candidate's
    rows across recomputed partitions), and duplicate candidate rows
    pass through independently like the default mode.
    """
    # the raw path by kernel/crawl_oracle.raw_path's rule: after the FIRST
    # '://' and the authority, up to '?'/'#'; '/' when there is none.
    # parse_url returns NULL for URLs java.net.URI rejects (e.g. a '|' in
    # the path), which would test '/' instead of the real path.
    raw = F.regexp_extract(F.col("url"),
                           r"(?s)^(?>.*?://)[^/?#]*+(/[^?#]*)", 1)
    path = F.coalesce(F.nullif(raw, F.lit("")), F.lit("/"))

    # pattern -> anchored regex, built once per DIMENSION row (never per
    # candidate): escape every regex metachar, then '\*' -> '.*' and a
    # trailing '\$' back to the '$' anchor, '^'-prefixed
    def _pattern_rx():
        esc = F.regexp_replace(F.col("prefix"),
                               r"([.^$|?*+()\[\]{}\\])", r"\\$1")
        wild = F.regexp_replace(esc, r"\\\*", ".*")
        anchored = F.regexp_replace(wild, r"\\\$$", r"\$")
        return F.concat(F.lit("^"), anchored)

    if not longest_match:
        # body-parsed prefixes may carry '*'/'$' wildcards — a literal
        # startswith silently no-ops those rules, so wildcard rows match
        # via their translated regex; plain prefixes keep the startswith
        # fast path (same kernel/crawl_oracle._robots_allowed semantics)
        disallow = robots.filter(~F.col("allow")).select(
            F.col("host").alias("r_host"), F.col("prefix")
        ).withColumn(
            "_rx",
            F.when(
                F.col("prefix").contains("*") | F.col("prefix").endswith("$"),
                _pattern_rx(),
            ),
        )
        joined = candidates.join(
            broadcast_if_small(disallow, est_rows),
            (F.col("host") == F.col("r_host"))
            & F.when(F.col("_rx").isNotNull(),
                     F.regexp_like(path, F.col("_rx")))
              .otherwise(path.startswith(F.col("prefix"))),
            "left",
        )
        return joined.filter(F.col("r_host").isNull()).drop(
            "r_host", "prefix", "_rx"
        )
    # per-host rule arrays: robots rule sets are tiny (dozens of rows per
    # host), so collect_list stays broadcast-sized; list order is
    # irrelevant — precedence is an order-insensitive array_max.
    rule_sets = robots.groupBy(F.col("host").alias("r_host")).agg(
        F.collect_list(
            F.struct(
                F.length("prefix").alias("len"),
                F.col("allow"),
                F.col("prefix"),
                _pattern_rx().alias("rx"),
            )
        ).alias("_rules")
    )
    joined = candidates.join(
        broadcast_if_small(rule_sets, est_rows),  # rows <= robots rows
        F.col("host") == F.col("r_host"), "left",
    )
    matched = F.filter(F.col("_rules"),
                       lambda r: F.regexp_like(path, r["rx"]))
    # longest matching pattern wins; allow breaks pattern-length ties
    # (Google robots spec: least-restrictive on ties) — struct ordering
    # (len, allow, prefix, rx) compares exactly that way
    best = F.array_max(matched)
    keep = (
        F.col("_rules").isNull()  # host has no robots rules
        | (F.size(matched) == 0)
        | best["allow"]
    )
    return joined.filter(keep).drop("r_host", "_rules")


def host_crawl_delays(robots: DataFrame, default: float = 1.0) -> DataFrame | None:
    """Per-host Crawl-delay directive parsed from the robots table
    (north_rule crawl realism — real robots.txt carries one per host, and
    politeness_budgets divides the refill by it).

    Returns (host, crawl_delay), or None when the robots table carries no
    ``crawl_delay`` column (legacy prefix-only tables — callers then use
    ``default`` for every host). Rows with a NULL delay fall back to
    ``default``; multiple rules per host take the MAX (the conservative,
    slowest-crawl reading of conflicting directives). A delay that is not
    positive and finite counts as NULL, as the body parser drops it
    (kernel/robots.py): politeness_budgets divides the refill by it."""
    if "crawl_delay" not in robots.columns:
        return None
    d = F.col("crawl_delay")
    # Spark orders NaN above +inf, so `d < inf` also drops NaN
    valid = F.when((d > 0) & (d < F.lit(float("inf"))), d)
    return robots.groupBy("host").agg(
        F.coalesce(F.max(valid), F.lit(default)).alias("crawl_delay")
    )


def rank_top_k(frontier: DataFrame, budget_col, salts: int = 16) -> DataFrame:
    """Salted two-phase per-host priority top-k (north_rule priority queue):
    every frontier row + ``sched_rank``, NULL where it is not scheduled.

    ``budget_col`` is a per-row integer column (already joined from the
    politeness state) giving that host's budget this iteration; a NULL
    budget schedules nothing. Phase 1 ranks within (host, salt) — a hot
    host's rows spread over `salts` partitions and at most salts x budget
    survive rank <= budget. Phase 2 ranks a host's survivors exactly in one
    partition; the other rows keep their salt. Deterministic order:
    priority DESC, url_hash ASC. The survivor flag is a phase-2 key, so
    schedule_top_k's filter moves below phase 2 and, for a literal budget,
    both phases plan as WindowGroupLimit."""
    order = [F.col("priority").desc(), F.col("url_hash").asc()]
    salt = F.pmod(F.col("url_hash"), F.lit(salts)).cast("int")
    rn1 = F.row_number().over(Window.partitionBy("host", salt).orderBy(*order))
    survives = F.coalesce(rn1 <= budget_col, F.lit(False))
    keep, rn2 = F.col("_keep"), F.col("_rn2")
    w2 = Window.partitionBy("host", keep, F.when(~keep, salt)).orderBy(*order)
    return (
        frontier.withColumn("_keep", survives)
        .withColumn("_rn2", F.row_number().over(w2))
        .withColumn("sched_rank", F.when(keep & (rn2 <= budget_col), rn2))
        .drop("_keep", "_rn2")
    )


def schedule_top_k(frontier: DataFrame, budget_col, salts: int = 16) -> DataFrame:
    """The scheduled rows of :func:`rank_top_k`."""
    return rank_top_k(frontier, budget_col, salts).filter(
        F.col("sched_rank").isNotNull())


def politeness_budgets(host_state: DataFrame, refill: float = 1.0,
                       cap: float = 8.0) -> DataFrame:
    """Advance the per-host token bucket one iteration (F2 host_state):
    tokens' = min(cap, tokens + refill x crawl_delay_factor); budget =
    floor(tokens'). Returns (host, tokens_avail, budget, crawl_delay), so
    the crawl loop debits the scheduled batch from this one frame."""
    t = F.least(F.lit(cap), F.col("tokens") + F.lit(refill) / F.col("crawl_delay"))
    return host_state.select(
        "host",
        t.alias("tokens_avail"),
        F.floor(t).cast("int").alias("budget"),
        "crawl_delay",
    )
