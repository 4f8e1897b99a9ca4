"""Pin the cardinality-derived parameter defaults to their documented
targets (scaling.py module docstring), and the size-gated broadcast hint's
physical-plan behavior on host-cardinality dimensions."""

import contextlib

from pyspark.sql import functions as F

from url_pattern_algorithm_spark.scaling import (
    broadcast_if_small,
    derive_bloom_buckets,
    derive_bloom_m_bits,
    derive_n_planes,
)


def test_bloom_buckets_targets():
    assert derive_bloom_buckets(10**10) == 4096  # the docstring promise
    assert derive_bloom_buckets(10**6) == 64     # sandbox clamp
    assert derive_bloom_buckets(0) == 64
    # power of two at every scale
    for n in (10**7, 10**8, 10**9, 10**11):
        b = derive_bloom_buckets(n)
        assert b & (b - 1) == 0 and 64 <= b <= 65536


def test_bloom_m_bits_targets():
    assert derive_bloom_m_bits(10**10, 4096) == 1 << 25  # ~4 MiB bitmaps
    assert derive_bloom_m_bits(10**5, 64) == 1 << 17     # sandbox clamp
    # >= bits_per_key x keys/bucket (never undersized)
    m = derive_bloom_m_bits(10**9, 1024)
    assert m >= (10**9 / 1024) * 10


def test_n_planes_targets():
    assert derive_n_planes(10**9) == 18
    assert derive_n_planes(500) == 8    # the sandbox default
    assert derive_n_planes(10**12) == 28  # clamp: 2^28 buckets is plenty
    # occupancy target: n / 2^planes <= 2 * target
    for n in (10**6, 10**8, 10**10):
        p = derive_n_planes(n)
        assert n / (1 << p) <= 2 * 4096


# ---------------------------------------------------------------------------
# broadcast_if_small: the gate that keeps host-cardinality dimensions
# (politeness budgets, robots rules, per-host counts, alternations) from
# being force-broadcast at 10^7+-host scale (r3 verdict item 1).
# ---------------------------------------------------------------------------

def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@contextlib.contextmanager
def _no_auto_broadcast(spark):
    """Disable size-based broadcast so the ONLY possible broadcast source
    is the hint under test (hints override the threshold)."""
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    old = {}
    for k in keys:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, "-1")
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None or v == "":
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _host_frames(spark, n_hosts=500):
    fact = spark.range(0, 4000).select(
        F.concat(F.lit("h"), (F.col("id") % n_hosts).cast("string")).alias("host"),
        F.col("id"),
    )
    dim = spark.range(0, n_hosts).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
        F.lit(1.0).alias("w"),
    )
    return fact, dim


def test_broadcast_gate_physical_plans(spark):
    fact, dim = _host_frames(spark)
    with _no_auto_broadcast(spark):
        under = fact.join(broadcast_if_small(dim, est_rows=500), "host")
        under.collect()
        assert "BroadcastHashJoin" in _plan(under)

        over = fact.join(broadcast_if_small(dim, est_rows=10**8), "host")
        over.collect()
        p = _plan(over)
        assert "BroadcastHashJoin" not in p
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p


def test_broadcast_gate_probe_path(spark):
    """est_rows=None: a bounded limit+count probe decides."""
    fact, dim = _host_frames(spark)
    with _no_auto_broadcast(spark):
        hinted = fact.join(broadcast_if_small(dim), "host")
        hinted.collect()
        assert "BroadcastHashJoin" in _plan(hinted)

        gated = fact.join(broadcast_if_small(dim, max_rows=100), "host")
        gated.collect()
        assert "BroadcastHashJoin" not in _plan(gated)


def test_cap_per_host_gate(spark):
    from url_pattern_algorithm_spark.operators.sampling import cap_per_host

    urls = spark.range(0, 4000).select(
        F.concat(F.lit("h"), (F.col("id") % 300).cast("string")).alias("host"),
        F.concat(F.lit("http://x/"), F.col("id").cast("string")).alias("url"),
    )
    with _no_auto_broadcast(spark):
        small = cap_per_host(urls, cap=5, est_hosts=300)
        small.collect()
        assert "BroadcastHashJoin" in _plan(small)

        big = cap_per_host(urls, cap=5, est_hosts=10**8)
        big.collect()
        assert "BroadcastHashJoin" not in _plan(big)


def test_robots_filter_gate(spark):
    from url_pattern_algorithm_spark.operators.frontier import robots_filter

    cand = spark.range(0, 1000).select(
        F.concat(F.lit("h"), (F.col("id") % 40).cast("string")).alias("host"),
        F.concat(
            F.lit("http://h"), (F.col("id") % 40).cast("string"),
            F.lit("/p/"), F.col("id").cast("string"),
        ).alias("url"),
    )
    robots = spark.createDataFrame(
        [(f"h{i}", "/blocked", False) for i in range(40)],
        "host string, prefix string, allow boolean",
    )
    with _no_auto_broadcast(spark):
        for longest in (False, True):
            small = robots_filter(cand, robots, longest_match=longest,
                                  est_rows=40)
            small.collect()
            assert "BroadcastHashJoin" in _plan(small)

            big = robots_filter(cand, robots, longest_match=longest,
                                 est_rows=10**8)
            big.collect()
            assert "BroadcastHashJoin" not in _plan(big)


def test_ann_n_planes_default_derives(spark):
    # r3 verdict item 4: similarity operators must DERIVE the plane count
    # when not pinned — a 10^8-row corpus estimate gets 15 planes, not a
    # silent 8; est_rows costs no Spark job (corpus untouched)
    from url_pattern_algorithm_spark.operators.similarity import (
        _resolve_n_planes,
        cosine_near_duplicates,
    )

    assert _resolve_n_planes(None, None, 10**8) == 15
    assert _resolve_n_planes(None, None, 10**9) == 18
    assert _resolve_n_planes(None, 4, 10**9) == 4  # explicit pin wins
    # end-to-end: n_planes=None on a small corpus derives (count -> 8)
    # and still finds the planted duplicate pair
    rows = [(i, [float((i * 7 + d) % 5 - 2) for d in range(16)])
            for i in range(40)]
    rows.append((100, rows[0][1]))  # exact duplicate of vec 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.id_a, r.id_b)
           for r in cosine_near_duplicates(df, threshold=0.99,
                                           dim=16).collect()}
    assert (0, 100) in got


def test_salts_targets():
    from url_pattern_algorithm_spark.scaling import derive_salts

    assert derive_salts(5 * 10**9) == 4096   # 10^10 universe, half on one host
    assert derive_salts(10**5) == 16         # sandbox floor
    assert derive_salts(64_000_000) == 64    # 64M-row hot host -> 64-way
    assert derive_salts(10**13) == 4096      # clamp: phase-2 stays bounded


def test_schedule_output_salt_count_invariant(spark):
    # the derivation is safe to apply anywhere because the top-k RESULT is
    # a pure function of (frontier, budget): only partitioning moves with
    # the salt count
    from pyspark.sql import functions as F

    from url_pattern_algorithm_spark.operators.frontier import schedule_top_k

    rng = spark.range(3000)
    frontier = rng.select(
        F.when(F.col("id") < 2500, F.lit("hot.example.com"))
        .otherwise(F.concat(F.lit("c"), (F.col("id") % 7).cast("string"),
                            F.lit(".example.com"))).alias("host"),
        (F.pmod(F.col("id") * 2654435761, F.lit(100000)))
        .cast("double").alias("priority"),
        F.xxhash64("id").alias("url_hash"),
        F.lit(25).alias("budget"),
    )
    outs = []
    for salts in (4, 16, 128):
        rows = sorted(
            tuple(r) for r in schedule_top_k(
                frontier, F.col("budget"), salts=salts
            ).select("host", "url_hash", "sched_rank").collect()
        )
        outs.append(rows)
    assert outs[0] == outs[1] == outs[2] and len(outs[0]) > 0
