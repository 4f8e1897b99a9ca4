"""unsee_urls: purge URLs from crawl seen state (Iceberg DELETE analogue).

Pins, for a deterministic purge set:
- seen rows removed exactly;
- the cuckoo snapshot is brought in line INCREMENTALLY (delete_from_cuckoos)
  with no false negative introduced for still-seen URLs;
- a resumed continuation schedules the same batch as a reference whose
  filter is rebuilt from the purged seen table, and re-admits purged URLs
  that reappear as candidates.
"""

import pytest
from pyspark.sql import functions as F

from url_pattern_algorithm_spark.operators.cuckoo import seen_filter_cuckoo
from url_pattern_algorithm_spark.plans.crawl import (
    read_seen,
    reenqueue_urls,
    run_crawl,
    unsee_urls,
)
from url_pattern_algorithm_spark.sources.catalog import Catalog
from url_pattern_algorithm_spark.sources.synthetic import (
    docs_df,
    robots_df,
    seeds_df,
)

N_DOCS = 400
N_HOSTS = 6
ITERS = 3
KINDS = ("cuckoo",)


@pytest.fixture(scope="module")
def purged_runs(spark, tmp_path_factory):
    docs = docs_df(spark, N_DOCS, N_HOSTS, partitions=4)
    seeds = seeds_df(spark, N_HOSTS)
    robots = robots_df(spark, N_HOSTS)
    roots = {}
    for kind in KINDS:
        root = str(tmp_path_factory.mktemp(f"unsee_{kind}"))
        run_crawl(spark, docs, seeds, robots, root, N_DOCS,
                  iterations=ITERS, prefilter_kind=kind)
        roots[kind] = root
    cat = Catalog(spark, roots["cuckoo"])
    pre = {
        (r["url_hash"], r["first_iter"])
        for r in read_seen(cat, ITERS).select("url_hash", "first_iter").collect()
    }
    # request both fetched URLs (scheduled_2 — purgeable) and discovered-
    # but-still-pending ones (most first_iter==2 rows — must be skipped:
    # pending ⊆ seen invariant), so the request exercises both branches
    requested = {h for h, it in pre if it == 2} | {
        r["url_hash"]
        for r in cat.read("scheduled_2").select("url_hash").collect()
    }
    pend = {
        r["url_hash"]
        for r in cat.read(f"pending_{ITERS}").select("url_hash").collect()
    }
    purged = requested - pend
    assert purged and (requested & pend) and purged != {h for h, _ in pre}
    purge_df = spark.createDataFrame(
        [(h,) for h in sorted(requested)], "url_hash long"
    )
    ns = {k: unsee_urls(spark, roots[k], purge_df) for k in KINDS}
    return spark, docs, seeds, robots, roots, pre, purged, ns


def _seen_hashes(spark, root, upto=ITERS):
    cat = Catalog(spark, root)
    return {r["url_hash"] for r in read_seen(cat, upto).collect()}


def test_unsee_removes_rows_identically_across_kinds(purged_runs):
    spark, _, _, _, roots, pre, purged, ns = purged_runs
    want = {h for h, _ in pre} - purged
    assert ns == {k: len(purged) for k in KINDS}
    for kind in KINDS:
        assert _seen_hashes(spark, roots[kind]) == want, kind


def test_unsee_cuckoo_incremental_no_false_negatives(purged_runs):
    # after delete_from_cuckoos, purged candidates pass the full
    # prefilter+anti-join path and every still-seen candidate is still
    # caught — the semi-join guard means no collider fingerprint of a
    # remaining key was evicted
    spark, _, _, _, roots, pre, purged, _ = purged_runs
    cat = Catalog(spark, roots["cuckoo"])
    filters = cat.read(f"cuckoo_{ITERS}").select("bucket", "nb", "table",
                                                 "stash")
    seen = read_seen(cat, ITERS)
    all_hashes = {h for h, _ in pre}
    cand = spark.createDataFrame(
        [(h,) for h in sorted(all_hashes)], "url_hash long"
    )
    import json
    import os

    meta = json.load(open(os.path.join(roots["cuckoo"], "_run_meta.json")))
    admitted = {
        r["url_hash"]
        for r in seen_filter_cuckoo(cand, seen, filters,
                                    meta["bloom_buckets"]).collect()
    }
    assert admitted == purged


def test_unsee_bloom_snapshot_dropped_then_rebuilt(purged_runs):
    spark, docs, seeds, robots, roots, pre, purged, _ = purged_runs
    # the cuckoo snapshot is updated in place, not dropped
    assert Catalog(spark, roots["cuckoo"]).exists(f"cuckoo_{ITERS}")


def test_resume_after_unsee_parity_across_kinds(purged_runs):
    # independent reference: a copy of the purged root without cuckoo_3,
    # so its resume rebuilds the filter from the purged seen table instead
    # of extending the incrementally deleted one; iteration 4 must agree
    import shutil

    spark, docs, seeds, robots, roots, pre, purged, _ = purged_runs
    ref = roots["cuckoo"] + "_rebuilt"
    shutil.copytree(roots["cuckoo"], ref)
    Catalog(spark, ref).drop(f"cuckoo_{ITERS}")
    batches = {}
    for name, root in (("incremental", roots["cuckoo"]), ("rebuilt", ref)):
        counts = run_crawl(spark, docs, seeds, robots, root, N_DOCS,
                           iterations=ITERS + 1, resume_from=ITERS,
                           run_id="after_purge")
        cat = Catalog(spark, root)
        rows = (
            cat.read(f"scheduled_{ITERS + 1}")
            .orderBy("host", "sched_rank")
            .select("url", "url_canon", "url_hash", "host", "sched_rank")
            .collect()
        )
        batches[name] = [tuple(r) for r in rows]
        assert counts[ITERS + 1] == len(rows)
        # seen means "entered the frontier" — iteration 4 may legitimately
        # schedule backlog rows from pending_3 (discovered earlier, held by
        # politeness budgets). The recrawl invariant is on RE-scheduling:
        # a URL scheduled twice must be one the purge un-saw.
        prior = set()
        for it in range(1, ITERS + 1):
            prior |= {
                r["url_hash"]
                for r in cat.read(f"scheduled_{it}").select("url_hash").collect()
            }
        assert ({r["url_hash"] for r in rows} & prior) <= purged
    assert batches["incremental"] == batches["rebuilt"]
    # and the final seen sets agree
    assert _seen_hashes(spark, roots["cuckoo"], ITERS + 1) == _seen_hashes(
        spark, ref, ITERS + 1
    )


def test_unsee_never_inserted_is_noop(purged_runs):
    spark, _, _, _, roots, pre, purged, _ = purged_runs
    ghost = spark.createDataFrame([(123456789012345,)], "url_hash long")
    before = _seen_hashes(spark, roots["cuckoo"], ITERS + 1)
    assert unsee_urls(spark, roots["cuckoo"], ghost) == 0
    assert _seen_hashes(spark, roots["cuckoo"], ITERS + 1) == before


@pytest.fixture(scope="module")
def recrawl_run(spark, tmp_path_factory):
    docs = docs_df(spark, 200, 4, partitions=4)
    seeds = seeds_df(spark, 4)
    robots = robots_df(spark, 4)
    root = str(tmp_path_factory.mktemp("recrawl"))
    run_crawl(spark, docs, seeds, robots, root, 200, iterations=2,
              prefilter_kind="cuckoo")
    return spark, docs, seeds, robots, root


def test_unsee_accepts_raw_urls(recrawl_run):
    # url-column input goes through the same normalize kernel the loop
    # used, so purging by URL string hits the stored hash; a SCHEDULED
    # URL is fetched (no longer pending), hence purgeable
    spark, docs, seeds, robots, root = recrawl_run
    cat = Catalog(spark, root)
    victim = cat.read("scheduled_1").orderBy("url_hash").limit(1).collect()[0]
    purge = spark.createDataFrame([(victim["url_canon"],)], "url string")
    assert unsee_urls(spark, root, purge) == 1
    assert victim["url_hash"] not in _seen_hashes(spark, root, 2)
    # roundtrip: reenqueue restores the seen row (first_iter = last
    # iteration), re-inserts the prefilter fingerprint, and pends the URL
    vdf = spark.createDataFrame(
        [(victim["url_hash"], victim["url_canon"])],
        "url_hash long, url_canon string",
    )
    assert reenqueue_urls(spark, root, vdf) == 1
    restored = read_seen(cat, 2).filter(
        F.col("url_hash") == victim["url_hash"]
    ).collect()
    assert len(restored) == 1 and restored[0]["first_iter"] == 2
    # prefilter consistent again: the restored URL is FILTERED as seen
    filters = cat.read("cuckoo_2").select("bucket", "nb", "table", "stash")
    admitted = seen_filter_cuckoo(
        vdf.select("url_hash"), read_seen(cat, 2), filters,
        _meta(root)["bloom_buckets"],
    ).collect()
    assert not admitted
    # already pending now: a second reenqueue is a no-op
    assert reenqueue_urls(spark, root, vdf) == 0
    # the resumed iteration refetches it (priority 2.0 jumps the queue)
    run_crawl(spark, docs, seeds, robots, root, 200, iterations=3,
              resume_from=2, prefilter_kind="cuckoo", run_id="recrawl")
    sched3 = {
        r["url_hash"]
        for r in cat.read("scheduled_3").select("url_hash").collect()
    }
    assert victim["url_hash"] in sched3


def _meta(root):
    import json
    import os

    return json.load(open(os.path.join(root, "_run_meta.json")))


def test_reenqueue_seen_urls_rescheduled(spark, tmp_path):
    # plain recrawl scheduling: no purge, just an explicit refetch of
    # already-crawled URLs — they re-enter pending and win the next
    # iteration's top-k; nothing about seen state changes
    docs = docs_df(spark, 200, 4, partitions=4)
    seeds = seeds_df(spark, 4)
    robots = robots_df(spark, 4)
    root = str(tmp_path / "replain")
    run_crawl(spark, docs, seeds, robots, root, 200, iterations=2)
    cat = Catalog(spark, root)
    victims = (
        cat.read("scheduled_1").orderBy("url_hash").limit(3)
        .select("url_hash", "url_canon").collect()
    )
    seen_before = _seen_hashes(spark, root, 2)
    vdf = spark.createDataFrame(
        [(r["url_hash"], r["url_canon"]) for r in victims],
        "url_hash long, url_canon string",
    )
    assert reenqueue_urls(spark, root, vdf) == 3
    run_crawl(spark, docs, seeds, robots, root, 200, iterations=3,
              resume_from=2, run_id="recrawl")
    sched3 = {
        r["url_hash"]
        for r in cat.read("scheduled_3").select("url_hash").collect()
    }
    assert {r["url_hash"] for r in victims} <= sched3
    # seen rows untouched by a plain reenqueue (hashes were still seen)
    assert _seen_hashes(spark, root, 2) == seen_before
    # a bare-hash request cannot build pending rows and must refuse
    with pytest.raises(ValueError, match="url_canon"):
        reenqueue_urls(spark, root, vdf.select("url_hash"))
    # a URL of a host without a host_state row has no budget: the next
    # iteration neither schedules nor drops it
    stranger = spark.createDataFrame([("http://stranger.example.org/a",)],
                                     "url string")
    assert reenqueue_urls(spark, root, stranger) == 1
    run_crawl(spark, docs, seeds, robots, root, 200, iterations=4,
              resume_from=3, run_id="recrawl2")
    host = F.col("host") == "stranger.example.org"
    assert cat.read("pending_4").filter(host).count() == 1
    assert cat.read("scheduled_4").filter(host).count() == 0


def test_unsee_on_compacted_history(spark, tmp_path):
    # the realistic long-crawl state: seen history collapsed into the
    # epoch=-1 partition by compaction. Purging must remove rows from the
    # compacted partition exactly like from delta epochs, and the rescaled
    # (possibly grown) prefilter snapshot must stay consistent.
    docs = docs_df(spark, 200, 4, partitions=4)
    seeds = seeds_df(spark, 4)
    robots = robots_df(spark, 4)
    root = str(tmp_path / "compacted_purge")
    run_crawl(spark, docs, seeds, robots, root, 200, iterations=3,
              prefilter_kind="cuckoo", compact_every=2)
    cat = Catalog(spark, root)
    compacted = {
        r["url_hash"]
        for r in cat.read("seen").filter(F.col("epoch") == -1)
        .select("url_hash").collect()
    }
    assert compacted  # compaction actually collapsed epochs 0..2
    pend = {
        r["url_hash"]
        for r in cat.read("pending_3").select("url_hash").collect()
    }
    victims = sorted(compacted - pend)[:5]
    assert victims
    vdf = spark.createDataFrame([(h,) for h in victims], "url_hash long")
    assert unsee_urls(spark, root, vdf) == len(victims)
    left = _seen_hashes(spark, root, 3)
    assert not (set(victims) & left)
    # prefilter still consistent: no false negative for surviving rows
    filters = cat.read("cuckoo_3").select("bucket", "nb", "table", "stash")
    cand = spark.createDataFrame([(h,) for h in sorted(left)][:200],
                                 "url_hash long")
    from url_pattern_algorithm_spark.plans.crawl import read_seen as _rs
    admitted = seen_filter_cuckoo(cand, _rs(cat, 3), filters,
                                  _meta(root)["bloom_buckets"]).count()
    assert admitted == 0
