"""The benchmark workloads: closed loops over the package's public API.

Each workload sets up (session start, seeded input generation + persist,
crawl state initialisation, warm-up), then runs a closed loop — the next
call starts when the previous one returns. ``learn_patterns`` repeats its
cycle until the program calls have taken ``seconds`` in total and at least
``min_cycles`` cycles ran; ``crawl`` makes one ``run_crawl`` call whose
iteration count is fixed from ``seconds`` before the call. Benchmark-side
bookkeeping between calls (checks) is not counted.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from dataclasses import dataclass, field

from perfbench import checks, inputs, layers
from perfbench.trace import Meter, Tracer, instrument

# ---------------------------------------------------------------------------
# sizes: "full" is what the benchmark measures; "tiny" is for its own tests
# ---------------------------------------------------------------------------

SIZES = {
    "crawl": {
        "full": {"n_hosts": 1024, "n_docs": 4096, "churn": 256},
        "tiny": {"n_hosts": 64, "n_docs": 2048, "churn": 8},
    },
    "learn_patterns": {
        "full": {"n_hosts": 24, "n_docs": 6000, "rule_hosts": 8,
                 "keys_per_host": 625, "warm_cycles": 2, "min_cycles": 3},
        "tiny": {"n_hosts": 4, "n_docs": 600, "rule_hosts": 2,
                 "keys_per_host": 625, "warm_cycles": 1, "min_cycles": 1},
    },
}

MIN_HOST_URLS = layers.MIN_HOST_URLS

# wall seconds of one full-size crawl iteration on the baseline machine
# (README); a crawl run makes max(1, round(seconds / ITER_EST_S)) iterations
ITER_EST_S = 35.0


@dataclass
class Run:
    """One benchmark run: arguments, results and failures."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    size: str
    workdir: str
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    report: dict[str, tuple[float, str]] = field(default_factory=dict)
    tracer: Tracer = None
    digest: str = ""

    def __post_init__(self):
        self.tracer = Tracer(f"{self.workload}-seed{self.seed}")

    @property
    def sizes(self) -> dict:
        return SIZES[self.workload][self.size]

    def check(self, failures: list[str]) -> None:
        self.attempted += 1
        self.failures += failures

    def timed(self, fn, *args, **kwargs):
        """Call a program operation; count it as attempted. Returns (result,
        wall seconds)."""
        self.attempted += 1
        t = time.perf_counter()
        out = fn(*args, **kwargs)
        return out, time.perf_counter() - t

    def metered(self, fn, *args, **kwargs):
        """:meth:`timed`, plus the CPU seconds the driver, its JVM and the
        Python workers executed meanwhile. Returns (result, Meter)."""
        with Meter() as m:
            out, _ = self.timed(fn, *args, **kwargs)
        return out, m


def start_spark():
    from url_pattern_algorithm_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{os.cpu_count()}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _job_high_water(spark) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids, default=-1)


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def _dir_bytes(path: str) -> int:
    return sum(_files(path).values()) if os.path.isdir(path) else 0


def _meter_report(run: Run, setup: Meter, loop: Meter) -> None:
    run.e2e["setup_s"] = setup.ref_cpu_s
    run.report["setup_wall_s"] = (setup.wall_s, "s")
    run.report["setup_cpu_s"] = (setup.cpu_s, "s")
    run.report["setup_host_speed"] = (setup.speed, "ratio")
    run.report["loop_cpu_s"] = (loop.cpu_s, "s")
    run.report["loop_ref_cpu_s"] = (loop.ref_cpu_s, "s")
    run.report["loop_host_speed"] = (loop.speed, "ratio")
    run.report["loop_steal_s"] = (loop.steal_s, "s")


def _percentile_report(run: Run, name: str, samples: list[float]) -> None:
    """Median with its sample count, plus the highest percentile that has at
    least ten samples beyond it, when there are enough samples."""
    run.report[f"{name}_p50"] = (statistics.median(samples), "s")
    run.report[f"{name}_n"] = (len(samples), "count")
    for p in (99, 90, 75):
        if len(samples) * (100 - p) / 100 >= 10:
            q = statistics.quantiles(samples, n=100)[p - 1]
            run.report[f"{name}_p{p}"] = (q, "s")
            break


class _StepProbe:
    """Wraps a plan call in a span, counts it as attempted and records its
    CPU seconds, raw and in reference CPU seconds; in a traced run also
    the Spark jobs it launched and the checkpoint files it left behind.
    ``on_first`` is called when the first call enters."""

    def __init__(self, run: Run, spark, root: str, span: str, fn,
                 on_first=None):
        self.run, self.spark, self.root, self.span, self.fn = (
            run, spark, root, span, fn)
        self.on_first = on_first
        self.cpu: list[float] = []
        self.ref_cpu: list[float] = []
        self.jobs: list[int] = []
        self.files: list[int] = []
        self.bytes: list[int] = []

    def __call__(self, *args, **kwargs):
        if self.on_first is not None:
            self.on_first()
            self.on_first = None
        self.run.attempted += 1
        if self.run.trace:
            before_files = _files(self.root)
            j0 = _job_high_water(self.spark)
        with self.run.tracer.span(self.span), Meter() as m:
            out = self.fn(*args, **kwargs)
        self.cpu.append(m.cpu_s)
        self.ref_cpu.append(m.ref_cpu_s)
        if not self.run.trace:
            return out
        self.jobs.append(_job_high_water(self.spark) - j0)
        new = {p: s for p, s in _files(self.root).items()
               if before_files.get(p) != s}
        self.files.append(len(new))
        self.bytes.append(sum(new.values()))
        return out


def _sources_step_metrics(run: Run, step: str, probe: _StepProbe,
                          n_urls: int) -> None:
    """Per-layer metrics common to both workloads' main plan call."""
    tr = run.tracer
    steps = tr.named(step)
    run.layer["plans.main_call_s"] = statistics.median(s.dur for s in steps)
    run.layer["plans.main_self_s"] = statistics.median(
        s.dur - tr.covered(s, "sources.") for s in steps)
    run.layer["plans.jobs_per_main_call"] = statistics.median(probe.jobs)
    run.layer["sources.files_per_main_call"] = statistics.median(probe.files)
    run.layer["sources.write_checkpoint_s"] = statistics.median(
        tr.covered(s, "sources.write_checkpoint") for s in steps)
    run.layer["sources.bytes_written_per_url"] = sum(probe.bytes) / max(n_urls, 1)
    per_kind: dict[str, list[float]] = {}
    for s in (d for st in steps for d in tr.descendants(st)):
        if s.name.startswith("sources.write_checkpoint."):
            per_kind.setdefault(s.name.rsplit(".", 1)[1], []).append(s.dur)
    for kind, durs in sorted(per_kind.items()):
        run.report[f"sources.write_checkpoint_s.{kind}"] = (
            statistics.median(durs), "s")
    run.report["plans.jobs_per_iter" if step == "plans.run_iteration"
               else "plans.jobs_per_call"] = (
        statistics.median(probe.jobs), "count")


# ---------------------------------------------------------------------------
# crawl
# ---------------------------------------------------------------------------


def crawl(run: Run) -> None:
    """Frontier iterations over many hosts at the default politeness, with
    the cuckoo seen-prefilter, as one ``run_crawl`` call: set-up ends when
    its first ``run_iteration`` starts. A traced run then applies a seeded
    churn batch (takedowns + recrawls) and a seen compaction before the
    replay."""
    from url_pattern_algorithm_spark.plans import crawl as plan
    from url_pattern_algorithm_spark.sources.catalog import Catalog
    from url_pattern_algorithm_spark.sources.synthetic import robots_rules

    z = run.sizes
    n_hosts, n_docs = z["n_hosts"], z["n_docs"]
    ckpt = os.path.join(run.workdir, "ckpt")
    tr = run.tracer

    setup = Meter().start()
    spark = start_spark()
    run.report["setup.session_s"] = (setup.elapsed_s(), "s")
    with tr.span("sources.docs_gen") as rec:
        docs = inputs.docs_indexed(spark, n_docs, n_hosts, run.seed).persist()
        rec["rows_out"] = docs.count()
    run.report["setup.inputs_s"] = (tr.named("sources.docs_gen")[0].dur, "s")
    seeds_local = inputs.seed_urls(n_hosts, run.seed)
    robots_local = robots_rules(n_hosts)
    seeds = spark.createDataFrame(seeds_local, "url string, priority double")
    robots = inputs.robots_frame(spark, n_hosts)
    cat = Catalog(spark, ckpt)
    kw = {"prefilter_kind": "cuckoo", "run_id": "bench"}

    n_iter = max(1, round(run.seconds / ITER_EST_S))
    loop = Meter()
    t_call = 0.0

    def setup_done() -> None:
        setup.stop()
        loop.start()
        run.report["setup.init_state_s"] = (time.perf_counter() - t_call, "s")

    step = _StepProbe(run, spark, ckpt, "plans.run_iteration",
                      plan.run_iteration, on_first=setup_done)
    plan_calls = {"plans.init_state": (plan, "init_state"),
                  "plans.compact_seen": (plan, "compact_seen")}
    with (instrument(tr, plan_calls) if run.trace
          else contextlib.nullcontext()):
        plan.run_iteration = step
        try:
            t_call = time.perf_counter()
            counts, _ = run.timed(plan.run_crawl, spark, docs, seeds, robots,
                                  ckpt, n_docs, iterations=n_iter, **kw)
            loop.stop()
        finally:
            plan.run_iteration = step.fn
        n_sched = sum(counts.values())

        run.report["main_op_raw_cpu_s"] = (statistics.median(step.cpu), "s")
        run.e2e["main_op_cpu_s"] = statistics.median(step.ref_cpu)
        run.e2e["urls_per_cpu_s"] = n_sched / loop.ref_cpu_s
        run.report["urls_per_s"] = (n_sched / loop.wall_s, "URLs/s")
        _meter_report(run, setup, loop)
        run.report["urls_scheduled"] = (n_sched, "URLs")
        _percentile_report(run, "iter", [
            s.dur for s in tr.named("plans.run_iteration")])

        sched_rows = {i: checks.scheduled_rows(cat, i)
                      for i in range(1, n_iter + 1)}
        run.check(checks.check_oracle(
            sched_rows[1], seeds_local, robots_local, n_docs, n_hosts,
            inputs.doc_offset(run.seed)))
        churn = (_churn(run, spark, cat, ckpt, sched_rows[n_iter], n_iter)
                 if run.trace else {"recrawled": set(), "purged": 0,
                                    "restored": 0})
        run.check(checks.check_crawl_state(
            cat, n_iter, sched_rows, robots_local, churn["recrawled"],
            churn["purged"], churn["restored"]))
        if run.trace:
            plan.compact_seen(cat, n_iter, int(plan._read_crawl_meta(cat)
                                               ["bloom_buckets"]))
            _crawl_layers(run, spark, cat, docs, robots, step, n_iter,
                          n_sched, n_docs, n_hosts)
    docs.unpersist()


def _churn(run: Run, spark, cat, ckpt: str, sched: list[tuple],
           last: int) -> dict:
    """A seeded batch of takedowns (``unsee_urls``) then recrawls
    (``reenqueue_urls``) against the state after iteration ``last``, each
    followed by its correctness check."""
    from url_pattern_algorithm_spark.plans import crawl as plan

    k = run.sizes["churn"]
    takedowns, recrawls = inputs.churn_sets(
        [(r[0], r[2]) for r in sched], k, run.seed, last)
    gone = {h for _, h in takedowns}
    back = {h for _, h in recrawls}
    req = spark.createDataFrame([(u,) for u, _ in takedowns], "url string")
    with run.tracer.span("plans.unsee_urls"):
        purged, dt_down = run.timed(plan.unsee_urls, spark, ckpt, req)
    run.check(checks.check_purged(spark, cat, last, sorted(gone))
              + ([] if purged == len(gone)
                 else [f"unsee_urls purged {purged} of {len(gone)}"]))
    req = spark.createDataFrame([(u,) for u, _ in recrawls], "url string")
    with run.tracer.span("plans.reenqueue_urls"):
        enq, dt_up = run.timed(plan.reenqueue_urls, spark, ckpt, req)
    run.check(checks.check_reenqueued(spark, cat, last, sorted(back))
              + ([] if enq == len(back)
                 else [f"reenqueue_urls enqueued {enq} of {len(back)}"]))
    run.report["takedown_s"] = (dt_down, "s")
    run.report["recrawl_s"] = (dt_up, "s")
    return {"recrawled": back, "purged": purged,
            "restored": len(back & gone)}


def _crawl_layers(run: Run, spark, cat, docs, robots, step, last: int,
                  n_sched: int, n_docs: int, n_hosts: int) -> None:
    from pyspark.sql import functions as F

    from url_pattern_algorithm_spark.functions.links import (
        extract_normalize_udf,
    )
    from url_pattern_algorithm_spark.plans.crawl import (
        _read_crawl_meta,
        fetch_doc_index_udf,
        read_seen,
    )

    tr = run.tracer
    _sources_step_metrics(run, "plans.run_iteration", step, n_sched)
    run.report["plans.init_state_s"] = (tr.named("plans.init_state")[0].dur,
                                        "s")
    run.report["plans.run_iteration_s"] = (run.layer["plans.main_call_s"], "s")
    run.report["plans.iter_uncovered_s"] = (run.layer["plans.main_self_s"], "s")
    comp = tr.named("plans.compact_seen")
    if comp:
        run.report["plans.compact_seen_s"] = (
            statistics.median(s.dur for s in comp), "s")
    rw = tr.named("sources.rewrite")
    if rw:
        run.report["sources.rewrite_s"] = (
            statistics.median(s.dur for s in rw), "s")
    run.report["sources.files_per_iter"] = (
        run.layer["sources.files_per_main_call"], "count")
    meta = _read_crawl_meta(cat)
    state = sum(_dir_bytes(cat.path(n)) for n in
                ("seen", f"cuckoo_{last}", f"pending_{last}"))
    run.layer["sources.state_bytes"] = state
    run.layer["sources.docs_gen_s"] = tr.named("sources.docs_gen")[0].dur

    # operator replay on the inputs of the last iteration: state as of
    # last-1, candidates from the documents its scheduled batch fetched
    prev = last - 1
    n_buckets = int(meta["bloom_buckets"])
    sched = cat.read(f"scheduled_{last}").select("url_hash")
    fetched = sched.withColumn(
        "doc_index", fetch_doc_index_udf(n_docs)(F.col("url_hash")))
    pages = fetched.join(docs, "doc_index", "inner")
    cand = pages.select(
        F.explode(extract_normalize_udf(F.col("spans"))).alias("l")
    ).select("l.url", "l.url_canon", "l.host").filter(
        F.col("url_canon").isNotNull()
    ).withColumn("url_hash", F.xxhash64("url_canon"))
    ratios = layers.replay_frontier(spark, tr, {
        "host_state": cat.read(f"host_state_{prev}").select(
            "host", "tokens", "last_iter", "crawl_delay"),
        "pending": cat.read(f"pending_{prev}").select(
            "url", "url_canon", "url_hash", "host", "priority",
            "discovered_iter"),
        "seen": read_seen(cat, prev).select("url_hash"),
        "candidates": cand,
        "robots": robots,
        "cuckoo": cat.read(f"cuckoo_{prev}").select(
            "bucket", "nb", "table", "stash"),
        "n_buckets": n_buckets,
        "m_bits": int(meta["bloom_m_bits"]),
        "nb": int(meta["cuckoo_nb"]),
    })
    run.layer.update(ratios)
    seen_urls = read_seen(cat, last).select(F.col("url_canon").alias("url"))
    run.layer.update(layers.replay_functions(
        tr, pages.select("spans"), seen_urls))
    corpus = seen_urls.withColumn(
        "host", F.lower(F.parse_url(F.col("url"), F.lit("HOST"))))
    clusters = inputs.cluster_corpus(spark, 2, 625, run.seed)
    layers.replay_learn(spark, tr, corpus, clusters)
    run.layer.update(layers.span_metrics(tr))
    run.layer.update(_kernel(run, spark, corpus, clusters, n_hosts))


def _kernel(run: Run, spark, corpus, clusters, n_hosts: int) -> dict:
    from pyspark.sql import functions as F

    off = inputs.doc_offset(run.seed)
    top = (corpus.groupBy("host").count()
           .orderBy(F.desc("count"), "host").first()["host"])
    host_urls = [r["url"] for r in
                 corpus.filter(F.col("host") == top).select("url").collect()]
    first_host = clusters.select("host").first()["host"]
    rows = [tuple(r) for r in clusters.filter(F.col("host") == first_host)
            .select("host", "cluster_id", "url").collect()]
    return layers.replay_kernel(run.tracer, [off + i for i in range(2000)],
                                n_hosts, host_urls, rows)


# ---------------------------------------------------------------------------
# learn_patterns
# ---------------------------------------------------------------------------


def learn_patterns(run: Run) -> None:
    """Pattern-tree learning (build_trees + leaf_alternations) and rewrite
    rule learning (learn_rules + apply_rules + compression_metric) in a
    closed loop. A traced run also runs the assembled theme_page_plan."""
    from collections import Counter

    from pyspark.sql import functions as F

    from url_pattern_algorithm_spark.operators.classify import classify_regex
    from url_pattern_algorithm_spark.operators.pattern_tree import (
        build_trees,
        leaf_alternations,
    )
    from url_pattern_algorithm_spark.operators.rewrite import (
        apply_rules,
        compression_metric,
        learn_rules,
    )

    z = run.sizes
    tr = run.tracer
    setup = Meter().start()
    spark = start_spark()
    run.report["setup.session_s"] = (setup.elapsed_s(), "s")
    with tr.span("sources.docs_gen") as rec:
        rows = inputs.learn_pages(z["n_docs"], z["n_hosts"], run.seed)
        pages = spark.createDataFrame(rows, "host string, url string") \
            .withColumn("url_canon", F.col("url")).persist()
        rec["rows_out"] = n_pages = pages.count()
    run.report["setup.inputs_s"] = (tr.named("sources.docs_gen")[0].dur, "s")
    host_counts = Counter(h for h, _ in rows)
    gated = {h for h, n in host_counts.items() if n >= MIN_HOST_URLS}
    clusters = inputs.cluster_corpus(spark, z["rule_hosts"],
                                     z["keys_per_host"], run.seed)
    n_cluster_urls = z["rule_hosts"] * z["keys_per_host"]

    def tree_pass() -> list[tuple[str, str]]:
        nodes = build_trees(pages.select("host", "url"),
                            min_host_urls=MIN_HOST_URLS, sort_urls=True)
        nodes = nodes.persist()
        try:
            alts = leaf_alternations(nodes).collect()
        finally:
            nodes.unpersist()
        return sorted(((r["host"], r["patterns"]) for r in alts),
                      key=lambda r: (r[0] or "", r[1] or ""))

    def rules_pass():
        rules = learn_rules(clusters, min_cluster_size=2).persist()
        try:
            rewritten = apply_rules(spark, clusters.select("host", "url"), rules)
            comp = compression_metric(rewritten).orderBy("host").collect()
            learned = rules.orderBy("host", "rule_id").collect()
        finally:
            rules.unpersist()
        return [tuple(r) for r in learned], [tuple(r) for r in comp]

    # warm-up, untimed: full cycles until the JVM and the Python workers are
    # warm; their outputs join the repeatability check
    tree_s, tree_cpu, tree_ref_cpu, rules_s = [], [], [], []
    tree_out, rules_out = [], []
    t_warm = time.perf_counter()
    for _ in range(z["warm_cycles"]):
        tree_out.append(run.timed(tree_pass)[0])
        rules_out.append(run.timed(rules_pass)[0])
    run.report["setup.warmup_s"] = (time.perf_counter() - t_warm, "s")
    setup.stop()

    loop_s, cycle = 0.0, 0
    with Meter() as loop:
        while cycle < z["min_cycles"] or loop_s < run.seconds:
            cycle += 1
            with tr.span("operators.pattern_tree.tree_pass"):
                alts, m = run.metered(tree_pass)
            dt = m.wall_s
            tree_s.append(dt)
            tree_cpu.append(m.cpu_s)
            tree_ref_cpu.append(m.ref_cpu_s)
            tree_out.append(alts)
            with tr.span("operators.rewrite.rules_pass"):
                out, dt2 = run.timed(rules_pass)
            rules_s.append(dt2)
            rules_out.append(out)
            loop_s += dt + dt2

    n_urls = (n_pages + n_cluster_urls) * cycle
    run.report["main_op_raw_cpu_s"] = (statistics.median(tree_cpu), "s")
    run.e2e["main_op_cpu_s"] = statistics.median(tree_ref_cpu)
    run.e2e["urls_per_cpu_s"] = n_urls / loop.ref_cpu_s
    run.report["urls_per_s"] = (n_urls / loop_s, "URLs/s")
    _meter_report(run, setup, loop)
    run.report["corpus_urls"] = (n_pages, "URLs")
    run.report["cluster_corpus_urls"] = (n_cluster_urls, "URLs")
    run.report["learn_urls_per_s"] = (
        n_pages / statistics.median(tree_s), "URLs/s")
    _percentile_report(run, "tree_pass", tree_s)
    _percentile_report(run, "rules", rules_s)

    # correctness: one alternation per gated host, classification against
    # the learned alternations, determinism across cycles and across runs
    # of the seed
    run.check(checks.check_alternations(tree_out[0], gated))
    alts_df = spark.createDataFrame(tree_out[0], "host string, patterns string")
    classified = [tuple(r) for r in
                  classify_regex(pages, alts_df, est_rows=len(tree_out[0]))
                  .select("host", "url_canon", "page_type").collect()]
    run.check(checks.check_classification(classified, tree_out[0]))
    run.report["theme_coverage"] = (
        checks.theme_coverage(classified, gated), "ratio")
    run.check(checks.check_repeatable("leaf alternations", tree_out))
    run.check(checks.check_repeatable("learned rules + compression",
                                      rules_out))
    if not rules_out[0][0]:
        run.failures.append("no rewrite rules were learned")
    if not tree_out[0]:
        run.failures.append("no leaf alternations were learned")
    run.digest = _digest(tree_out[0], rules_out[0])

    if run.trace:
        _theme_pages(run, spark, pages, gated, tree_out[0])
        docs = inputs.docs_indexed(spark, z["n_docs"], z["n_hosts"], run.seed)
        _learn_layers(run, spark, docs, pages, clusters, z["n_hosts"])
    pages.unpersist()


def _theme_pages(run: Run, spark, pages, gated: set[str],
                 tree_alts: list[tuple[str, str]]) -> None:
    """The assembled EP3 plan, traced: theme_page_plan with its two
    checkpoint writes, checked against the loop's tree pass."""
    from url_pattern_algorithm_spark.plans import theme_pages
    from url_pattern_algorithm_spark.sources.catalog import Catalog

    tr = run.tracer
    root = os.path.join(run.workdir, "learn")
    cat = Catalog(spark, root)
    step = _StepProbe(run, spark, root, "plans.theme_page_plan",
                      theme_pages.theme_page_plan)
    with instrument(tr, {}):
        step(spark, pages, cat=cat, run_id="bench", iteration=1,
             min_host_urls=MIN_HOST_URLS)
    pats = sorted((r["host"], r["patterns"]) for r in
                  cat.read("theme_patterns_1").collect())
    classified = [tuple(r) for r in cat.read("theme_pages_1")
                  .select("host", "url_canon", "page_type").collect()]
    run.check(checks.check_same_patterns(pats, tree_alts)
              + checks.check_classification(classified, pats))
    n_pages = len(classified)
    _sources_step_metrics(run, "plans.theme_page_plan", step, n_pages)
    run.report["plans.theme_page_plan_s"] = (run.layer["plans.main_call_s"], "s")
    run.report["classify_urls_per_s"] = (
        n_pages / run.layer["plans.main_call_s"], "URLs/s")
    run.layer["sources.state_bytes"] = sum(
        _dir_bytes(cat.path(n)) for n in cat.table_names())
    run.layer["sources.docs_gen_s"] = tr.named("sources.docs_gen")[0].dur


def _learn_layers(run: Run, spark, docs, pages, clusters, n_hosts: int) -> None:
    """Operator, function and kernel replay for learn_patterns. The frontier
    operators get a one-iteration frontier made from the same documents:
    every link is a candidate, every other distinct hash is already seen."""
    from pyspark.sql import functions as F

    from url_pattern_algorithm_spark.operators.cuckoo import (
        build_cuckoo,
        derive_cuckoo_nb,
    )
    from url_pattern_algorithm_spark.plans.crawl import BLOOM_M_BITS
    from url_pattern_algorithm_spark.sources.synthetic import robots_rules

    from url_pattern_algorithm_spark.functions.links import (
        extract_normalize_udf,
    )

    tr = run.tracer
    n_buckets = 64
    cand = docs.select(
        F.explode(extract_normalize_udf(F.col("spans"))).alias("l")
    ).select("l.url", "l.url_canon", "l.host").filter(
        F.col("url_canon").isNotNull()
    ).withColumn("url_hash", F.xxhash64("url_canon"))
    seen = cand.select("url_hash").distinct().filter(
        F.pmod(F.col("url_hash"), F.lit(2)) == 0).persist()
    n_seen = seen.count()
    nb = derive_cuckoo_nb(n_seen, n_buckets)
    pending = cand.groupBy("url_hash").agg(
        F.min("url").alias("url"), F.min("url_canon").alias("url_canon"),
        F.min("host").alias("host"),
    ).withColumn("priority", F.lit(0.5)).withColumn("discovered_iter", F.lit(0))
    host_state = pending.select("host").distinct().select(
        "host", F.lit(2.0).alias("tokens"), F.lit(0).alias("last_iter"),
        F.lit(1.0).alias("crawl_delay"))
    robots = spark.createDataFrame(robots_rules(n_hosts),
                                   "host string, prefix string, allow boolean")
    run.layer.update(layers.replay_frontier(spark, tr, {
        "host_state": host_state, "pending": pending, "seen": seen,
        "candidates": cand, "robots": robots,
        "cuckoo": build_cuckoo(seen, n_buckets, nb=nb),
        "n_buckets": n_buckets, "m_bits": BLOOM_M_BITS, "nb": nb,
    }))
    seen.unpersist()
    run.layer.update(layers.replay_functions(tr, docs.select("spans"),
                                             pages.select("url")))
    layers.replay_learn(spark, tr, pages.select("host", "url"), clusters)
    run.layer.update(layers.span_metrics(tr))
    run.layer.update(_kernel(run, spark, pages.select("host", "url"),
                             clusters, n_hosts))


def _digest(*parts) -> str:
    import hashlib

    return hashlib.sha1(repr(parts).encode()).hexdigest()[:12]


WORKLOADS = {"crawl": crawl, "learn_patterns": learn_patterns}
