"""robots.txt parsing: pure-kernel goldens + Spark source wiring into the
frontier operators (robots_filter both modes, host_crawl_delays)."""

from pyspark.sql import functions as F

from url_pattern_algorithm_spark.kernel.robots import parse_robots_txt

BODY = """
# corp robots
User-agent: EvilBot
Disallow: /

User-agent: *
Disallow: /private
Allow: /private/pub
Crawl-delay: 2.5
Disallow:
Disallow: /*.pdf$

User-agent: friendly
Allow: /anything
"""


def test_parse_goldens():
    rules, delay = parse_robots_txt(BODY)
    assert rules == [
        ("/private", False),
        ("/private/pub", True),
        ("/*.pdf$", False),
    ]
    assert delay == 2.5


def test_parse_agent_selection_and_header_runs():
    body = (
        "User-agent: a\nUser-agent: b\nDisallow: /x\nCrawl-delay: 9\n"
        "User-agent: *\nDisallow: /y\n"
    )
    # generic agent: only the '*' group applies
    assert parse_robots_txt(body) == ([("/y", False)], None)
    # named agent matches the multi-agent header run
    assert parse_robots_txt(body, agent="B") == ([("/x", False)], 9.0)


def test_parse_garbage_tolerance():
    body = "?????\nDisallow /nope\nUser-agent: *\nCrawl-delay: soon\nDisallow: /ok\n"
    rules, delay = parse_robots_txt(body)
    assert rules == [("/ok", False)] and delay is None
    assert parse_robots_txt("") == ([], None)
    assert parse_robots_txt(None) == ([], None)


def test_spark_source_feeds_frontier(spark):
    from url_pattern_algorithm_spark.operators.frontier import (
        host_crawl_delays,
        robots_filter,
    )
    from url_pattern_algorithm_spark.sources.robots import (
        robots_rules_from_bodies,
    )

    bodies = spark.createDataFrame(
        [
            ("h1", BODY),
            ("h2", "User-agent: *\nCrawl-delay: 4\n"),  # delay only
            ("h3", None),                                # no robots
        ],
        "host string, robots_txt string",
    )
    robots = robots_rules_from_bodies(bodies)
    rows = {(r.host, r.prefix, r.allow, r.crawl_delay)
            for r in robots.collect()}
    assert rows == {
        ("h1", "/private", False, 2.5),
        ("h1", "/private/pub", True, 2.5),
        ("h1", "/*.pdf$", False, 2.5),
        ("h2", "", True, 4.0),
    }
    delays = {r.host: r.crawl_delay
              for r in host_crawl_delays(robots).collect()}
    assert delays == {"h1": 2.5, "h2": 4.0}

    cand = spark.createDataFrame(
        [("h1", "http://h1/private/pub/x"), ("h1", "http://h1/private/secret"),
         ("h1", "http://h1/docs/a.pdf"), ("h1", "http://h1/open"),
         ("h2", "http://h2/anything"), ("h3", "http://h3/whatever")],
        "host string, url string",
    )
    kept = sorted(r.url for r in robots_filter(cand, robots,
                                               longest_match=True).collect())
    assert kept == sorted([
        "http://h1/private/pub/x",  # allow outranks /private by length
        "http://h1/open",
        "http://h2/anything",       # empty-prefix allow row is a no-op
        "http://h3/whatever",       # no rules at all
    ])


def test_parse_crawl_delay_validation():
    # non-positive / non-finite delays poison the politeness refill
    # (REFILL / delay): treated like unparseable -> default applies
    for bad in ("0", "-1", "inf", "-inf", "nan"):
        body = f"User-agent: *\nCrawl-delay: {bad}\nDisallow: /x\n"
        assert parse_robots_txt(body) == ([("/x", False)], None), bad
    body = "User-agent: *\nCrawl-delay: 0\nCrawl-delay: 2.5\n"
    assert parse_robots_txt(body) == ([], 2.5)


def test_robots_default_mode_honors_wildcards(spark):
    # body-parsed prefixes carry '*'/'$'; the default (parity) mode must
    # drop their matches too — a literal startswith silently no-ops the
    # rule and crawls everything it was meant to block. Spark and the
    # pure-python crawl oracle must agree rule by rule.
    from url_pattern_algorithm_spark.kernel.crawl_oracle import (
        _robots_allowed,
    )
    from url_pattern_algorithm_spark.operators.frontier import robots_filter

    robots_rows = [
        ("h.com", "/private*", False),
        ("h.com", "/*.pdf$", False),
        ("h.com", "/plain", False),
    ]
    urls = [
        "http://h.com/private/x",    # '/private*' -> blocked
        "http://h.com/privateer",    # '/private*' -> blocked
        "http://h.com/docs/a.pdf",   # '/*.pdf$' -> blocked
        "http://h.com/a.pdf.html",   # '$' anchor -> kept
        "http://h.com/plain/x",      # literal fast path -> blocked
        "http://h.com/plain|x",      # a path java.net.URI rejects -> blocked
        "http://h.com/open",         # no rule -> kept
    ]
    robots = spark.createDataFrame(
        robots_rows, "host string, prefix string, allow boolean"
    )
    cand = spark.createDataFrame(
        [("h.com", u) for u in urls], "host string, url string"
    )
    kept = sorted(r.url for r in robots_filter(cand, robots).collect())
    want = ["http://h.com/a.pdf.html", "http://h.com/open"]
    assert kept == want
    disallow = [(h, p) for h, p, allow in robots_rows if not allow]
    oracle_kept = sorted(
        u for u in urls if _robots_allowed(u, "h.com", disallow)
    )
    assert oracle_kept == want


def test_run_crawl_accepts_raw_bodies(spark, tmp_path):
    # run_crawl parses a (host, robots_txt) frame through the same kernel;
    # scheduled batches must equal the structured-table run exactly
    from url_pattern_algorithm_spark.plans.crawl import run_crawl
    from url_pattern_algorithm_spark.sources.catalog import Catalog
    from url_pattern_algorithm_spark.sources.synthetic import (
        docs_df,
        robots_df,
        seeds_df,
    )

    n_docs, n_hosts, iters = 400, 6, 2
    docs = docs_df(spark, n_docs, n_hosts, partitions=4)
    seeds = seeds_df(spark, n_hosts)
    structured = robots_df(spark, n_hosts, with_delays=True)

    def body(h):
        extra = "Disallow: /list\n" if h == 0 else ""
        return (f"User-agent: *\nDisallow: /private\n{extra}"
                f"Crawl-delay: {1.0 + h % 3}\n")

    bodies = spark.createDataFrame(
        [(f"site{h}.example.com", body(h)) for h in range(n_hosts)],
        "host string, robots_txt string",
    )
    roots = {}
    for name, rob in (("structured", structured), ("bodies", bodies)):
        root = str(tmp_path / name)
        run_crawl(spark, docs, seeds, rob, root, n_docs, iterations=iters)
        roots[name] = root

    def sched(root, it):
        cat = Catalog(spark, root)
        return [(r.url, r.sched_rank) for r in
                cat.read(f"scheduled_{it}").orderBy("host", "sched_rank")
                .collect()]

    for it in range(1, iters + 1):
        assert sched(roots["bodies"], it) == sched(roots["structured"], it)


def test_robots_longest_match_randomized_cross_check(spark):
    # randomized (seeded, deterministic) cross-check: the Spark
    # longest-match join (operators/frontier.robots_filter) must agree
    # with the pure-python precedence kernel
    # (kernel/crawl_oracle._robots_allowed_longest) on every candidate of
    # a generated rule/path population — the two implementations share
    # only the SPEC, not code.
    import random

    from url_pattern_algorithm_spark.kernel.crawl_oracle import (
        _robots_allowed_longest,
    )
    from url_pattern_algorithm_spark.operators.frontier import robots_filter

    rng = random.Random(20260818)
    segs = ["cat", "item", "a", "bb", "x1", "p.q", "z+w", "a|b"]

    def rand_pattern():
        parts = ["/" + rng.choice(segs) for _ in range(rng.randint(1, 3))]
        p = "".join(parts)
        if rng.random() < 0.4:
            i = rng.randint(1, len(p) - 1)
            p = p[:i] + "*" + p[i:]
        if rng.random() < 0.3:
            p += "$"
        return p

    hosts = [f"h{i}.test" for i in range(6)]
    rules = []
    for h in hosts:
        for _ in range(rng.randint(1, 5)):
            rules.append((h, rand_pattern(), rng.random() < 0.5))
    cands = []
    for i in range(400):
        h = rng.choice(hosts)
        path = "".join("/" + rng.choice(segs)
                       for _ in range(rng.randint(1, 4)))
        cands.append((h, f"http://{h}{path}", path))

    rules_by_host = {}
    for h, p, a in rules:
        rules_by_host.setdefault(h, []).append((p, a))
    want = sorted(
        url for h, url, path in cands
        if _robots_allowed_longest(url, h, rules_by_host)
    )

    cand_df = spark.createDataFrame(
        [(h, u) for h, u, _ in cands], "host string, url string"
    )
    rules_df = spark.createDataFrame(
        rules, "host string, prefix string, allow boolean"
    )
    got = sorted(r.url for r in robots_filter(
        cand_df, rules_df, longest_match=True).collect())
    assert got == want
    # and the any-disallow mode against ITS kernel twin on the same data
    from url_pattern_algorithm_spark.kernel.crawl_oracle import (
        _robots_allowed,
    )

    disallow = [(h, p) for h, p, a in rules if not a]
    want_any = sorted(
        url for h, url, path in cands if _robots_allowed(url, h, disallow)
    )
    got_any = sorted(r.url for r in robots_filter(
        cand_df, rules_df, longest_match=False).collect())
    assert got_any == want_any
