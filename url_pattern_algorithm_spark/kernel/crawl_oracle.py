"""Single-process crawl oracle: mirrors plans/crawl.py step-for-step.

The F6 parity property: the Spark pipeline and this oracle must produce the
exact same scheduled order per iteration (priority DESC, url_hash ASC) and
the same final URL-seen set, given the same seeds, robots, politeness budget
and synthetic docs. Uses the same kernels (normalization chain, XXH64,
link extraction, doc generator) — the only thing it does NOT share with the
pipeline is Spark itself, which is the point.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

from url_pattern_algorithm_spark.functions.links import extract_links
from url_pattern_algorithm_spark.kernel.hashing import spark_xxhash64
from url_pattern_algorithm_spark.kernel.rfc3986 import normalize_frontier_url
from url_pattern_algorithm_spark.kernel.tokenize import get_host
from url_pattern_algorithm_spark.sources.synthetic import _mix, gen_doc

TOKENS_INIT = 2.0
TOKENS_CAP = 4.0
REFILL = 1.0


def normalize(url: str) -> str | None:
    """Same single chain the Spark UDFs use (bit-for-bit parity)."""
    return normalize_frontier_url(url)


def raw_path(url: str) -> str:
    """java.net.URI.getPath approximation used by Spark's parse_url PATH:
    after the authority, before '?'/'#', ;params included."""
    i = url.find("://")
    if i < 0:
        return "/"
    rest = url[i + 3 :]
    j = len(rest)
    for ch in "/?#":
        p = rest.find(ch)
        if p != -1 and p < j:
            j = p
    if j == len(rest) or rest[j] != "/":
        return "/"
    path = rest[j:]
    for ch in "?#":
        p = path.find(ch)
        if p != -1:
            path = path[:p]
    return path


@dataclass
class OracleState:
    pending: dict[int, tuple[str, str, str, float, int]] = field(default_factory=dict)
    # url_hash -> (url, url_canon, host, priority, discovered_iter)
    seen: dict[int, int] = field(default_factory=dict)  # url_hash -> first_iter
    host_tokens: dict[str, float] = field(default_factory=dict)
    scheduled: dict[int, list[tuple]] = field(default_factory=dict)


def _candidate(url: str) -> tuple[int, str, str, str] | None:
    host = get_host(url)
    canon = normalize(url)
    if host is None or canon is None:
        return None
    return spark_xxhash64(canon), url, canon, host.lower()


def _rule_matches(path: str, prefix: str) -> bool:
    """One robots rule against a path: plain prefixes are startswith;
    '*'/'trailing $' wildcards match via the same escape-then-translate
    regex as operators/frontier.robots_filter's ``_pattern_rx``."""
    if "*" not in prefix and not prefix.endswith("$"):
        return path.startswith(prefix)
    rx = re.escape(prefix).replace(r"\*", ".*")
    if rx.endswith(r"\$"):
        rx = rx[: -2] + "$"
    return re.match("^" + rx, path) is not None


def _robots_allowed(url: str, host: str, disallow: list[tuple[str, str]]) -> bool:
    path = raw_path(url)
    return not any(h == host and _rule_matches(path, p) for h, p in disallow)


def _robots_allowed_longest(
    url: str, host: str, rules_by_host: dict[str, list[tuple[str, bool]]]
) -> bool:
    """Google-spec precedence, mirroring robots_filter(longest_match=True):
    among matching rules the longest RAW pattern wins; allow breaks length
    ties (the Spark side's struct array_max over (len, allow, prefix))."""
    path = raw_path(url)
    best = None
    for prefix, allow in rules_by_host.get(host, ()):
        if _rule_matches(path, prefix):
            key = (len(prefix), allow, prefix)
            if best is None or key > best[0]:
                best = (key, allow)
    return best is None or best[1]


def run_oracle_crawl(
    seeds: list[tuple[str, float]],
    robots: list[tuple[str, str, bool]],
    n_docs: int,
    n_hosts: int,
    iterations: int = 3,
    robots_mode: str = "any_disallow",
) -> OracleState:
    # rows are (host, prefix, allow) or (host, prefix, allow, crawl_delay);
    # per-host delay = MAX across the positive finite rows
    # (host_crawl_delays' conservative reading), default 1.0 — mirrors
    # plans/crawl._with_crawl_delay
    disallow = [(r[0], r[1]) for r in robots if not r[2]]
    rules_by_host: dict[str, list[tuple[str, bool]]] = {}
    for r in robots:
        rules_by_host.setdefault(r[0], []).append((r[1], bool(r[2])))
    if robots_mode == "longest_match":
        def allowed(u: str, h: str) -> bool:
            return _robots_allowed_longest(u, h, rules_by_host)
    else:
        def allowed(u: str, h: str) -> bool:
            return _robots_allowed(u, h, disallow)
    delay: dict[str, float] = {}
    for r in robots:
        if len(r) >= 4 and r[3] is not None and 0 < r[3] < math.inf:
            delay[r[0]] = max(delay.get(r[0], 0.0), float(r[3]))
    st = OracleState()
    # init (iteration 0): dedup seeds on hash, max priority, robots-filtered
    for url, prio in seeds:
        c = _candidate(url)
        if c is None:
            continue
        h, u, canon, host = c
        if not allowed(u, host):
            continue
        if h in st.pending:
            pu, pc, ph, pp, pi = st.pending[h]
            st.pending[h] = (min(pu, u), min(pc, canon), min(ph, host),
                             max(pp, prio), 0)
        else:
            st.pending[h] = (u, canon, host, prio, 0)
        st.seen.setdefault(h, 0)
    for h, (_, _, host, _, _) in st.pending.items():
        st.host_tokens.setdefault(host, TOKENS_INIT)

    for it in range(1, iterations + 1):
        # politeness budgets
        avail = {
            host: min(TOKENS_CAP, t + REFILL / delay.get(host, 1.0))
            for host, t in st.host_tokens.items()
        }
        budget = {host: int(math.floor(t)) for host, t in avail.items()}
        # per-host top-k: priority DESC, url_hash ASC
        by_host: dict[str, list[tuple]] = {}
        for h, (u, canon, host, prio, di) in st.pending.items():
            by_host.setdefault(host, []).append((u, canon, h, host, prio, di))
        sched: list[tuple] = []
        for host, rows in by_host.items():
            rows.sort(key=lambda r: (-r[4], r[2]))
            k = budget.get(host, 0)
            for rank, row in enumerate(rows[:k], start=1):
                sched.append(row + (rank,))
        st.scheduled[it] = sorted(sched, key=lambda r: (r[3], r[6]))
        # debit buckets
        spent: dict[str, int] = {}
        for row in sched:
            spent[row[3]] = spent.get(row[3], 0) + 1
        for host in avail:
            st.host_tokens[host] = avail[host] - spent.get(host, 0)
        # fetch + extract + filter
        new_rows: dict[int, tuple[str, str, str]] = {}
        for u, canon, h, host, prio, di, rank in sched:
            del st.pending[h]
            doc_index = _mix(13, h & ((1 << 64) - 1)) % n_docs
            _, spans = gen_doc(doc_index, n_hosts)
            for link in extract_links(spans):
                c = _candidate(link)
                if c is None:
                    continue
                ch, cu, ccanon, chost = c
                if not allowed(cu, chost):
                    continue
                if ch in st.seen:
                    continue
                if ch in new_rows:
                    ou, oc, oh = new_rows[ch]
                    new_rows[ch] = (min(ou, cu), min(oc, ccanon), min(oh, chost))
                else:
                    new_rows[ch] = (cu, ccanon, chost)
        prio_new = 1.0 / (it + 1.0)
        for ch, (cu, ccanon, chost) in new_rows.items():
            st.pending[ch] = (cu, ccanon, chost, prio_new, it)
            st.seen[ch] = it
            st.host_tokens.setdefault(chost, TOKENS_INIT)
    return st
