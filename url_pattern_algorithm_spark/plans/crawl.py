"""The frontier crawl loop: iterative batch over checkpoint tables (north_rule).

Every URL the loop admits has ONE projection to (url, url_canon, host):
the kernel's per-URL function ``functions.links.url_columns`` — applied by
``url_columns_udf`` to seeds and to takedown/recrawl requests, and inside
the fused link UDF to extracted links — plus the built-in xxhash64 of the
canonical form. A URL therefore gets the same host and hash wherever it
enters (the reference parses each URL once, ProcessedUrl.java:90-96).

Seeds (iteration 0) and links (iteration N) then share one candidate
pipeline and one state commit:

    candidates -> robots filter -> cuckoo prefilter + anti-join seen filter
               -> dedup on url_hash, max(priority)     = new frontier rows
    commit: the iteration's state tables, one write after another, in
            the order ``_commit`` states

Iteration 0 has no prior state: nothing is seen, the cuckoo snapshot is
built instead of updated and every host starts with fresh tokens. Seeds
keep their given priority; iteration-N links get 1/(N+1). Iteration N's
candidates come from the state as of N-1:

    pending ⋈ budgets (left) -> salted priority rank      = ranked pending
    ranked rows with a sched_rank                          = scheduled batch
    scheduled -> deterministic fetch (url_hash -> doc)     = fetched docs
    docs -> extract links (fused with the URL projection)  = candidates
    state' = (pending - scheduled + new, seen + new, token buckets debited)

State-table I/O is sized for a 10^10-key frontier:

- ``seen`` is ONE append-only table partitioned by ``epoch`` only: every
  iteration writes ONLY its delta (dynamic partition overwrite of
  ``epoch=i`` — idempotent on re-run, so resume never duplicates), and
  ``read_seen(cat, k)`` reconstructs the set as of any iteration by
  epoch-pruned read. Per-iteration write volume is O(delta), not O(seen) —
  the previous snapshot-per-iteration design wrote the full seen table every
  iteration (quadratic cumulative I/O over a long crawl). The cuckoo
  filter's outer ``bucket`` is a data column: each delta's rows are
  hash-clustered on it into a few files, and nothing prunes on it (the
  anti-join keys on url_hash, the cuckoo build and delete group by it).
- The seen prefilter is a partitioned cuckoo filter (operators/cuckoo.py),
  maintained INCREMENTALLY: ``cuckoo_i = cuckoo_{i-1} + insert(delta)`` in
  one cogroup pass (update_cuckoos) at per-bucket size ``cuckoo_nb``, and
  deleted from in O(|purged|) by ``unsee_urls``. It is exact-safe: a
  maybe-seen candidate still goes through the anti-join, so a missing or
  stale-positive snapshot is rebuilt from the seen table, never trusted
  into a false negative. Filter bytes are ~2 bytes per seen key.
- ``compact_seen`` collapses old epochs into the single ``epoch=-1``
  partition on a cadence (``compact_every``), bounding file counts exactly
  like Iceberg's rewrite_data_files; ``first_iter`` is a data column, so
  compaction never loses lineage. The cadence also bounds the epoch
  directories a read of ``seen`` lists: past 32 of them
  (``spark.sql.sources.parallelPartitionDiscovery.threshold``) Spark lists
  them in a Spark job instead of on the driver. An Iceberg catalog (the
  ``_FORMAT`` switch in sources/catalog.py) lists no files at all.
- ``pending``/``host_state`` stay per-iteration snapshots (they are the
  live working set, not an accumulating log), unpartitioned: every read
  takes the whole snapshot. ``host_state_N`` is one aggregate on host over
  the previous state's refilled tokens, one spent row per scheduled URL
  and the new rows' hosts. Each table's layout is declared in
  ``sources.catalog.TABLES``, so no call site here names one; a root
  written with an older layout is rewritten into it on resume
  (``Catalog.relayout``).

The 'web' is simulated deterministically: fetching a URL returns the synthetic
doc with index splitmix(url_hash) — same function in the pure-python oracle
(kernel/crawl_oracle.py), which this pipeline must match row-for-row.
"""

from __future__ import annotations

import contextlib
import json
import os
from collections.abc import Iterator

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from url_pattern_algorithm_spark.functions.links import (
    extract_normalize_udf,
    url_columns_udf,
)
from url_pattern_algorithm_spark.operators.cuckoo import (
    build_cuckoo,
    cuckoo_maybe_seen,
    delete_from_cuckoos,
    derive_cuckoo_nb,
    route_maybe_seen,
    update_cuckoos,
)
from url_pattern_algorithm_spark.operators.frontier import (
    host_crawl_delays,
    politeness_budgets,
    rank_top_k,
    robots_filter,
)
from url_pattern_algorithm_spark.scaling import (
    BROADCAST_MAX_ROWS,
    broadcast_if_small,
    derive_bloom_buckets,
    derive_salts,
)
from url_pattern_algorithm_spark.sources.catalog import TABLES, Catalog
from url_pattern_algorithm_spark.sources.synthetic import _mix

TOKENS_INIT = 2.0
TOKENS_CAP = 4.0
REFILL = 1.0

# perfbench reads this; written to the run meta as a constant, never read back
BLOOM_M_BITS = 1 << 17


class Politeness:
    """Per-host token-bucket parameters (defaults = parity-test values;
    benches raise them to schedule large batches per iteration)."""

    def __init__(self, tokens_init: float = TOKENS_INIT,
                 tokens_cap: float = TOKENS_CAP, refill: float = REFILL):
        self.tokens_init = tokens_init
        self.tokens_cap = tokens_cap
        self.refill = refill


DEFAULT_POLITENESS = Politeness()

FRONTIER_COLS = TABLES["pending"].names  # a pending / scheduled row
# every table kind a crawl writes, and an older build's bloom_N bitmaps
STATE_KINDS = (*TABLES, "bloom")


def _with_crawl_delay(hosts: DataFrame, delays: DataFrame | None,
                      est_robots: int | None) -> DataFrame:
    """+ ``crawl_delay`` on a (host, ...) frame: the per-host robots
    Crawl-delay when the table carries one (size-gated broadcast join,
    hosts without a directive default to 1.0), else the 1.0 constant."""
    if delays is None:
        return hosts.withColumn("crawl_delay", F.lit(1.0))
    return (
        hosts.join(broadcast_if_small(delays, est_robots), "host", "left")
        .na.fill({"crawl_delay": 1.0})
    )


def fetch_doc_index_udf(n_docs: int):
    """url_hash -> deterministic synthetic doc index (the simulated web)."""

    def fn(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            yield s.map(lambda h: _mix(13, int(h) & ((1 << 64) - 1)) % n_docs)

    return F.pandas_udf(fn, "long")


# ---------------------------------------------------------------------------
# seen-table management (append-only deltas + epoch compaction)
# ---------------------------------------------------------------------------


def read_seen(cat: Catalog, upto: int) -> DataFrame:
    """Seen set as of iteration ``upto`` from the append-only table.

    ``epoch <= upto`` prunes future-iteration epoch dirs at plan time
    (compacted history lives in epoch=-1, always included); the row-level
    ``first_iter <= upto`` makes the as-of exact after compaction merges
    epochs. Up to 32 epoch dirs are listed on the driver, so the read runs
    no Spark job."""
    return cat.read("seen").filter(
        (F.col("epoch") <= upto) & (F.col("first_iter") <= upto))


def _seen_delta(rows: DataFrame, iteration: int, n_buckets: int) -> DataFrame:
    """Seen-table rows for ``rows`` first seen at ``iteration``."""
    return rows.select(
        "url_hash", "url_canon",
        F.lit(iteration).alias("first_iter"),
        F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int").alias("bucket"),
        F.lit(iteration).alias("epoch"),
    )


def compact_seen(cat: Catalog, upto: int, n_buckets: int = 64) -> None:
    """Collapse seen epochs <= ``upto`` into the ``epoch=-1`` partition
    (file-count control for the append-heavy table; Iceberg's
    rewrite_data_files analogue, crash-safe via Catalog.rewrite).

    Like Iceberg snapshot expiry, compacting THROUGH iteration ``upto``
    expires resume points before it: re-running an already-compacted
    iteration would duplicate its rows (epoch=-1 + the re-written epoch).
    A watermark row records the boundary; run_crawl refuses stale resumes.
    Reading as-of any iteration stays exact (first_iter row filter). The
    rewrite keeps each row's ``bucket`` column and clusters the collapsed
    files on it by the table's declaration, so ``n_buckets`` is unused;
    callers still pass it."""

    def collapse(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "epoch",
            F.when(F.col("epoch") <= upto, F.lit(-1)).otherwise(F.col("epoch")),
        )

    # the rewrite lock is held across BOTH steps: a compaction refused by
    # in-flight seen writers (or a rival compactor) must fail BEFORE the
    # watermark lands — a watermark for a compaction that never ran would
    # block valid resumes. Within the lock, watermark still goes FIRST
    # (fail-safe direction): a crash between the two steps then refuses
    # some resumes that would still have been valid, instead of permitting
    # a resume into already-compacted history (duplicate rows).
    with cat.rewrite_lock("seen"):
        cat.append(cat.spark.createDataFrame(
            [(upto,)], TABLES["_compaction"].schema), "_compaction")
        cat.rewrite_locked("seen", collapse)


def prune_checkpoint_history(cat: Catalog, upto: int) -> list[str]:
    """Drop per-iteration state snapshots made dead by ``compact_seen(upto)``.

    run_crawl refuses resumes below the compaction watermark, so snapshots
    before it are unreachable dead weight — without pruning a 10^5-iteration
    crawl leaves 4x10^5 checkpoint dirs. Drops ``cuckoo_N`` / ``pending_N``
    / ``host_state_N`` (and the ``bloom_N`` bitmaps a root written by an
    older build may still hold) for N < upto (N == upto is the live resume
    point) and
    ``scheduled_N`` for N <= upto (scheduled is write-only w.r.t. later
    iterations — it is the per-iteration OUTPUT log; callers that consume it
    downstream should copy batches out before the compaction cadence, or
    run with ``prune_history=False``). Returns the dropped table names.
    """
    dropped = []
    for name in cat.table_names():
        # resolved through the catalog's aux naming scheme, so a crash-
        # leftover aux dir goes with its snapshot
        kind, n = Catalog.table_kind(name)
        if kind not in STATE_KINDS or n is None:
            continue
        if n < (upto + 1 if kind == "scheduled" else upto):
            cat.drop(name)
            dropped.append(name)
    return dropped


def compaction_watermark(cat: Catalog) -> int:
    """Latest compacted-through iteration (-1 if never compacted)."""
    if not cat.exists("_compaction"):
        return -1
    row = cat.read("_compaction").agg(F.max("upto").alias("m")).collect()[0]
    return int(row["m"]) if row["m"] is not None else -1


def _read_crawl_meta(cat: Catalog) -> dict:
    with open(os.path.join(cat.root, "_run_meta.json")) as f:
        return json.load(f)


def _url_columns(df: DataFrame, urls, *keep: str) -> DataFrame:
    """The loop's one URL projection: ``urls`` is a (url, url_canon, host)
    struct column from the kernel's per-URL function (``url_columns_udf``,
    or the exploded fused link UDF); flattened, with the ``keep`` columns
    carried along, + ``url_hash`` (built-in xxhash64, JVM-side)."""
    return (df.select(urls.alias("_u"), *keep).select("_u.*", *keep)
            .withColumn("url_hash", F.xxhash64("url_canon")))


def unsee_urls(spark: SparkSession, ckpt_root: str, urls: DataFrame,
               run_id: str = "unsee") -> int:
    """Purge URLs from the crawl's seen state so future organic discovery
    re-admits them (takedown / right-to-be-forgotten) — the Iceberg DELETE
    analogue over the seen table, plus the matching prefilter snapshot
    update. Run between iterations; returns rows purged. For an explicit
    refetch (recrawl scheduling) use :func:`reenqueue_urls` instead — it
    puts the URL back on the frontier directly.

    ``urls``: DataFrame with a ``url_hash`` column, or a ``url`` column
    (projected by the loop's own per-URL function, so the hash always
    matches what the loop stored).

    Hashes still in the latest pending snapshot are SKIPPED: a pending URL
    is already awaiting its first fetch, and removing its seen row would
    break the loop's ``pending ⊆ seen`` invariant (a re-discovered
    candidate would be admitted again and duplicate the frontier).

    The seen rows are removed under the table's rewrite lock (copy-on-
    write via Catalog.rewrite — a real Iceberg deployment swaps this for
    positional deletes; the lock also refuses to race an in-flight
    iteration's writers, same as compact_seen). Seen is purged FIRST,
    then the cuckoo snapshot at the run's last iteration is brought in
    line — that order is crash-safe: a stale-POSITIVE prefilter is exact
    (maybe-seen candidates route through the anti-join, whose rows are
    gone), whereas updating the filter before the rows are gone would
    open a false-negative window. For the same reason resumes from
    earlier snapshots, whose filters still contain the purged keys, stay
    exact.

    The filter update is an O(|purged|) incremental ``delete_from_cuckoos``.
    Only hashes actually present in seen are deleted (semi-join guard):
    deleting a never-inserted key could evict a colliding fingerprint and
    turn a prefilter false-positive into a FALSE NEGATIVE for a still-seen
    URL (the Fan et al. delete caveat). A root without the snapshot (one
    written by an older Bloom-prefilter build) needs no update: the next
    iteration rebuilds the filter from the post-purge seen table.
    """
    cat = Catalog(spark, ckpt_root)
    meta = _read_crawl_meta(cat)
    n_buckets = int(meta["bloom_buckets"])
    last = int(meta.get("last_iteration", 0))
    if "url_hash" not in urls.columns:
        urls = _url_columns(urls, url_columns_udf("url"))
    hashes = urls.select("url_hash").distinct()
    with cat.rewrite_lock("seen"):
        # hashes actually stored and NOT awaiting first fetch (bounded by
        # the purge request, not the corpus): the delete guard AND the
        # purge row count in one frame
        present = (
            cat.read("seen").join(hashes, "url_hash", "semi")
            .join(cat.read(f"pending_{last}").select("url_hash"),
                  "url_hash", "left_anti")
            .select("url_hash").distinct().persist()
        )
        try:
            n = present.count()
            if n:
                cat.rewrite_locked("seen", lambda df: df.join(
                    present, "url_hash", "left_anti"))
                snap = f"cuckoo_{last}"
                if cat.exists(snap):
                    # rename-aside rewrite, not an in-place overwrite: a
                    # crash mid-write must leave a readable snapshot
                    cat.rewrite(snap, lambda df: cat.stamp(
                        delete_from_cuckoos(df, present, n_buckets),
                        run_id, last))
        finally:
            present.unpersist()
    return n


def reenqueue_urls(spark: SparkSession, ckpt_root: str, urls: DataFrame,
                   priority: float = 2.0, run_id: str = "recrawl") -> int:
    """Schedule URLs for an explicit refetch (recrawl scheduling): append
    them to the latest pending snapshot so the next iteration's priority
    top-k considers them. Run between iterations; returns rows enqueued.

    ``priority`` defaults above every organic discovery priority
    (1/(iter+1) <= 1.0), so recrawls jump the per-host queue — still
    subject to the same politeness budgets as everything else. Hashes
    already pending are skipped (a duplicate pending row could be
    scheduled twice in one batch).

    URLs missing from seen — e.g. just purged by :func:`unsee_urls` — have
    their seen rows and prefilter fingerprints RESTORED first:
    ``pending ⊆ seen`` is the loop invariant that stops re-discovered
    candidates from duplicating the frontier. Restore order is prefilter
    THEN seen (a crash in between leaves a stale-positive filter, which is
    exact; the reverse order would leave a seen row the filter routes
    AROUND the anti-join — a false negative). The cuckoo restore is an
    O(|restored|) incremental insert; keys are guaranteed absent (they
    were deleted when unseen), so the insert-once contract holds.

    ``urls``: a ``url`` column, or ``(url_hash, url_canon)`` as the loop
    stored them. Either way the host comes from the loop's per-URL
    function; the pending row's ``url`` is the canonical form.
    """
    cat = Catalog(spark, ckpt_root)
    meta = _read_crawl_meta(cat)
    n_buckets = int(meta["bloom_buckets"])
    last = int(meta.get("last_iteration", 0))
    if "url_hash" not in urls.columns:
        req = _url_columns(urls, url_columns_udf("url"))
    elif "url_canon" in urls.columns:
        # the stored hash and canonical form are kept as given: the
        # canonical form is not a normalization fixpoint for every URL
        # (>= 10 path tokens, tests/test_properties.py)
        req = urls.withColumn("host", url_columns_udf("url_canon")["host"])
    else:
        raise ValueError(
            "reenqueue_urls needs a 'url' column or both "
            "('url_hash', 'url_canon'): pending rows carry the canonical "
            "URL and host, which a bare hash cannot reconstruct"
        )
    req = (req.filter(F.col("url_canon").isNotNull())
           .select("url_hash", "url_canon", "host").distinct())
    pname = f"pending_{last}"
    # both tables get appended to: an older root's layout goes first
    for name in ("seen", pname):
        cat.relayout(name)
    # no table-wide lock here: each append registers a writer marker, which
    # already excludes a concurrent compaction (and the filter rewrite takes
    # its own snapshot lock). Like compact_seen, this is a between-iterations
    # maintenance op with a single actor — two concurrent reenqueues of the
    # same URL could both pass the pending anti-join and double-pend it.
    todo = req.join(
        cat.read(pname).select("url_hash"), "url_hash", "left_anti"
    ).persist()
    try:
        n = todo.count()
        if not n:
            return 0
        restore = todo.join(
            cat.read("seen").select("url_hash"), "url_hash", "left_anti"
        ).persist()
        try:
            if restore.count():
                snap = f"cuckoo_{last}"
                if cat.exists(snap):
                    cat.rewrite(snap, lambda df: cat.stamp(
                        update_cuckoos(df, restore.select("url_hash"),
                                       n_buckets, nb=int(meta["cuckoo_nb"])),
                        run_id, last))
                # append, NOT the loop's dynamic epoch overwrite — the
                # epoch=last partition already holds that iteration's
                # organic delta and must survive
                cat.append(cat.stamp(_seen_delta(restore, last, n_buckets),
                                     run_id, last), "seen")
        finally:
            restore.unpersist()
        rows = todo.select(
            F.col("url_canon").alias("url"), "url_canon", "url_hash", "host",
            F.lit(float(priority)).alias("priority"),
            F.lit(last).alias("discovered_iter"),
        )
        cat.append(cat.stamp(rows, run_id, last), pname)
    finally:
        todo.unpersist()
    return n


def _seen_count_from_metrics(cat: Catalog) -> int | None:
    """Seen-set size estimate from the lineage metrics table (one tiny file
    read, no data scan): the sum of per-iteration 'seen' row counts. Seen
    deltas are exact-once inserts, so without maintenance ops it IS the
    table size. unsee_urls and reenqueue_urls write no metrics rows, so
    after them it can be off in EITHER direction: purges make it
    overestimate, and restores make it underestimate — reenqueue_urls
    restores every request missing from seen, including URLs the loop
    never saw. The figure only sizes the filter, and the filter stays
    exact at any size: keys a full table cannot place go to the stash
    (probed like the table), and every maybe-seen candidate still goes
    through the anti-join against the seen table."""
    if not cat.exists("_metrics"):
        return None
    row = (cat.read("_metrics").filter(F.col("table") == "seen")
           .agg(F.sum("rows").alias("n")).collect()[0]["n"])
    return int(row) if row is not None else None


def _maybe_grow_prefilter(cat: Catalog, it: int, n_buckets: int, nb: int,
                          run_id: str) -> int:
    """Compaction-time prefilter rescale: re-derive the per-bucket cuckoo
    size from the ACTUAL seen count and rebuild the snapshot if it grew.

    Initial sizing derives from ``n_docs``, but the seen set is URLs and
    grows without bound in a long crawl — a filter pinned at start-time
    size eventually degrades to stash (exact, bytes grow linearly,
    operators/cuckoo.py overload guards). Riding the compaction schedule
    gives the rebuild the same amortization and the same watermark
    semantics: resumes before this point are already refused, and the run
    meta re-pins the grown size so later resumes adopt it
    (run_crawl ``None`` params read the meta).

    Growth only — shrink would invalidate the incremental insert chain
    for nothing. Returns the (possibly grown) nb."""
    n_seen = _seen_count_from_metrics(cat)
    if n_seen is None:
        return nb
    new_nb = max(nb, derive_cuckoo_nb(n_seen, n_buckets))
    # rename-aside rewrite, NOT an in-place overwrite: meta already
    # records iteration ``it`` as completed, so a crash mid-write must
    # leave a READABLE snapshot (old or new, both exact) — a resume then
    # self-heals any size mismatch against the meta
    # (_heal_prefilter_size_mismatch)
    if new_nb > nb:
        cat.rewrite(f"cuckoo_{it}", lambda _old: cat.stamp(
            build_cuckoo(read_seen(cat, it), n_buckets, nb=new_nb),
            run_id, it,
        ))
    return new_nb


def _heal_prefilter_size_mismatch(cat: Catalog, iteration: int,
                                  nb: int) -> None:
    """Resume-time self-heal for the one crash window compaction-time
    rescaling leaves: a crash between the snapshot rebuild and the meta
    re-pin (either order) makes the stored snapshot's per-bucket size
    disagree with the size the resume adopted from the meta. The probe
    kernel tolerates per-row sizes, but the incremental update kernel
    refuses a mismatch (loud, not silent) — so a mismatched snapshot is
    DROPPED here and the first resumed iteration rebuilds it from the
    seen table at the adopted size (_read_prefilter fallback, exact
    either way). One 1-row read of a bucket-count-sized table."""
    snap = f"cuckoo_{iteration}"
    if not cat.exists(snap):
        return
    row = cat.read(snap).select("nb").limit(1).collect()
    if row and int(row[0]["nb"]) != nb:
        cat.drop(snap)


def _write_run_meta(cat: Catalog, bloom_buckets: int,
                    last_iteration: int = 0,
                    robots_mode: str = "any_disallow",
                    cuckoo_nb: int | None = None) -> None:
    """Persist the run's structural parameters (driver-side file, no Spark
    job): the bucket count is baked into every stored cuckoo table and seen
    bucket column, so resuming with a different value would silently
    produce prefilter false negatives — validated on resume instead.
    ``last_iteration`` (updated after every completed iteration) bounds
    resume_from: a reused checkpoint root can hold LATER pending/host_state
    snapshots from a longer previous run, and resuming past this run's end
    would silently mix the two runs' states."""
    os.makedirs(cat.root, exist_ok=True)
    # meta is rewritten after EVERY iteration: write-to-temp + atomic
    # os.replace so a crash mid-write can't leave truncated JSON that
    # blocks the resume path
    final = os.path.join(cat.root, "_run_meta.json")
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        # perfbench reads bloom_buckets, bloom_m_bits and cuckoo_nb
        json.dump({"bloom_buckets": bloom_buckets,
                   "bloom_m_bits": BLOOM_M_BITS,
                   "robots_mode": robots_mode,
                   "prefilter_kind": "cuckoo",
                   "cuckoo_nb": cuckoo_nb,
                   "last_iteration": last_iteration}, f)
    os.replace(tmp, final)


def _check_run_meta(cat: Catalog, bloom_buckets: int,
                    resume_from: int | None = None,
                    robots_mode: str = "any_disallow",
                    cuckoo_nb: int | None = None) -> None:
    path = os.path.join(cat.root, "_run_meta.json")
    if not os.path.exists(path):
        return  # pre-meta checkpoint dirs stay resumable
    with open(path) as f:
        try:
            meta = json.load(f)
        except json.JSONDecodeError as e:
            raise ValueError(
                f"corrupt {path} ({e}): the run meta is written atomically "
                "(temp + os.replace), so this checkpoint root predates that "
                "fix or was damaged externally — delete the file to resume "
                "an otherwise-intact checkpoint (parameters then unchecked)"
            ) from e
    if meta.get("bloom_buckets") != bloom_buckets:
        raise ValueError(
            f"resume with bloom_buckets={bloom_buckets} does not match the "
            f"checkpoint's {meta}: stored filters and seen buckets are "
            "keyed by it — resume with the original value or start a fresh "
            "run"
        )
    if (meta.get("cuckoo_nb") is not None
            and meta.get("cuckoo_nb") != cuckoo_nb):
        raise ValueError(
            f"resume with cuckoo_nb={cuckoo_nb} does not match the "
            f"checkpoint's {meta.get('cuckoo_nb')}: stored cuckoo tables "
            "are keyed by their bucket count — resume with the original "
            "value or start a fresh run"
        )
    stored_mode = meta.get("robots_mode", "any_disallow")  # pre-r5 metas
    if stored_mode != robots_mode:
        raise ValueError(
            f"resume with robots_mode={robots_mode!r} does not match the "
            f"checkpoint's {stored_mode!r}: the stored seen/pending state "
            "was admitted under the other policy, so continuing would "
            "silently mix two filtering policies in one crawl — resume "
            "with the original mode or start a fresh run"
        )
    last = meta.get("last_iteration")
    if (resume_from is not None and last is not None
            and resume_from > last):
        raise ValueError(
            f"resume_from={resume_from} is beyond this run's last completed "
            f"iteration {last}: any pending_/host_state_ snapshots past it "
            "belong to a previous run in this checkpoint root"
        )


def _read_prefilter(cat: Catalog, iteration: int, n_buckets: int,
                    cuckoo_nb: int) -> DataFrame:
    """Cuckoo prefilter state as of ``iteration``: the stored snapshot when
    present, else rebuilt once from the seen table (a root written by an
    older Bloom-prefilter or no-prefilter build, or a snapshot dropped by
    the size-mismatch heal)."""
    name = f"cuckoo_{iteration}"
    if cat.exists(name):
        return cat.read(name)
    return build_cuckoo(read_seen(cat, iteration), n_buckets, nb=cuckoo_nb)


@contextlib.contextmanager
def _new_frontier_rows(
    candidates: DataFrame,
    robots: DataFrame,
    seen: DataFrame | None,
    filters: DataFrame | None,
    discovered_iter: int,
    bloom_buckets: int = 64,
    est_robots: int | None = None,
    robots_mode: str = "any_disallow",
) -> Iterator[DataFrame]:
    """Projected candidates (url, url_canon, host, url_hash, priority) ->
    robots-filtered, unseen, deduped frontier rows (FRONTIER_COLS), valid
    inside the ``with`` block.

    ``seen``/``filters`` None: nothing is seen yet (iteration 0). Else the
    cuckoo probe's output is persisted for the block: its sure-new and
    maybe-seen branches both read it, so the probe runs once. The dedup
    keeps the smallest url/url_canon/host and the LARGEST priority of each
    url_hash. ``est_robots``: robots row count threaded from run_crawl's
    once-per-run probe so the robots broadcast size gate costs no
    per-iteration job. ``robots_mode``: 'any_disallow' (parity default) or
    'longest_match' (Google-spec precedence, operators/frontier.py)."""
    cand = candidates.filter(F.col("url_canon").isNotNull())
    cand = robots_filter(cand, robots, est_rows=est_robots,
                         longest_match=robots_mode == "longest_match")
    if seen is not None:
        cand = cuckoo_maybe_seen(cand, filters, bloom_buckets).persist()
    try:
        unseen = cand if seen is None else route_maybe_seen(cand, seen)
        # batch-internal dedup on the canonical hash; deterministic
        # representative
        yield unseen.groupBy("url_hash").agg(
            F.min("url").alias("url"),
            F.min("url_canon").alias("url_canon"),
            F.min("host").alias("host"),
            F.max("priority").alias("priority"),
            F.lit(discovered_iter).alias("discovered_iter"),
        ).select(*FRONTIER_COLS)
    finally:
        cand.unpersist()  # a no-op at iteration 0


def _commit(
    cat: Catalog,
    run_id: str,
    iteration: int,
    new_rows: DataFrame,
    pending: DataFrame | None,
    debits: DataFrame | None,
    filters: DataFrame | None,
    bloom_buckets: int,
    cuckoo_nb: int,
    pol: Politeness,
    delays: DataFrame | None,
    est_robots: int | None,
) -> int:
    """Write iteration ``iteration``'s state from its new frontier rows and
    the carried-over ``pending`` rows, token ``debits`` and cuckoo
    ``filters`` (all None at iteration 0); returns the host_state row
    count. ``debits``: the previous state's refilled (host, tokens,
    crawl_delay) and one (host, spent=1) row per scheduled URL, summed per
    host into host_state_N's ``max(tokens) - sum(spent)``; a host only the
    new rows name gets ``tokens_init`` and its robots crawl delay.

    One iteration is written in this order, one write after another:

        scheduled_N (run_iteration) -> pending_N -> host_state_N -> cuckoo_N
        -> seen epoch N -> _metrics -> _run_meta.json (run_crawl)

    A crash in iteration N >= 1 therefore leaves a prefix of it, with the
    meta still at N-1, and a resume from N-1 overwrites that prefix: the
    snapshots are rewritten whole, the seen delta by a dynamic overwrite
    of its own epoch, and run_crawl drops the ``_metrics`` rows past the
    resume point before it re-runs the iteration. Iteration 0 has no
    scheduled table; a fresh run writes its meta at -1 before it and at 0
    after it, so a crash inside iteration 0 leaves no resume point.

    The new rows feed four writes, so they are persisted; the first write
    builds them. The seen delta comes after the snapshots: a write to
    ``seen`` drops the cache of every persisted frame that reads it (Spark
    recaches by path), and the new rows read it through the seen filter,
    so writing it first would make the snapshot writes build them again."""
    new_rows = new_rows.persist()
    rows = new_rows
    if pending is not None:
        rows = pending.select(*FRONTIER_COLS).unionByName(rows)
    cat.write_checkpoint(rows, f"pending_{iteration}", run_id, iteration)

    hosts = _with_crawl_delay(new_rows.select("host"), delays, est_robots)
    tokens = F.lit(float(pol.tokens_init))
    delay = F.max("crawl_delay")
    if debits is not None:
        hosts = debits.unionByName(
            hosts.withColumnRenamed("crawl_delay", "new_delay"),
            allowMissingColumns=True)
        tokens = F.coalesce(F.max("tokens") - F.sum("spent"), tokens)
        delay = F.coalesce(delay, F.max("new_delay"))
    n_hosts = cat.write_checkpoint(
        hosts.groupBy("host").agg(tokens.alias("tokens"),
                                  F.lit(iteration).alias("last_iter"),
                                  delay.alias("crawl_delay")),
        f"host_state_{iteration}", run_id, iteration)

    # iteration 0 builds the filter, later ones insert their delta in one
    # cogroup pass
    delta = new_rows.select("url_hash")
    flt = (build_cuckoo(delta, bloom_buckets, nb=cuckoo_nb)
           if filters is None
           else update_cuckoos(filters, delta, bloom_buckets, cuckoo_nb))
    cat.write_checkpoint(flt, f"cuckoo_{iteration}", run_id, iteration)

    # the seen delta: dynamic overwrite of epoch=iteration only
    cat.write_checkpoint(_seen_delta(new_rows, iteration, bloom_buckets),
                         "seen", run_id, iteration, dynamic=True)
    cat.flush_metrics()
    new_rows.unpersist()
    return n_hosts


def init_state(
    spark: SparkSession,
    seeds: DataFrame,
    robots: DataFrame,
    cat: Catalog,
    run_id: str,
    pol: Politeness = DEFAULT_POLITENESS,
    bloom_buckets: int = 64,
    est_robots: int | None = None,
    delays: DataFrame | None = None,
    robots_mode: str = "any_disallow",
    cuckoo_nb: int = 1 << 14,
) -> int:
    """Iteration 0: the seed list (url, priority) through the candidate
    pipeline, then the commit, with no prior state. Returns the
    host_state_0 row count, which run_crawl threads into iteration 1's
    politeness size gate."""
    cand = _url_columns(seeds, url_columns_udf("url"), "priority")
    with _new_frontier_rows(
        cand, robots, None, None, 0, bloom_buckets,
        est_robots=est_robots, robots_mode=robots_mode,
    ) as new_rows:
        return _commit(cat, run_id, 0, new_rows, None, None, None,
                       bloom_buckets, cuckoo_nb, pol, delays, est_robots)


def run_iteration(
    spark: SparkSession,
    docs: DataFrame,
    robots: DataFrame,
    cat: Catalog,
    run_id: str,
    iteration: int,
    n_docs: int,
    bloom_buckets: int = 64,
    pol: Politeness = DEFAULT_POLITENESS,
    est_hosts: int | None = None,
    est_robots: int | None = None,
    delays: DataFrame | None = None,
    robots_mode: str = "any_disallow",
    cuckoo_nb: int = 1 << 14,
) -> tuple[int, int]:
    """Advance one iteration from state as of ``iteration-1``; returns
    (scheduled URLs, host_state row count) — the latter sizes the next
    iteration's politeness gate.

    ``est_hosts``/``est_robots``: known dimension cardinalities for the
    politeness/robots broadcast size gates (run_crawl threads the previous
    iteration's host_state write count and a once-per-run robots probe, so
    warm iterations pay zero extra jobs; ``None`` falls back to a bounded
    probe)."""
    prev = iteration - 1
    seen = read_seen(cat, prev).select("url_hash")

    # 1. politeness budgets + salted priority rank of every pending row
    budgets = politeness_budgets(cat.read(f"host_state_{prev}"), pol.refill,
                                 pol.tokens_cap)
    # size-gated: at 10^8 hosts a forced broadcast of every known host's
    # budget would exceed the 8 GB cap; past the gate AQE plans the
    # equi-join (budgets is a pure projection of host_state, so the
    # threaded host_state count IS the budgets count). A left join: a row
    # whose host has no state yet (reenqueue_urls) gets no budget
    frontier = cat.read(f"pending_{prev}").select(*FRONTIER_COLS).join(
        broadcast_if_small(budgets, est_hosts), "host", "left"
    )
    # worst-case skew assumption: one host could hold half the universe
    # (salting is cheap to oversize — schedule results are
    # salt-count-invariant, only partitioning moves). Both halves of the
    # ranked frame are read, so it is persisted
    ranked = rank_top_k(frontier, F.col("budget"),
                        salts=derive_salts(n_docs // 2)).persist()
    # fetch inside the persisted batch: computed after it, the docs join's
    # inferred isnotnull(doc_index) filter would run the UDF again on every
    # read of the batch
    scheduled = ranked.filter(F.col("sched_rank").isNotNull()).withColumn(
        "doc_index", fetch_doc_index_udf(n_docs)(F.col("url_hash"))
    ).persist()
    n_scheduled = cat.write_checkpoint(
        scheduled.select(*TABLES["scheduled"].names),
        f"scheduled_{iteration}",
        run_id,
        iteration,
    )

    # 2. extract + project the fetched docs, then filter. docs must carry a
    # deterministic doc_index (run_crawl derives it from doc_id); never
    # monotonically_increasing_id — that's partition-dependent
    pages = scheduled.join(docs, "doc_index", "inner")
    cand = _url_columns(
        pages, F.explode(extract_normalize_udf(F.col("spans")))
    ).withColumn("priority", F.lit(1.0 / (iteration + 1.0)))
    filters = _read_prefilter(cat, prev, bloom_buckets, cuckoo_nb)

    # 3. next state: the unscheduled rows and the token debits
    remaining = ranked.filter(F.col("sched_rank").isNull())
    debits = budgets.select(
        "host", F.col("tokens_avail").alias("tokens"), "crawl_delay",
        F.lit(0).alias("spent"),
    ).unionByName(scheduled.select("host", F.lit(1).alias("spent")),
                  allowMissingColumns=True)
    with _new_frontier_rows(
        cand, robots, seen, filters, iteration, bloom_buckets,
        est_robots=est_robots, robots_mode=robots_mode,
    ) as new_rows:
        n_hosts = _commit(cat, run_id, iteration, new_rows, remaining,
                          debits, filters, bloom_buckets, cuckoo_nb, pol,
                          delays, est_robots)
    ranked.unpersist()
    scheduled.unpersist()
    return n_scheduled, n_hosts


def run_crawl(
    spark: SparkSession,
    docs: DataFrame,
    seeds: DataFrame,
    robots: DataFrame,
    ckpt_root: str,
    n_docs: int,
    iterations: int = 3,
    run_id: str = "run1",
    resume_from: int | None = None,
    bloom_buckets: int | None = 64,
    compact_every: int = 0,
    prune_history: bool = False,
    pol: Politeness = DEFAULT_POLITENESS,
    robots_mode: str = "any_disallow",
    prefilter_kind: str = "cuckoo",  # perfbench passes it; only "cuckoo"
    cuckoo_nb: int | None = None,
) -> dict[int, int]:
    """Run (or resume) the crawl; returns {iteration: n_scheduled}.

    ``seeds``: (url, priority) rows. A fresh run admits them as iteration 0
    through the same URL projection, candidate pipeline and state commit
    as every later iteration's links (module docstring): a seed without a
    parsable scheme://host is dropped, robots applies, and seeds with one
    canonical URL collapse to one row with the largest priority.

    ``resume_from=k`` skips init and iterations <= k, reading state as of k —
    byte-identical continuation (F6 resume test; the seen delta write is
    idempotent, so a re-run of iteration k+1 overwrites exactly its own
    epoch, and the ``_metrics`` rows past k are dropped before it). ``compact_every=K`` collapses seen epochs every K iterations.
    ``prune_history=True`` additionally drops the per-iteration snapshots
    compaction made unreachable (prune_checkpoint_history) — the long-crawl
    retention mode: the checkpoint root then holds O(1) snapshot tables per
    state kind instead of one per iteration forever. Off by default because
    it also drops the scheduled_N output log through the watermark.

    The seen prefilter is a partitioned cuckoo filter (operators/cuckoo.py):
    exact-safe, deletable (``unsee_urls``), ~0.01% fp at ~2 bytes per seen
    key. ``bloom_buckets`` is its outer bucket count, shared with the seen
    table's ``bucket`` column (the name predates the cuckoo filter).
    ``bloom_buckets=None`` / ``cuckoo_nb=None`` derive the bucket count
    and the per-bucket cuckoo size from the ``n_docs`` universe estimate
    (scaling.derive_bloom_buckets, cuckoo.derive_cuckoo_nb): 4096 buckets
    at the 10^10-URL north_rule scale; the sandbox sizes clamp down to the
    tested constants. The per-bucket filter SIZE additionally rescales at
    each compaction point from the actual seen count
    (_maybe_grow_prefilter: rebuild + meta re-pin riding the compaction
    watermark) — the seen set is URLs and outgrows any start-time estimate
    in a long crawl; on resume, ``None`` size params adopt the
    checkpoint's stored (possibly grown) values. The BUCKET count never
    changes (it is baked into every seen row's ``bucket`` column). A
    resume of a root written by an older Bloom-prefilter or no-prefilter
    build finds no ``cuckoo_k`` snapshot and rebuilds it once from the
    seen table; the schedule is unchanged.

    The top-k salt factor derives from ``n_docs`` (scaling.derive_salts
    under a worst-case one-host-holds-half skew assumption: 4096-way at
    10^10, 16 up to 10^7); the schedule OUTPUT does not depend on it
    (tests pin the salt-count invariance).

    ``robots_mode``: 'any_disallow' (the reference-parity default: a
    candidate dies if ANY disallow rule matches; allow rows ignored) or
    'longest_match' (Google robots spec precedence incl. wildcards —
    operators/frontier.robots_filter longest_match=True). Both modes are
    oracle-parity-tested end-to-end (tests/test_crawl_parity.py).
    """
    if robots_mode not in ("any_disallow", "longest_match"):
        raise ValueError(f"unknown robots_mode: {robots_mode!r}")
    if prefilter_kind != "cuckoo":
        raise ValueError(f"unknown prefilter_kind: {prefilter_kind!r}")
    cat = Catalog(spark, ckpt_root)
    # a resume adopts the checkpoint's stored prefilter sizes for any the
    # caller left None: compaction-time rescaling (_maybe_grow_prefilter)
    # may have grown them past the n_docs derivation, and re-deriving here
    # would then refuse a perfectly valid resume
    stored_meta: dict = {}
    if resume_from is not None:
        if os.path.exists(os.path.join(cat.root, "_run_meta.json")):
            stored_meta = _read_crawl_meta(cat)
    if bloom_buckets is None:
        bloom_buckets = stored_meta.get("bloom_buckets") or \
            derive_bloom_buckets(n_docs)
    if cuckoo_nb is None:
        cuckoo_nb = stored_meta.get("cuckoo_nb") or \
            derive_cuckoo_nb(n_docs, bloom_buckets)
    # accept raw robots.txt bodies directly: a (host, robots_txt) frame is
    # parsed into the structured rule table (sources/robots) — same rows a
    # caller would get by pre-parsing, so parity/oracles are unaffected
    if "robots_txt" in robots.columns:
        from url_pattern_algorithm_spark.sources.robots import (
            robots_rules_from_bodies,
        )

        robots = robots_rules_from_bodies(robots)
    # persist the rule table for the run: it is immutable and read by the
    # gate probe, host_crawl_delays, init_state and every iteration's
    # robots broadcast. Unpersisted, the body parse, or the unpickling of a
    # createDataFrame'd row list, would run in Python workers on each
    # read. A frame the caller already cached stays theirs: it is neither
    # persisted nor released here. Released in the finally below, so
    # repeated run_crawl calls in one session accumulate no caches.
    owned = robots.storageLevel == StorageLevel.NONE
    if owned:
        robots = robots.persist()
    try:
        if "doc_index" not in docs.columns:
            docs = docs.withColumn(
                "doc_index",
                F.col("doc_id").substr(F.lit(4), F.lit(10)).cast("long"),
            )
        counts: dict[int, int] = {}
        start = 1
        # one bounded probe per RUN sizes the robots broadcast gate for
        # every iteration; the politeness gate is sized by threading each
        # iteration's host_state write count into the next (est_hosts). A
        # resume's first iteration has no threaded count and probes once.
        est_robots = robots.limit(BROADCAST_MAX_ROWS + 1).count()
        est_hosts: int | None = None
        # per-host Crawl-delay directives (None when the robots table has
        # no crawl_delay column — every host then refills at the 1.0
        # default)
        delays = host_crawl_delays(robots)
        if resume_from is None:
            # fresh run: wipe EVERYTHING a crawl writes — the append-style
            # tables (seen, filters, compaction watermark, metrics) would
            # silently merge with a prior run's state, and a longer prior
            # run's per-iteration snapshots (pending_N/host_state_N/
            # scheduled_N for N past this run's end) would otherwise
            # survive and corrupt a later out-of-range resume. A crash
            # inside Catalog.rewrite's swap window leaves the live data
            # under <base>__compact_old; the kind is resolved from the BASE
            # name so a prior run's seen table can't be resurrected by
            # _recover mid-run (likewise stale writer markers / locks)
            for name in cat.table_names():
                if Catalog.table_kind(name)[0] in STATE_KINDS:
                    cat.drop(name)
            # at -1 until iteration 0 commits: a crash in it allows no resume
            _write_run_meta(cat, bloom_buckets, -1, robots_mode=robots_mode,
                            cuckoo_nb=cuckoo_nb)
            # perfbench wraps init_state by name and ends its set-up at the
            # first run_iteration call, so iteration 0 stays a separate call
            est_hosts = init_state(
                spark, seeds, robots, cat, run_id, pol,
                bloom_buckets=bloom_buckets, est_robots=est_robots,
                delays=delays, robots_mode=robots_mode, cuckoo_nb=cuckoo_nb)
            _write_run_meta(cat, bloom_buckets, 0, robots_mode=robots_mode,
                            cuckoo_nb=cuckoo_nb)
        else:
            _check_run_meta(cat, bloom_buckets, resume_from,
                            robots_mode=robots_mode, cuckoo_nb=cuckoo_nb)
            _heal_prefilter_size_mismatch(cat, resume_from, cuckoo_nb)
            wm = compaction_watermark(cat)
            if resume_from < wm:
                raise ValueError(
                    f"resume_from={resume_from} predates the compaction "
                    f"watermark {wm}: compacted iterations cannot be "
                    "re-run (Iceberg snapshot-expiry semantics); resume "
                    f"from >= {wm}"
                )
            # a root written while seen and pending_N had bucket
            # directories is rewritten into the declared layout once, before
            # a write in that layout would mix two partition schemes in one
            # table. Every epoch is kept (not a compaction: the watermark
            # stays); pending_k because reenqueue_urls appends to it
            for name in ("seen", f"pending_{resume_from}"):
                cat.relayout(name)
            # the re-run writes the _metrics rows of the iterations it
            # repeats again, as it overwrites their seen epochs; a crashed
            # or longer earlier run's rows would otherwise be counted twice
            # (_seen_count_from_metrics sizes the prefilter from them)
            if cat.exists("_metrics"):
                cat.rewrite("_metrics", lambda df: df.filter(
                    F.col("iteration") <= resume_from))
            start = resume_from + 1
        for it in range(start, iterations + 1):
            # looked up at call time: perfbench swaps run_iteration for its
            # step probe
            counts[it], est_hosts = run_iteration(
                spark, docs, robots, cat, run_id, it, n_docs,
                bloom_buckets=bloom_buckets, pol=pol,
                est_hosts=est_hosts, est_robots=est_robots,
                delays=delays, robots_mode=robots_mode, cuckoo_nb=cuckoo_nb,
            )
            _write_run_meta(cat, bloom_buckets, it,
                            robots_mode=robots_mode, cuckoo_nb=cuckoo_nb)
            if compact_every and it % compact_every == 0:
                compact_seen(cat, it, bloom_buckets)
                if prune_history:
                    prune_checkpoint_history(cat, it)
                grown_nb = _maybe_grow_prefilter(cat, it, bloom_buckets,
                                                 cuckoo_nb, run_id)
                if grown_nb != cuckoo_nb:
                    cuckoo_nb = grown_nb
                    # re-pin at once: later resumes must see the grown size
                    _write_run_meta(cat, bloom_buckets, it,
                                    robots_mode=robots_mode,
                                    cuckoo_nb=cuckoo_nb)
        return counts
    finally:
        if owned:
            robots.unpersist()
