"""Iceberg-semantics conformance for the Catalog stand-in.

The sandbox has no Iceberg runtime jar, so Catalog writes parquet
directories while promising Iceberg-shaped semantics (catalog.py module
docstring). These tests pin the promises against Iceberg's documented
behavior so the ``_FORMAT = "iceberg"`` swap stays honest:

- dynamic overwrite = overwrite-by-filter: only partitions present in the
  incoming frame are replaced; absent partitions survive;
- an EMPTY dynamic delta is a no-op (no partitions to replace);
- re-running the same dynamic write is idempotent;
- rewrite (rewrite_data_files) preserves the row multiset and is
  re-runnable;
- a crash inside rewrite's two-rename swap window is healed by the next
  read/exists (live data is parked under ``name__compact_old``).

Documented divergence (snapshot isolation): an Iceberg reader pinned to a
pre-rewrite snapshot keeps reading it; the parquet stand-in resolves files
at action time, so a pre-rewrite DataFrame must be re-read after a rewrite.
Callers (compact_seen) already re-read by name.
"""

import os

import pytest

from url_pattern_algorithm_spark.sources.catalog import Catalog


@pytest.fixture()
def cat(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "cat"))


def _rows(cat, name):
    return sorted(
        (r["bucket"], r["k"]) for r in cat.read(name).collect()
    )


def _write_buckets(cat, name, pairs, mode="overwrite", dynamic=False):
    df = cat.spark.createDataFrame(pairs, "bucket int, k string")
    cat.write(df, name, mode=mode, partition_by=["bucket"], dynamic=dynamic)


def test_dynamic_overwrite_replaces_only_present_partitions(cat):
    _write_buckets(cat, "t", [(0, "a"), (1, "b"), (2, "c")])
    # delta touches bucket 1 only -> buckets 0 and 2 must survive
    _write_buckets(cat, "t", [(1, "B1"), (1, "B2")], dynamic=True)
    assert _rows(cat, "t") == [(0, "a"), (1, "B1"), (1, "B2"), (2, "c")]


def test_dynamic_overwrite_rerun_idempotent(cat):
    _write_buckets(cat, "t", [(0, "a"), (1, "b")])
    for _ in range(2):  # the seen-delta re-run case (resume replays a write)
        _write_buckets(cat, "t", [(1, "B")], dynamic=True)
        assert _rows(cat, "t") == [(0, "a"), (1, "B")]


def test_dynamic_overwrite_empty_delta_is_noop(cat):
    _write_buckets(cat, "t", [(0, "a"), (1, "b")])
    empty = cat.spark.createDataFrame([], "bucket int, k string")
    cat.write(empty, "t", partition_by=["bucket"], dynamic=True)
    assert _rows(cat, "t") == [(0, "a"), (1, "b")]


def test_rewrite_preserves_multiset_and_reruns(cat):
    _write_buckets(cat, "t", [(0, "a"), (0, "a"), (1, "b")])
    before = _rows(cat, "t")
    cat.compact("t", target_partitions=1, partition_by=["bucket"])
    assert _rows(cat, "t") == before
    cat.compact("t", target_partitions=1, partition_by=["bucket"])
    assert _rows(cat, "t") == before
    assert not os.path.isdir(cat.path("t__compact_old"))
    assert not os.path.isdir(cat.path("t__compact_tmp"))


def test_rewrite_crash_mid_swap_recovers_on_read(cat):
    _write_buckets(cat, "t", [(0, "a"), (1, "b")])
    before = _rows(cat, "t")
    # simulate a crash between rename(final, old) and rename(tmp, final):
    # live data only under t__compact_old, nothing under t
    os.rename(cat.path("t"), cat.path("t__compact_old"))
    assert not os.path.isdir(cat.path("t"))
    assert cat.exists("t")  # exists() heals
    assert _rows(cat, "t") == before
    assert not os.path.isdir(cat.path("t__compact_old"))
    # and a subsequent rewrite over the healed table works
    cat.compact("t", target_partitions=1, partition_by=["bucket"])
    assert _rows(cat, "t") == before


def test_recover_race_loser_tolerated(cat, monkeypatch):
    # r3 ADVICE: two readers race the recovery window; the loser's rename
    # raises AFTER the winner healed — must be swallowed, table readable
    import url_pattern_algorithm_spark.sources.catalog as C

    _write_buckets(cat, "t", [(0, "a")])
    before = _rows(cat, "t")
    os.rename(cat.path("t"), cat.path("t__compact_old"))
    real_rename = os.rename

    def racing_rename(src, dst):
        # the winner heals between the loser's isdir checks and its rename,
        # so the loser's own call finds the source gone
        real_rename(src, dst)
        raise OSError("simulated lost rename race")

    monkeypatch.setattr(C.os, "rename", racing_rename)
    assert cat.exists("t")
    monkeypatch.undo()
    assert _rows(cat, "t") == before


def test_recover_concurrent_readers(cat):
    from concurrent.futures import ThreadPoolExecutor

    _write_buckets(cat, "t", [(0, "a"), (1, "b")])
    before = _rows(cat, "t")
    for _ in range(5):
        os.rename(cat.path("t"), cat.path("t__compact_old"))
        with ThreadPoolExecutor(8) as ex:
            res = list(ex.map(lambda _: cat.exists("t"), range(8)))
        assert all(res)
        assert _rows(cat, "t") == before


def test_concurrent_disjoint_dynamic_writers_merge(cat):
    # Iceberg: two overwrite-by-filter commits on disjoint filters both
    # land; the stand-in's partition-dir writes are disjoint too
    from concurrent.futures import ThreadPoolExecutor

    _write_buckets(cat, "t", [(0, "a"), (1, "b"), (2, "c")])

    def w(args):
        bucket, val = args
        _write_buckets(cat, "t", [(bucket, val)], dynamic=True)

    with ThreadPoolExecutor(2) as ex:
        list(ex.map(w, [(0, "A"), (2, "C")]))
    assert _rows(cat, "t") == [(0, "A"), (1, "b"), (2, "C")]


def test_reader_during_rewrite_sees_whole_versions(cat):
    # No snapshot isolation (documented divergence, catalog.py docstring):
    # a reader racing a rewrite's swap can FAIL transiently (file-listing
    # resolved at action time — Iceberg readers keep a pinned snapshot) and
    # must retry. The conformance claims pinned here: every read that
    # COMPLETES is a whole version (old == new multiset — never a torn
    # mix), readers make progress between rewrites, and the rewrite itself
    # survives concurrent readers triggering _recover inside its swap
    # window (the retry-loop swap).
    import threading

    _write_buckets(cat, "t", [(0, "a"), (0, "a"), (1, "b"), (2, "c")])
    before = _rows(cat, "t")
    stop = threading.Event()
    reads: list = []
    transient = [0]

    def reader():
        while not stop.is_set():
            try:
                reads.append(_rows(cat, "t"))
            except Exception:
                transient[0] += 1  # retry on the next loop turn

    threads = [threading.Thread(target=reader) for _ in range(3)]
    for t in threads:
        t.start()
    try:
        for _ in range(6):
            cat.compact("t", target_partitions=1, partition_by=["bucket"])
    finally:
        stop.set()
        for t in threads:
            t.join()
    assert reads, "readers never completed a read between rewrites"
    torn = [r for r in reads if r != before]
    assert not torn, torn[:2]
    assert _rows(cat, "t") == before


# ---------------------------------------------------------------------------
# write/rewrite overlap guard (r4 verdict item 7): a compaction landing
# while an iteration's writers are in flight must be REFUSED on both sides,
# never silently lose the write's rows to the rename-aside swap.
# ---------------------------------------------------------------------------

def test_rewrite_refused_while_writer_in_flight(cat):
    import os

    from url_pattern_algorithm_spark.sources.catalog import RewriteConflict

    _write_buckets(cat, "t", [(0, "a"), (1, "b")])
    # simulate an in-flight writer from THIS (live) pid
    marker = cat._register_writer("t")
    try:
        with pytest.raises(RewriteConflict, match="writer.*in flight"):
            cat.compact("t", target_partitions=1, partition_by=["bucket"])
        # the refused rewrite released its lock: reads unaffected
        assert _rows(cat, "t") == [(0, "a"), (1, "b")]
        assert not os.path.isdir(cat._lock_dir("t"))
    finally:
        cat._deregister_writer(marker)
    # writer gone -> rewrite proceeds
    cat.compact("t", target_partitions=1, partition_by=["bucket"])
    assert _rows(cat, "t") == [(0, "a"), (1, "b")]


def test_write_refused_while_rewrite_lock_held(cat):
    import os

    from url_pattern_algorithm_spark.sources.catalog import RewriteConflict

    _write_buckets(cat, "t", [(0, "a")])
    lock = cat._lock_dir("t")
    os.mkdir(lock)
    with open(os.path.join(lock, "pid"), "w") as f:
        f.write(str(os.getpid()))  # live owner
    try:
        with pytest.raises(RewriteConflict, match="rewrite/compaction holds"):
            _write_buckets(cat, "t", [(1, "b")], dynamic=True)
        # refused write deregistered its marker
        assert cat._live_writers("t") == []
    finally:
        import shutil

        shutil.rmtree(lock)
    _write_buckets(cat, "t", [(1, "b")], dynamic=True)
    assert _rows(cat, "t") == [(0, "a"), (1, "b")]


def test_stale_dead_pid_lock_and_markers_are_stolen(cat):
    import os

    _write_buckets(cat, "t", [(0, "a"), (1, "b")])
    # dead-pid rewrite lock (crashed compactor) must not block forever
    lock = cat._lock_dir("t")
    os.mkdir(lock)
    with open(os.path.join(lock, "pid"), "w") as f:
        f.write("999999999")  # beyond pid_max: never alive
    # dead-pid writer marker (crashed writer) must not block rewrites
    d = cat._writers_dir("t")
    os.makedirs(d, exist_ok=True)
    os.mkdir(os.path.join(d, "999999999-deadbeef"))
    cat.compact("t", target_partitions=1, partition_by=["bucket"])
    assert _rows(cat, "t") == [(0, "a"), (1, "b")]
    assert not os.path.isdir(lock)
    # and writes proceed too
    _write_buckets(cat, "t", [(2, "c")], dynamic=True)
    assert _rows(cat, "t") == [(0, "a"), (1, "b"), (2, "c")]


def test_compact_seen_between_iterations_unaffected_by_guard(spark, tmp_path):
    # the crawl's own sequencing (compact AFTER the writer pool joins) must
    # sail through the guard — regression for the normal path
    from url_pattern_algorithm_spark.plans.crawl import (
        compact_seen,
        read_seen,
    )
    from url_pattern_algorithm_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "g"))
    from pyspark.sql import functions as F

    for it in range(2):
        delta = spark.range(it * 10, it * 10 + 10).select(
            F.col("id").alias("url_hash"),
            F.concat(F.lit("u"), F.col("id")).alias("url_canon"),
            F.lit(it).alias("first_iter"),
            F.pmod(F.col("id"), F.lit(4)).cast("int").alias("bucket"),
            F.lit(it).alias("epoch"),
        )
        cat.write_checkpoint(delta, "seen", "r", it, dynamic=True)
    compact_seen(cat, 1, n_buckets=4)
    assert read_seen(cat, 1).count() == 20


def test_compact_seen_refused_before_watermark_side_effect(spark, tmp_path):
    # a compaction refused by in-flight seen writers must not strand a
    # watermark row for a compaction that never ran (that would poison
    # resume_from refusals for no reason)
    from pyspark.sql import functions as F

    from url_pattern_algorithm_spark.plans.crawl import (
        compact_seen,
        compaction_watermark,
    )
    from url_pattern_algorithm_spark.sources.catalog import (
        Catalog,
        RewriteConflict,
    )

    cat = Catalog(spark, str(tmp_path / "c"))
    delta = spark.range(10).select(
        F.col("id").alias("url_hash"),
        F.concat(F.lit("u"), F.col("id")).alias("url_canon"),
        F.lit(0).alias("first_iter"),
        F.pmod(F.col("id"), F.lit(4)).cast("int").alias("bucket"),
        F.lit(0).alias("epoch"),
    )
    cat.write_checkpoint(delta, "seen", "r", 0, dynamic=True)
    marker = cat._register_writer("seen")
    try:
        with pytest.raises(RewriteConflict, match="writer.*in flight"):
            compact_seen(cat, 0, n_buckets=4)
        assert compaction_watermark(cat) == -1  # no poisoned watermark
    finally:
        cat._deregister_writer(marker)
    compact_seen(cat, 0, n_buckets=4)
    assert compaction_watermark(cat) == 0


def test_empty_lock_dir_is_stolen_atomically(cat):
    # a lock dir with NO pid file (external damage / pre-fix crash relic)
    # must not block forever: atomic populate-then-rename acquisition
    # replaces an EMPTY dir in one rename, while a live populated lock is
    # never replaced (rename onto non-empty fails)
    import os

    _write_buckets(cat, "t", [(0, "a"), (1, "b")])
    os.mkdir(cat._lock_dir("t"))  # empty: no pid inside
    cat.compact("t", target_partitions=1, partition_by=["bucket"])
    assert _rows(cat, "t") == [(0, "a"), (1, "b")]
    assert not os.path.isdir(cat._lock_dir("t"))


def test_base_table_name_resolves_all_aux_suffixes():
    # the aux naming scheme has a single home (Catalog.AUX_SUFFIXES);
    # crash-leftover aux dirs — including the rewrite lock's .acq./.dead.
    # temp names, which embed the lock suffix — must resolve to their
    # owning table so fresh-run wipes and history pruning drop them too
    b = Catalog.base_table_name
    assert b("seen") == "seen"
    assert b("seen__compact_tmp") == "seen"
    assert b("seen__compact_old") == "seen"
    assert b("seen__writers") == "seen"
    assert b("seen__rewrite_lock") == "seen"
    assert b("seen__rewrite_lock.acq.1234.abcdef") == "seen"
    assert b("seen__rewrite_lock.dead.abcdef") == "seen"
    assert b("pending_3") == "pending_3"  # plain tables pass through


def test_register_writer_survives_parent_tidy_race(cat, monkeypatch):
    # _deregister_writer rmdir's the writers dir when the last marker
    # leaves; a racing _register_writer that ran makedirs before the tidy
    # and mkdir after it sees FileNotFoundError and must retry, not fail
    import shutil

    _write_buckets(cat, "t", [(0, "a")])
    d = cat._writers_dir("t")
    real_mkdir = os.mkdir
    raced = {"n": 0}

    def racy_mkdir(path, *a, **k):
        p = os.fspath(path)
        if p.startswith(d + os.sep) and raced["n"] == 0:
            raced["n"] += 1
            shutil.rmtree(d)  # the finishing writer's tidy lands here
        return real_mkdir(path, *a, **k)

    monkeypatch.setattr(os, "mkdir", racy_mkdir)
    marker = cat._register_writer("t")
    monkeypatch.undo()
    assert raced["n"] == 1  # the race fired and was survived
    assert os.path.isdir(marker)
    assert cat._live_writers("t") != []
    cat._deregister_writer(marker)
    assert cat._live_writers("t") == []
