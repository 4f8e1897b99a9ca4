"""Checkpoint-table catalog: Iceberg-shaped table ops over a storage root.

The north_rule materializes frontier state as Iceberg checkpoint tables with
per-partition lineage. This sandbox has no Iceberg runtime jar, so the
catalog writes parquet directories with identical table semantics (append /
overwrite / read-by-name / partitioned layout). On a cluster, swap
``_FORMAT = "iceberg"`` and point ``root`` at a catalog namespace — every
caller goes through this interface, nothing else changes.

Each crawl state table kind (its name without the ``_N`` iteration
suffix) has one declaration in ``TABLES``: schema, partition columns and
file clustering. A declared table is read with its schema, which costs no
Spark job (inference runs one); a read returns NULL for a column the files
lack and drops one the declaration lacks, so tests/test_crawl_parity.py
checks every written table against it. Undeclared tables (the learner's
``theme_*`` outputs) are read by inference. Every write lays a declared
table out by its declaration; ``partition_by`` is for undeclared ones.

Lineage columns stamped on every checkpoint write (FIXTURES.md F2):
``run_id``, ``iteration``, ``partition_id`` (physical writing partition via
``spark_partition_id()``, filled in by the write after the declared
clustering), plus a per-write row-count metric appended to the
``_metrics`` table.

Every write to a table drops the cache of every persisted frame that reads
that table's path (Spark recaches by path after a file write), so a caller
that keeps a frame persisted across writes must not write a table the frame
reads until it is done with the frame.

Concurrency semantics vs real Iceberg (tests/test_catalog.py pins these):

- concurrent DYNAMIC overwrites of DISJOINT partitions merge, like two
  Iceberg overwrite-by-filter commits on disjoint filters;
- concurrent writers on the SAME partition are last-file-wins with no
  commit ordering — Iceberg would serialize them through optimistic commit
  retry; callers must not do this (the crawl's concurrent writers target
  disjoint TABLES);
- rewrite is atomic w.r.t. crash (rename-aside swap + _recover) and
  tolerates concurrent readers racing the swap window (retry loop), but
  offers NO snapshot isolation: a reader overlapping a rewrite can observe
  a transient miss and must re-read (Iceberg readers keep their pinned
  snapshot); callers re-read by name.
- a REWRITE overlapping a concurrent WRITE to the same table is refused on
  BOTH sides (r4 verdict item 7): writers register a ``<name>__writers/``
  marker before checking for a ``<name>__rewrite_lock``, rewrites take the
  lock before checking for live writer markers — the registration orders
  make a silent overlap impossible (worst interleaving: both abort). Real
  Iceberg serializes this through optimistic commit retry; here a
  compact-during-write would lose the write's rows to the rename-aside
  swap, so it must fail loudly instead. Markers/locks carry the owner pid;
  markers of dead pids are stolen (crash recovery).
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from url_pattern_algorithm_spark.operators.cuckoo import CUCKOO_SCHEMA

_FORMAT = "parquet"

_LINEAGE = ", run_id string, iteration int, partition_id int"
_FRONTIER = ("url string, url_canon string, url_hash long, host string, "
             "priority double, discovered_iter int")


@dataclass(frozen=True)
class Table:
    """A state table's declaration. ``schema``: DDL in the order a read
    returns the columns, partition columns last. A write computes the
    ``derive`` columns (SQL), then clusters rows into files: a hash
    repartition on ``cluster_by``, one file per partition directory per
    write, or a coalesce into ``files`` files."""

    schema: str
    partition_by: tuple[str, ...] = ()
    cluster_by: str | None = None
    files: int | None = None
    derive: dict[str, str] = field(default_factory=dict)

    @property
    def names(self) -> list[str]:
        """The row columns: neither lineage nor partition columns."""
        skip = {*self.partition_by, "run_id", "iteration", "partition_id"}
        return [c.split()[0] for c in self.schema.split(",")
                if c.split()[0] not in skip]


TABLES = {
    # append-only by epoch; bucket is the cuckoo filter's outer bucket
    "seen": Table("url_hash long, url_canon string, first_iter int"
                  + _LINEAGE + ", epoch int, bucket int",
                  partition_by=("epoch", "bucket"), cluster_by="bucket"),
    # 16 host-hash dirs, one file each; no read prunes on them
    "pending": Table(
        _FRONTIER + _LINEAGE + ", hbucket int",
        partition_by=("hbucket",), cluster_by="hbucket",
        derive={"hbucket": "cast(pmod(xxhash64(host), 16) as int)"}),
    "host_state": Table("host string, tokens double, last_iter int, "
                        "crawl_delay double" + _LINEAGE),
    "cuckoo": Table(CUCKOO_SCHEMA + _LINEAGE, files=4),
    "scheduled": Table(_FRONTIER + ", sched_rank int" + _LINEAGE),
    "_metrics": Table("run_id string, iteration int, table string, rows long"),
    "_compaction": Table("upto int"),
}


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


class RewriteConflict(RuntimeError):
    """A write and a rewrite (compaction) overlapped on one table."""


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._metrics_buf: list[tuple[str, int, str, int]] = []

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        self._recover(name)
        p = self.path(name)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(p)
        )

    def _recover(self, name: str) -> None:
        """Heal a crash inside :meth:`rewrite`'s swap window: between
        rename(final, old) and rename(tmp, final) the live data exists only
        under ``name__compact_old`` — restore it under ``name``. Idempotent
        and a no-op in every healthy state."""
        final = self.path(name)
        old = self.path(f"{name}__compact_old")
        if not os.path.isdir(final) and os.path.isdir(old):
            # two concurrent readers (the crawl's writer threads, or two
            # sessions on one root) can both pass the isdir checks; the
            # loser's rename raises after the winner already healed the
            # table — tolerate it and let the final isdir re-check decide
            try:
                os.rename(old, final)
            except OSError:
                if not os.path.isdir(final):
                    raise

    @staticmethod
    def table_kind(name: str) -> tuple[str, int | None]:
        """(kind, iteration) of a table or aux dir name: ``pending_3``
        -> ("pending", 3), ``seen__compact_tmp`` -> ("seen", None)."""
        base = Catalog.base_table_name(name)
        m = re.fullmatch(r"(.+)_(\d+)", base)
        return (m[1], int(m[2])) if m else (base, None)

    @staticmethod
    def declared(name: str) -> Table | None:
        return TABLES.get(Catalog.table_kind(name)[0])

    def read(self, name: str) -> DataFrame:
        self._recover(name)
        reader = self.spark.read.format(_FORMAT)
        if (table := self.declared(name)) is not None:
            reader = reader.schema(table.schema)
        return reader.load(self.path(name))

    def drop(self, name: str) -> None:
        """Delete a table directory (no-op when absent)."""
        shutil.rmtree(self.path(name), ignore_errors=True)

    def table_names(self) -> list[str]:
        return sorted(os.listdir(self.root)) if os.path.isdir(self.root) else []

    # every auxiliary dir the catalog creates next to a table — compaction
    # swap dirs (__compact_tmp/__compact_old), writer markers, rewrite
    # locks (incl. their .acq./.dead. temp names, which embed the lock
    # suffix). base_table_name and any wipe-by-base-name caller key off
    # this tuple, so a new aux kind MUST be added here
    AUX_SUFFIXES = ("__compact_", "__writers", "__rewrite_lock")

    @staticmethod
    def base_table_name(name: str) -> str:
        """Strip the catalog's auxiliary-dir suffixes back to the owning
        table name — the single home for the aux naming scheme (see
        AUX_SUFFIXES); plans/crawl.py's fresh-run wipe and history pruning
        resolve dir names through this so a crash-leftover aux dir is
        always wiped with its table."""
        for suffix in Catalog.AUX_SUFFIXES:
            name = name.split(suffix, 1)[0]
        return name

    # -- write/rewrite overlap guard ------------------------------------
    def _writers_dir(self, name: str) -> str:
        return self.path(f"{name}__writers")

    def _lock_dir(self, name: str) -> str:
        return self.path(f"{name}__rewrite_lock")

    def _register_writer(self, name: str) -> str:
        """Writer marker FIRST, lock check SECOND (the ordering that makes
        overlap impossible — see module docstring). Returns the marker path
        to deregister in the caller's finally."""
        d = self._writers_dir(name)
        marker = os.path.join(d, f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
        while True:
            os.makedirs(d, exist_ok=True)
            try:
                os.mkdir(marker)
                break
            except FileNotFoundError:
                # a finishing writer's _deregister_writer tidied the empty
                # parent between our makedirs and mkdir — recreate and retry
                continue
        lock = self._lock_dir(name)
        if os.path.isdir(lock) and self._lock_live(lock):
            os.rmdir(marker)
            raise RewriteConflict(
                f"write to '{name}' refused: a rewrite/compaction holds "
                f"{lock} — wait for it or re-run the iteration after it"
            )
        return marker

    @staticmethod
    def _deregister_writer(marker: str) -> None:
        with contextlib.suppress(OSError):
            os.rmdir(marker)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(marker))  # tidy when empty

    @staticmethod
    def _lock_live(lock: str) -> bool:
        try:
            pid = int(open(os.path.join(lock, "pid")).read())
        except (OSError, ValueError):
            # locks are created atomically WITH their pid file
            # (_acquire_rewrite_lock populate-then-rename), so an
            # unreadable pid means external damage — held, conservatively
            return True
        return _pid_alive(pid)

    def _live_writers(self, name: str) -> list[str]:
        d = self._writers_dir(name)
        if not os.path.isdir(d):
            return []
        live = []
        for m in os.listdir(d):
            try:
                pid = int(m.split("-", 1)[0])
            except ValueError:
                continue
            if _pid_alive(pid):
                live.append(m)
            else:  # steal dead-pid markers (crashed writer)
                with contextlib.suppress(OSError):
                    os.rmdir(os.path.join(d, m))
        return live

    def write(
        self,
        df: DataFrame,
        name: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        dynamic: bool = False,
    ) -> None:
        """``dynamic=True`` + mode='overwrite' replaces only the partitions
        present in ``df`` (Iceberg's overwrite-by-filter semantics) — the
        idempotent-append write the ``seen`` delta table uses. Snapshot
        tables must NOT use it (a re-run with fewer partitions would leave
        stale ones behind). Raises :class:`RewriteConflict` when a live
        rewrite/compaction holds this table."""
        df, partition_by = self._lay_out(df, name, partition_by)
        self._save(df, name, partition_by, mode, dynamic)

    def _lay_out(self, df: DataFrame, name: str,
                 partition_by: list[str] | None = None) -> tuple:
        """(``df`` clustered into files, partition columns) by ``name``'s
        declaration; an undeclared table keeps ``partition_by``."""
        if (table := self.declared(name)) is None:
            return df, partition_by
        for col, sql in table.derive.items():
            df = df.withColumn(col, F.expr(sql))
        if table.cluster_by:
            df = df.repartition(table.cluster_by)
        if table.files:
            df = df.coalesce(table.files)
        return df, table.partition_by

    def _save(self, df: DataFrame, name: str, partition_by, mode: str,
              dynamic: bool) -> None:
        """The file write, with a NULL ``partition_id`` (see :meth:`stamp`)
        filled in by the partition that writes the row."""
        if "partition_id" in df.columns:
            df = df.withColumn("partition_id", F.coalesce(
                F.col("partition_id"), F.spark_partition_id()))
        marker = self._register_writer(name)
        try:
            w = df.write.format(_FORMAT).mode(mode)
            if partition_by:
                w = w.partitionBy(*partition_by)
            if dynamic:
                w = w.option("partitionOverwriteMode", "dynamic")
            w.save(self.path(name))
        finally:
            self._deregister_writer(marker)

    def append(self, df: DataFrame, name: str) -> None:
        self.write(df, name, mode="append")

    def rewrite(self, name: str, transform) -> None:
        """Atomically rewrite a table as ``transform(read(name))`` through a
        temp dir + rename-aside swap (Iceberg's rewrite_data_files shape).
        Crash-safe: the live table is renamed aside, never deleted before
        the rewritten copy is in place. A crash between the two renames
        leaves the data only under ``name__compact_old``; :meth:`_recover`
        (run by every read and at rewrite start) restores it, so either the
        old or the new table is always reachable under ``name``.

        Overlap guard (r4 verdict item 7): takes ``<name>__rewrite_lock``
        for the whole rewrite and refuses to start while live-pid writer
        markers exist — a compact landing mid-write would otherwise strand
        the write's rows in the renamed-aside copy. Locks/markers from
        dead pids are stolen; a crash inside rewrite leaves a dead-pid
        lock that the next rewrite reclaims (reads are never blocked)."""
        with self.rewrite_lock(name):
            self._rewrite_locked(name, transform)

    @contextlib.contextmanager
    def rewrite_lock(self, name: str):
        """Context manager: hold ``name``'s rewrite lock across a
        multi-step compaction (e.g. a watermark append + the rewrite
        itself, plans/crawl.compact_seen) so no writer can slip between
        the steps and no rival compactor can poison the side effects.
        Acquires atomically (dead owners stolen), then refuses if live
        writer markers exist — the same ordering :meth:`rewrite` enforces.
        Inside the context, call :meth:`rewrite_locked`."""
        lock = self._acquire_rewrite_lock(name)
        try:
            live = self._live_writers(name)
            if live:
                raise RewriteConflict(
                    f"rewrite of '{name}' refused: {len(live)} "
                    f"writer(s) in flight ({live[:3]}...) — compact "
                    "between iterations, not during one"
                )
            yield
        finally:
            shutil.rmtree(lock, ignore_errors=True)

    def rewrite_locked(self, name: str, transform) -> None:
        """Run the rewrite body while the caller already holds
        :meth:`rewrite_lock` for ``name``."""
        self._rewrite_locked(name, transform)

    def _acquire_rewrite_lock(self, name: str) -> str:
        """Atomically acquire ``<name>__rewrite_lock``.

        The lock dir is populated (pid file) in a temp dir FIRST and moved
        into place with one os.rename — there is never a visible lock
        without a readable owner pid (a crash between mkdir and pid-write
        would otherwise leave a lock nobody can prove dead). Stealing a
        dead-owner lock is also rename-based: the stale dir is renamed
        ASIDE (atomic, exactly one winner — the loser's rename raises and
        it re-examines whatever lock now exists), so two stealers can
        never both proceed into concurrent rewrites."""
        lock = self._lock_dir(name)
        tmp = f"{lock}.acq.{os.getpid()}.{uuid.uuid4().hex[:6]}"
        os.mkdir(tmp)
        with open(os.path.join(tmp, "pid"), "w") as f:
            f.write(str(os.getpid()))
        try:
            for _ in range(4):
                try:
                    # rename onto an existing NON-EMPTY dir fails; every
                    # lock created by this protocol carries its pid file,
                    # so a live rival's lock is never replaced
                    os.rename(tmp, lock)
                    return lock
                except OSError:
                    pass
                if self._lock_live(lock):
                    raise RewriteConflict(
                        f"rewrite lock for '{name}' held by a live owner: "
                        f"{lock}"
                    )
                aside = f"{lock}.dead.{uuid.uuid4().hex[:6]}"
                try:
                    os.rename(lock, aside)  # atomic steal: one winner
                    shutil.rmtree(aside, ignore_errors=True)
                except OSError:
                    pass  # rival stole (or re-acquired) first; re-examine
            raise RewriteConflict(
                f"could not acquire rewrite lock for '{name}' after "
                "repeated dead-owner steals — live contention"
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def _rewrite_locked(self, name: str, transform,
                        partition_by: list[str] | None = None) -> None:
        df = transform(self.read(name))  # read() runs _recover first
        tmp = f"{name}__compact_tmp"
        try:
            self.write(df, tmp, partition_by=partition_by)
        except Exception:
            shutil.rmtree(self.path(tmp), ignore_errors=True)
            raise
        final = self.path(name)
        old = self.path(f"{name}__compact_old")
        tmp_p = self.path(tmp)
        # swap loop: a CONCURRENT reader's _recover can heal old -> final
        # inside the two-rename window (the window is indistinguishable from
        # a crash by filesystem state alone); when that steals our first
        # rename, re-park the healed dir and retry — each retry restores the
        # exact pre-swap state, so the loop is safe to repeat. ``old`` is
        # only ever deleted while ``final`` is live (crash anywhere keeps at
        # least one complete copy reachable by _recover).
        last_err: OSError | None = None
        for _ in range(8):
            if os.path.isdir(final):
                shutil.rmtree(old, ignore_errors=True)  # final live -> old stale
                try:
                    os.rename(final, old)
                except OSError as e:
                    last_err = e
                    continue
            try:
                os.rename(tmp_p, final)
                break
            except OSError as e:
                last_err = e
                continue
        else:
            raise last_err  # 8 consecutive heal races: give up loudly
        shutil.rmtree(old, ignore_errors=True)

    def compact(self, name: str, target_partitions: int,
                partition_by: list[str] | None = None) -> None:
        """Rewrite a checkpoint table into ``target_partitions`` files.

        Small-file control for the append-heavy tables (SURVEY.md §7 risk
        register): the ``seen`` table grows by a delta write per iteration
        and at 10^10 keys must be periodically rewritten into its bucketed
        layout (on Iceberg this is rewrite_data_files)."""
        with self.rewrite_lock(name):
            self._rewrite_locked(
                name, lambda df: df.coalesce(target_partitions), partition_by
            )

    @staticmethod
    def stamp(df: DataFrame, run_id: str, iteration: int) -> DataFrame:
        """``df`` + the lineage columns every checkpoint row carries; for
        rows that reach a table through :meth:`append` or :meth:`rewrite`
        rather than :meth:`write_checkpoint` (no ``_metrics`` row). The
        ``partition_id`` is left NULL for :meth:`write` to fill in after
        the table's clustering; rows a rewrite carries over keep theirs."""
        return (df.withColumn("run_id", F.lit(run_id))
                .withColumn("iteration", F.lit(iteration))
                .withColumn("partition_id", F.lit(None).cast("int")))

    def write_checkpoint(
        self,
        df: DataFrame,
        name: str,
        run_id: str,
        iteration: int,
        dynamic: bool = False,
    ) -> int:
        """Write a lineage-stamped checkpoint table; returns row count.

        The count piggybacks on the write itself via ``Observation`` — ONE
        action, no persist/second pass. Row-count metrics are buffered on the
        driver and flushed by :meth:`flush_metrics` (one tiny append per
        iteration instead of one per table). Per-partition lineage the
        north_rule asks for is queryable as
        ``GROUP BY run_id, iteration, partition_id``.
        """
        df, partition_by = self._lay_out(df, name)
        obs = Observation()
        stamped = self.stamp(df, run_id, iteration).observe(
            obs, F.count(F.lit(1)).alias("rows"))
        self._save(stamped, name, partition_by, "overwrite", dynamic)
        n = int(obs.get["rows"])
        self._metrics_buf.append((run_id, iteration, name, n))
        return n

    def flush_metrics(self) -> None:
        """Append buffered row-count metrics to the ``_metrics`` table."""
        if not self._metrics_buf:
            return
        metrics = self.spark.createDataFrame(
            self._metrics_buf, TABLES["_metrics"].schema)
        self.append(metrics, "_metrics")
        self._metrics_buf = []
