"""Partitioned cuckoo-filter URL-seen prefilter (the north rule's "Bloom/cuckoo").

Partial-key cuckoo hashing after Fan, Andersen, Kaminsky & Mitzenmacher,
"Cuckoo Filter: Practically Better Than Bloom" (CoNEXT 2014): each key stores
a 16-bit fingerprint in one of two candidate buckets of ``SLOTS`` slots,
where the alternate bucket is ``i2 = i1 XOR H(fingerprint)`` — computable
from the stored fingerprint alone, which is what makes relocation (and
DELETION, the capability the Bloom path lacks) possible without the key.

Same outer layout as the Bloom path (operators/frontier.py): outer bucket =
``url_hash % n_buckets``; one filter per outer bucket, built inside a single
``applyInPandas`` task from that bucket's hashes only and probed via a
COGROUP on the outer bucket, so the filter bytes never ride along per
candidate row and nothing frontier-scale reaches the driver. At 10^10 seen
keys over 4096 outer buckets each filter holds ~2.4M keys -> ~6 MB of
uint16 table at load 0.84 (vs ~3 MB Bloom) in exchange for deletability and
a ~0.01% fp rate (2*SLOTS/2^16) instead of ~1%.

No false negatives BY CONSTRUCTION: keys that cannot be placed after the
bounded eviction walk land in a sorted per-filter STASH (probed with
``np.searchsorted``), so an overloaded filter degrades in space, never in
correctness. Build/insert is vectorized in rounds (first-choice bulk place,
second-choice bulk place, then a python kick loop only for the residual few
per mill), matching the Bloom kernel's numpy-only discipline.

Contract: insert each key at most once (the crawl loop's seen deltas are
exact-once by the anti-join); re-inserting duplicates wastes slots and makes
``delete`` remove only one copy. Unlike the Bloom bitmaps (pure OR, layout
order-independent) the serialized table bytes depend on build order; the
MEMBERSHIP SET is order-independent, which is the semantic the tests pin.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from url_pattern_algorithm_spark.operators.frontier import _remix

SLOTS = 4          # slots per cuckoo bucket (2x4 is the paper's sweet spot)
FP_BITS = 16       # fingerprint width; 0 is the empty-slot sentinel
MAX_KICKS = 500    # eviction walk bound before a key goes to the stash
LOAD_TARGET = 0.84  # achievable table load for 2-choice 4-slot cuckoo
# Above this fill fraction further eviction walks are near-certain to fail
# (and the ones that "succeed" burn hundreds of python kicks finding the
# last holes) — remaining inserts go straight to the exact stash instead.
OVERLOAD_FILL = 0.98
# Amortized kick budget per inserted key for one _insert_all batch: the
# paper's expected walk length at design load is O(1), so 8x the batch
# size only binds when the table is mis-sized — then it bounds the total
# python-loop work instead of letting every key walk MAX_KICKS.
BATCH_KICK_FACTOR = 8

CUCKOO_SCHEMA = "bucket int, nb long, table binary, stash binary"
CUCKOO_COLS = [c.split()[0] for c in CUCKOO_SCHEMA.split(",")]

# Capacity floor mirroring scaling.derive_bloom_m_bits' 2^17-bit floor
# (13.1k keys/bucket at the 10-bits/key design point): a crawl's seen set
# is URLs, which outgrow the n_docs the caller sizes from by the link-
# expansion factor. The bloom absorbs that as graceful fp-rate loss; a
# cuckoo table past ~0.95 load degrades to stash, so it needs the same
# headroom up front. nb=4096 -> 4096*4*0.84 = 13.7k keys at design load,
# 32 KB table (the documented ~2x of the bloom's 16 KB floor).
MIN_NB = 4096
MAX_NB = 1 << 22   # 32 MB table cap — one cogroup task's comfortable size


def derive_cuckoo_nb(n_keys: int, n_buckets: int) -> int:
    """Cuckoo buckets per filter for ``n_keys`` total over ``n_buckets``
    outer buckets: next power of two >= keys_per_bucket / (SLOTS * load),
    clamped to [MIN_NB, MAX_NB].

    Power-of-two so the XOR alternate-bucket map is closed under the index
    mask (the paper's construction requires it)."""
    per_bucket = max(1, (n_keys + n_buckets - 1) // n_buckets)
    need = per_bucket / (SLOTS * LOAD_TARGET)
    nb = 1 << max(1, int(np.ceil(np.log2(need))))
    return max(MIN_NB, min(MAX_NB, nb))


def _fingerprints(hashes: "np.ndarray", nb: int):
    """(fp, i1, i2) for 64-bit hashes — all uint64 vectors.

    Positions derive from the murmur3-REMIXED hash for the same reason the
    Bloom kernel remixes (frontier._remix): outer bucket = url_hash %
    n_buckets fixes every in-filter hash's low bits, so raw-hash indices
    would address only a stripe of the table. fp is the remix's TOP 16 bits
    (disjoint from the low index bits), 0 remapped to 1 for the sentinel."""
    r = _remix(hashes)
    mask = np.uint64(nb - 1)
    fp = (r >> np.uint64(64 - FP_BITS)).astype(np.uint64)
    fp[fp == 0] = np.uint64(1)
    i1 = r & mask
    i2 = (i1 ^ _remix(fp)) & mask
    return fp, i1, i2


def _canonical(fp: "np.ndarray", idx: "np.ndarray", nb: int) -> "np.ndarray":
    """Order-free stash key: min(i, alt(i)) << FP_BITS | fp. Both the
    builder (which may stash from either bucket of the walk) and the prober
    (which knows i1/i2) reach the same composite because alt() is an
    involution."""
    alt = (idx ^ _remix(fp)) & np.uint64(nb - 1)
    return (np.minimum(idx, alt) << np.uint64(FP_BITS)) | fp


def _bulk_place(table: "np.ndarray", occ: "np.ndarray", fp: "np.ndarray",
                b: "np.ndarray") -> "np.ndarray":
    """Place as many (fp -> bucket b) pairs as capacity allows, vectorized.

    Sort by bucket, rank within bucket, keep ranks below the bucket's free
    slot count; (bucket, slot) targets are unique so one fancy-index scatter
    writes them all. Returns the placed mask aligned with the inputs."""
    if not len(b):
        return np.zeros(0, dtype=bool)
    order = np.argsort(b, kind="stable")
    bs = b[order]
    uniq, counts = np.unique(bs, return_counts=True)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    rank = np.arange(len(bs)) - np.repeat(starts, counts)
    slot = np.repeat(occ[uniq.astype(np.int64)], counts) + rank
    take = slot < SLOTS
    sel = order[take]
    table[b[sel].astype(np.int64), slot[take]] = fp[sel]
    occ[uniq.astype(np.int64)] = np.minimum(
        occ[uniq.astype(np.int64)] + counts, SLOTS
    )
    placed = np.zeros(len(b), dtype=bool)
    placed[sel] = True
    return placed


def _insert_all(table: "np.ndarray", occ: "np.ndarray", stash: list,
                hashes: "np.ndarray", nb: int) -> None:
    """Insert hashes into the (nb, SLOTS) uint16 table: two vectorized
    placement rounds, then the classic kick walk for the residual."""
    if not len(hashes):
        return
    fp, i1, i2 = _fingerprints(hashes, nb)
    placed = _bulk_place(table, occ, fp, i1)
    rem = ~placed
    if rem.any():
        placed2 = _bulk_place(table, occ, fp[rem], i2[rem])
        rem_idx = np.nonzero(rem)[0][~placed2]
    else:
        rem_idx = np.zeros(0, dtype=np.int64)
    mask = np.uint64(nb - 1)
    # Overload guards for a mis-sized filter — the table must degrade in
    # SPACE (exact stash), never in TIME. Three triggers, checked cheapest
    # first; all stash the remainder directly, correctness unchanged:
    # 1. fill gate: past OVERLOAD_FILL the remaining holes are so sparse
    #    that walks either fail at MAX_KICKS or "succeed" after hundreds
    #    of python steps hunting the last empties;
    # 2. batch kick budget: total python kick steps bounded at
    #    BATCH_KICK_FACTOR x batch size, so even a pathological
    #    just-under-the-gate table costs O(batch), not O(batch x 500);
    # 3. fail streak: several consecutive MAX_KICKS walks mean full.
    fill_gate = int(nb * SLOTS * OVERLOAD_FILL)
    filled = int(occ.sum())
    kick_budget = BATCH_KICK_FACTOR * max(len(rem_idx), 1)
    fail_streak = 0
    for pos, j in enumerate(rem_idx):
        if fail_streak >= 32 or filled >= fill_gate or kick_budget <= 0:
            rest = rem_idx[pos:]
            stash.extend(int(x) for x in _canonical(fp[rest], i1[rest], nb))
            break
        cur_fp = np.uint64(fp[j])
        cur_b = int(i1[j])
        for kick in range(MAX_KICKS):
            row = table[cur_b]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = cur_fp
                occ[cur_b] = min(occ[cur_b] + 1, SLOTS)
                filled += 1
                fail_streak = 0
                kick_budget -= kick
                break
            victim = np.uint64(row[kick % SLOTS])
            row[kick % SLOTS] = cur_fp
            cur_fp = victim
            cur_b = int((np.uint64(cur_b) ^ _remix(
                np.array([cur_fp], dtype=np.uint64))[0]) & mask)
        else:
            fail_streak += 1
            kick_budget -= MAX_KICKS
            stash.append(int(_canonical(
                np.array([cur_fp], dtype=np.uint64),
                np.array([cur_b], dtype=np.uint64), nb)[0]))


def _probe(table: "np.ndarray", stash: "np.ndarray", hashes: "np.ndarray",
           nb: int) -> "np.ndarray":
    """Vectorized membership: fp present in bucket i1 or i2, or in the
    sorted stash. Exact mirror of _insert_all's placement universe."""
    if not len(hashes):
        return np.zeros(0, dtype=bool)
    fp, i1, i2 = _fingerprints(hashes, nb)
    fp16 = fp.astype(np.uint16)
    hit = (table[i1.astype(np.int64)] == fp16[:, None]).any(axis=1)
    hit |= (table[i2.astype(np.int64)] == fp16[:, None]).any(axis=1)
    if len(stash):
        canon = _canonical(fp, i1, nb)
        pos = np.searchsorted(stash, canon)
        pos_c = np.minimum(pos, len(stash) - 1)
        hit |= (pos < len(stash)) & (stash[pos_c] == canon)
    return hit


def _serialize(bucket: int, nb: int, table: "np.ndarray",
               stash: list | "np.ndarray") -> pd.DataFrame:
    stash_arr = np.sort(np.asarray(stash, dtype=np.uint64))
    return pd.DataFrame({
        "bucket": [int(bucket)], "nb": [int(nb)],
        "table": [table.astype("<u2").tobytes()],
        "stash": [stash_arr.astype("<u8").tobytes()],
    })


def _deserialize(row: pd.Series):
    nb = int(row["nb"])
    table = np.frombuffer(row["table"], dtype="<u2").reshape(nb, SLOTS).copy()
    stash = np.frombuffer(row["stash"], dtype="<u8").copy()
    return nb, table, stash


def build_cuckoo(seen: DataFrame, n_buckets: int = 64,
                 nb: int | None = None) -> DataFrame:
    """Per-outer-bucket cuckoo filters over ``seen.url_hash``.

    ``nb`` fixes every filter's cuckoo-bucket count (required for the
    incremental :func:`update_cuckoos` mode, exactly like the Bloom path's
    fixed ``m_bits``); when None each filter sizes itself from its own key
    count at LOAD_TARGET. Returns (bucket, nb, table, stash).
    """

    def make(pdf: pd.DataFrame) -> pd.DataFrame:
        hashes = pdf["url_hash"].to_numpy(dtype=np.int64).astype(np.uint64)
        n = max(len(hashes), 1)
        size = nb if nb is not None else derive_cuckoo_nb(n, 1)
        table = np.zeros((size, SLOTS), dtype=np.uint16)
        occ = np.zeros(size, dtype=np.int64)
        stash: list = []
        _insert_all(table, occ, stash, hashes, size)
        return _serialize(int(pdf["bucket"].iloc[0]), size, table, stash)

    seen_b = seen.withColumn(
        "bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int")
    )
    return seen_b.groupBy("bucket").applyInPandas(make, CUCKOO_SCHEMA)


def update_cuckoos(state: DataFrame, delta_hashes: DataFrame,
                   n_buckets: int = 64, nb: int = 1 << 14) -> DataFrame:
    """Incremental insert: state' = state + delta, one COGROUP pass on the
    outer bucket (the cuckoo analogue of frontier.update_blooms; cuckoo
    tables support true incremental insertion, no OR-merge trick needed).
    Buckets new to the delta get a fresh fixed-size table."""

    def merge(delta_pdf: pd.DataFrame, state_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(state_pdf):
            size, table, stash_arr = _deserialize(state_pdf.iloc[0])
            if size != nb:
                raise ValueError(
                    f"stored cuckoo nb={size} != configured {nb}; rebuild "
                    "with build_cuckoo(..., nb=...)")
            bucket = int(state_pdf["bucket"].iloc[0])
        else:
            size, table = nb, np.zeros((nb, SLOTS), dtype=np.uint16)
            stash_arr = np.zeros(0, dtype=np.uint64)
            bucket = int(delta_pdf["bucket"].iloc[0])
        # Front-pack each row: deletes leave mid-row holes, and _bulk_place
        # treats slots [occ, SLOTS) as the free region — inserting into a
        # holey row would overwrite a live fingerprint (a false negative).
        # Slot order is semantically irrelevant, so a per-row descending
        # sort (zeros last) is a valid compaction.
        table = np.ascontiguousarray(np.sort(table, axis=1)[:, ::-1])
        occ = (table != 0).sum(axis=1).astype(np.int64)
        stash = [int(x) for x in stash_arr]
        if len(delta_pdf):
            hashes = delta_pdf["url_hash"].to_numpy(dtype=np.int64).astype(
                np.uint64)
            _insert_all(table, occ, stash, hashes, size)
        return _serialize(bucket, size, table, stash)

    delta_b = delta_hashes.withColumn(
        "bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int")
    )
    return (
        delta_b.groupBy("bucket")
        .cogroup(state.select(*CUCKOO_COLS).groupBy("bucket"))
        .applyInPandas(merge, CUCKOO_SCHEMA)
    )


def delete_from_cuckoos(state: DataFrame, del_hashes: DataFrame,
                        n_buckets: int = 64) -> DataFrame:
    """Remove ONE stored occurrence of each hash's fingerprint — the
    operation Bloom bitmaps cannot express (recrawl scheduling, purge
    requests). Checks bucket i1, then i2, then the stash; a hash that was
    never inserted is a silent no-op (it can at worst remove a same-
    fingerprint collider, the paper's documented delete caveat)."""

    def drop(del_pdf: pd.DataFrame, state_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(state_pdf):
            return pd.DataFrame({c: pd.Series(dtype=t) for c, t in zip(
                CUCKOO_COLS, ["int32", "int64", "object", "object"])})
        size, table, stash_arr = _deserialize(state_pdf.iloc[0])
        bucket = int(state_pdf["bucket"].iloc[0])
        stash = [int(x) for x in stash_arr]
        if len(del_pdf):
            hashes = del_pdf["url_hash"].to_numpy(dtype=np.int64).astype(
                np.uint64)
            fp, i1, i2 = _fingerprints(hashes, size)
            canon = _canonical(fp, i1, size)
            for j in range(len(hashes)):
                f16 = np.uint16(fp[j])
                done = False
                for b in (int(i1[j]), int(i2[j])):
                    hitslots = np.nonzero(table[b] == f16)[0]
                    if len(hitslots):
                        table[b, hitslots[0]] = 0
                        done = True
                        break
                if not done and int(canon[j]) in stash:
                    stash.remove(int(canon[j]))
        return _serialize(bucket, size, table, stash)

    del_b = del_hashes.withColumn(
        "bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int")
    )
    return (
        del_b.groupBy("bucket")
        .cogroup(state.select(*CUCKOO_COLS).groupBy("bucket"))
        .applyInPandas(drop, CUCKOO_SCHEMA)
    )


def cuckoo_maybe_seen(candidates: DataFrame, filters: DataFrame,
                      n_buckets: int = 64) -> DataFrame:
    """Tag candidates with ``maybe_seen`` — the cuckoo twin of
    frontier.bloom_maybe_seen, same COGROUP shape (each outer bucket's
    candidates meet their one filter row per task; filter bytes never
    replicate per candidate row)."""

    def test(cand_pdf: pd.DataFrame, filt_pdf: pd.DataFrame) -> pd.DataFrame:
        if filt_pdf.empty:
            return cand_pdf.assign(maybe_seen=False)
        size, table, stash = _deserialize(filt_pdf.iloc[0])
        hit = _probe(
            table, stash,
            cand_pdf["url_hash"].to_numpy(dtype=np.int64).astype(np.uint64),
            size,
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
        .cogroup(filters.select(*CUCKOO_COLS).groupBy("bucket"))
        .applyInPandas(test, schema)
        .drop("bucket")
    )


def route_maybe_seen(tagged: DataFrame, seen: DataFrame) -> DataFrame:
    """Unseen rows of :func:`cuckoo_maybe_seen`'s output: definitely-unseen
    rows skip the anti-join's shuffle. Both branches read ``tagged``, so a
    caller persists it to run the probe once."""
    sure_new = tagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = tagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    checked = maybe.join(seen.select("url_hash"), "url_hash", "left_anti")
    return sure_new.unionByName(checked)


def seen_filter_cuckoo(candidates: DataFrame, seen: DataFrame | None,
                       filters: DataFrame | None = None,
                       n_buckets: int = 64) -> DataFrame:
    """Seen anti-join with the cuckoo prefilter routing definitely-unseen
    rows around the shuffle — drop-in alternative to frontier.seen_filter's
    Bloom mode with identical split semantics. The probe's output is not
    persisted, so it runs once per branch (the crawl loop persists it)."""
    if seen is None:
        return candidates
    if filters is not None:
        return route_maybe_seen(
            cuckoo_maybe_seen(candidates, filters, n_buckets), seen)
    return candidates.join(seen.select("url_hash"), "url_hash", "left_anti")
