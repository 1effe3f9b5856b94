"""Partitioned seen-index shards: bloom/cuckoo filter + exact sorted hashes.

Role (north rule + SURVEY.md §7.2): each shard carries TWO co-located
structures over the same ``url_hash64 % n_shards`` slice of the seen set:

* a bloom filter (or, for high-churn shards, a cuckoo filter — supports
  deletion for recrawl invalidation) as the throughput fast path; and
* the EXACT sorted int64 hash array of the shard's members, so a "maybe
  seen" from the filter resolves to an exact verdict with a local binary
  search inside the same task.

The probe (``probe_seen``) therefore returns an *exact* membership verdict
as of the shard build — the crawl loop no longer shuffles the full seen set
per generation; only the small per-generation deltas written since the last
shard rebuild need a residual anti-join. At the 10^10-URL design point the
exact arrays are ~80 GB total (8 B/URL): size ``n_shards`` so one shard
(~80 GB / n_shards, plus ~1.5 GB of filter bits / n_shards) fits a task —
the bits/arrays NEVER pass through the driver; probing cogroups candidates
with their shard blob so each task loads exactly one shard.

Filters stay LOSSLESS for inserted items (bloom by construction; cuckoo via
an overflow list — a displaced fingerprint is never dropped), so the fast
path can never leak a seen URL past the exact check.

Format versioning: kinds are ``'bloom2'`` / ``'cuckoo2'`` (v2 = cuckoo blob
with the 4-byte overflow-count header + the ``exact`` column). Probes REJECT
unknown kinds instead of misparsing an old blob, so a store written in an
older format fails loudly; rebuild its shards with ``build_shards``.

A shard whose insert-rate churn between rebuilds exceeds
``CHURN_RATE_THRESHOLD`` is rebuilt as a cuckoo filter; a dense bloom (fill
beyond ``FILL_SPILL_THRESHOLD``) spills too.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SHARD_SCHEMA = T.StructType([
    T.StructField("shard_id", T.IntegerType()),
    T.StructField("bits", T.BinaryType()),
    T.StructField("exact", T.BinaryType()),     # sorted int64 url_hash array
    T.StructField("n_items", T.LongType()),
    T.StructField("kind", T.StringType()),      # 'bloom2' | 'cuckoo2'
])

V2_KINDS = ("bloom2", "cuckoo2")

BLOOM_BITS_PER_ITEM = 12      # ~0.3% fp at k=4
BLOOM_K = 4
CUCKOO_BUCKETS_POW = 12       # 4096 buckets x 4 slots x uint16
FILL_SPILL_THRESHOLD = 0.35   # bloom fill ratio safety spill
CHURN_RATE_THRESHOLD = 0.5    # insert-rate between rebuilds that spills


def _bloom_positions(h: np.ndarray, m: int) -> list[np.ndarray]:
    """k derived probe positions from one 60-bit hash (double hashing)."""
    h1 = h % m
    h2 = (h >> 17 | 1) % m
    return [(h1 + i * h2) % m for i in range(BLOOM_K)]


def _build_bloom(hashes: np.ndarray, m_bits: int) -> bytes:
    bits = np.zeros((m_bits + 7) // 8, dtype=np.uint8)
    for pos in _bloom_positions(hashes.astype(np.uint64), m_bits):
        np.bitwise_or.at(bits, pos // 8, (1 << (pos % 8)).astype(np.uint8))
    return bits.tobytes()


def _bloom_contains(bits: np.ndarray, hashes: np.ndarray, m_bits: int) -> np.ndarray:
    out = np.ones(len(hashes), dtype=bool)
    for pos in _bloom_positions(hashes.astype(np.uint64), m_bits):
        out &= (bits[pos // 8] >> (pos % 8) & 1).astype(bool)
    return out


def _cuckoo_fingerprint(h: np.ndarray) -> np.ndarray:
    fp = ((h >> 40) & 0xFFFF).astype(np.uint16)
    return np.where(fp == 0, np.uint16(1), fp)


def _cuckoo_n_buckets(n_items: int) -> int:
    """Table sized FROM the item count (power of two, 4 slots/bucket,
    target load <=0.5) — a fixed-size table saturates on hot shards and
    degrades into a linear overflow scan."""
    n_buckets = 1 << CUCKOO_BUCKETS_POW
    while n_buckets * 2 < n_items:   # 4 slots -> load n/(4*buckets) <= 0.5
        n_buckets <<= 1
    return n_buckets


def _build_cuckoo(hashes: np.ndarray) -> bytes:
    """Cuckoo table + overflow list, built mostly VECTORIZED (a per-item
    Python insert loop costs ~2 ms/item and dominated the bloom-rebuild
    barrier): pass 1 bulk-places up to 4 fingerprints per first-choice
    bucket via a stable sort + per-bucket cumcount; pass 2 does the same
    for second-choice buckets over the leftovers; only the tail (a few %)
    walks the classic kick loop. A fingerprint that still cannot be placed
    goes to a linear overflow list that ``_cuckoo_contains`` always probes
    — the module-header invariant forbids dropping one."""
    n_buckets = _cuckoo_n_buckets(len(hashes))
    table = np.zeros((n_buckets, 4), dtype=np.uint16)
    filled = np.zeros(n_buckets, dtype=np.int64)
    h = hashes.astype(np.uint64)
    fps = _cuckoo_fingerprint(h)
    b1 = (h % n_buckets).astype(np.int64)
    b2 = ((b1 ^ (fps.astype(np.int64) * 0x5BD1E995)) % n_buckets).astype(np.int64)

    def bulk_place(idx: np.ndarray, buckets: np.ndarray) -> np.ndarray:
        """Place items[idx] into buckets (per-item target), honoring current
        fill; returns indices that did not fit. Deterministic: stable sort."""
        if not len(idx):
            return idx
        order = idx[np.argsort(buckets[idx], kind="stable")]
        sb = buckets[order]
        group_start = np.r_[True, sb[1:] != sb[:-1]]
        pos_in_group = np.arange(len(sb)) - np.maximum.accumulate(
            np.where(group_start, np.arange(len(sb)), 0))
        slot = pos_in_group + filled[sb]
        fits = slot < 4
        table[sb[fits], slot[fits]] = fps[order[fits]]
        placed_buckets, placed_counts = np.unique(sb[fits], return_counts=True)
        filled[placed_buckets] += placed_counts
        return order[~fits]

    rest = bulk_place(np.arange(len(h)), b1)
    rest = bulk_place(rest, b2)

    overflow: list[int] = []
    for i in rest:  # kick walk for the small remainder
        fp = fps[i]
        b = int(b1[i])
        placed = False
        for _kick in range(64):
            row = table[b]
            empty = np.where(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                placed = True
                break
            fp, row[0] = row[0], fp  # evict slot 0, move on (deterministic)
            b = int((b ^ (int(fp) * 0x5BD1E995)) % n_buckets)
        if not placed:  # never drop: spill to the overflow list
            overflow.append(int(fp))
    ov = np.asarray(overflow, dtype=np.uint16)
    return struct.pack("<I", len(ov)) + table.tobytes() + ov.tobytes()


def _split_cuckoo(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    (n_ov,) = struct.unpack_from("<I", blob, 0)
    table_bytes = len(blob) - 4 - 2 * n_ov
    n_buckets = table_bytes // 8          # 4 slots x uint16 per bucket
    table = np.frombuffer(blob, dtype=np.uint16, count=n_buckets * 4,
                          offset=4).reshape(-1, 4)
    overflow = np.frombuffer(blob, dtype=np.uint16, count=n_ov,
                             offset=4 + table_bytes)
    return table, overflow


def _cuckoo_contains(table: np.ndarray, hashes: np.ndarray,
                     overflow: np.ndarray | None = None) -> np.ndarray:
    n_buckets = table.shape[0]
    h = hashes.astype(np.uint64)
    fps = _cuckoo_fingerprint(h)
    b1 = (h % n_buckets).astype(np.int64)
    b2 = ((b1 ^ (fps.astype(np.int64) * 0x5BD1E995)) % n_buckets).astype(np.int64)
    out = (table[b1] == fps[:, None]).any(axis=1) \
        | (table[b2] == fps[:, None]).any(axis=1)
    if overflow is not None and len(overflow):
        out |= np.isin(fps, overflow)
    return out


def build_shards(seen: DataFrame, n_shards: int = 32,
                 bits_per_item: int = BLOOM_BITS_PER_ITEM,
                 prev_counts: dict[int, int] | None = None,
                 churn_threshold: float = CHURN_RATE_THRESHOLD) -> DataFrame:
    """seen(url_hash bigint) -> one filter row per shard, built with
    applyInPandas (each shard's hashes land on one task).

    ``prev_counts`` (shard_id -> n_items at the previous rebuild, tiny
    metadata — NOT the bits) drives the churn spill: a shard whose item
    count grew by more than ``churn_threshold`` since the last rebuild is
    materialized as a cuckoo filter so upcoming inserts/deletes are cheap;
    a bloom passing the fill-ratio safety also spills."""
    prev_counts = prev_counts or {}

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        shard_id = int(key[0])
        hashes = pdf["url_hash"].to_numpy(dtype=np.int64)
        n = len(hashes)
        # m_bits MUST be byte-aligned: the probe side recovers it as
        # len(blob) * 8, and a build/probe disagreement of even one bit
        # shifts every double-hashed position -> silent false negatives
        # (=> re-crawls). Regression: test_bloom_odd_shard_sizes.
        m_bits = (max(1024, int(n * bits_per_item)) + 7) // 8 * 8
        fill = (n * BLOOM_K) / m_bits
        prev = prev_counts.get(shard_id)
        churned = prev is not None and prev > 0 and \
            (n - prev) / prev > churn_threshold
        if churned or fill > FILL_SPILL_THRESHOLD:
            blob, kind = _build_cuckoo(hashes), "cuckoo2"
        else:
            blob, kind = _build_bloom(hashes, m_bits), "bloom2"
        exact = np.sort(hashes).tobytes()
        return pd.DataFrame([{"shard_id": shard_id, "bits": blob,
                              "exact": exact, "n_items": n, "kind": kind}])

    keyed = seen.select(
        (F.pmod(F.col("url_hash"), F.lit(n_shards))).cast("int").alias("shard_id"),
        "url_hash")
    return keyed.groupBy("shard_id").applyInPandas(build, SHARD_SCHEMA)


def shard_counts(shards: DataFrame) -> dict[int, int]:
    """Tiny metadata projection (shard_id -> n_items) for the churn spill;
    never touches the blob column (column pruning keeps the scan narrow)."""
    return {int(r["shard_id"]): int(r["n_items"])
            for r in shards.select("shard_id", "n_items").collect()}


def _filter_maybe(shard_pdf: pd.DataFrame, hashes: np.ndarray) -> np.ndarray:
    """Fast-path filter verdict for one shard's candidate hashes."""
    kind = shard_pdf["kind"].iloc[0]
    blob = bytes(shard_pdf["bits"].iloc[0])
    if kind == "bloom2":
        bits = np.frombuffer(blob, dtype=np.uint8)
        return _bloom_contains(bits, hashes, len(blob) * 8)
    if kind == "cuckoo2":
        table, overflow = _split_cuckoo(blob)
        return _cuckoo_contains(table, hashes, overflow)
    raise ValueError(
        f"unknown seen-shard kind {kind!r} (format version mismatch — "
        f"expected one of {V2_KINDS}; rebuild the shards)")


def prefilter_candidates(candidates: DataFrame, shards: DataFrame,
                         n_shards: int = 32) -> DataFrame:
    """Tag candidate URLs with the FILTER verdict ``maybe_seen`` (bloom/
    cuckoo only — no exact resolution) without moving filter bits through
    the driver: candidates are cogrouped with their shard blob on
    ``shard_id`` so each task loads exactly one shard. URLs tagged False
    are DEFINITELY unseen; True still needs exact resolution (fp possible).
    """
    out_fields = [f for f in candidates.schema.fields]
    schema = T.StructType(out_fields + [T.StructField("maybe_seen", T.BooleanType())])
    out_cols = [f.name for f in out_fields] + ["maybe_seen"]

    keyed = candidates.withColumn(
        "shard_id", F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int"))

    def probe(cand_pdf: pd.DataFrame, shard_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(cand_pdf):
            return pd.DataFrame(columns=out_cols)
        if not len(shard_pdf):
            return cand_pdf.drop(columns=["shard_id"]).assign(maybe_seen=False)
        hashes = cand_pdf["url_hash"].to_numpy(dtype=np.int64)
        maybe = _filter_maybe(shard_pdf, hashes)
        return cand_pdf.drop(columns=["shard_id"]).assign(maybe_seen=maybe)

    return (keyed.groupBy("shard_id")
            .cogroup(shards.groupBy("shard_id"))
            .applyInPandas(probe, schema))


def probe_seen(candidates: DataFrame, shards: DataFrame, n_shards: int = 32,
               dedupe: bool = False) -> DataFrame:
    """EXACT membership verdict (``seen_asof`` = seen as of the shard build)
    in one cogroup shuffle: the bloom/cuckoo filter short-circuits definite
    misses, survivors are resolved with a binary search over the shard's
    sorted exact hash array — all local to the shard's task, nothing through
    the driver and no full-seen-set shuffle.

    ``dedupe=True`` additionally collapses duplicate candidate ``url_hash``
    rows to the deterministic min-reduce (min url/host/next_fetch_time/
    depth — the frontier dedupe rule) inside the SAME shuffle: every copy of
    a hash lands in the same shard group, so a separate groupBy pass would
    move the same bytes twice."""
    out_fields = [f for f in candidates.schema.fields]
    schema = T.StructType(out_fields + [T.StructField("seen_asof", T.BooleanType())])
    out_cols = [f.name for f in out_fields] + ["seen_asof"]
    val_cols = [c for c in candidates.columns if c != "url_hash"]

    keyed = candidates.withColumn(
        "shard_id", F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int"))

    def probe(cand_pdf: pd.DataFrame, shard_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(cand_pdf):
            return pd.DataFrame(columns=out_cols)
        cand_pdf = cand_pdf.drop(columns=["shard_id"])
        if dedupe and len(cand_pdf):
            cand_pdf = (cand_pdf.groupby("url_hash", as_index=False)[val_cols]
                        .min()[[*cand_pdf.columns]])
        hashes = cand_pdf["url_hash"].to_numpy(dtype=np.int64)
        if not len(shard_pdf):
            return cand_pdf.assign(seen_asof=False)
        maybe = _filter_maybe(shard_pdf, hashes)
        seen = np.zeros(len(hashes), dtype=bool)
        if maybe.any():
            exact = np.frombuffer(
                bytes(shard_pdf["exact"].iloc[0]), dtype=np.int64)
            if len(exact):
                h = hashes[maybe]
                pos = np.minimum(np.searchsorted(exact, h), len(exact) - 1)
                seen[maybe] = exact[pos] == h
        return cand_pdf.assign(seen_asof=seen)

    return (keyed.groupBy("shard_id")
            .cogroup(shards.groupBy("shard_id"))
            .applyInPandas(probe, schema))
