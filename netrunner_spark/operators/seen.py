"""URL-seen membership: sharded bloom filter via applyInPandas (F7/J3).

Reference analog: the already-crawled skip set built from tmp cache
files (mod.rs:221-241) — an in-memory HashSet that cannot scale past one
node. Our design (north_rule): a bloom filter sharded by
``shard_id = pmod(url_hash, n_shards)`` — stable under repartitioning —
whose shards are built/merged per round in ``applyInPandas`` (numpy
bitsets, Arrow transfer) and checkpointed to the lake as rows
``(shard_id, bits, n_items, bits_set, n_shards)`` — one row per shard,
each write a full snapshot (there is no round column).

Probe protocol (correctness-first): bloom answers "definitely unseen"
(skip the expensive anti-join for those rows); "maybe seen" rows fall
through to the EXACT ``left_anti`` join against cache keys. Bloom false
positives therefore only cost work, never corrupt the seen set
(SURVEY.md §7 M3). At 10^10 URLs this turns a full-frontier sort-merge
anti-join into one over the small maybe-seen slice.

Bit-mixing: double hashing h_i = h1 + i·h2 (Kirsch–Mitzenmacher), both
derived from the 64-bit url_hash with splitmix64 finalizers — pure
numpy, vectorized over each Arrow batch.
"""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

K_HASHES = 7
SHARD_BITS = 1 << 20  # 1 Mi bits/shard = 128 KiB; size to ~n/ln2*k at scale

SHARD_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.IntegerType(), False),
        T.StructField("bits", T.BinaryType(), False),
        T.StructField("n_items", T.LongType(), False),
        # replay-STABLE occupancy: n_items is the raw fold count and
        # inflates when an upsert is replayed (re-ORing bits is a no-op
        # but the counter adds again, r5 review) — size/FP judgments
        # should read bits_set (bitset popcount) instead
        T.StructField("bits_set", T.LongType(), False),
        # sharding config is PERSISTED with the shards: a resume with a
        # different configured n_bloom_shards must not silently re-key
        # pmod(url_hash, n) — probes/upserts validate against this.
        T.StructField("n_shards", T.IntegerType(), False),
    ]
)


def _splitmix(x: np.ndarray, salt: np.uint64) -> np.ndarray:
    x = (x + salt).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


def _bit_positions(hashes: np.ndarray, m: int = SHARD_BITS) -> np.ndarray:
    """(n,) uint64 → (n, K) bit indices via double hashing."""
    h = hashes.astype(np.uint64)
    h1 = _splitmix(h, np.uint64(0x9E3779B97F4A7C15))
    h2 = _splitmix(h, np.uint64(0xC2B2AE3D27D4EB4F)) | np.uint64(1)
    i = np.arange(K_HASHES, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(m)).astype(np.int64)


def _hashes_u64(series: pd.Series) -> np.ndarray:
    """url_hash pandas column → exact uint64, REFUSING float dtypes.

    A nullable int64 Spark column reaches pandas as float64; the 53-bit
    mantissa silently garbles 64-bit hashes (the r4 false-negative bug).
    Raising here turns any future nullable regression into a loud error
    instead of corrupted bloom bits."""
    arr = series.to_numpy()
    if arr.dtype.kind == "f":
        raise TypeError(
            "url_hash arrived as float (nullable int64 across Arrow?) — "
            "64-bit hashes would be garbled; make the column non-null int64"
        )
    return arr.astype(np.uint64)


def _set_bits(bits: np.ndarray, hashes: np.ndarray) -> None:
    pos = _bit_positions(hashes)
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def _test_bits(bits: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    """→ bool (n,): True = maybe seen (all K bits set)."""
    pos = _bit_positions(hashes)
    got = (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
    return got.all(axis=1)


def shard_id_col(url_hash_col, n_shards: int):
    return F.pmod(url_hash_col, F.lit(n_shards)).cast("int")


def upsert_shards(
    old: DataFrame | None, keys: DataFrame, n_shards: int
) -> DataFrame:
    """ONE grouped-pandas pass: OR the new keys' bits into the existing
    shard bitsets (old=None → fresh shards). The only place shards are
    built; idempotent on replay (re-ORing is a no-op)."""
    # url_hash crosses the Arrow boundary as a STRING: the union with
    # old shard rows makes the column nullable, and a nullable int64
    # reaches pandas as float64 — the 53-bit mantissa silently garbles
    # 64-bit hashes, so _set_bits would set the WRONG bits and the bloom
    # gains false NEGATIVES (keys folded after the initial build skip
    # the exact anti-join and get refetched). Strings are exact.
    new_rows = keys.select(
        shard_id_col(F.col("url_hash"), n_shards).alias("shard_id"),
        F.lit(None).cast("binary").alias("bits"),
        F.lit(0).cast("long").alias("n_items"),
        F.lit(n_shards).cast("int").alias("n_shards"),
        F.col("url_hash").cast("string").alias("url_hash_str"),
    )
    rows = new_rows
    if old is not None:
        rows = old.select(
            "shard_id",
            "bits",
            "n_items",
            "n_shards",
            F.lit(None).cast("string").alias("url_hash_str"),
        ).unionByName(new_rows)

    def combine(pdf: pd.DataFrame) -> pd.DataFrame:
        persisted = set(int(v) for v in pdf["n_shards"].dropna().unique())
        if persisted != {n_shards}:
            raise ValueError(
                f"bloom shard config mismatch: persisted n_shards={persisted}, "
                f"configured {n_shards} — resume with the original value"
            )
        acc = np.zeros(SHARD_BITS // 8, dtype=np.uint8)
        n = 0
        for b, items in zip(pdf["bits"], pdf["n_items"]):
            if b is not None:
                acc |= np.frombuffer(b, dtype=np.uint8)
                n += int(items)
        keys_s = pdf["url_hash_str"].dropna()
        if len(keys_s):
            # C-level string→int64 (pandas astype), not a Python loop —
            # this runs once per new key per upsert (ADVICE r4)
            h = keys_s.astype("int64").to_numpy().astype(np.uint64)
            _set_bits(acc, h)
            n += len(h)
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "bits": [acc.tobytes()],
                "n_items": [n],
                "bits_set": [int(np.unpackbits(acc).sum())],
                "n_shards": [n_shards],
            }
        )

    return rows.groupBy("shard_id").applyInPandas(combine, SHARD_SCHEMA)


def bloom_partition(candidates: DataFrame, shards: DataFrame, n_shards: int) -> DataFrame:
    """Tag candidate rows with ``maybe_seen`` via cogrouped applyInPandas.

    Rows with maybe_seen=false are DEFINITELY unseen → bypass the exact
    anti-join. Rows with maybe_seen=true still need the exact check.
    """
    out_schema = T.StructType(
        list(candidates.schema.fields) + [T.StructField("maybe_seen", T.BooleanType(), False)]
    )
    cols = list(candidates.columns)

    def probe(cand: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
        # guard: a shard table built under a different shard count
        # routes keys to the wrong bitset — a silent source of bloom
        # false NEGATIVES (upsert_shards already raises on this; the
        # probe is where the mismatch corrupts results, so it must too).
        # Checked before the empty-side exits, so every persisted shard
        # group raises, not only those a candidate happens to hit.
        persisted = {int(x) for x in shard["n_shards"]} if len(shard) else set()
        if persisted - {n_shards}:
            raise ValueError(
                f"bloom shards persisted with n_shards={persisted}, "
                f"probed with n_shards={n_shards}"
            )
        if cand.empty:
            return pd.DataFrame(columns=cols + ["maybe_seen"])
        if shard.empty:
            out = cand[cols].copy()
            out["maybe_seen"] = False
            return out
        # OR *all* rows for this shard id — a multi-row shards table
        # (e.g. un-merged round snapshots) must not silently drop bits,
        # which would yield bloom false NEGATIVES.
        bits = np.zeros(SHARD_BITS // 8, dtype=np.uint8)
        for b in shard["bits"]:
            bits |= np.frombuffer(b, dtype=np.uint8)
        h = _hashes_u64(cand["url_hash"])
        out = cand[cols].copy()
        out["maybe_seen"] = _test_bits(bits, h)
        return out

    keyed = candidates.withColumn("_shard", shard_id_col(F.col("url_hash"), n_shards))
    skeyed = shards.withColumnRenamed("shard_id", "_shard")
    return (
        keyed.groupBy("_shard")
        .cogroup(skeyed.groupBy("_shard"))
        .applyInPandas(probe, out_schema)
    )


def _unseen_of_probed(tagged: DataFrame, seen_keys: DataFrame) -> DataFrame:
    """Split a ``bloom_partition`` output: definitely-unseen rows bypass
    the exact anti-join, maybe-seen rows go through it. Both branches
    read ``tagged``."""
    fresh = tagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = tagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    checked = maybe.join(seen_keys, "url_hash", "left_anti")
    return fresh.unionByName(checked)


def unseen_only(
    candidates: DataFrame,
    seen_keys: DataFrame,
    shards: DataFrame | None,
    n_shards: int,
) -> DataFrame:
    """The full F7 pipeline: bloom pre-filter + exact anti-join backstop.

    ``seen_keys``: DataFrame with column url_hash (the cache keys).

    Lazy: both branches of the split re-run the probe and everything
    upstream of it. ``unseen_once`` runs them once.
    """
    if shards is None:
        return candidates.join(seen_keys, "url_hash", "left_anti")
    return _unseen_of_probed(bloom_partition(candidates, shards, n_shards), seen_keys)


@contextmanager
def unseen_once(
    candidates: DataFrame,
    seen_keys: DataFrame,
    shards: DataFrame | None,
    n_shards: int,
):
    """``unseen_only`` with the cogroup probe run ONCE: its output is
    persisted and materialized (one job, which also runs everything
    upstream of the probe exactly once), and both branches read it.
    The persisted O(candidates) rows are released on exit, so
    materialize what is needed from the yielded frame inside the
    ``with`` block."""
    if shards is None:
        yield unseen_only(candidates, seen_keys, None, n_shards)
        return
    tagged = bloom_partition(candidates, shards, n_shards).persist()
    try:
        tagged.count()
        yield _unseen_of_probed(tagged, seen_keys)
    finally:
        tagged.unpersist()
