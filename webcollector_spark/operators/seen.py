"""O6 NextFilter / distributed URL-seen filter.

Reference: the "seen" check is a CrawlDB point lookup at merge time
(RocksDBManager.java:176-183) plus an optional in-JVM HashSetNextFilter
(plugin/nextfilter/HashSetNextFilter.java:28-40). Neither survives
10^10 keys on one node.

Graft design (north_rule): a bloom-filter pre-prune + exact left-anti
join. The bloom is built distributively — each partition folds its keys
into a local bitset (one Arrow pass, vectorized hashing via pandas'
SipHash — deterministic across processes), partial bitsets are OR-merged
on the driver (the treeAggregate pattern; at 32 partitions that is a
collect of 32 x m/8 bytes) and broadcast back. Links that the bloom
definitely hasn't seen skip the shuffle entirely; only bloom-positives
(true hits + fpp false positives) go through the exact anti-join.

Scale note (10^10 keys): one bitset at 1% fpp is ~12 GB — too big to
broadcast. So the filter splits into S independent bitsets sharded by
key hash, S the fewest that keep each within `_MAX_SHARD_BYTES` (a
default 1M-key filter is ~1.2 MB: one shard; `shards=` overrides it):
the build routes keys to their shard's partition after one
repartition on the shard id, and the probe ships each shard
as its own broadcast, so a task deserializes only the shards its keys
hash to. Correctness is identical because a key's shard is a pure
function of the key (verified equal to the exact anti-join in
test_seen.py). At `shards=1` there is no routing shuffle and no shard
hash.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# pandas' SipHash takes EXACTLY 16-byte keys; these must be 16 bytes
# pre-truncation and pairwise distinct AFTER any truncation (a 17-byte
# key silently truncated to 16 once collapsed h1 and h2 into the same
# hash, degenerating double hashing to k copies of one probe — measured
# 2.6% fpp at a configured 1%).
_KEY1 = b"wc-spark-blum-1!"
_KEY2 = b"wc-spark-blum-2!"
_KEY3 = b"wc-spark-shard3!"  # shard routing — independent of bit probes
assert len(_KEY1) == len(_KEY2) == len(_KEY3) == 16 and len({_KEY1, _KEY2, _KEY3}) == 3


def _hash2(keys: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    arr = keys.to_numpy(dtype=object)
    h1 = pd.util.hash_array(arr, hash_key=_KEY1.decode("latin1"))
    h2 = pd.util.hash_array(arr, hash_key=_KEY2.decode("latin1"))
    return h1, h2 | 1  # odd step for double hashing


def _shard_of(keys: pd.Series, shards: int) -> np.ndarray:
    """A key's shard under a THIRD SipHash key, independent of the h1/h2
    bit probes (shard = h1 % S would correlate: m is a multiple of 64,
    so for power-of-two S the shard residue survives into h1 % m and
    concentrates probe-0 bits at S-fold density — measured 1.45% fpp vs
    1.0% configured before the fix)."""
    h3 = pd.util.hash_array(keys.to_numpy(dtype=object), hash_key=_KEY3.decode("latin1"))
    return (h3 % np.uint64(shards)).astype(np.int64)


def _by_shard(keys: pd.Series, shards: int):
    """(shard, row selector) groups of `keys`; one group and no shard
    hash at shards == 1."""
    if shards == 1:
        return [(0, slice(None))]
    sh = _shard_of(keys, shards)
    return [(int(s), sh == s) for s in np.unique(sh)]


def _probes(keys: pd.Series, m: int, k: int):
    """The k double-hashing bit positions of each key within a shard."""
    h1, h2 = _hash2(keys)
    for i in range(k):
        yield (h1 + i * h2) % m


def _add(bits: np.ndarray, keys: pd.Series, m: int, k: int) -> None:
    """Set the k bits of each key in one shard's bitset."""
    for idx in _probes(keys, m, k):
        np.bitwise_or.at(bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8))


def _contains(keys: pd.Series, m: int, k: int, shards: int, shard_bits) -> np.ndarray:
    """Bloom membership of `keys`; `shard_bits(s)` returns shard s's
    bitset, so a probe touches only the shards its keys hash to."""
    out = np.zeros(len(keys), dtype=bool)
    for s, sel in _by_shard(keys, shards):
        ks, bits = keys[sel], shard_bits(s)
        hit = np.ones(len(ks), dtype=bool)
        for idx in _probes(ks, m, k):
            hit &= (bits[idx >> 3] & (1 << (idx & 7)).astype(np.uint8)) != 0
        out[sel] = hit
    return out


_MAX_SHARD_BYTES = 64 << 20  # largest bitset one broadcast ships


def _bits_for(capacity: int, fpp: float) -> int:
    return max(64, int(-capacity * math.log(fpp) / (math.log(2) ** 2)))


class Bloom:
    """`shards` bitsets of `m` bits each, laid end to end in `bits`; a
    key sets/probes k bits of its shard. `shards=1` is the plain bloom;
    `shards=None` takes the fewest that keep a bitset within
    `_MAX_SHARD_BYTES`."""

    def __init__(self, capacity: int, fpp: float = 0.01, shards: int | None = None):
        if shards is None:
            shards = -(-_bits_for(capacity, fpp) // (8 * _MAX_SHARD_BYTES))
        per_shard = -(-capacity // shards)
        m = _bits_for(per_shard, fpp)
        self.m = (m + 63) // 64 * 64
        self.k = max(1, round(self.m / max(1, per_shard) * math.log(2)))
        self.shards = shards
        self.bits = np.zeros(shards * self.m // 8, dtype=np.uint8)

    def shard(self, s: int) -> np.ndarray:
        """Shard s's bitset (a view into `bits`)."""
        n = self.m // 8
        return self.bits[s * n : (s + 1) * n]

    def add_series(self, keys: pd.Series) -> None:
        for s, sel in _by_shard(keys, self.shards):
            _add(self.shard(s), keys[sel], self.m, self.k)

    def maybe_contains(self, keys: pd.Series) -> np.ndarray:
        return _contains(keys, self.m, self.k, self.shards, self.shard)


def build_bloom(
    keys_df: DataFrame,
    key_col: str = "key",
    capacity: int = 1_000_000,
    fpp: float = 0.01,
    shards: int | None = None,
) -> Bloom:
    """Distributed bloom build: per-partition partial bitsets, OR-merged
    per shard on the driver. At shards > 1 the keys first shuffle once
    to their shard's partition, so a task folds one or a few shards."""
    out = Bloom(capacity, fpp, shards)
    m, k, shards = out.m, out.k, out.shards
    keys = keys_df.select(key_col)
    if shards > 1:

        @F.pandas_udf(T.LongType())
        def shard_id(ks: pd.Series) -> pd.Series:
            return pd.Series(_shard_of(ks.astype(str), shards))

        keys = (
            keys.select(F.col(key_col).cast("string").alias(key_col))
            .withColumn("__shard", shard_id(F.col(key_col)))
            .repartition(shards, "__shard")
        )

    def partial(batches):
        local: dict[int, np.ndarray] = {}
        for pdf in batches:
            groups = pdf.groupby("__shard")[key_col] if shards > 1 else [(0, pdf[key_col])]
            for s, ks in groups:
                if s not in local:  # setdefault would zero a bitset per batch
                    local[s] = np.zeros(m // 8, dtype=np.uint8)
                _add(local[s], ks.astype(str), m, k)
        for s, bits in local.items():
            yield pd.DataFrame({"shard": [int(s)], "bits": [bits.tobytes()]})

    for row in keys.mapInPandas(partial, schema="shard long, bits binary").collect():
        out.shard(row["shard"])[:] |= np.frombuffer(row["bits"], dtype=np.uint8)
    return out


def seen_filter(
    candidates: DataFrame,
    seen_keys: DataFrame,
    key_col: str = "key",
    bloom: Bloom | None = None,
) -> DataFrame:
    """Keep candidates whose key is NOT in seen_keys.

    With a bloom: bloom-negatives are definitely-new (no shuffle);
    bloom-positives go through the exact anti-join. Without: plain
    left-anti join (Catalyst broadcasts when seen_keys is small; AQE
    converts to broadcast at runtime otherwise).
    """
    if bloom is None:
        return candidates.join(seen_keys.select(key_col), key_col, "left_anti")

    sc = candidates.sparkSession.sparkContext
    m, k, shards = bloom.m, bloom.k, bloom.shards
    # one broadcast per shard; Broadcast.value is lazy per handle
    bcs = [sc.broadcast(bloom.shard(s).tobytes()) for s in range(shards)]

    @F.pandas_udf(T.BooleanType())
    def maybe_seen(keys: pd.Series) -> pd.Series:
        return pd.Series(
            _contains(
                keys.astype(str), m, k, shards,
                lambda s: np.frombuffer(bcs[s].value, dtype=np.uint8),
            )
        )

    flagged = candidates.withColumn("__maybe", maybe_seen(F.col(key_col)))
    fresh = flagged.filter(~F.col("__maybe")).drop("__maybe")
    suspect = (
        flagged.filter(F.col("__maybe"))
        .drop("__maybe")
        .join(seen_keys.select(key_col), key_col, "left_anti")
    )
    return fresh.unionByName(suspect)
