"""Pair generation: every near-dup family's candidate + verify layer.

Two shapes live here, each written once.

Hamming-ball pairs over any 64-bit (or narrower) fingerprint column —
images (phash, dhash), audio (afp), captions (phash) and text
(simhash) all call these with their own id/hash columns and output
names:

* `hamming_pairs` — the exact O(n^2) self-join, bit_count(a XOR b) <=
  k in whole-stage codegen; the reference the scale paths are tested
  against.
* `banded_pairs` — (k+1)-band pigeonhole join: two hashes within
  hamming k agree exactly on >= 1 of k+1 bands. Right when k is large
  (k=12 leaves 4-5 bit chunks, so it keeps wide bands and tolerates
  bucket fan-out at moderate n). Row-keyed.
* `blocked_pairs` — Manku block-combination keys (WWW'07) over the
  DISTINCT hashes (`hash_pairs`), then members rejoin by hash: for
  small k at LARGE n — 32-bit bucket keys keep buckets
  near-singleton at 10^9 uniform hashes, where (k+1)-banding's 12-bit
  buckets measured ~5e9 candidate pairs at just n=2M
  (BENCH_CAPTIONS.json). `hash_pairs` emits each hash pair once and
  also serves consumers that aggregate per hash instead of listing
  member pairs (captions.caption_conflict_flags, the simhash degree).

Skew-defended within-group self-pairing, `salted_self_pairs`:

The within-cell pair generators (SemDeDup cells, LSH buckets) co-locate
each group on one reducer via the equi-join on the group key — O(n_g^2)
work on ONE task per group. Bounded-average recipes (K ∝ n) keep the
*average* group small, but a real distribution has dense modes: one hot
group becomes one straggler task (VERDICT r4 item 5, SemDeDup).

`salted_self_pairs` makes the pair generation exact AND bounded per
task: groups above `split_target` rows are hash-split into S =
ceil(n_g / split_target) sub-blocks, and the classic triangular
block-pair replication covers every unordered pair exactly once —

* a row with salt r joins the LEFT side under keys (u=r, v=j) for
  j in r..S-1 (the cases where its salt is the pair minimum), and
* the RIGHT side under keys (u=j, v=r) for j in 0..r (salt maximum),

so an unordered pair with salts (r_a <= r_b) meets at exactly the key
(u=r_a, v=r_b); equal-salt pairs surface in both orders and the
id_a < id_b filter keeps one. Per-task work drops from O(n_g^2) to
O(split_target^2) while total pair output is IDENTICAL to the naive
self-join (property-tested in tests/test_pairs.py, and the SemDeDup
registry row still hash-matches its DuckDB oracle).

Cost accounting: every row is replicated S+1 times across the two
sides (the naive a/b self-join already materializes 2 copies), and the
split map broadcast holds ONLY the oversized groups — a handful of hot
keys by construction, never O(groups).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_self_pairs(
    df: DataFrame,
    group_col: str,
    id_col: str,
    payload_cols: list[str],
    split_target: int = 2048,
    max_splits: int = 64,
) -> DataFrame:
    """All unordered within-group pairs ({id}_a < {id}_b) of `df` rows.

    Output columns: group_col, {id_col}_a, {id_col}_b, and {p}_a/{p}_b
    for each payload column. Groups larger than `split_target` are
    salt-split (capped at `max_splits` sub-blocks) so no single task
    ever pairs more than ~split_target rows against ~split_target."""
    hot = (
        df.groupBy(group_col)
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > split_target)
        .select(
            group_col,
            F.least(
                F.lit(max_splits),
                F.ceil(F.col("_n") / F.lit(split_target)),
            )
            .cast("int")
            .alias("_S"),
        )
    )
    salted = (
        df.join(F.broadcast(hot), group_col, "left")
        .withColumn("_S", F.coalesce(F.col("_S"), F.lit(1)))
        .withColumn(
            "_r",
            F.pmod(F.xxhash64(F.col(id_col)), F.col("_S")).cast("int"),
        )
    )
    left = salted.select(
        group_col,
        F.col("_r").alias("_u"),
        F.explode(F.sequence(F.col("_r"), F.col("_S") - 1)).alias("_v"),
        F.col(id_col).alias(f"{id_col}_a"),
        *[F.col(p).alias(f"{p}_a") for p in payload_cols],
    )
    right = salted.select(
        group_col,
        F.explode(F.sequence(F.lit(0), F.col("_r"))).alias("_u"),
        F.col("_r").alias("_v"),
        F.col(id_col).alias(f"{id_col}_b"),
        *[F.col(p).alias(f"{p}_b") for p in payload_cols],
    )
    a, b = f"{id_col}_a", f"{id_col}_b"
    joined = left.join(right, [group_col, "_u", "_v"])
    # same-block pairs (u == v) surface in BOTH orientations — keep
    # id_a < id_b to dedup. Cross-block pairs surface exactly once,
    # with the MIN-SALT row on the left regardless of id order — keep
    # id_a != id_b and canonicalize the orientation below (a plain
    # id_a < id_b filter here silently DROPS the half whose min-salt
    # row has the larger id).
    keep = F.when(
        F.col("_u") == F.col("_v"), F.col(a) < F.col(b)
    ).otherwise(F.col(a) != F.col(b))
    swap = F.col(a) > F.col(b)
    sel = [
        F.col(group_col),
        F.when(swap, F.col(b)).otherwise(F.col(a)).alias(a),
        F.when(swap, F.col(a)).otherwise(F.col(b)).alias(b),
    ]
    for p in payload_cols:
        pa, pb = f"{p}_a", f"{p}_b"
        sel.append(F.when(swap, F.col(pb)).otherwise(F.col(pa)).alias(pa))
        sel.append(F.when(swap, F.col(pa)).otherwise(F.col(pb)).alias(pb))
    return joined.filter(keep).select(*sel)


# ---------------------------------------------------------------------------
# Hamming-ball pairs over a fingerprint column


def _hamming():
    return F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))


def hamming_pairs(
    df: DataFrame, id_col: str, hash_col: str, out: tuple[str, str], max_hamming: int
) -> DataFrame:
    """Exact near-dup pairs: every (a, b, hamming) with a < b and
    hamming(hash) <= max_hamming. All-JVM crossJoin, O(n^2) — the
    baseline `banded_pairs` and `blocked_pairs` are tested against."""
    a, b = out
    left = df.select(F.col(id_col).alias(a), F.col(hash_col).alias("ph_a"))
    right = df.select(F.col(id_col).alias(b), F.col(hash_col).alias("ph_b"))
    return (
        left.crossJoin(right)
        .filter(F.col(a) < F.col(b))
        .withColumn("hamming", _hamming())
        .filter(F.col("hamming") <= max_hamming)
        .select(a, b, "hamming")
    )


def banded_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    out: tuple[str, str],
    max_hamming: int,
) -> DataFrame:
    """(max_hamming+1)-band pigeonhole join: split the 64-bit hash into
    bands — two hashes within hamming r agree exactly on >= 1 band —
    bucket-join rows per band, then verify candidates exactly. Same
    result set as `hamming_pairs`, O(n * bucket) work."""
    bands = max_hamming + 1
    width = 64 // bands
    mask = (1 << width) - 1 if width < 64 else -1  # one band: the whole hash
    a, b = out
    # the band array is one parsed expression, built once for both sides
    parts = ", ".join(
        f"named_struct('band', {i}, 'chunk', shiftrightunsigned(ph, {i * width}) & {mask})"
        for i in range(bands)
    )
    banded = (
        df.select(F.col(id_col).alias("id"), F.col(hash_col).alias("ph"))
        .select("id", "ph", F.explode(F.expr(f"array({parts})")).alias("bc"))
        .select("id", "ph", "bc.band", "bc.chunk")
    )

    def side(id_alias: str, ph_alias: str) -> DataFrame:
        return banded.select(
            F.col("id").alias(id_alias), F.col("ph").alias(ph_alias), "band", "chunk"
        )

    return (
        side(a, "ph_a")
        .join(side(b, "ph_b"), ["band", "chunk"])
        .filter(F.col(a) < F.col(b))
        .select(a, b, _hamming().alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _block_combo_keys(
    df: DataFrame,
    hash_col: str,
    alias: str,
    max_hamming: int = 4,
    m: int = 8,
    bits: int = 64,
) -> DataFrame:
    """(alias, combo, bkey): Manku-style block-combination keys for
    hamming <= k search over a `bits`-wide hash (Manku, Jain & Sarma,
    WWW'07 §3 — the permuted-table construction, expressed as
    explode+join instead of sorted probes).

    WHY not simple (k+1)-banding at scale: with k=4 a band is only
    64//5 = 12 bits -> 4096 buckets per band. Hashes are uniform, so at
    n rows every bucket holds ~n/4096 rows and the bucket self-join is
    quadratic-within-bucket: measured at n=2M synthetic phashes the
    banded join generates ~5 BILLION candidate pairs. Block-combination
    keys fix the geometry: split into m=8 blocks of 8 bits; hamming <= k
    corrupts at most k blocks, so >= m-k blocks are intact and the two
    hashes agree on SOME (m-k)-block combination. Keying every
    C(m, m-k) combination (70 for k=4) makes a bucket key m-k blocks =
    32 bits wide -> random collisions need 32 matching bits
    (~n/2^32 per bucket, near-singleton even at 10^9 rows). Work is
    O(n * C(m, m-k)) map-side fan-out + true-pair verification, never
    quadratic. Tradeoff knob: larger m widens coverage per key but
    explodes C(m, m-k); m=8/k<=4 is the classic 64-bit operating point.
    """
    t = m - max_hamming
    if t < 1:
        raise ValueError(f"need m > max_hamming (got m={m}, k={max_hamming})")
    width = bits // m
    mask = (1 << width) - 1
    # the key array is one parsed expression, not one Column per block
    keys = []
    for combo_id, combo in enumerate(_block_combos(m, t)):
        bkey = "CAST(0 AS BIGINT)"
        for i in combo:
            bkey = f"shiftleft({bkey}, {width}) | (shiftrightunsigned({alias}, {i * width}) & {mask})"
        keys.append(f"named_struct('combo', {combo_id}, 'bkey', {bkey})")
    return df.select(F.col(hash_col).alias(alias)).select(
        alias, F.explode(F.expr(f"array({', '.join(keys)})")).alias("cb")
    ).select(alias, "cb.combo", "cb.bkey")


def _block_combos(m: int, t: int) -> list[tuple[int, ...]]:
    """Canonical enumeration order of the C(m, t) block combinations —
    shared by the key emitter and the minimal-combo dedup LUT so combo
    ids agree by construction."""
    from itertools import combinations

    return list(combinations(range(m), t))


def _min_combo_lut(m: int, t: int) -> list[int]:
    """min_combo_lut[corrupt_bitmap] = id of the FIRST (m,t)-block
    combination containing no corrupted block, -1 when fewer than t
    blocks are intact (unreachable for joined pairs, which agreed on
    some combo's full bkey). Property-tested against a brute-force
    oracle in tests/test_property.py."""
    combos = _block_combos(m, t)
    return [
        next(
            (
                ci
                for ci, c in enumerate(combos)
                if all(not (cmask >> blk_i) & 1 for blk_i in c)
            ),
            -1,
        )
        for cmask in range(1 << m)
    ]


def _min_intact_combo(xor: str, m: int, t: int, bits: int = 64):
    """Column expression: id of the FIRST (m,t)-block combination fully
    intact between two hashes whose xor is the SQL expression `xor` —
    the canonical combo a candidate pair is allowed to survive on, so
    each pair is emitted exactly once without a `.distinct()` shuffle.
    Derives the corrupted-block bitmap from the xor, then looks the
    minimal intact combo up in a 2^m-entry literal array; all of it one
    parsed expression."""
    width = bits // m
    blkmask = (1 << width) - 1
    corrupt = " | ".join(
        f"IF((shiftrightunsigned({xor}, {i * width}) & {blkmask}) != 0, {1 << i}, 0)"
        for i in range(m)
    )
    lut = ", ".join(str(v) for v in _min_combo_lut(m, t))
    return F.expr(f"element_at(array({lut}), CAST({corrupt} AS INT) + 1)")


def hash_pairs(
    hashes: DataFrame,
    hash_col: str,
    max_hamming: int,
    m: int = 8,
    bits: int = 64,
) -> DataFrame:
    """(ph_a, ph_b, hamming) for every pair of DISTINCT hashes in
    `hashes[hash_col]` (the caller passes each hash once) with
    0 < hamming <= max_hamming, ph_a < ph_b, each pair emitted exactly
    once. `bits` is the signature width the m blocks tile (64 for
    phash/dhash/afp, 32 for the text simhash); the hash must fit in it.

    Candidates come from the block-combination keys; the
    minimal-intact-combo filter keeps one of the combos a pair shares,
    so no `.distinct()` shuffle follows."""
    t = m - max_hamming
    a = _block_combo_keys(hashes, hash_col, "ph_a", max_hamming, m, bits)
    b = _block_combo_keys(hashes, hash_col, "ph_b", max_hamming, m, bits)
    xor = F.col("ph_a").bitwiseXOR(F.col("ph_b"))
    ham = F.bit_count(xor)
    # hint the self-join: the optimizer sizes the join by the
    # pre-Generate distinct-hash table (small) and would BROADCAST the
    # x70-exploded side — a single-threaded 35M-row driver build at 2M
    # input rows (measured: the broadcast build alone took 83 s). Keys
    # are hash-uniform, so per-partition SHJ builds are balanced.
    return (
        a.hint("shuffle_hash").join(b, ["combo", "bkey"])
        .filter(F.col("ph_a") < F.col("ph_b"))
        .filter(ham <= max_hamming)
        .filter(F.col("combo") == _min_intact_combo("(ph_a ^ ph_b)", m, t, bits))
        .select("ph_a", "ph_b", ham.cast("int").alias("hamming"))
    )


def blocked_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    out: tuple[str, str],
    max_hamming: int = 4,
    m: int = 8,
    bits: int = 64,
) -> DataFrame:
    """Web-scale hamming <= k near-dup pairs via block-combination keys
    (see _block_combo_keys for why plain banding collapses at n >= 10^6).
    Same result set as `hamming_pairs` — completeness by pigeonhole on
    intact blocks.

    Candidate work is keyed on DISTINCT hashes, not rows: a crawl's
    exact-duplicate multiplicity is Zipfian (the same logo/spacer/stock
    image recurs millions of times), and every row of an exact-dup
    cluster shares all C(m, m-k) combination keys, so a row-keyed join
    does C(cluster)^2 x 70 candidate work for pairs that need none.
    Instead: (1) hamming-0 pairs come from a plain self-equi-join on
    the hash — true pairs only, output-bound (a Zipfian mega-cluster's
    C(g,2) output is the pair-list CONTRACT, not join waste; its
    oversized shuffle partition is the shape AQE skew-split handles,
    and consumers that only need connectivity — dedup components,
    per-image conflict flags — should aggregate per cluster instead of
    enumerating pairs); (2) `hash_pairs` over the distinct-hash table
    (candidates O(distinct^2 within 32-bit buckets), each surviving
    hash pair emitted exactly once); (3) members rejoin by hash on both
    sides. Measured on the 2M-row conflict bench (4-row planted
    clusters): candidate volume 210M row-keyed -> 2,034
    distinct-keyed, wall 188.7 s -> 59.6 s (BENCH.md §4f); at real
    Zipfian multiplicity the gap widens."""
    a, b = out
    mem = df.select(F.col(id_col).alias("_id"), F.col(hash_col).alias("_ph"))
    # (1) exact duplicates: true pairs, no candidate stage at all
    within = (
        mem.select(F.col("_id").alias(a), "_ph")
        .join(mem.select(F.col("_id").alias(b), "_ph"), "_ph")
        .filter(F.col(a) < F.col(b))
        .select(a, b, F.lit(0).cast("int").alias("hamming"))
    )
    if max_hamming == 0:
        return within
    # (2) hamming 1..k over distinct hashes only, (3) expanded back to
    # member pairs (shuffle joins on the hash — pair-keyed, nothing O(n)
    # broadcast)
    between = (
        hash_pairs(mem.select("_ph").distinct(), "_ph", max_hamming, m, bits)
        .join(mem.select(F.col("_id").alias("ia"), F.col("_ph").alias("ph_a")), "ph_a")
        .join(mem.select(F.col("_id").alias("ib"), F.col("_ph").alias("ph_b")), "ph_b")
        .select(
            F.least("ia", "ib").alias(a),
            F.greatest("ia", "ib").alias(b),
            "hamming",
        )
    )
    return within.unionByName(between)
