"""HyperLogLog distinct-count sketch (Flajolet et al. 2007), built from
JVM expressions only — md5 -> 60-bit hash -> (bucket, leading-zero rank)
-> per-bucket max. One scan, no Python, O(2^b) state.

Why it exists: the register computation is integer-exact (bit ops +
binary-string position, no floats), so the registry twin
`hll_registers` value-checks the full sketch pipeline against DuckDB
bit-for-bit — something Spark's built-in `approx_count_distinct`
(HLL++, opaque binary state) cannot offer an oracle for. A call site
that only needs the NUMBER should use the built-in aggregate instead
(executor-side merge, no driver-side register fold); this module is the
transparent, cross-engine-checkable formulation of the same estimator
at ±~1.04/sqrt(2^b) relative error.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def _hash60(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


def hll_registers(
    df: DataFrame, col: str = "key", b: int = 10, by: list[str] | None = None
) -> DataFrame:
    """Occupied HLL registers: (bucket, rho_max). bucket = low b hash
    bits; rho = 1-based position of the first 1-bit in the remaining
    60-b bits (width+1 when they are all zero). Integer-exact end to
    end; the rank width tracks b — a fixed width would inflate or
    deflate every rho as soon as b moved off the default.

    With `by`, one register table PER GROUP — (by..., bucket, rho_max),
    the distinct-count-per-group primitive (e.g. distinct URLs per
    (host, template) for crawl-trap detection) at O(groups x 2^b)
    bounded output instead of a count(DISTINCT) shuffle of every
    distinct value."""
    m = 1 << b
    width = 60 - b
    h = _hash60(F.col(col))
    bucket = h.bitwiseAND(m - 1)
    w = F.shiftright(h, b)
    bits = F.lpad(F.bin(w), width, "0")
    rho = (
        F.when(w == 0, F.lit(width + 1))
        .otherwise(F.instr(bits, "1"))
        .cast("int")
    )
    keys = list(by or [])
    return (
        df.select(*keys, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*keys, "bucket")
        .agg(F.max("rho").alias("rho_max"))
    )


def estimate_from_registers(regs: dict[int, int], b: int = 10) -> int:
    """Deterministic HLL estimate from a register table (standard HLL
    with the small-range linear-counting correction; the 2^60 hash
    space makes large-range collisions negligible at crawl scales).
    Registers are an order-free max-fold, and this sums them in fixed
    bucket order, so the estimate is bit-stable no matter how the
    input was partitioned."""
    m = 1 << b
    alpha = 0.7213 / (1 + 1.079 / m) if m >= 128 else 0.709
    s = sum(2.0 ** -regs.get(j, 0) for j in range(m))
    e = alpha * m * m / s
    zeros = m - sum(1 for v in regs.values() if v > 0)
    if e <= 2.5 * m and zeros > 0:
        e = m * math.log(m / zeros)
    return int(round(e))


def hll_estimate(df: DataFrame, col: str = "key", b: int = 10) -> int:
    """Distinct-count estimate from the registers."""
    regs = {r["bucket"]: r["rho_max"] for r in hll_registers(df, col, b).collect()}
    return estimate_from_registers(regs, b)


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005) — frequency estimates
# with one-sided error (never undercounts), d x w integer counters.
# Registers are integer-exact (derived double hashing from one md5, the
# Kirsch-Mitzenmacher trick the MinHash path also uses), so the
# registry twin `cm_registers` value-checks the counter table
# bit-for-bit. The crawler finds hot hosts with an exact filtered scan
# instead: it beat a count-min probe at every host count measured
# (BENCH.md, skew defenses).


def _slots_from_h(h: Column, d: int, w: int) -> Column:
    """Array of the d counter slots from a precomputed 60-bit hash:
    slot_i = (h1 + i*h2) mod w with h1/h2 the two 30-bit halves, h2
    forced odd (Kirsch-Mitzenmacher double hashing)."""
    h1 = F.shiftright(h, 30)
    h2 = h.bitwiseAND((1 << 30) - 1).bitwiseOR(1)
    return F.array(
        *[F.pmod(h1 + i * h2, F.lit(w)).cast("int") for i in range(d)]
    )


def cm_registers(
    df: DataFrame, col: str = "host", d: int = 4, w: int = 256
) -> DataFrame:
    """Occupied count-min counters: (row, slot, cnt) — ONE scan of the
    input (posexplode of the per-key slot array; a union of d selects
    would read the input d times). The md5 hash is materialized into a
    projected column BEFORE the slot array is built: Catalyst does not
    CSE the md5->conv subtree across array elements + posexplode, so
    inlining `_hash60` into the slot array evaluates the hash ~4d
    times per row (measured 45x slower at 4M rows: 66.8s -> 1.5s with this split)."""
    hashed = df.select(_hash60(F.col(col)).alias("h"))
    return (
        hashed.select(
            F.posexplode(_slots_from_h(F.col("h"), d, w)).alias("row", "slot")
        )
        .groupBy("row", "slot")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
