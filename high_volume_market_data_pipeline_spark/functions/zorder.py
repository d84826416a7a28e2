"""Z-value (Morton) ordering expressions for multi-column clustering.

A lexicographic sort on (a, b) gives perfect file-level min/max skipping on
``a`` and NONE on ``b`` (every file spans b's full range). Interleaving the
bit representations of per-column buckets gives every clustered column a
comparable share of the locality — the property Delta's OPTIMIZE ZORDER
provides, built here from plain column expressions so the parquet-native
maintenance path gets real multi-column skipping too.

Bucketing: numeric columns linear-scale to [0, 2^bits) between their
min/max (computed engine-side in one aggregate and broadcast — no driver
collect); non-numeric columns hash-bucket (xxhash64), which preserves
point-predicate skipping (equality prunes to the files holding that
bucket) but not range predicates — the same trade Delta makes for string
Z-ORDER columns. All expressions are deterministic integer/bit ops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType


def _spread_steps(n: int, bits: int) -> list[tuple[int, int]]:
    """(shift, mask) steps that move bit b of a ``bits``-wide value to bit
    b·n. Blocks of s bits halve each step (s a power of two, starting at
    the smallest one ≥ bits): the upper half of every block moves up by
    s/2·(n-1) and the mask keeps each bit only at its new place."""
    steps = []
    s = 1 << (bits - 1).bit_length()
    while s > 1:
        s //= 2
        mask = 0
        for b in range(bits):
            mask |= 1 << ((b // s) * s * n + b % s)
        steps.append((s * (n - 1), mask))
    return steps


def interleave_bits(buckets: list[Column], bits: int) -> Column:
    """Morton-interleave integer bucket columns (each in [0, 2^bits)) into
    one long: output bit (b·n + i) = bit b of bucket i. n·bits must fit a
    long (≤ 63). Each bucket is spread in ⌈log2 bits⌉ shift/or/and steps,
    so pass column references: every step names its input twice."""
    n = len(buckets)
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a long")
    steps = _spread_steps(n, bits)
    z = F.lit(0).cast("long")
    for i, c in enumerate(buckets):
        x = c.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
        for shift, mask in steps:
            x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
        z = z.bitwiseOR(F.shiftleft(x, i))
    return z


def with_z_value(
    df: DataFrame,
    columns: list[str],
    bits: int = 12,
    out_col: str = "__z",
) -> DataFrame:
    """Append the Z-value for ``columns``. Numeric columns bucket by linear
    min/max scaling (nulls → bucket 0, sorting first, like NULLS FIRST);
    other types hash-bucket. The min/max aggregate is one extra tiny job
    whose one-row result broadcasts into the main plan."""
    n_buckets = (1 << bits) - 1
    schema = {f.name: f.dataType for f in df.schema.fields}
    numeric = [c for c in columns if isinstance(schema[c], NumericType)]

    if numeric:
        stats = df.agg(
            *[F.min(c).cast("double").alias(f"__min_{c}") for c in numeric],
            *[F.max(c).cast("double").alias(f"__max_{c}") for c in numeric],
        )
        df = df.crossJoin(F.broadcast(stats))

    buckets: dict[str, Column] = {}
    for i, c in enumerate(columns):
        if c in numeric:
            lo, hi = F.col(f"__min_{c}"), F.col(f"__max_{c}")
            span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
            scaled = F.floor(
                (F.col(c).cast("double") - lo) / span * n_buckets
            )
            bucket = F.coalesce(
                F.least(F.greatest(scaled, F.lit(0)), F.lit(n_buckets)),
                F.lit(0),
            ).cast("long")
        else:
            bucket = F.pmod(F.xxhash64(F.col(c)), F.lit(1 << bits))
        buckets[f"__zb_{i}"] = bucket

    # the buckets as columns first, so the interleave refers to each one
    # instead of repeating its expression in every step
    out = df.withColumns(buckets).withColumn(
        out_col, interleave_bits([F.col(b) for b in buckets], bits)
    )
    return out.drop(*buckets,
                    *[f"__min_{c}" for c in numeric],
                    *[f"__max_{c}" for c in numeric])
