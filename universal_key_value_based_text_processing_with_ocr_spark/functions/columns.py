"""Column-level helper functions shared across operators.

All JVM-side expressions (codegen-friendly); the md5-derived hash keeps
every derived artifact recomputable by any engine (oracle-checkable),
with xxhash64 as the drop-in at production scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def md5_long(col) -> F.Column:
    """First 15 hex digits of md5 as a 60-bit bigint (engine-reproducible)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def decimal_sum(col, scale: str = "decimal(18,4)") -> F.Column:
    """Order-independent float aggregation: per-row cast to exact decimal,
    exact decimal sum, one cast back to double — bit-identical across
    engines and partitionings (used wherever a float SUM is compared to an
    oracle)."""
    return F.sum(col.cast(scale)).cast("double")
