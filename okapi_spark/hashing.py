"""Hash-derived uniforms — the engine's partitioning-independent
randomness (SURVEY.md §4.2.6): the same row content draws the same
value on any partitioning, in any run."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash_uniform(*cols: str | Column) -> Column:
    """A uniform double in [0, 1) at 1e-9 resolution:
    ``pmod(xxhash64(cols), 10^9) / 10^9``."""
    return F.pmod(F.xxhash64(*cols), F.lit(10**9)).cast("double") / 1e9
