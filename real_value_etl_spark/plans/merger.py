"""Union of per-platform frames onto the unified target schema.

Reference: UnifiedDataMerger (src/etl/merging.py:12-28) — concat, fill
missing mapping columns with NA, select source columns, rename to target
names, reorder. Spark-first: the transformers already emit the full typed
intermediate schema (plans/transformers.py), so the merge is a pure
unionByName chain (narrow, zero shuffle) followed by one rename select.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import CH_FIELD_MAPPING, SOURCE_COLUMNS


def merge_unified(frames: list[DataFrame]) -> DataFrame | None:
    """Union per-platform intermediate frames and rename to target columns.

    Empty input returns None (the reference returns an empty DataFrame with
    target columns, merging.py:13-14; callers here treat it as 'nothing to
    load')."""
    if not frames:
        return None
    aligned = [f.select(*[F.col(f"`{c}`") for c in SOURCE_COLUMNS]) for f in frames]
    merged = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), aligned)
    return merged.select(
        *[F.col(f"`{src}`").alias(dst) for src, dst in CH_FIELD_MAPPING.items()]
    )
