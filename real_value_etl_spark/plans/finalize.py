"""Final cast to the unified (ClickHouse-shaped) schema + uid generation.

Reference: transform_to_clickhouse_schema (src/utils/types_transform.py:7-90).
Applies the per-column fillna defaults, unsigned-int semantics and
uuid5-based uid. All expressions, single select, no shuffle.

Compat decisions (SURVEY §1.4):
- uint8 fields (rooms, floor, house_floors, placement_paid, big_card,
  pin_color, built_year_offer, platform_id): the reference's numpy cast
  wraps mod 256 (2015 -> 223, types_transform.py:66). `uint8_wrap=True`
  (default) replicates with pmod(x, 256); False keeps full integer values.
- uid is generated with a sha1-expression uuid5 (functions/ids.py), not a
  Python UDF — bit-identical to uuid.uuid5(NAMESPACE_DNS, ...).
- The stray `merged.csv` debug dump (types_transform.py:89) is dropped.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.ids import listing_uid
from ..schema import UNIFIED_SCHEMA

_UINT8_FIELDS = {
    "rooms",
    "floor",
    "house_floors",
    "placement_paid",
    "big_card",
    "pin_color",
    "built_year_offer",
    "platform_id",
}

_FILL_ZERO_NUM = {
    "listing_id",
    "mortgage_rate",
    "address_id",
    "rooms",
    "floor",
    "seller_id",
    "company_id",
    "house_floors",
    "discount_value",
    "placement_paid",
    "big_card",
    "pin_color",
    "monthly_payment",
    "advance_payment",
    "auction_status",
    "height",
    "area_rooms",
    "previous_price",
    "built_year_offer",
}

_FILL_UNKNOWN = {
    "deal_type",
    "discount_status",
    "seller_type",
    "flat_type",
    "renovation_offer",
    "balcony_type",
    "window_view",
    "building_state",
    "type_house_offer",
}

_EMPTY_ARRAY = {"subway_distances", "subway_names"}


# r12 optimization: the cast block is df-independent (keyed only on
# uint8_wrap) but was rebuilt per run — same precompiled-plan-fragment
# memoization as the transformer blocks (plans/transformers.py).
@lru_cache(maxsize=None)
def _finalize_cols(uint8_wrap: bool = True) -> tuple[Column, ...]:
    out: list[Column] = []
    for field in UNIFIED_SCHEMA.fields:
        name, dtype = field.name, field.dataType.simpleString()
        c = F.col(name)
        if name == "uid":
            e = listing_uid(
                F.coalesce(F.col("listing_id"), F.lit(0)),
                F.col("platform_id"),
            )
        elif name in _FILL_ZERO_NUM:
            # Integral targets must not round-trip through double: int64 ids
            # above 2^53 (e.g. yandex offer ids) would lose precision.
            if dtype in ("bigint", "int", "smallint", "tinyint"):
                e = F.coalesce(c.try_cast("long"), F.lit(0).cast("long"))
            else:
                e = F.coalesce(c.try_cast("double"), F.lit(0.0))
            if name in _UINT8_FIELDS and uint8_wrap:
                e = F.pmod(e.try_cast("long"), F.lit(256))
        elif name in _FILL_UNKNOWN:
            e = F.coalesce(c.cast("string"), F.lit("UNKNOWN" if name != "deal_type" and name != "discount_status" else "Unknown"))
        elif name in _EMPTY_ARRAY:
            e = F.coalesce(c, F.array().cast(dtype))
        else:
            e = c
        out.append(e.try_cast(dtype).alias(name))
    return tuple(out)


def finalize_unified(df: DataFrame, uint8_wrap: bool = True) -> DataFrame:
    """Cast the merged frame to UNIFIED_SCHEMA semantics (one select)."""
    return df.select(*_finalize_cols(uint8_wrap))
