"""Unified listings data model.

Derived from the reference's target DDL (/root/reference/schema.md:1-72) and
column mapping (/root/reference/src/utils/mapping.py:1-52). The pipeline
materializes exactly the mapping's target columns, in order, as one fixed
Spark StructType (SURVEY.md §1.2 type table):

- ClickHouse UInt64/UInt32 -> LongType (ids are < 2^63 in practice),
- Decimal(18,2) money -> DoubleType (the reference itself degrades Decimal to
  float64, src/utils/types_transform.py:10-11; compat choice documented),
- Enum8 -> StringType + declared valid-value domain,
- Array(T) -> ArrayType(T), JSON-in-String stays StringType,
- DateTime -> timezone-naive TimestampType (session tz pinned to UTC).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Source-name -> target-name, in output order
# (reference src/utils/mapping.py:1-52).
CH_FIELD_MAPPING: dict[str, str] = {
    "Object ID": "listing_id",
    "listing_url": "listing_url",
    "Price": "price",
    "Price per sqm": "price_per_sqm",
    "Mortgage Rate": "mortgage_rate",
    "Address": "address",
    "Address ID": "address_id",
    "Area": "area",
    "Rooms": "rooms",
    "Floor": "floor",
    "Description": "description",
    "Published Date": "published_date",
    "Updated Date": "updated_date",
    "Seller ID": "seller_id",
    "Seller Name Hash": "seller_name_hash",
    "Company Name": "company_name",
    "Company ID": "company_id",
    "Property Type": "property_type",
    "Category": "category",
    "House Floors": "house_floors",
    "Deal Type": "deal_type",
    "Discount Status": "discount_status",
    "Discount Value": "discount_value",
    "Placement Paid": "placement_paid",
    "Big Card": "big_card",
    "Pin Color": "pin_color",
    "Longitude": "longitude",
    "Latitude": "latitude",
    "Subway Distances": "subway_distances",
    "Subway Names": "subway_names",
    "Photos URLs": "photo_urls",
    "Monthly Payment": "monthly_payment",
    "Advance Payment": "advance_payment",
    "Auction Status": "auction_status",
    "uid": "uid",
    "platform_id": "platform_id",
    "created_at": "created_at",
    "seller_type": "seller_type",
    "flat_type": "flat_type",
    "height": "height",
    "area_rooms": "area_rooms",
    "previous_price": "previous_price",
    "renovation_offer": "renovation_offer",
    "balcony_type": "balcony_type",
    "window_view": "window_view",
    "built_year_offer": "built_year_offer",
    "building_state": "building_state",
    "type_house_offer": "type_house_offer",
    "valid": "valid",
    "subway_time": "subway_time",
}

TARGET_COLUMNS: list[str] = list(CH_FIELD_MAPPING.values())
SOURCE_COLUMNS: list[str] = list(CH_FIELD_MAPPING.keys())

# Final unified schema after the ClickHouse-shape cast
# (reference src/utils/types_transform.py:7-90; schema.md DDL).
UNIFIED_SCHEMA = T.StructType(
    [
        T.StructField("listing_id", T.LongType(), False),
        T.StructField("listing_url", T.StringType(), True),
        T.StructField("price", T.DoubleType(), True),
        T.StructField("price_per_sqm", T.DoubleType(), True),
        T.StructField("mortgage_rate", T.FloatType(), False),
        T.StructField("address", T.StringType(), True),
        T.StructField("address_id", T.LongType(), False),
        T.StructField("area", T.DoubleType(), True),
        T.StructField("rooms", T.IntegerType(), False),
        T.StructField("floor", T.IntegerType(), False),
        T.StructField("description", T.StringType(), True),
        T.StructField("published_date", T.TimestampType(), True),
        T.StructField("updated_date", T.TimestampType(), True),
        T.StructField("seller_id", T.LongType(), False),
        T.StructField("seller_name_hash", T.StringType(), True),
        T.StructField("company_name", T.StringType(), True),
        T.StructField("company_id", T.LongType(), False),
        T.StructField("property_type", T.StringType(), True),
        T.StructField("category", T.StringType(), True),
        T.StructField("house_floors", T.IntegerType(), False),
        T.StructField("deal_type", T.StringType(), False),
        T.StructField("discount_status", T.StringType(), False),
        T.StructField("discount_value", T.DoubleType(), False),
        T.StructField("placement_paid", T.IntegerType(), False),
        T.StructField("big_card", T.IntegerType(), False),
        T.StructField("pin_color", T.IntegerType(), False),
        T.StructField("longitude", T.DoubleType(), True),
        T.StructField("latitude", T.DoubleType(), True),
        T.StructField("subway_distances", T.ArrayType(T.DoubleType()), False),
        T.StructField("subway_names", T.ArrayType(T.StringType()), False),
        T.StructField("photo_urls", T.ArrayType(T.StringType()), True),
        T.StructField("monthly_payment", T.DoubleType(), False),
        T.StructField("advance_payment", T.DoubleType(), False),
        T.StructField("auction_status", T.DoubleType(), False),
        T.StructField("uid", T.StringType(), False),
        T.StructField("platform_id", T.IntegerType(), False),
        T.StructField("created_at", T.TimestampType(), False),
        T.StructField("seller_type", T.StringType(), False),
        T.StructField("flat_type", T.StringType(), False),
        T.StructField("height", T.DoubleType(), False),
        T.StructField("area_rooms", T.DoubleType(), False),
        T.StructField("previous_price", T.DoubleType(), False),
        T.StructField("renovation_offer", T.StringType(), False),
        T.StructField("balcony_type", T.StringType(), False),
        T.StructField("window_view", T.StringType(), False),
        T.StructField("built_year_offer", T.IntegerType(), False),
        T.StructField("building_state", T.StringType(), False),
        T.StructField("type_house_offer", T.StringType(), False),
        T.StructField("valid", T.IntegerType(), False),
        T.StructField("subway_time", T.StringType(), True),
    ]
)

PLATFORM_IDS = {"domclick": 1, "avito": 2, "yandex": 4}  # code wins over the
# stale comment at reference transformation.py:324 (SURVEY §1.4.4); cian has
# no id because its transformer is intentionally unimplemented (§1.4.6).

PLATFORMS = ("domclick", "yandex", "cian", "avito")  # reference config.py:8
