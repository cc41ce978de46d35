"""Per-platform transformation plans.

Each platform's raw CSV schema is normalized onto the canonical (source-named)
intermediate schema as ONE typed select block — the Spark-first re-expression
of the reference's pandas transformers (src/etl/transformation.py:20-212
DomClick, :215-384 Yandex, :386-546 Avito). Everything is a Catalyst
expression: no Python UDFs anywhere in the ETL hot path, so the whole
transform stays inside whole-stage codegen and is narrow (no shuffle) except
the explicit keep-first dedup, which is one window shuffle per deduped source.

Unlike the reference (untyped pandas until a final cast), every transformer
emits the same intermediate types, so the union is trivially well-typed.

Faithfully replicated reference quirks (SURVEY §1.4):
- Avito writes its computed price-per-sqm into `Price_per_sqm` and its hash
  address id into `Address_id` — column names NOT in CH_FIELD_MAPPING
  (transformation.py:408, :418 vs mapping.py) — so both are dead stores and
  the unified output gets NULL / 0 for those fields.
- cian raises NotImplementedError (transformation.py:15-17).
Deterministic deviations (documented): hash() -> xxhash64 (§1.4.1),
eval -> from_json (§1.4.2), keep-first dedup uses an explicit order column.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.cleaning import (
    array_of_nonblank,
    array_of_nonnull_doubles,
    bool_flag,
    bounded_hash,
    extract_offer_id,
    fill_num,
    fill_str,
    norm_ts,
    parse_str_list,
    prefix_each,
    to_int,
    to_num,
)

ROW_ORDER_COL = "_row_order"  # injected by sources/csv_source.py for
# keep-first dedup determinism (reference relies on CSV row order)

# Canonical intermediate schema: source-named, fully typed.
INTERMEDIATE_TYPES: dict[str, str] = {
    "Object ID": "long",
    "listing_url": "string",
    "Price": "double",
    "Price per sqm": "double",
    "Mortgage Rate": "double",
    "Address": "string",
    "Address ID": "long",
    "Area": "double",
    "Rooms": "double",
    "Floor": "long",
    "Description": "string",
    "Published Date": "timestamp",
    "Updated Date": "timestamp",
    "Seller ID": "long",
    "Seller Name Hash": "string",
    "Company Name": "string",
    "Company ID": "long",
    "Property Type": "string",
    "Category": "string",
    "House Floors": "long",
    "Deal Type": "string",
    "Discount Status": "string",
    "Discount Value": "double",
    "Placement Paid": "int",
    "Big Card": "int",
    "Pin Color": "int",
    "Longitude": "double",
    "Latitude": "double",
    "Subway Distances": "array<double>",
    "Subway Names": "array<string>",
    "Photos URLs": "array<string>",
    "Monthly Payment": "double",
    "Advance Payment": "double",
    "Auction Status": "double",
    "uid": "string",
    "platform_id": "int",
    "created_at": "timestamp",
    "seller_type": "string",
    "flat_type": "string",
    "height": "double",
    "area_rooms": "double",
    "previous_price": "double",
    "renovation_offer": "string",
    "balcony_type": "string",
    "window_view": "string",
    "built_year_offer": "long",
    "building_state": "string",
    "type_house_offer": "string",
    "valid": "int",
    "subway_time": "string",
}


def _conform_cols(exprs: dict[str, Column]) -> tuple[Column, ...]:
    """The full intermediate-schema projection as a reusable Column tuple:
    missing columns become typed NULLs (the reference's np.nan assignments),
    present ones are cast to the canonical type. One select — Catalyst
    prunes the raw scan to exactly the referenced input columns."""
    out = []
    for name, dtype in INTERMEDIATE_TYPES.items():
        e = exprs.get(name, F.lit(None))
        # try_cast: ANSI-mode cast throws on NaN->long etc.; the reference's
        # pandas coercion nulls instead.
        out.append(e.try_cast(dtype).alias(name))
    return tuple(out)


def _keep_first(df: DataFrame, key: str) -> DataFrame:
    """drop_duplicates(subset=[key], keep='first') with deterministic winner
    (reference transformation.py:224-228, :395). Uses the file-order column
    when the source injected one; otherwise any-winner (documented).
    Scalable form: one row_number window per dedup, shuffling on the key."""
    order = ROW_ORDER_COL if ROW_ORDER_COL in df.columns else F.lit(1)
    w = Window.partitionBy(key).orderBy(order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# r12 optimization: each platform's select block and dropna gate are
# df-INDEPENDENT unresolved expression trees, but they were rebuilt on
# every pipeline run — thousands of Py4J round trips per run, measured at
# ~1.3-2.7 s of the ~3.8 s steady-state ETL (plan CONSTRUCTION, not
# execution). Unresolved Columns are immutable plan fragments, valid for
# any DataFrame in the JVM, so each block is built once per process and
# reused — the standard precompiled-plan pattern for a recurring ETL.
# No data or results are cached; `current_timestamp()` stays a per-query
# expression exactly as before.
@lru_cache(maxsize=None)
def _domclick_plan() -> tuple[tuple[Column, ...], Column]:
    """DomClick select block (reference transformation.py:20-212)."""
    base_image = "https://img.dmclk.ru/"
    base_sale = "https://domclick.ru/card/sale__flat__"

    object_id = to_int("Object ID")
    company_name = fill_str("Company Name")
    cols = _conform_cols(
        {
            "Object ID": object_id,
            "listing_url": F.concat(F.lit(base_sale), object_id.cast("string")),
            "Price": to_num("Price"),
            "Price per sqm": to_num("Price per sqm"),
            "Mortgage Rate": to_num("Mortgage Rate"),
            "Address": fill_str("Address"),
            "Address ID": to_int("Address ID"),
            "Area": to_num("Area"),
            "Rooms": to_num("Rooms"),
            "Floor": to_int("Floor"),
            "Description": fill_str("Description"),
            "Published Date": norm_ts("Published Date"),
            "Updated Date": norm_ts("Updated Date"),
            "Seller ID": to_int("Seller ID"),
            "Seller Name Hash": fill_str("Seller Name Hash"),
            "Company Name": company_name,
            "Company ID": F.coalesce(
                to_num("Company ID").cast("long"), bounded_hash(company_name)
            ),
            "Property Type": fill_str("Property Type", "Unknown"),
            "Category": fill_str("Category", "Unknown"),
            "House Floors": to_int("House Floors"),
            "Deal Type": fill_str("Deal Type", "Unknown"),
            "Discount Status": fill_str("Discount Status", "Unknown"),
            "Discount Value": fill_num("Discount Value"),
            "Placement Paid": bool_flag("Placement Paid"),
            "Big Card": bool_flag("Big Card"),
            "Pin Color": to_num("Pin Color").cast("int"),
            "Longitude": to_num("Longitude"),
            "Latitude": to_num("Latitude"),
            "Subway Distances": parse_str_list("Subway Distances", "double"),
            "Subway Names": parse_str_list("Subway Names", "string"),
            "Photos URLs": prefix_each(
                parse_str_list("Photos URLs", "string"), base_image
            ),
            "Monthly Payment": fill_num("Monthly Payment"),
            "Advance Payment": fill_num("Advance Payment"),
            "Auction Status": to_num("Auction Status"),
            "platform_id": F.lit(1),
            "created_at": F.current_timestamp(),
            "valid": F.lit(0),
        },
    )
    # dropna gate (transformation.py:150-154). Address is fillna('')'d above
    # so its clause never fires — replicated as written (SURVEY §1.4.10).
    gate = (
        F.col("`Object ID`").isNotNull()
        & F.col("Price").isNotNull()
        & F.col("Area").isNotNull()
        & F.col("Rooms").isNotNull()
        & F.col("Address").isNotNull()
    )
    return cols, gate


def transform_domclick(df: DataFrame) -> DataFrame:
    """DomClick transform: precompiled select block + dropna gate."""
    cols, gate = _domclick_plan()
    return df.select(*cols).filter(gate)


@lru_cache(maxsize=None)
def _yandex_plan() -> tuple[tuple[Column, ...], Column]:
    """Yandex select block (reference transformation.py:215-384)."""
    base = "https:"
    published = norm_ts("date_offer")
    metro_name = F.col("metro_name").cast("string")
    # {metro: [transport, minutes]} -> JSON (transformation.py:340-346).
    # Deviation: a NULL metro_name yields NULL JSON (pandas emits {"nan":...}).
    subway_time = F.when(
        metro_name.isNotNull(),
        F.to_json(
            F.create_map(
                metro_name,
                F.array(
                    F.col("metro_transp").cast("string"),
                    F.col("time_to_metro").cast("string"),
                ),
            )
        ),
    )
    cols = _conform_cols(
        {
            "Object ID": extract_offer_id(F.col("url_offer_yand")),
            "listing_url": F.concat(F.lit(base), F.col("url_offer_yand")),
            "Price": to_num("price_offer"),
            "Price per sqm": to_num("price_offer") / to_num("square_total_offer"),
            "Address": fill_str("address_offer"),
            "Area": to_num("square_total_offer"),
            "Rooms": to_num("rooms_offer"),
            "Floor": to_int("floor_offer"),
            "Description": fill_str("description_offer"),
            "Published Date": published,
            "Updated Date": published,
            "Property Type": F.when(
                F.col("type_offer") == "NEW_FLAT", F.lit("layout")
            ).otherwise(F.lit("flat")),
            "Category": F.lit("living"),
            "House Floors": to_int("floors_house"),
            "Deal Type": F.lit("sale"),
            "Longitude": to_num("longitude"),
            "Latitude": to_num("latitude"),
            "Subway Names": F.array(metro_name),
            "Photos URLs": prefix_each(
                parse_str_list("photo_list_offer", "string"),
                base,
                strip_leading_slash=True,
            ),
            "platform_id": F.lit(4),  # code wins over stale comment (§1.4.4)
            "created_at": F.current_timestamp(),
            "seller_type": F.col("seller").cast("string"),
            "flat_type": F.col("type_offer").cast("string"),
            "height": to_num("height_offer"),
            "area_rooms": to_num("square_rooms_offer"),
            "previous_price": to_num("previous_price_offer"),
            "subway_time": subway_time,
            "valid": F.lit(0),
        },
    )
    gate = (
        F.col("Price").isNotNull()
        & F.col("Area").isNotNull()
        & F.col("Rooms").isNotNull()
        & F.col("Address").isNotNull()
    )
    return cols, gate


def transform_yandex(df: DataFrame) -> DataFrame:
    """Yandex transform: keep-first dedup, then the precompiled block."""
    cols, gate = _yandex_plan()
    return _keep_first(df, "url_offer_yand").select(*cols).filter(gate)


@lru_cache(maxsize=None)
def _avito_plan() -> tuple[tuple[Column, ...], Column]:
    """Avito select block (reference transformation.py:386-546)."""
    published = norm_ts("date_offer")
    price = to_num("price_offer")
    square = to_num("square_total_offer")
    address = fill_str("address_offer")

    exprs: dict[str, Column] = {
        "Object ID": to_int("id_offer"),
        "listing_url": F.col("url_offer").cast("string"),
        "Price": price,
        "Address": address,
        "Area": square,
        "Rooms": to_num("rooms_offer"),
        "Floor": to_int("floor_offer"),
        "Description": fill_str("description_offer"),
        "Published Date": published,
        "Updated Date": published,
        "Property Type": F.coalesce(
            F.lower(F.col("type_offer").cast("string")), F.lit("unknown")
        ),
        "Category": F.lit("living"),
        "House Floors": to_int("floors_house"),
        "Deal Type": F.coalesce(
            F.lower(F.col("sdelka_offer").cast("string")), F.lit("sale")
        ),
        "Discount Value": F.lit(0.0),
        "Placement Paid": F.lit(0),
        "Big Card": F.lit(0),
        "Pin Color": F.lit(0),
        "Latitude": to_num("latitude"),
        "Longitude": to_num("longitude"),
        "Subway Names": array_of_nonblank(
            F.col("metro_name1"), F.col("metro_name2"), F.col("metro_name3")
        ),
        "Subway Distances": array_of_nonnull_doubles(
            F.col("distance_to_metro1"),
            F.col("distance_to_metro2"),
            F.col("distance_to_metro3"),
        ),
        "Photos URLs": parse_str_list("photo_list_offer", "string"),
        "Advance Payment": F.lit(0.0),
        "platform_id": F.lit(2),
        "created_at": F.current_timestamp(),
        "seller_type": F.upper(
            F.coalesce(
                F.col("developer_offer").cast("string"),
                F.col("seller").cast("string"),
            )
        ),
        "flat_type": F.lower(F.col("type_offer").cast("string")),
        "height": to_num("height_offer"),
        "area_rooms": to_num("square_rooms_offer"),
        "renovation_offer": fill_str("renovation_offer"),
        "balcony_type": F.lit("UNKNOWN"),
        "window_view": F.lit("UNKNOWN"),
        "built_year_offer": to_int("built_year_offer"),
        "building_state": F.lit("UNKNOWN"),
        "type_house_offer": fill_str("type_house_offer"),
        "valid": F.lit(0),
    }
    gate = (
        F.col("Price").isNotNull()
        & F.col("Area").isNotNull()
        & F.col("Rooms").isNotNull()
        & F.col("Address").isNotNull()
    )
    return _conform_cols(exprs), gate


def transform_avito(df: DataFrame) -> DataFrame:
    """Avito transform: keep-first dedup, then the precompiled block."""
    cols, gate = _avito_plan()
    return _keep_first(df, "url_offer").select(*cols).filter(gate)


def transform_cian(df: DataFrame) -> DataFrame:
    """cian is wired but unimplemented in the reference — any cian data must
    abort the run, not silently drop (transformation.py:15-17 via
    datapipeline.py:47; SURVEY §1.4.6)."""
    raise NotImplementedError("Subclasses should implement this!")


TRANSFORMERS = {
    "domclick": transform_domclick,
    "yandex": transform_yandex,
    "avito": transform_avito,
    "cian": transform_cian,
}
