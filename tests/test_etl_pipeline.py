"""End-to-end + operator-level tests for the reference-parity ETL
(SURVEY.md §2.1-2.2, §2.8, §2.10-2.11 semantics)."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from real_value_etl_spark.functions.cleaning import (
    bool_flag,
    bounded_hash,
    extract_offer_id,
    norm_ts,
    parse_str_list,
)
from real_value_etl_spark.functions.ids import uuid5_expr
from real_value_etl_spark.plans.pipeline import PipelineConfig, run_pipeline
from real_value_etl_spark.sources.resolver import (
    ResolutionError,
    list_local_catalog,
    resolve_dates,
)

from .fixtures_etl import make_platform_dir


@pytest.fixture(scope="module")
def platform_dir(tmp_path_factory):
    return make_platform_dir(str(tmp_path_factory.mktemp("platforms")))


@pytest.fixture(scope="module")
def unified(spark, platform_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("out") / "listings")
    result = run_pipeline(
        spark,
        PipelineConfig(data_dir=platform_dir, output_path=out),
        request={"domclick": "latest", "yandex": "latest", "cian": "skip",
                 "avito": "latest"},
    )
    assert result["status"] == "success", result
    return spark.read.parquet(out)


# --- expression library -----------------------------------------------------

def test_uuid5_expr_matches_rfc(spark):
    names = ["2035127354_1", "4455667788_2", "42_4", "0_1", "пример_2"]
    df = spark.createDataFrame([(n,) for n in names], ["name"])
    got = {r["name"]: r["u"] for r in
           df.select("name", uuid5_expr(F.col("name")).alias("u")).collect()}
    for n in names:
        assert got[n] == str(uuid.uuid5(uuid.NAMESPACE_DNS, n)), n


def test_parse_str_list(spark):
    rows = [
        ("['a', 'b']",), ("[1.5, 2]",), ("not a list",), (None,), ("[]",),
        ("['it\\'s', 'x']",),
    ]
    df = spark.createDataFrame(rows, ["v"])
    out = df.select(parse_str_list("v", "string").alias("s")).collect()
    assert out[0]["s"] == ["a", "b"]
    assert out[2]["s"] == []
    assert out[3]["s"] == []
    assert out[4]["s"] == []
    assert out[5]["s"] == ["it's", "x"]
    nums = df.select(parse_str_list("v", "double").alias("d")).collect()
    assert nums[1]["d"] == [1.5, 2.0]


def test_norm_ts_and_flags_and_ids(spark):
    df = spark.createDataFrame(
        [("2024-12-01T10:15:30+03:00", "True", "//realty.yandex.ru/offer/55"),
         ("garbage", "False", "no-id-here")],
        ["ts", "flag", "url"],
    )
    rows = df.select(
        norm_ts("ts").alias("ts"),
        bool_flag("flag").alias("flag"),
        extract_offer_id("url").alias("oid"),
        bounded_hash(F.lit("Компания X")).alias("h"),
    ).collect()
    assert str(rows[0]["ts"]) == "2024-12-01 07:15:30"  # UTC, tz dropped
    assert str(rows[1]["ts"]) == "1970-01-01 00:00:00"  # coerce -> epoch
    assert (rows[0]["flag"], rows[1]["flag"]) == (1, 0)
    assert rows[0]["oid"] == 55 and rows[1]["oid"] is None
    assert 0 <= rows[0]["h"] < 10**10
    assert rows[0]["h"] == rows[1]["h"]  # deterministic (not salted hash())


# --- resolver (S7) ----------------------------------------------------------

def test_resolver_latest_skip_and_reject(platform_dir):
    catalog = list_local_catalog(platform_dir, ("domclick", "yandex", "cian", "avito"))
    assert catalog["yandex"] == ["20241201", "20241208"]
    resolved = resolve_dates(
        {"domclick": "latest", "yandex": None, "cian": "skip", "avito": "20250319"},
        catalog,
    )
    assert resolved == {"domclick": "20241214", "yandex": "20241208",
                        "cian": None, "avito": "20250319"}
    with pytest.raises(ResolutionError):
        resolve_dates({"yandex": "20991231"}, catalog)  # future date
    with pytest.raises(ResolutionError):
        resolve_dates({"yandex": "20240101"}, catalog)  # no snapshot
    with pytest.raises(ResolutionError):
        resolve_dates({"nope": "latest"}, catalog)  # unknown platform


# --- end-to-end unified output ----------------------------------------------

def test_row_counts_and_gates(unified):
    # domclick: 3 rows - 1 null-price = 2; yandex: 4 - 1 dup - 1 null = 2;
    # avito: 3 - 1 dup = 2 (zero-square row passes: Area=0.0 is not null)
    by_platform = {r["platform_id"]: r["n"] for r in
                   unified.groupBy("platform_id").agg(F.count("*").alias("n")).collect()}
    assert by_platform == {1: 2, 4: 2, 2: 2}


def test_domclick_semantics(unified):
    r = unified.filter(F.col("listing_id") == 2035127354).collect()[0]
    assert r["listing_url"] == "https://domclick.ru/card/sale__flat__2035127354"
    assert r["price"] == 12500000.0
    assert str(r["published_date"]) == "2024-12-01 07:15:30"
    assert r["subway_names"] == ["Тверская", "Пушкинская"]
    assert r["subway_distances"] == [350.0, 1200.5]
    assert r["photo_urls"] == ["https://img.dmclk.ru/s/123.jpg",
                               "https://img.dmclk.ru/s/124.jpg"]
    assert r["placement_paid"] == 1 and r["big_card"] == 0
    assert r["company_id"] == 5512
    assert r["uid"] == str(uuid.uuid5(uuid.NAMESPACE_DNS, "2035127354_1"))
    # fallback company id row: hashed, bounded
    r2 = unified.filter(F.col("listing_id") == 222).collect()[0]
    assert 0 < r2["company_id"] < 10**10
    assert str(r2["published_date"]) == "1970-01-01 00:00:00"


def test_yandex_semantics(unified):
    r = unified.filter(F.col("listing_id") == 5227641546799531676).collect()[0]
    assert r["platform_id"] == 4
    assert r["listing_url"] == "https://realty.yandex.ru/offer/5227641546799531676"
    assert r["address"] == "Санкт-Петербург, Невский пр., 10"  # keep-first won
    assert r["property_type"] == "flat"
    assert r["photo_urls"] == ["https:avatars.mds.yandex.net/1.jpg"]
    assert r["subway_time"] == '{"Маяковская":["ON_FOOT","7"]}'
    assert r["price_per_sqm"] == pytest.approx(9800000 / 44.3)
    r2 = unified.filter(F.col("listing_id") == 42).collect()[0]
    assert r2["property_type"] == "layout"  # NEW_FLAT branch
    assert r2["seller_type"] == "DEVELOPER"


def test_avito_semantics(unified):
    r = unified.filter(F.col("listing_id") == 4455667788).collect()[0]
    assert r["platform_id"] == 2
    assert r["listing_url"] == "https://avito.ru/kvartiry/123456"
    # faithful dead-store quirk: computed per-sqm/address id never reach output
    assert r["price_per_sqm"] is None or r["price_per_sqm"] != r["price_per_sqm"]
    assert r["address_id"] == 0
    assert r["property_type"] == "flat"  # lowercased
    assert r["deal_type"] == "sale"
    assert r["subway_names"] == ["Кремлёвская"]
    assert r["subway_distances"] == [450.0]
    assert r["built_year_offer"] == 2015 % 256  # uint8 wrap (SURVEY §1.4.3)
    assert r["seller_type"] == "АГЕНТСТВО"
    r2 = unified.filter(F.col("listing_id") == 999).collect()[0]
    assert r2["seller_type"] == "ПИК"
    assert r2["deal_type"] == "rent"


def test_cian_aborts_run(spark, platform_dir, tmp_path):
    result = run_pipeline(
        spark,
        PipelineConfig(data_dir=platform_dir, output_path=str(tmp_path / "x")),
        request={"domclick": "skip", "yandex": "skip", "cian": "latest",
                 "avito": "skip"},
    )
    assert result["status"] == "error"
    assert result["stage"] == "transform"
    assert result["platform"] == "cian"


def test_schema_is_unified(unified):
    from real_value_etl_spark.schema import TARGET_COLUMNS

    assert unified.columns == TARGET_COLUMNS
    assert unified.schema["subway_distances"].dataType.simpleString() == "array<double>"
    assert unified.schema["uid"].dataType.simpleString() == "string"


def test_file_deleted_between_listing_and_read_skips_platform(
    spark, tmp_path, monkeypatch
):
    """Reference parity for extraction.py:44-50 (NoSuchKey -> None) under
    the listing/read race: the catalog lists a snapshot, the file vanishes
    before the read — the platform must be SKIPPED ('missing file'), not
    crash the cycle, and the remaining platforms still load."""
    import real_value_etl_spark.plans.pipeline as pipeline_mod
    from .fixtures_etl import make_platform_dir

    data_dir = make_platform_dir(str(tmp_path / "platforms"))
    # simulate the race: the catalog still advertises the avito snapshot,
    # but the object is gone by read time
    real_listing = pipeline_mod.list_local_catalog(
        data_dir, ("domclick", "yandex", "cian", "avito")
    )
    os.remove(os.path.join(data_dir, "avito_20250319.csv"))
    monkeypatch.setattr(
        pipeline_mod, "list_local_catalog", lambda *a, **k: real_listing
    )

    out = str(tmp_path / "out")
    result = run_pipeline(
        spark,
        PipelineConfig(data_dir=data_dir, output_path=out),
        request={"domclick": "latest", "yandex": "latest", "cian": "skip",
                 "avito": "latest"},
    )
    assert result["status"] == "success", result
    assert result["platforms"]["avito"] == {
        "status": "skipped", "reason": "missing file",
    }
    assert result["platforms"]["domclick"]["status"] == "ok"
    assert spark.read.parquet(out).count() > 0


def test_file_deleted_after_planning_is_skipped_not_fatal(spark, tmp_path):
    """The NARROWER read-time race (reference extraction.py:44-53
    NoSuchKey -> None): the file exists at planning/listing but vanishes
    before the scan task runs. `ignoreMissingFiles` must skip the vanished
    split instead of failing the job — on a live object store this race
    is routine. The surviving file's rows still load."""
    from real_value_etl_spark.sources.csv_source import read_platform_csv

    d = tmp_path / "csvs"
    os.makedirs(d)
    (d / "a.csv").write_text("id,v\n1,x\n2,y\n")
    (d / "b.csv").write_text("id,v\n3,z\n4,w\n5,q\n")
    df = read_platform_csv(spark, str(d))  # analysis lists both files
    assert df is not None
    os.remove(d / "b.csv")  # vanishes between listing and task execution
    assert df.count() == 2  # a.csv rows; no job failure


def test_query_api_handlers(spark, sf_dir, monkeypatch):
    """The analytics API handlers (transport-free): the catalog lists
    every registered query with oracle/tag metadata, a run returns
    JSON-safe rows + schema bounded by the limit, and an unknown name or
    a query that fails while building or collecting is an error DICT,
    not an exception across the API boundary."""
    from real_value_etl_spark.api import handle_list_queries, handle_run_query
    from real_value_etl_spark.queries.registry import REGISTRY, QuerySpec

    cat = handle_list_queries()["queries"]
    names = {q["name"] for q in cat}
    assert "q1_pricing_summary" in names and len(cat) >= 140
    assert all(q["has_oracle"] for q in cat if q["name"] == "q1_pricing_summary")

    out = handle_run_query(spark, "q1_pricing_summary", sf_dir, limit=2)
    assert out["status"] == "success" and out["n_rows"] == 2
    assert {c["name"] for c in out["schema"]} >= {"l_returnflag", "sum_qty"}
    assert isinstance(out["rows"][0], dict)

    assert handle_run_query(spark, "no_such_query", sf_dir)["status"] == "error"

    def fails_to_build(spark, sf_dir):
        raise ValueError("bad plan")

    def fails_at_collect(spark, sf_dir):
        return spark.range(1).select(F.raise_error(F.lit("boom")).alias("x"))

    for name, fn in (("_fails_to_build", fails_to_build),
                     ("_fails_at_collect", fails_at_collect)):
        monkeypatch.setitem(REGISTRY, name, QuerySpec(name=name, fn=fn, oracle=None))
    out = handle_run_query(spark, "_fails_to_build", sf_dir)
    assert out == {"status": "error", "name": "_fails_to_build",
                   "error_class": "ValueError", "error": "bad plan"}
    out = handle_run_query(spark, "_fails_at_collect", sf_dir)
    assert out["status"] == "error" and out["name"] == "_fails_at_collect"
    assert out["error_class"] == "SparkRuntimeException" and "boom" in out["error"]


def test_cli_run_and_errors(spark, sf_dir, capsys):
    """CLI face of the engine: `run --json` emits one JSON object per
    row, `explain` prints a formatted plan, unknown names exit 2 without
    a traceback. The session is injected so the test reuses the suite's
    JVM."""
    import json as _json

    from real_value_etl_spark.__main__ import main

    rc = main(
        ["run", "q1_pricing_summary", "--sf-dir", sf_dir, "--limit", "2",
         "--json"],
        spark=spark,
    )
    outs = capsys.readouterr().out.strip().splitlines()
    assert rc == 0 and len(outs) == 2
    assert "l_returnflag" in _json.loads(outs[0])

    rc = main(["explain", "q6_forecast_revenue", "--sf-dir", sf_dir],
              spark=spark)
    assert rc == 0 and "Physical Plan" in capsys.readouterr().out

    assert main(["run", "nope", "--sf-dir", sf_dir], spark=spark) == 2


def test_rest_handler_success_and_error_paths(spark, tmp_path):
    """C1 (`POST /etl/start`) minus the transport: the handler returns the
    reference-shaped status dict on success, an `error/resolve` dict for
    an unresolvable explicit date, and the GET / payload matches. fastapi
    itself stays import-gated (not shipped in this container) — the
    endpoint adds nothing but transport over this handler."""
    from real_value_etl_spark.api import handle_etl_start, root_message
    from .fixtures_etl import make_platform_dir

    assert root_message() == {"message": "real-value-etl-spark control plane"}

    data_dir = make_platform_dir(str(tmp_path / "platforms"))
    config = PipelineConfig(
        data_dir=data_dir, output_path=str(tmp_path / "out")
    )
    ok = handle_etl_start(
        spark, config,
        {"domclick": "latest", "yandex": "latest", "cian": "skip",
         "avito": "latest"},
    )
    assert ok["status"] == "success"
    assert ok["platforms"]["yandex"]["date"] == "20241208"

    bad = handle_etl_start(
        spark, config,
        {"domclick": "19990101", "yandex": "skip", "cian": "skip",
         "avito": "skip"},
    )
    assert bad["status"] == "error" and bad["stage"] == "resolve"
