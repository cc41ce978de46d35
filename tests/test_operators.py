"""Unit tests for the custom operators on tiny inline frames — the operator
semantics independent of the driver tables (SURVEY §5 strategy)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from real_value_etl_spark.operators.asof import asof_join_backward
from real_value_etl_spark.operators.dedup import exact_dedup_keepfirst
from real_value_etl_spark.operators.sessionize import session_stats
from real_value_etl_spark.operators.skew import salted_agg, salted_broadcast_join


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_asof_backward_semantics(spark):
    left = spark.createDataFrame(
        [(1, ts("2024-01-01 10:00:00"), "p1"),
         (1, ts("2024-01-01 12:00:00"), "p2"),
         (2, ts("2024-01-01 09:00:00"), "p3")],
        "k long, lts timestamp, pid string",
    )
    right = spark.createDataFrame(
        [(1, ts("2024-01-01 09:30:00"), 10.0),
         (1, ts("2024-01-01 11:00:00"), 20.0),
         (1, ts("2024-01-01 12:00:00"), 30.0),  # tie: <= includes it
         (2, ts("2024-01-01 09:30:00"), 40.0)],  # after left -> no match
        "k long, rts timestamp, v double",
    )
    out = asof_join_backward(left, right, "k", "lts", "rts", ["v"])
    got = {r["pid"]: (r["asof_v"]) for r in out.collect()}
    assert got == {"p1": 10.0, "p2": 30.0, "p3": None}


def test_keepfirst_deterministic(spark):
    df = spark.createDataFrame(
        [(1, 2, "b"), (1, 1, "a"), (2, 5, "c")], "k long, ord long, v string"
    )
    out = exact_dedup_keepfirst(df, keys=["k"], order_by=["ord"])
    assert {(r["k"], r["v"]) for r in out.collect()} == {(1, "a"), (2, "c")}


def test_sessionize_gap(spark):
    df = spark.createDataFrame(
        [(1, ts("2024-01-01 10:00:00"), 1.0),
         (1, ts("2024-01-01 10:10:00"), 1.0),   # same session (10 min)
         (1, ts("2024-01-01 11:30:00"), 1.0),   # gap 80 min -> new session
         (2, ts("2024-01-01 10:00:00"), 1.0)],
        "user_id long, ts timestamp, value double",
    )
    out = session_stats(df, "user_id", "ts", 1800, value_col="value").collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r["n_events"])
    assert sorted(by_user[1]) == [1, 2]
    assert by_user[2] == [1]


def test_sessionize_fractional_gap_matches_oracle(spark, tmp_path):
    """A 1800.5 s gap exceeds the 30-min gap (two sessions), a 1799.5 s
    gap does not (one session): both sessionize queries agree with the
    DuckDB oracle, which compares fractional epoch() seconds."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from real_value_etl_spark.queries.all_queries import REGISTRY

    from .oracle_compare import compare

    times = [ts("2024-01-01 12:00:00"), ts("2024-01-01 12:30:00.500"),
             ts("2024-01-01 12:00:00"), ts("2024-01-01 12:29:59.500")]
    pq.write_table(pa.table({
        "event_id": pa.array([1, 2, 3, 4], pa.int64()),
        "ts": pa.array(times, pa.timestamp("us")),
        "user_id": pa.array([1, 1, 2, 2], pa.int64()),
        "event_type": ["click"] * 4,
        "value": [1.0, 2.0, 3.0, 4.0],
        "props": ["{}"] * 4,
    }), tmp_path / "events.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    oracle = REGISTRY["events_sessionize"].oracle
    assert REGISTRY["events_sessionize_scalable"].oracle == oracle
    for name in ("events_sessionize", "events_sessionize_scalable"):
        df = REGISTRY[name].fn(spark, str(tmp_path))
        ok, msg = compare(df, con, oracle)
        assert ok, f"{name}: {msg}"
        sessions = sorted((r["user_id"], r["n_events"]) for r in df.collect())
        assert sessions == [(1, 1), (1, 1), (2, 2)], name


def test_salted_agg_matches_plain(spark):
    df = spark.range(0, 10_000).select(
        (F.col("id") % 3).alias("k"),
        F.col("id").alias("uid"),
        (F.col("id") % 100 / 4).cast("double").alias("v"),
    )
    plain = {
        (r["k"]): (r["s"], r["n"])
        for r in df.groupBy("k")
        .agg(
            F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("s"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    salted = {
        (r["k"]): (r["s"], r["n"])
        for r in salted_agg(
            df, ["k"], "uid", buckets=8, sums={"v": "s"}, count_alias="n"
        ).collect()
    }
    assert plain == salted


def test_salted_join_matches_plain(spark):
    big = spark.range(0, 5_000).select(
        (F.col("id") % 4).alias("k"), F.col("id").alias("uid")
    )
    small = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c"), (3, "d")], "k long, label string"
    )
    plain = sorted(
        (r["uid"], r["label"]) for r in big.join(small, "k").collect()
    )
    salted = sorted(
        (r["uid"], r["label"])
        for r in salted_broadcast_join(big, small, "k", "uid", buckets=4).collect()
    )
    assert plain == salted


def test_jsonl_roundtrip_and_quarantine(spark, tmp_path):
    from pyspark.sql import types as T

    from real_value_etl_spark.sources.jsonl_source import (
        CORRUPT_COL,
        read_jsonl,
        split_corrupt,
        write_jsonl,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = tmp_path / "in.jsonl"
    src.write_text(
        '{"doc_id": 1, "text": "alpha"}\n'
        'not json at all\n'
        '{"doc_id": 2, "text": "beta"}\n'
    )
    df = read_jsonl(spark, str(src), schema)
    clean, bad = split_corrupt(df)
    assert clean.columns == ["doc_id", "text"]
    assert sorted(r.doc_id for r in clean.collect()) == [1, 2]
    bad_rows = bad.collect()
    assert len(bad_rows) == 1 and "not json" in bad_rows[0][CORRUPT_COL]

    out = tmp_path / "out"
    write_jsonl(clean, str(out), partitions=2)
    back = read_jsonl(spark, str(out), schema)
    clean2, bad2 = split_corrupt(back)
    assert len(bad2.collect()) == 0
    assert sorted((r.doc_id, r.text) for r in clean2.collect()) == [
        (1, "alpha"),
        (2, "beta"),
    ]


def test_interval_join_keyed_matches_naive(spark):
    """Bucketed equi-join form == naive non-equi join, incl. boundary ties,
    cross-bucket intervals, and key isolation."""
    from real_value_etl_spark.operators.rangejoin import interval_join_keyed

    points = spark.createDataFrame(
        [(1, ts("2024-01-01 10:00:00")),   # == start: excluded by "(]"
         (1, ts("2024-01-01 10:29:59")),   # inside, same bucket
         (1, ts("2024-01-01 10:30:00")),   # == end: included, next bucket
         (1, ts("2024-01-01 10:30:01")),   # past end
         (2, ts("2024-01-01 10:15:00"))],  # right time, wrong key
        "k long, pts timestamp",
    )
    intervals = spark.createDataFrame(
        [(1, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00"), "i1"),
         (3, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00"), "i2")],
        "k long, lo timestamp, hi timestamp, iid string",
    )
    out = interval_join_keyed(
        points, intervals, key="k", point_ts="pts",
        interval_start="lo", interval_end="hi",
        bucket_seconds=600, bounds="(]",
    )
    got = sorted((r["pts"].isoformat(), r["iid"]) for r in out.collect())
    assert got == [("2024-01-01T10:29:59", "i1"), ("2024-01-01T10:30:00", "i1")]
    # closed-start variant picks up the boundary row
    out2 = interval_join_keyed(
        points, intervals, key="k", point_ts="pts",
        interval_start="lo", interval_end="hi",
        bucket_seconds=600, bounds="[)",
    )
    got2 = sorted((r["pts"].isoformat(), r["iid"]) for r in out2.collect())
    assert got2 == [("2024-01-01T10:00:00", "i1"), ("2024-01-01T10:29:59", "i1")]


def test_orc_round_trip(spark, tmp_path):
    """ORC sink round-trips schema + values, incl. nested arrays."""
    from real_value_etl_spark.sinks.writers import write_orc

    df = spark.createDataFrame(
        [(1, "a", [1.0, 2.0]), (2, "b", [])],
        "id long, s string, arr array<double>",
    )
    out = str(tmp_path / "orc_out")
    write_orc(df, out)
    back = spark.read.orc(out)
    assert back.schema == df.schema
    assert sorted((r["id"], r["s"], r["arr"]) for r in back.collect()) == [
        (1, "a", [1.0, 2.0]),
        (2, "b", []),
    ]


def test_upsert_by_key(spark):
    """New keys insert; existing keys take the newest version; order_by
    ties go to the updates side."""
    from real_value_etl_spark.operators.upsert import upsert_by_key

    current = spark.createDataFrame(
        [(1, 1, "old"), (2, 5, "keep")], "k long, ver long, v string"
    )
    updates = spark.createDataFrame(
        [(1, 2, "new"), (2, 5, "tie-upd"), (3, 1, "ins")],
        "k long, ver long, v string",
    )
    out = upsert_by_key(current, updates, ["k"], "ver")
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {1: "new", 2: "tie-upd", 3: "ins"}


def test_dynamic_partition_overwrite(spark, tmp_path):
    """Rewriting one partition leaves the others intact (and static mode
    would not — that is the reference's TRUNCATE hazard at scale)."""
    from real_value_etl_spark.sinks.writers import overwrite_partitions_dynamic

    out = str(tmp_path / "lake")
    base = spark.createDataFrame(
        [("a", 1), ("b", 2)], "pt string, v long"
    )
    overwrite_partitions_dynamic(base, out, ["pt"])
    patch = spark.createDataFrame([("b", 99)], "pt string, v long")
    overwrite_partitions_dynamic(patch, out, ["pt"])
    got = {(r["pt"], r["v"]) for r in spark.read.parquet(out).collect()}
    assert got == {("a", 1), ("b", 99)}


def test_compact_parquet_dir(spark, tmp_path):
    from pyspark.sql import functions as F

    from real_value_etl_spark.sinks.writers import compact_parquet_dir

    path = str(tmp_path / "frag")
    df = spark.range(10_000).withColumn("v", F.col("id") * 2)
    df.repartition(40).write.parquet(path)
    import glob

    assert len(glob.glob(f"{path}/*.parquet")) == 40
    before = {(r.id, r.v) for r in spark.read.parquet(path).collect()}

    stats = compact_parquet_dir(spark, path, target_file_bytes=1 << 30)
    assert stats["files_before"] == 40
    assert stats["files_after"] == 1
    assert stats["rows"] == 10_000
    after = {(r.id, r.v) for r in spark.read.parquet(path).collect()}
    assert after == before


def test_binary_source_to_multimodal(spark, tmp_path):
    from real_value_etl_spark.operators.multimodal import decode_image
    from real_value_etl_spark.sources.binary_source import (
        as_multimodal,
        read_binary_files,
    )

    blob_dir = tmp_path / "blobs"
    blob_dir.mkdir()
    payloads = {7: b"hello world", 42: b"\x00\x01\x02binary", 9: b"x" * 100}
    for i, data in payloads.items():
        (blob_dir / f"img_{i}.bin").write_bytes(data)
    (blob_dir / "ignore.txt").write_text("not a blob")

    raw = read_binary_files(spark, str(blob_dir), glob="*.bin")
    assert raw.count() == 3
    # extension pruning happened at listing time, not as a post-filter
    assert {r.path.rsplit("/", 1)[-1] for r in raw.select("path").collect()} == {
        f"img_{i}.bin" for i in payloads
    }

    mm = as_multimodal(raw)
    rows = {r.doc_id: bytes(r.payload) for r in mm.collect()}
    assert rows == payloads

    decoded = decode_image(mm)
    got = {r.doc_id: (r.byte_len, r.decode_ok, r.width) for r in decoded.collect()}
    # raw non-PNG blobs: container metadata is real, decode honestly
    # refuses (decode_ok False, null dims) instead of faking dimensions
    assert got == {i: (len(d), False, None) for i, d in payloads.items()}


def test_range_clustered_write_skips(spark, tmp_path, sf_dir):
    """Range-clustered files carry disjoint min/max stats (the data-skipping
    contract), and a filtered rescan returns exact results."""
    import duckdb

    from real_value_etl_spark.queries.registry import table
    from real_value_etl_spark.sinks.writers import write_range_clustered_parquet

    path = str(tmp_path / "clustered")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice"
    )
    write_range_clustered_parquet(li, path, ["l_shipdate"], num_files=4)

    stats = duckdb.connect().execute(
        f"""
        SELECT file_name, min(stats_min_value), max(stats_max_value)
        FROM parquet_metadata('{path}/*.parquet')
        WHERE path_in_schema = 'l_shipdate'
        GROUP BY file_name ORDER BY 2
        """
    ).fetchall()
    assert len(stats) == 4
    # every file's range ends before the next file's begins => a shipdate
    # predicate can prune all but one file from footer stats alone
    for (_, _, prev_max), (_, next_min, _) in zip(stats, stats[1:]):
        assert prev_max <= next_min

    total = li.count()
    reread = spark.read.parquet(path)
    mid = stats[1][1]
    n_filtered = reread.filter(f"l_shipdate < '{mid}'").count()
    n_expected = li.filter(f"l_shipdate < '{mid}'").count()
    assert n_filtered == n_expected and 0 < n_filtered < total


def test_udtf_token_spans(spark):
    from real_value_etl_spark.operators.udtf_ops import split_spans

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = split_spans(df, "text", 2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.span_idx, r.start_tok, r.n_toks, r.piece))
    assert by_doc[1] == [(0, 1, 2, "a b"), (1, 3, 2, "c d"), (2, 5, 1, "e")]
    assert by_doc[2] == [(0, 1, 1, "x")]
    # empty/null docs expand to zero spans
    assert 3 not in by_doc and 4 not in by_doc
    # spans reconstruct the original token stream
    assert " ".join(p for _, _, _, p in by_doc[1]) == "a b c d e"


def test_pack_greedy(spark, sf_dir):
    from pyspark.sql import functions as F

    from real_value_etl_spark.operators.packing import pack_greedy
    from real_value_etl_spark.queries.registry import table

    BUDGET = 256
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias(
            "n_tokens"
        ),
    )
    packed = pack_greedy(d, "doc_id", "n_tokens", BUDGET, n_workers=8)
    rows = packed.collect()

    # every document assigned exactly once
    assert sorted(r.doc_id for r in rows) == sorted(
        r.doc_id for r in d.collect()
    )
    # bins respect the budget unless a single oversized doc owns the bin
    from collections import defaultdict

    bins = defaultdict(list)
    for r in rows:
        bins[r.bin_id].append(r.n_tokens)
    for sizes in bins.values():
        assert sum(sizes) <= BUDGET or len(sizes) == 1
    # bins never cross workers and ids reconstruct (worker, seq)
    for r in rows:
        assert r.bin_id == r.worker * (1 << 32) + r.bin_seq
    # deterministic: a second run produces the identical assignment
    again = {r.doc_id: r.bin_id for r in pack_greedy(
        d, "doc_id", "n_tokens", BUDGET, n_workers=8).collect()}
    assert again == {r.doc_id: r.bin_id for r in rows}
    # packing is dense: average fill of multi-doc bins is high
    multi = [sum(s) for s in bins.values() if sum(s) <= BUDGET]
    assert sum(multi) / (len(multi) * BUDGET) > 0.5


def test_global_running_sum_matches_naive(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from real_value_etl_spark.operators.scan import global_running_sum

    df = spark.range(5_000).select(
        F.col("id").alias("k"),
        ((F.col("id") * 37) % 101).cast("decimal(18,2)").alias("v"),
    )
    scalable = {
        r.k: float(r.running_sum)
        for r in global_running_sum(df, ["k"], "v", n_partitions=8).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    naive = {
        r.k: float(r.rs)
        for r in df.withColumn("rs", F.sum("v").over(w)).collect()
    }
    assert scalable == naive
    # the data path is range-partitioned, not funneled into one task
    plan = (
        global_running_sum(df, ["k"], "v", n_partitions=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "rangepartitioning" in plan.lower()


def test_parquet_schema_evolution(spark, tmp_path):
    """A corpus written over months gains columns; mergeSchema reads old and
    new files as one frame with nulls for pre-evolution rows."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.mode(
        "append"
    ).parquet(path)
    spark.createDataFrame(
        [(2, "b", 3.5)], "id long, name string, score double"
    ).write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", True).parquet(path)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: (r.name, r.score) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 3.5)}


def test_zorder_clustering_prunes_both_dims(spark, tmp_path):
    """Z-order files are prunable on EVERY clustered column; single-column
    range clustering leaves the other column unprunable."""
    import duckdb

    from pyspark.sql import functions as F

    from real_value_etl_spark.sinks.writers import (
        write_range_clustered_parquet,
        write_zorder_clustered_parquet,
    )

    df = spark.range(20_000).select(
        (F.col("id") % 141).alias("x"),
        ((F.col("id") * 7919) % 139).alias("y"),
    )
    zpath, xpath = str(tmp_path / "zorder"), str(tmp_path / "xonly")
    write_zorder_clustered_parquet(df, zpath, ["x", "y"], num_files=16)
    write_range_clustered_parquet(df, xpath, ["x"], num_files=16)

    def bboxes(path):
        con = duckdb.connect()
        rows = con.execute(
            f"""
            SELECT file_name, path_in_schema,
                   MIN(CAST(stats_min_value AS BIGINT)),
                   MAX(CAST(stats_max_value AS BIGINT))
            FROM parquet_metadata('{path}/*.parquet')
            WHERE path_in_schema IN ('x', 'y')
            GROUP BY 1, 2
            """
        ).fetchall()
        out = {}
        for fn, col, mn, mx in rows:
            out.setdefault(fn, {})[col] = (mn, mx)
        return out

    zb, xb = bboxes(zpath), bboxes(xpath)
    assert len(zb) == 16 and len(xb) == 16

    # a filter y = 70 prunes most z-order files but NO x-clustered file
    probe = 70
    z_hit = sum(1 for b in zb.values() if b["y"][0] <= probe <= b["y"][1])
    x_hit = sum(1 for b in xb.values() if b["y"][0] <= probe <= b["y"][1])
    assert x_hit == 16
    assert z_hit <= 8
    # and z-order still prunes on x too (both dims narrowed; file
    # boundaries cut the curve into non-square ranges, so the guarantee is
    # looser than on y but far better than the 16/16 of unclustered dims)
    zx_hit = sum(1 for b in zb.values() if b["x"][0] <= probe <= b["x"][1])
    assert zx_hit <= 12
    # correctness: the clustered copy holds the identical dataset
    assert spark.read.parquet(zpath).groupBy().sum("x", "y").collect() == \
        df.groupBy().sum("x", "y").collect()


def test_incremental_state_merge_associative(spark):
    """finalize(merge(state(A), state(B))) == finalize(state(A U B)) for an
    arbitrary history/delta split — the property that lets the MV refresh
    skip rescanning history."""
    import datetime

    from real_value_etl_spark.operators.incremental import (
        aggregate_state,
        finalize_state,
        merge_states,
    )

    rows = [
        (i % 7, "t" + str(i % 3), float(i) + 0.25,
         datetime.datetime(2024, 1, 1 + i % 28))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, "
                               "value double, ts timestamp")
    keys = ["user_id", "event_type"]

    def result(frame):
        return sorted(map(tuple, frame.collect()))

    full = finalize_state(aggregate_state(df, keys), keys)
    # three uneven batches, merged pairwise in two different orders
    b1, b2, b3 = (df.filter(f"value < 50"), df.filter("value >= 50 and value < 210"),
                  df.filter("value >= 210"))
    s1, s2, s3 = (aggregate_state(b, keys) for b in (b1, b2, b3))
    left = finalize_state(merge_states(merge_states(s1, s2, keys), s3, keys), keys)
    right = finalize_state(merge_states(s1, merge_states(s2, s3, keys), keys), keys)
    assert result(left) == result(full)
    assert result(right) == result(full)


def test_profile_table_counts_nulls_and_distincts(spark):
    from real_value_etl_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "b")], "x int, y string"
    )
    prof = {r.column_name: r for r in profile_table(df, ["x", "y"]).collect()}
    assert prof["x"].n_rows == 4 and prof["y"].n_rows == 4
    assert prof["x"].n_non_null == 3 and prof["x"].n_distinct == 2
    assert prof["y"].n_non_null == 3 and prof["y"].n_distinct == 2


def test_fuzzy_selfjoin_dist1_matches_bruteforce(spark):
    """Deletion-neighborhood join finds exactly the brute-force distance<=1
    pairs: substitution, deletion, insertion, and identical strings."""
    rows = [(1, "kitten"), (2, "sitten"), (3, "kitte"), (4, "kittens"),
            (5, "banana"), (6, "banana"), (7, "bananna"), (8, "x")]
    df = spark.createDataFrame(rows, "id int, name string")

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    expect = {
        (i, j) for i, a in rows for j, b in rows
        if i < j and lev(a, b) <= 1  # noqa: B023 (comprehension over rows)
    }
    from real_value_etl_spark.operators.fuzzy import fuzzy_selfjoin_dist1

    got = {(r.key_a, r.key_b) for r in
           fuzzy_selfjoin_dist1(df, "id", "name").collect()}
    assert got == expect
    assert (1, 2) in got and (1, 3) in got and (1, 4) in got  # sub/del/ins
    assert (5, 6) in got  # identical strings, dist 0


def test_bloom_semi_join_exact_and_selective(spark):
    """Bloom prefilter never drops a true match (exact semi-join parity)
    and passes only a small false-positive fraction of non-members."""
    from pyspark.sql import functions as F

    from real_value_etl_spark.operators.bloom import (
        bloom_prefilter,
        bloom_semi_join,
        build_bloom_words,
    )

    m, k = 1 << 14, 3
    dim = spark.range(1000).select(F.col("id").alias("key"))
    big = spark.range(25_000).select(F.col("id").alias("key"))

    got = sorted(r.key for r in bloom_semi_join(big, dim, "key", m, k).collect())
    assert got == list(range(1000))  # no false negatives, exact result

    # FPR on disjoint probes: theory (1 - e^(-kn/m))^k ~ 0.5%; allow 5%
    words = build_bloom_words(dim, "key", m, k)
    outside = spark.range(1000, 21_000).select(F.col("id").alias("key"))
    fp = bloom_prefilter(outside, "key", words, m, k).count()
    assert fp / 20_000 < 0.05

    # the word table rides a broadcast join (no shuffle for the probe)
    plan = bloom_prefilter(big, "key", words, m, k)
    s = plan._jdf.queryExecution().executedPlan().toString()
    assert s.count("BroadcastHashJoin") >= k


def test_misra_gries_finds_spread_out_heavy_hitter(spark):
    """A heavy hitter spread thin across partitions (never locally
    dominant) must still survive the per-partition sketches — the
    pigeonhole/mergeability guarantee — and the verify pass must equal
    brute force exactly."""
    from pyspark.sql import functions as F

    from real_value_etl_spark.operators.heavyhitters import heavy_hitters_exact

    # 8 partitions x (50 copies of "hh" + 400 unique noise tokens):
    # n = 3600, k = 8 -> threshold 450; freq("hh") = 400 < 450... make it
    # 60 copies: freq 480 > 450, yet locally 60/460 is NOT a majority.
    rows = []
    for p in range(8):
        rows += [("hh",)] * 60 + [(f"noise_{p}_{i}",) for i in range(400)]
    df = spark.createDataFrame(rows, "token string").repartition(8)
    got = {(r.token, r.freq) for r in
           heavy_hitters_exact(df, "token", 8).collect()}
    n = len(rows)
    from collections import Counter
    brute = {(t, c) for t, c in Counter(r[0] for r in rows).items()
             if c * 8 > n}
    assert got == brute and ("hh", 480) in got


def test_kmeans_recovers_separated_clusters(spark):
    """Lloyd's on three well-separated 2-D blobs: assignments recover the
    ground truth even from poor in-blob seeds, and WCSS never increases."""
    from pyspark.sql import functions as F  # noqa: F401

    from real_value_etl_spark.operators.kmeans import kmeans_fit, kmeans_wcss

    blobs = {0: (0.0, 0.0), 1: (10.0, 10.0), 2: (-10.0, 20.0)}
    rows = []
    for lbl, (cx, cy) in blobs.items():
        for i in range(30):
            rows.append((lbl * 100 + i, [cx + (i % 5) * 0.1, cy - (i % 7) * 0.1], lbl))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, truth int")

    init = [[0.4, -0.3], [10.2, 9.8], [-9.7, 19.5]]
    wcss_prev = None
    for n_iter in (0, 1, 2):
        cents, assigned = kmeans_fit(df, "embedding", init, n_iter=n_iter)
        w = kmeans_wcss(assigned)
        if wcss_prev is not None:
            assert w <= wcss_prev + 1e-9
        wcss_prev = w
    _, assigned = kmeans_fit(df, "embedding", init, n_iter=2)
    mismatches = assigned.filter("cluster != truth").count()
    assert mismatches == 0


def test_pagerank_star_graph_ranks_center_highest(spark):
    """On a symmetrized star graph the hub must out-rank every leaf, leaves
    tie exactly (integer arithmetic), and total rank stays ~SCALE."""
    from real_value_etl_spark.operators.pagerank import SCALE, pagerank_fixed_point

    leaves = [f"leaf{i}" for i in range(6)]
    e = [("hub", l) for l in leaves] + [(l, "hub") for l in leaves]
    edges = spark.createDataFrame(e, "src string, dst string")
    ranks = {r.node: r.rank for r in pagerank_fixed_point(edges, 3).collect()}
    assert ranks["hub"] > max(ranks[l] for l in leaves)
    assert len({ranks[l] for l in leaves}) == 1  # exact tie
    total = sum(ranks.values())
    assert abs(total - SCALE) / SCALE < 0.01  # truncation loss only


def test_duckdb_datasource_partitioned_pushdown_read(spark, tmp_path):
    """DuckDB connector: schema inference, partition-parallel range scan
    (NULL keys land in the last partition), predicate pushdown of the
    supported subset, and quoted-string safety."""
    import duckdb

    from real_value_etl_spark.sources.duckdb_source import (
        DuckDBReader,
        register_duckdb_source,
    )
    from pyspark.sql.datasource import EqualTo, StringContains

    db = str(tmp_path / "t.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE items(id BIGINT, name VARCHAR, score DOUBLE)")
    con.execute(
        "INSERT INTO items SELECT range, 'n_' || range::VARCHAR, range * 1.5 "
        "FROM range(1000)"
    )
    con.execute("INSERT INTO items VALUES (NULL, 'o''brien', -1.0)")
    con.close()

    register_duckdb_source(spark)
    df = (spark.read.format("duckdb").option("path", db)
          .option("table", "items").option("partitionColumn", "id")
          .option("numPartitions", "4").load())
    assert df.count() == 1001
    assert df.rdd.getNumPartitions() == 4
    assert {f.name for f in df.schema.fields} == {"id", "name", "score"}

    got = df.filter("id >= 990 or name = 'o''brien'").collect()
    assert len(got) == 11
    assert {r.name for r in got} >= {"n_999", "o'brien"}

    # pushFilters: supported subset consumed, residual returned to Spark
    reader = DuckDBReader(df.schema, {"path": db, "table": "items"})
    residual = list(reader.pushFilters(
        [EqualTo(("name",), "o'brien"), StringContains(("name",), "x")]))
    assert reader.pushed == ["name = 'o''brien'"]
    assert len(residual) == 1 and isinstance(residual[0], StringContains)

    # a pushed filter produces the same rows as a post-scan filter
    eq = (spark.read.format("duckdb").option("path", db)
          .option("table", "items").option("partitionColumn", "id")
          .load().filter("score = 750.0").collect())
    assert [r.id for r in eq] == [500]


def test_snapshot_table_time_travel_rollback_vacuum(spark, tmp_path):
    """Versioned table: append/overwrite commits, time travel to any
    version, rollback as a new commit, vacuum keeps retained versions
    readable and removes unreferenced files."""
    import glob as g

    from real_value_etl_spark.sinks import snapshots as S

    path = str(tmp_path / "tbl")
    v1 = S.commit_append(spark.range(10), path)
    v2 = S.commit_append(spark.range(10, 25), path)
    v3 = S.commit_overwrite(spark.range(100, 103), path)
    assert (v1, v2, v3) == (1, 2, 3)

    assert S.read_snapshot(spark, path, 1).count() == 10
    assert S.read_snapshot(spark, path, 2).count() == 25
    assert S.read_snapshot(spark, path).count() == 3  # latest = overwrite

    v4 = S.rollback(path, 2)
    assert S.read_snapshot(spark, path).count() == 25
    assert S.versions(path) == [1, 2, 3, 4] and v4 == 4

    # readers of an old version are isolated from later commits
    old = S.read_snapshot(spark, path, 1)
    S.commit_append(spark.range(1000, 1002), path)
    assert old.count() == 10

    deleted = S.vacuum(path, keep_last=2)  # keeps v4 (25 rows) + v5 (27)
    assert S.versions(path) == [4, 5]
    assert S.read_snapshot(spark, path, 4).count() == 25
    assert S.read_snapshot(spark, path).count() == 27
    # the overwrite-only files of v3 are now unreferenced and gone
    assert deleted
    live = {r[0] for r in S.read_snapshot(spark, path).collect()}
    assert live == set(range(10, 25)) | {1000, 1001} | set(range(10))


def test_expectations_enforce_splits_and_tags(spark):
    """enforce() quarantines violating rows with the full list of failed
    rules; NULL predicate results are violations, not silent passes."""
    from pyspark.sql import functions as F

    from real_value_etl_spark.operators.expectations import (
        enforce,
        unique_key_violations,
    )

    df = spark.createDataFrame(
        [(1, 5.0, "a"), (2, -1.0, "a"), (3, None, "b"), (4, 2.0, None),
         (4, 3.0, "a")],
        "id int, v double, cat string",
    )
    rules = [
        ("v_positive", F.col("v") > 0),
        ("cat_known", F.col("cat").isin("a", "b")),
    ]
    clean, bad = enforce(df, rules)
    assert {r.id for r in clean.collect()} == {1, 4}  # id=4 row w/ cat 'a'
    got = {(r.id, tuple(r.violations)) for r in bad.collect()}
    assert (2, ("v_positive",)) in got
    assert (3, ("v_positive",)) in got          # NULL v -> violation
    assert (4, ("cat_known",)) in got           # NULL cat -> violation
    dups = unique_key_violations(df, ["id"]).collect()
    assert [(r.id, r.n_occurrences) for r in dups] == [(4, 2)]


def test_duckdb_writer_two_phase_commit(spark, tmp_path):
    """The connector's write path: executors stage parquet, the driver
    commits in one transaction; append accumulates, overwrite replaces,
    and the round trip (Spark -> DuckDB -> Spark) is lossless."""
    import duckdb

    from pyspark.sql import functions as F

    from real_value_etl_spark.sources.duckdb_source import register_duckdb_source

    db = str(tmp_path / "w.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE sink(id BIGINT, name VARCHAR)")
    con.close()
    register_duckdb_source(spark)

    df = spark.range(500).select(
        "id", F.concat(F.lit("n"), F.col("id")).alias("name")
    ).repartition(4)
    (df.write.format("duckdb").option("path", db).option("table", "sink")
       .mode("append").save())
    (df.filter("id < 100").write.format("duckdb").option("path", db)
       .option("table", "sink").mode("append").save())
    con = duckdb.connect(db, read_only=True)
    assert con.execute("SELECT COUNT(*) FROM sink").fetchone()[0] == 600
    con.close()

    (df.filter("id >= 490").write.format("duckdb").option("path", db)
       .option("table", "sink").mode("overwrite").save())
    back = (spark.read.format("duckdb").option("path", db)
            .option("table", "sink").load())
    assert sorted(r.id for r in back.collect()) == list(range(490, 500))


def test_jaccard_prefix_filter_is_lossless(spark, sf_dir):
    """The AllPairs prefix-filtered Jaccard (the primary path) must emit
    exactly the pairs of the full inverted-index join — prefix filtering
    is a candidate-pruning optimization, never a semantics change."""
    from real_value_etl_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_full,
    )
    from real_value_etl_spark.queries.registry import table

    d = table(spark, sf_dir, "documents")
    primary = {
        (r.doc_a, r.doc_b, round(r.jac, 12))
        for r in ngram_jaccard_pairs(d, "doc_id", "text", 0.5).collect()
    }
    full = {
        (r.doc_a, r.doc_b, round(r.jac, 12))
        for r in ngram_jaccard_pairs_full(d, "doc_id", "text", 0.5).collect()
    }
    assert primary == full and len(primary) > 0


def test_jaccard_prefix_filter_prunes_candidates(spark, sf_dir):
    """Regression guard for the SCALE property of prefix filtering, not
    just its correctness: the prefix-filtered candidate set must stay a
    small fraction of the full inverted-index candidate set (docs sharing
    >= 1 shingle). The ~8.5% figure at operators/dedup.py (sf0.01) is the
    documented claim; 25% here is the loose tripwire — if a refactor
    quietly degrades the prefix build (e.g. loses the rare-first ordering
    or the length filter), candidates balloon toward 100% and this fails
    long before the bench shows it."""
    from real_value_etl_spark.operators.dedup import (
        prefix_filtered_candidates,
        shingle_index,
    )
    from real_value_etl_spark.queries.registry import table

    d = table(spark, sf_dir, "documents")
    idx = shingle_index(d, "doc_id", "text")
    a, b = idx.alias("a"), idx.alias("b")
    full = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.did") < F.col("b.did")),
        )
        .select(F.col("a.did").alias("doc_a"), F.col("b.did").alias("doc_b"))
        .distinct()
        .count()
    )
    pruned = prefix_filtered_candidates(idx, 0.5).count()
    assert full > 0
    assert pruned <= 0.25 * full, (
        f"prefix filter degraded: {pruned}/{full} = {pruned / full:.1%} "
        "of full-index candidates (expected well under 25%)"
    )


def test_staging_swap_has_no_empty_table_window(spark, tmp_path):
    """Two-phase overwrite semantics of the ClickHouse sink
    (sinks/writers.py:write_clickhouse_jdbc), proven against DuckDB since
    no JDBC jar ships here: a concurrent reader never observes an empty or
    partial target table — unlike the reference's TRUNCATE-then-chunked-
    insert (loading.py:36), which exposes 0..partial rows for the whole
    load. The staging table is populated by the Spark DuckDB connector's
    own two-phase-commit writer, then swapped in one transaction."""
    import duckdb

    from pyspark.sql import functions as F

    from real_value_etl_spark.sinks.writers import staging_swap_statements
    from real_value_etl_spark.sources.duckdb_source import register_duckdb_source

    db = str(tmp_path / "ch_sim.duckdb")
    staging, swap_ddl = staging_swap_statements("unified")
    assert swap_ddl == "EXCHANGE TABLES unified__staging AND unified"

    con = duckdb.connect(db)
    con.execute("CREATE TABLE unified(id BIGINT, name VARCHAR)")
    con.execute(
        "INSERT INTO unified SELECT range, 'old' || range FROM range(10)"
    )
    con.execute(f"CREATE TABLE {staging}(id BIGINT, name VARCHAR)")
    con.close()

    register_duckdb_source(spark)
    new = spark.range(25).select(
        "id", F.concat(F.lit("new"), F.col("id")).alias("name")
    ).repartition(3)
    (new.write.format("duckdb").option("path", db).option("table", staging)
        .mode("append").save())

    reader = duckdb.connect(db)
    # phase 1 done: staging holds the new snapshot, target still serves
    # the complete OLD snapshot — no empty/partial window
    assert reader.execute("SELECT COUNT(*) FROM unified").fetchone()[0] == 10
    assert (
        reader.execute(f"SELECT COUNT(*) FROM {staging}").fetchone()[0] == 25
    )

    # phase 2: the swap is one transaction (DuckDB spells EXCHANGE TABLES
    # as a rename pair; ClickHouse runs the EXCHANGE DDL verbatim). A
    # reader snapshot opened before the commit still sees the old rows.
    writer = duckdb.connect(db)
    reader.execute("BEGIN")
    pre_swap_count = reader.execute("SELECT COUNT(*) FROM unified")
    writer.execute("BEGIN")
    writer.execute("ALTER TABLE unified RENAME TO unified__retired")
    writer.execute(f"ALTER TABLE {staging} RENAME TO unified")
    writer.execute("COMMIT")
    assert pre_swap_count.fetchone()[0] == 10
    reader.execute("COMMIT")
    # post-swap: the complete new snapshot, atomically
    rows = reader.execute(
        "SELECT COUNT(*), MIN(name), MAX(id) FROM unified"
    ).fetchone()
    assert rows == (25, "new0", 24)
    reader.close()
    writer.close()


def test_bpe_greedy_overlap_semantics(spark):
    """Greedy left-to-right merge application: with rule (a,a), 'aaaa'
    becomes [aa, aa] (1st+2nd, 3rd+4th) and 'aaa' becomes [aa, a] —
    overlapping occurrences never double-consume a symbol. This pins the
    gaps-and-islands formulation to reference BPE semantics."""
    from real_value_etl_spark.operators.bpe import (
        apply_merge,
        bpe_train,
        words_with_symbols,
    )
    from pyspark.sql import functions as F

    toks = spark.createDataFrame(
        [("aaaa",), ("aaa",), ("ab",)], ["token"]
    )
    words = words_with_symbols(toks)
    rule = spark.createDataFrame([("a", "a", 99)], ["ml", "mr", "cnt"])
    out = {r.word: list(r.syms) for r in apply_merge(words, rule).collect()}
    assert out["aaaa"] == ["aa", "aa"]
    assert out["aaa"] == ["aa", "a"]
    assert out["ab"] == ["a", "b"]

    # end-to-end: most frequent pair of the tiny corpus is (a, a) with
    # weighted count 5 (3 in aaaa, 2 in aaa); second merge is (aa, aa)
    # from the rebuilt 'aaaa' — proving iteration i+1 counts on the
    # MERGED sequences of iteration i
    rules = {
        r.step: (r.merge_left, r.merge_right, r.cnt)
        for r in bpe_train(toks, 2).collect()
    }
    assert rules[1] == ("a", "a", 5)
    assert rules[2][0:2] == ("aa", "aa") or rules[2][2] <= 5
