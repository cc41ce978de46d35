"""Round-8 operator tests (VERDICT r7 asks #3/#6 and ADVICE items):

- `bcubed_cell_quotient` survives a synthetic 3M-row (cluster,label)
  cell — the exact point where the old int64 product overflowed — and
  matches both exact Python integers and the DuckDB HUGEINT oracle
  expression;
- `_recover_state` repairs the non-atomic window between the two
  renames in `_swap_state`: roll-forward from a fully-stamped stage,
  roll-back from `__old`, and an end-to-end kill-and-restart with the
  crash injected BETWEEN the renames (previously: total state loss);
- the streaming HLL kernel's hard-coded literals are pinned to the
  batch-side `feature_ops` constants (drift fails fast);
- greedy coverage refuses k above its documented driver-loop bound;
- `ppr_fixed_point` distributes teleport mass only over seeds that
  exist in the graph (absent seeds no longer dilute it).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# B-cubed quantization headroom (r7 verdict ask #3)
# ---------------------------------------------------------------------------


def test_bcubed_quantization_3m_cell(spark):
    """A 3,000,000-row cell: c_kl^2 * 2^20 = 9.44e18 > int64 max — the
    old long-typed product overflowed exactly here. The DECIMAL(38,0)
    path must return the exact truncated quotient, as a BIGINT, for the
    cell itself and for a smaller denominator (n > c_kl)."""
    from real_value_etl_spark.queries.llm import BCUBED_Q, bcubed_cell_quotient

    c = 3_000_000
    assert c * c * BCUBED_Q > 2**63 - 1  # the old int64 product overflows
    cells = spark.createDataFrame(
        [(c, c), (c, 7_777_777)], "c_kl long, n long"
    )
    got = (
        cells.select(
            bcubed_cell_quotient(F.col("c_kl"), F.col("n")).alias("q")
        )
        .orderBy(F.desc("q"))
        .collect()
    )
    want = sorted(
        ((c * c * BCUBED_Q) // n for n in (c, 7_777_777)), reverse=True
    )
    assert [r["q"] for r in got] == want
    assert dict(cells.select(
        bcubed_cell_quotient(F.col("c_kl"), F.col("n")).alias("q")
    ).dtypes)["q"] == "bigint"

    import duckdb

    oracle = duckdb.sql(
        f"SELECT CAST((CAST(c AS HUGEINT) * c * {BCUBED_Q}) // n AS BIGINT) "
        f"FROM (VALUES ({c}, {c}), ({c}, 7777777)) t(c, n) ORDER BY 1 DESC"
    ).fetchall()
    assert [r[0] for r in oracle] == want


# ---------------------------------------------------------------------------
# Crash-window recovery for the foreachBatch state swap (r7 ADVICE, medium)
# ---------------------------------------------------------------------------


def _complete_stage(spark, stage: str, batch_id: int) -> None:
    from real_value_etl_spark.streaming.jobs import _stamp_batch

    spark.createDataFrame([(1, 10)], "k int, v int").write.mode(
        "overwrite"
    ).parquet(stage)
    _stamp_batch(stage, batch_id)


def test_recover_state_rolls_forward_complete_stage(spark, tmp_path):
    """Crash between rename(state->old) and rename(stage->state): no
    state dir, a fully-stamped stage, an old dir. Recovery must publish
    the stage (it is the complete (state, batch_id) pair) so the marker
    then skips the replayed batch."""
    from real_value_etl_spark.streaming.jobs import (
        _last_applied_batch,
        _recover_state,
    )

    state = str(tmp_path / "state")
    _complete_stage(spark, state + "__old", 1)
    os.rename(state + "__old", state)  # build an "old" with marker 1
    os.rename(state, state + "__old")
    _complete_stage(spark, state + "__stage", 2)
    _recover_state(state)
    assert os.path.exists(os.path.join(state, "_SUCCESS"))
    assert _last_applied_batch(state) == 2
    assert not os.path.exists(state + "__stage")
    assert not os.path.exists(state + "__old")


def test_recover_state_rolls_back_incomplete_stage(spark, tmp_path):
    """No state dir, no (complete) stage, an old dir: recovery must
    restore the pre-batch state so the replayed batch re-folds on top."""
    from real_value_etl_spark.streaming.jobs import (
        _last_applied_batch,
        _recover_state,
    )

    state = str(tmp_path / "state")
    _complete_stage(spark, state + "__old", 1)
    os.makedirs(state + "__stage", exist_ok=True)  # crashed mid-write
    _recover_state(state)
    assert _last_applied_batch(state) == 1
    assert not os.path.exists(state + "__stage")
    assert not os.path.exists(state + "__old")


def test_recover_state_noop_when_state_exists(spark, tmp_path):
    from real_value_etl_spark.streaming.jobs import (
        _last_applied_batch,
        _recover_state,
    )

    state = str(tmp_path / "state")
    _complete_stage(spark, state + "__stage", 3)
    os.rename(state + "__stage", state)
    _complete_stage(spark, state + "__stage", 4)  # unpublished next batch
    _recover_state(state)
    assert _last_applied_batch(state) == 3  # untouched
    assert os.path.exists(state + "__stage")  # left for _swap_state


def test_mv_sink_survives_crash_between_renames(spark, tmp_path, monkeypatch):
    """End-to-end regression for the r7 ADVICE medium item: the crash
    lands BETWEEN `os.rename(state_path, old)` and
    `os.rename(stage, state_path)` — before the fix, restart found no
    state dir, `_last_applied_batch` said -1, and the fold rebuilt state
    from only the replayed micro-batch, silently dropping every earlier
    batch (their offsets are committed and never replayed)."""
    from datetime import datetime

    from real_value_etl_spark.operators.incremental import (
        aggregate_state,
        finalize_state,
    )
    from real_value_etl_spark.streaming.jobs import incremental_mv_sink

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    t = lambda s: datetime.fromisoformat(s)  # noqa: E731
    rows = [
        [(1, t("2024-01-01 10:00:00"), 1, 1.25),
         (2, t("2024-01-01 10:30:00"), 2, 2.5)],
        [(3, t("2024-01-01 11:00:00"), 1, 3.75)],
        [(4, t("2024-01-01 11:30:00"), 2, 4.0)],
    ]
    for i, batch in enumerate(rows):
        spark.createDataFrame(
            batch, "event_id long, ts timestamp, user_id long, value double"
        ).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    inner = incremental_mv_sink(["user_id"], state)

    real_rename = os.rename
    armed = [True]

    def flaky_rename(srcp, dstp):
        # fire once: publishing the stage for a batch that already has
        # prior state (old exists => state was just renamed away)
        if (
            armed[0]
            and str(srcp) == state + "__stage"
            and str(dstp) == state
            and os.path.exists(state + "__old")
        ):
            armed[0] = False
            raise RuntimeError("injected crash between the two renames")
        real_rename(srcp, dstp)

    monkeypatch.setattr(os, "rename", flaky_rename)

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    q = (
        stream()
        .writeStream.foreachBatch(lambda df, bid: inner(df, bid))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception):
        q.awaitTermination()
    assert not armed[0], "crash injection never fired"
    assert not os.path.exists(state)  # the window this test is about

    seen: list[int] = []

    def recording(batch_df, batch_id):
        seen.append(batch_id)
        inner(batch_df, batch_id)

    q2 = (
        stream()
        .writeStream.foreachBatch(recording)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert seen, "restart replayed nothing"
    got = {
        tuple(r)
        for r in finalize_state(
            spark.read.parquet(state), ["user_id"]
        ).collect()
    }
    want = {
        tuple(r)
        for r in finalize_state(
            aggregate_state(spark.read.parquet(src), ["user_id"]),
            ["user_id"],
        ).collect()
    }
    assert got == want  # nothing lost, nothing double-counted


# ---------------------------------------------------------------------------
# Streaming HLL constants pinned to the batch module (r7 ADVICE)
# ---------------------------------------------------------------------------


def test_stream_hll_kernel_literals_match_batch_constants():
    """`_hll_state` hard-codes its constants (the kernel must stay
    self-contained for worker pickling); this pins the literals to
    `feature_ops.HLL_*` so a batch-side change fails fast instead of
    silently desynchronizing the streaming sketch from its oracle."""
    import inspect

    from real_value_etl_spark.queries import feature_ops as fo
    from real_value_etl_spark.streaming.jobs import _hll_state

    src = inspect.getsource(_hll_state)
    assert f"M, WBITS = {fo.HLL_M}, {fo.HLL_W_BITS}" in src
    assert f"h >> {fo.HLL_P}" in src  # bucket/word split
    hex_digits = (fo.HLL_P + fo.HLL_W_BITS) // 4
    assert f"hexdigest()[:{hex_digits}]" in src  # 52-bit md5 prefix


# ---------------------------------------------------------------------------
# Greedy coverage driver-loop bound (r7 verdict ask #6)
# ---------------------------------------------------------------------------


def test_greedy_coverage_rejects_unbounded_k(spark, sf_dir, monkeypatch):
    from real_value_etl_spark.queries import llm_mix

    monkeypatch.setattr(llm_mix, "COV_K", llm_mix.COV_K_MAX + 1)
    with pytest.raises(ValueError, match="COV_K_MAX"):
        llm_mix.docs_greedy_coverage(spark, sf_dir)


# ---------------------------------------------------------------------------
# PPR teleport mass over graph-resident seeds only (r7 ADVICE)
# ---------------------------------------------------------------------------


def test_ppr_absent_seed_does_not_dilute_teleport(spark):
    """A seed that never appears as an edge source is not a walk-graph
    node: it must be excluded from BOTH the output and the teleport
    denominator — ranks with seeds {1, 99} (99 absent) must equal ranks
    with seeds {1}."""
    from real_value_etl_spark.operators.pagerank import ppr_fixed_point

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1)], "src long, dst long"
    )
    just_one = spark.createDataFrame([(1,)], "node long")
    with_ghost = spark.createDataFrame([(1,), (99,)], "node long")
    a = {
        (r["node"], r["rank"])
        for r in ppr_fixed_point(edges, just_one, n_iter=4).collect()
    }
    b = {
        (r["node"], r["rank"])
        for r in ppr_fixed_point(edges, with_ghost, n_iter=4).collect()
    }
    assert a == b
    assert all(n != 99 for n, _ in b)


# ---------------------------------------------------------------------------
# Round-8 new queries: semantics beyond oracle parity
# ---------------------------------------------------------------------------


def test_register_rejects_duplicate_names():
    """A second @register under an existing name must fail at import
    time, not silently shadow (round-8 lesson: a duplicate
    emb_power_iteration registration was last-writer-wins for a whole
    session before its schema mismatch surfaced)."""
    from real_value_etl_spark.queries.registry import REGISTRY, register

    name = next(iter(REGISTRY))
    with pytest.raises(ValueError, match="duplicate query registration"):
        register(name)(lambda spark, sf_dir: None)


def test_cusum_closed_form_equals_recursion(spark, sf_dir):
    """prefix - min(0, running_min(prefix)) must equal the literal
    S_h = max(0, S_(h-1) + x_h) recursion on every type's hourly series."""
    from collections import defaultdict

    from real_value_etl_spark.queries.events_queries import (
        events_changepoint_cusum,
    )

    rows = events_changepoint_cusum(spark, sf_dir).collect()
    by_type = defaultdict(list)
    for r in rows:
        by_type[r["event_type"]].append(r)
    assert by_type
    for series in by_type.values():
        series.sort(key=lambda r: r["h"])
        n = len(series)
        total = sum(r["c"] for r in series)
        s = 0
        for r in series:
            s = max(0, s + r["c"] * n - total)
            assert r["cusum_scaled"] == s, (r, s)


def test_mp3_codec_recovers_title_and_frame_math(spark, sf_dir):
    """The title STRING must round-trip through the synthesized bytes,
    and bitrate/samplerate/frame_length must match the MPEG1 Layer III
    tables recomputed in Python."""
    from real_value_etl_spark.queries.feature_ops import (
        MP3_BITRATES,
        MP3_SAMPLE_RATES,
        MP3_TITLE_POOL,
        multimodal_mp3_id3_parse,
    )

    rows = multimodal_mp3_id3_parse(spark, sf_dir).limit(50).collect()
    assert rows
    for r in rows:
        t = r["doc_id"] % 23 + 1
        assert r["title"] == MP3_TITLE_POOL[:t]
        assert r["id3_ok"] and r["sync_ok"] and r["mpeg1_layer3_ok"]
        br = MP3_BITRATES[r["doc_id"] % 14]
        sr = MP3_SAMPLE_RATES[r["doc_id"] % 3]
        assert r["bitrate_kbps"] == br
        assert r["sample_rate"] == sr
        assert r["frame_length"] == 144000 * br // sr + r["padding_bit"]


# ---------------------------------------------------------------------------
# Streaming priority sample: mergeability + replay idempotence
# ---------------------------------------------------------------------------


def test_stream_priority_sample_multi_batch_equals_single(spark, tmp_path):
    """Two micro-batches (with a DUPLICATE row re-offered in the second)
    must converge to the same sample/tau/estimate as one batch holding
    all rows once — the merge-by-id + keep-top-(k+1) algebra the
    streaming claim rests on."""
    import pandas as pd

    from real_value_etl_spark.streaming import jobs

    k = jobs._STREAM_PRIO_K
    rows_a = [(i, float(10 + 7 * i % 50)) for i in range(k + 5)]
    rows_b = [(100 + i, float(5 + 11 * i % 60)) for i in range(k + 5)]
    dup = rows_a[3]  # replayed row: must be absorbed, not double-counted
    src = str(tmp_path / "ev")
    os.makedirs(src, exist_ok=True)

    def write(name, rows):
        pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": pd.to_datetime("2024-01-01 10:00:00"),
                "event_type": "click",
                "value": [r[1] for r in rows],
            }
        ).to_parquet(f"{src}/{name}.parquet")

    write("a", rows_a)
    write("b", rows_b + [dup])
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    out = (
        stream.select("event_type", "event_id", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            jobs._prio_state,
            outputStructType=jobs._PRIO_OUT_SCHEMA,
            stateStructType=jobs._PRIO_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = (
        out.writeStream.format("memory")
        .queryName("mem_prio_two_batches")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    drained = spark.sql("select * from mem_prio_two_batches").collect()
    assert len(drained) >= 2
    final = max(drained, key=lambda r: (r["k_sample"], r["tau"]))

    class FakeState:
        exists = False

        def update(self, v):
            self.val = v

    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows_a + rows_b],
            "value": [r[1] for r in rows_a + rows_b],
        }
    )
    ref = next(jobs._prio_state(("click",), iter([pdf]), FakeState()))
    assert final["sample_ids"] == ref["sample_ids"][0]
    assert final["tau"] == ref["tau"][0]
    assert final["est_total"] == ref["est_total"][0]
    assert final["k_sample"] == k


# ---------------------------------------------------------------------------
# CUSUM breach detection + winnowing match guarantee (semantic pins)
# ---------------------------------------------------------------------------


def test_cusum_flags_injected_burst(spark, tmp_path):
    """A synthetic series — steady 10 events/hour then a 200-event burst
    hour — must flag the burst (cumulative excess passes 5 mean-hours)
    while the steady prefix stays unflagged."""
    from datetime import datetime, timedelta

    from real_value_etl_spark.queries.events_queries import (
        events_changepoint_cusum,
    )

    rows, eid = [], 0
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    for h in range(30):
        n = 200 if h == 24 else 10
        for i in range(n):
            rows.append((eid, t0 + timedelta(hours=h, seconds=i), 1, "click"))
            eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = sorted(
        events_changepoint_cusum(spark, str(tmp_path)).collect(),
        key=lambda r: r["h"],
    )
    assert not any(r["breach"] for r in got[:24])  # steady prefix clean
    assert got[24]["breach"]  # the burst hour itself trips the detector


def test_winnowing_guarantees_shared_fingerprint(spark, tmp_path):
    """The winnowing theorem: any match of length >= w + k - 1 tokens
    (here 6) between two documents yields at least one SHARED
    (fingerprint hash) selection — regardless of where the match sits in
    either document."""
    from real_value_etl_spark.queries.llm import (
        WINNOW_K,
        WINNOW_W,
        text_winnowing_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta"  # 6 = w + k - 1 tokens
    assert len(shared.split()) == WINNOW_W + WINNOW_K - 1
    doc_a = "one two three four five " + shared + " six seven"
    doc_b = "red green " + shared + " blue yellow purple orange pink"
    spark.createDataFrame(
        [(1, doc_a), (2, doc_b)], "doc_id long, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = text_winnowing_fingerprints(spark, str(tmp_path)).collect()
    fps = {1: set(), 2: set()}
    for r in rows:
        fps[r["doc_id"]].add(r["fp_hash"])
    assert fps[1] & fps[2], "no shared fingerprint for a w+k-1 match"
