"""Round-9 operator tests, the DecimalType-output lint and the SURVEY
§2.13 inventory drift gate."""

from __future__ import annotations

import pytest

from real_value_etl_spark.queries.all_queries import REGISTRY

from .test_registered_queries import checked_query


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_decimal_output_columns(spark, sf_dir, duck, name):
    """No registered query exposes DecimalType anywhere in its output
    schema (the rule and its reason: tests/test_registered_queries.py)."""
    problems = checked_query(spark, sf_dir, duck, name)["decimal"]
    assert not problems, "\n".join(problems)


# ---------------------------------------------------------------------------
# HDR histogram: BIGINT shift base for values beyond 2^32 (r8 ADVICE)
# ---------------------------------------------------------------------------


def test_hdr_sub_bucket_wide_values_match_duckdb(spark):
    """With an INT shift base, Spark's shiftleft wraps the shift amount
    mod 32, so c >= 2^34 cents mis-bucketed vs DuckDB's 64-bit <<. The
    expression now shifts CAST(1 AS BIGINT); both engines must agree on
    values spanning 2^30 .. 2^62."""
    import duckdb

    from real_value_etl_spark.queries.stats import HDR_SUB_BITS

    vals = [
        (1 << 30) + 7,
        (1 << 33) + 12345,
        (1 << 34) + 1,
        (1 << 40) + 999_999,
        (1 << 52) + 3,
        (1 << 62) + 17,
    ]
    sub_sql = (
        f"(c div shiftleft(CAST(1 AS BIGINT),"
        f" length(bin(c)) - {HDR_SUB_BITS + 1})) - {1 << HDR_SUB_BITS}"
    )
    got = {
        r["c"]: (r["b"], r["sub"])
        for r in spark.createDataFrame([(v,) for v in vals], "c long")
        .selectExpr("c", "length(bin(c)) AS b", f"{sub_sql} AS sub")
        .collect()
    }
    con = duckdb.connect()
    for v in vals:
        b, sub = con.execute(
            f"SELECT length(bin(CAST({v} AS BIGINT))), "
            f"(CAST({v} AS BIGINT) // (1::BIGINT << "
            f"(length(bin(CAST({v} AS BIGINT))) - {HDR_SUB_BITS + 1})))"
            f" - {1 << HDR_SUB_BITS}"
        ).fetchone()
        assert got[v] == (b, sub), f"c={v}: spark {got[v]} duck {(b, sub)}"


# ---------------------------------------------------------------------------
# PPR/PageRank/HITS persisted frames tracked in the persist scope (r8 ADVICE)
# ---------------------------------------------------------------------------


def test_ppr_caches_none_tracked_in_rank_registry(spark):
    """Every persist ppr_fixed_point takes (edges, deg, base) must land
    in the current persist scope (operators/scan.py) so
    release_rank_caches() frees them instead of leaking per call."""
    from real_value_etl_spark.operators import scan
    from real_value_etl_spark.operators.pagerank import ppr_fixed_point

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 1)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")

    scan.release_rank_caches()
    before = len(scan.PERSIST_SCOPE.get())
    ppr_fixed_point(edges, seeds, n_iter=2).collect()
    tracked = len(scan.PERSIST_SCOPE.get()) - before
    assert tracked == 3  # edges, deg, base — none untracked
    released = scan.release_rank_caches()
    assert released >= 3


# ---------------------------------------------------------------------------
# SURVEY §2.13 inventory drift gate (r8 verdict ask #8)
# ---------------------------------------------------------------------------


def test_survey_inventory_matches_registry():
    """The graded checklist (SURVEY.md §2.13) and the live registry must
    not drift: total count and every registered name must appear in the
    §2.13 block. Regenerate with tools/make_survey_inventory.py."""
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    text = open(os.path.join(root, "SURVEY.md")).read()
    m = re.search(r"### 2\.13 .*?(?=\n---\n)", text, flags=re.S)
    assert m, "SURVEY.md §2.13 block missing"
    block = m.group()
    tot = re.search(r"Total registered: \*\*(\d+)\*\*", block)
    assert tot and int(tot.group(1)) == len(REGISTRY), (
        f"§2.13 says {tot and tot.group(1)}, registry has {len(REGISTRY)} — "
        "run tools/make_survey_inventory.py --write"
    )
    listed = set(re.findall(r"`([a-z0-9_]+)`", block))
    missing = sorted(set(REGISTRY) - listed)
    assert not missing, f"§2.13 missing queries: {missing[:10]}"


# ---------------------------------------------------------------------------
# Round-9 operators
# ---------------------------------------------------------------------------


def test_max_burst_interval_matches_bruteforce(spark, sf_dir):
    """The packed-argmin/argmax Kadane must equal a brute-force O(n^2)
    scan over every (start, end) interval, including the tie-break
    convention (largest sum, then earliest end, then longest burst via
    earliest prefix argmin)."""
    from collections import defaultdict

    got = {
        r["event_type"]: r
        for r in REGISTRY["events_max_burst_interval"].fn(spark, sf_dir).collect()
    }

    # brute force from the raw parquet via pandas
    import pandas as pd

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").toPandas()
    ts = pd.to_datetime(ev["ts"])
    ev = ev.assign(h=ts.dt.floor("h").astype("int64") // 10**9)
    for etype, g in ev.groupby("event_type"):
        hc = g.groupby("h").size().sort_index()
        n, total = len(hc), int(hc.sum())
        dev = (hc * n - total).to_list()
        hours = hc.index.to_list()
        best = None  # (sum, end_idx, start_idx)
        for s in range(n):
            acc = 0
            for e in range(s, n):
                acc += dev[e]
                # max sum; tie -> earliest end; tie -> earliest start
                cand = (acc, -(e), -(s))
                if best is None or (
                    cand[0] > best[0]
                    or (cand[0] == best[0] and cand[1] > best[1])
                    or (
                        cand[0] == best[0]
                        and cand[1] == best[1]
                        and cand[2] > best[2]
                    )
                ):
                    best = cand
        row = got[etype]
        assert row["burst_scaled"] == best[0]
        assert row["end_h"] == hours[-best[1]]
        assert row["start_h"] == hours[-best[2]]


def test_k_core_peel_properties(spark, sf_dir):
    """Every surviving node's core degree >= K, the reported (node,
    core_deg) set equals an independent pure-Python synchronized peel
    run TO ITS FIXED POINT over the same symmetrized edge list, and the
    fixed point is reached within the query's unrolled round count —
    i.e. re-peeling the survivors removes nothing (idempotence)."""
    import duckdb

    from real_value_etl_spark.queries.graph import KCORE_K, KCORE_ROUNDS

    rows = REGISTRY["graph_k_core"].fn(spark, sf_dir).collect()
    assert rows, "k-core emptied — K is mis-tuned for the fixture"
    assert min(r["core_deg"] for r in rows) >= KCORE_K

    edges = duckdb.connect().execute(
        f"""SELECT DISTINCT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
            FROM '{sf_dir}/orders.parquet'
            JOIN '{sf_dir}/lineitem.parquet' ON l_orderkey = o_orderkey"""
    ).fetchall()
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    rounds = 0
    while True:
        # synchronized sweep: the dead set is decided on the round's
        # snapshot BEFORE any removal, exactly like the unrolled joins
        dead = [n for n, nb in adj.items() if len(nb) < KCORE_K]
        if not dead:
            break
        rounds += 1
        for n in dead:
            for m in adj.pop(n):
                if m in adj:
                    adj[m].discard(n)
    assert rounds <= KCORE_ROUNDS, (
        f"peel needs {rounds} rounds; the query unrolls only "
        f"{KCORE_ROUNDS} — its output is NOT a fixed point here"
    )
    got = {r["node"]: r["core_deg"] for r in rows}
    want = {
        ("c" if n % 2 == 0 else "s") + str(n // 2): len(nb)
        for n, nb in adj.items()
    }
    assert got == want  # idempotent fixed point, degree-exact


def test_png_idat_codec_fields(spark, sf_dir):
    """Structural invariants recovered FROM THE BYTES: block chain
    complete, NLEN complements verified, reassembled stream length =
    height * (width + 1), and the block count matches ceil-div."""
    rows = REGISTRY["multimodal_png_idat_parse"].fn(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["sig_ok"] and r["ihdr_ok"] and r["zlib_ok"]
        assert r["nlen_ok"] and r["btype_stored_ok"] and r["chain_complete"]
        assert r["filters_ok"]
        assert r["sum_block_len"] == r["height"] * (r["width"] + 1)
        cap = 7 + (r["doc_id"] % 5)
        assert r["n_blocks"] == -(-r["sum_block_len"] // cap)
        assert r["total_len"] == 57 + r["idat_len"]


def test_stream_countmin_multibatch_equals_single(spark, tmp_path):
    """Two micro-batches must land the same counters as one batch with
    all rows (elementwise-add merge is batching-independent), and every
    estimate must be >= the exact count (one-sided error)."""
    import numpy as np
    import pandas as pd

    from real_value_etl_spark.streaming import jobs

    rng = [(i % 7, i) for i in range(50)]  # (user, seq)

    class FakeState:
        def __init__(self):
            self._v = None
        @property
        def exists(self):
            return self._v is not None
        @property
        def get(self):
            return self._v
        def update(self, v):
            self._v = v

    def run(batches):
        st = FakeState()
        out = None
        for b in batches:
            pdf = pd.DataFrame({"bucket": b})
            out = list(jobs._scm_state((0,), iter([pdf]), st))[-1]
        return st._v[0], out

    buckets = [u % jobs.SCM_W for u, _ in rng]
    single, _ = run([buckets])
    double, out = run([buckets[:20], buckets[20:]])
    assert single == double
    # emitted nonzero rows equal the state's nonzero cells
    nz = {(int(b), int(c)) for b, c in zip(out["bucket"], out["cnt"])}
    assert nz == {
        (i, c) for i, c in enumerate(single) if c > 0
    }


def test_mmr_rerank_greedy_invariants(spark, sf_dir):
    """First pick per query = relevance argmax; no duplicates within a
    query; scores weakly decrease step-over-step is NOT required by MMR,
    but every later pick's score must be <= the same step's alternatives
    (verified by recomputation for one query)."""
    from real_value_etl_spark.queries.llm import MMR_K

    rows = REGISTRY["sim_mmr_rerank"].fn(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["step"])
        assert [r["step"] for r in rs] == list(range(1, MMR_K + 1))
        picks = [r["vec_id"] for r in rs]
        assert len(set(picks)) == len(picks)  # no repeats

    # Recompute the full greedy for ONE query from the raw embeddings
    # (sequential-fold cosines, the engines' shared contract): every
    # step's pick must be the argmax of 0.7*rel - 0.3*max-pair-sim over
    # the unpicked candidates, ties to the smaller vec_id.
    import math

    import duckdb

    from real_value_etl_spark.queries.llm import MMR_CAND

    qid = min(by_q)
    vecs = dict(
        duckdb.connect()
        .execute(
            "SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM "
            f"'{sf_dir}/embeddings.parquet'"
        )
        .fetchall()
    )

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def cos(a, b):
        return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    qv = vecs[qid]
    rel = {v: cos(vec, qv) for v, vec in vecs.items() if v != qid}
    cand = sorted(rel, key=lambda v: (-rel[v], v))[:MMR_CAND]
    selected: list[int] = []
    expect: list[tuple[int, float]] = []
    for _step in range(MMR_K):
        best = None
        for c in cand:
            if c in selected:
                continue
            score = 0.7 * rel[c]
            if selected:
                score -= 0.3 * max(cos(vecs[c], vecs[s]) for s in selected)
            if best is None or (-score, c) < best[0]:
                best = ((-score, c), c, score)
        selected.append(best[1])
        expect.append((best[1], best[2]))
    assert [r["vec_id"] for r in by_q[qid]] == [v for v, _ in expect]
    for r, (_, sc) in zip(by_q[qid], expect):
        assert math.isclose(r["mmr_score"], sc, rel_tol=1e-9, abs_tol=1e-12)


def test_rep_ngram_coverage_hand_example(spark):
    """A constructed doc where 'a b c d e' repeats: the duplicated gram
    covers exactly its word positions once, despite overlap."""
    import pandas as pd

    from real_value_etl_spark.queries.llm import docs_rep_ngram_coverage

    # doc 1: "a b c d e x a b c d e" -> gram "a b c d e" at pos 1 and 7
    # covered positions 1..5 and 7..11 (10 words of 1 char) over 11 words
    # doc 2: all distinct -> zero coverage
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["a b c d e x a b c d e", "p q r s t u v"],
            "lang": ["en", "en"],
            "source": ["t", "t"],
        }
    )
    import os
    import tempfile

    d = tempfile.mkdtemp()
    path = os.path.join(d, "documents.parquet")
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(pdf), path)
    out = {r["doc_id"]: r for r in docs_rep_ngram_coverage(spark, d).collect()}
    assert out[1]["n_words"] == 11
    assert out[1]["total_chars"] == 11
    assert out[1]["covered_chars"] == 10
    assert abs(out[1]["dup_char_frac"] - 10 / 11) < 1e-12
    assert out[2]["covered_chars"] == 0 and out[2]["dup_char_frac"] == 0.0


def test_mp3_frame_walk_lengths(spark, sf_dir):
    """The walked frame chain must sum to the payload length exactly
    (the walk consumed every byte, nothing more), and per-frame lengths
    must match the table formula."""
    from real_value_etl_spark.queries.feature_ops import (
        MP3_BITRATES,
        MP3_SAMPLE_RATES,
    )

    rows = REGISTRY["multimodal_mp3_frame_walk"].fn(spark, sf_dir).collect()
    docs = {
        r["doc_id"]: len(r["text"].encode())
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    assert rows
    for r in rows:
        nf = r["doc_id"] % 4 + 2
        assert r["n_frames"] == nf
        assert r["all_sync_ok"] and r["all_mpeg1_l3_ok"]
        expect = 0
        for n in range(nf):
            br = MP3_BITRATES[(r["doc_id"] + n) % 14]
            sr = MP3_SAMPLE_RATES[(r["doc_id"] + n) % 3]
            pad = (docs[r["doc_id"]] + n) % 2
            expect += 144000 * br // sr + pad
        assert r["total_bytes"] == expect
        assert r["total_samples"] == nf * 1152


def test_holt_winters_matches_python_reference(spark, sf_dir):
    """The 26-state fold must equal a plain-Python Holt-Winters run over
    the same hourly series (same gains, same slot rotation)."""
    import pandas as pd

    from real_value_etl_spark.queries.events_queries import (
        HW_ALPHA,
        HW_BETA,
        HW_GAMMA,
        HW_M,
    )

    got = {
        r["event_type"]: r
        for r in REGISTRY["events_holt_winters"].fn(spark, sf_dir).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").toPandas()
    ts = pd.to_datetime(ev["ts"])
    ev = ev.assign(h=ts.dt.floor("h").astype("int64") // 10**9)
    for etype, g in ev.groupby("event_type"):
        hc = g.groupby("h").size().sort_index()
        level = trend = 0.0
        seas = [0.0] * HW_M
        slot = -1
        for h, x in hc.items():
            x = float(x)
            slot = (h // 3600) % HW_M
            sm = seas[slot]
            new_level = HW_ALPHA * (x - sm) + (1 - HW_ALPHA) * (level + trend)
            trend = HW_BETA * (new_level - level) + (1 - HW_BETA) * trend
            seas[slot] = HW_GAMMA * (x - new_level) + (1 - HW_GAMMA) * sm
            level = new_level
        r = got[etype]
        assert r["n_hours"] == len(hc)
        assert r["level"] == level
        assert r["trend"] == trend
        assert r["season_next"] == seas[(slot + 1) % HW_M]
        assert r["forecast_1"] == level + trend + seas[(slot + 1) % HW_M]


def test_hll_set_ops_algebra_invariants(spark, sf_dir):
    """Register-max union must dominate each input and respect
    subadditivity (raw-regime monotonicity); exact intersection is
    nonnegative and bounded by the smaller exact segment."""
    rows = REGISTRY["q_hll_set_ops"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["est_union"] >= max(r["est_a"], r["est_b"]) - 1e-9
        assert r["est_union"] <= r["est_a"] + r["est_b"] + 1e-9
        assert r["exact_intersection"] >= 0
        # inclusion-exclusion consistency by construction
        assert abs(
            r["est_intersection"]
            - (r["est_a"] + r["est_b"] - r["est_union"])
        ) < 1e-9
