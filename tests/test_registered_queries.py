"""Every registered query, built ONCE, against every per-query check.

`check_registered_query` builds the query's frame from a clean cache and
reports every problem with it, grouped by check: a DecimalType output
column, a broken plan invariant (a)-(e), or a mismatch with its DuckDB
oracle (a rows-only query must run and have columns), and keeps the
executed plan it checked. `checked_query` / `checked_plan` memoize that
verdict per query, so the per-check tests that read it (`test_plan_gate`,
`test_oracle_parity`/`test_rows_only_runs`,
`test_round9_ops.py::test_no_decimal_output_columns`, and the plan-shape
tests in `test_plans.py`) build each query once per session between
them. Plan invariants, the scale properties of
the executed plan:

(a) any `Exchange SinglePartition` sits over a bounded-by-construction
    frame — scalar aggregates (one partial row per upstream partition),
    the two-phase rank family's n_partitions-row `__pid` frames,
    limit-bounded frames, and known small frames waived per-query;
(b) no Python evaluation (`BatchEvalPython` / `ArrowEvalPython` /
    UDTF) outside the sanctioned kernel list — row-at-a-time Python in
    a hot path is the 10-100x slow path;
(c) Arrow kernels (`MapInPandas` / `FlatMapGroupsInPandas[WithState]`)
    only in the queries whose operators are deliberately Arrow-batched
    (multimodal codecs, Misra-Gries merge, first-fit packing, matmul);
(d) no `CartesianProduct` anywhere, and `BroadcastNestedLoopJoin` only
    with an explicit per-query waiver documenting why the build side is
    bounded (broadcast of a fixed-size query/codebook/spine/scalar
    frame — the data side streams once, which survives any scale);
(e) shuffle / broadcast exchange counts equal to the pinned budget.

Every waiver is inline below with its justification; a new query that
trips a rule fails the gate until it is either re-planned or waived
with a reason.
"""

from __future__ import annotations

import json
import os
import re
from typing import NamedTuple

from pyspark.sql import types as T

from real_value_etl_spark.operators import scan
from real_value_etl_spark.queries.all_queries import REGISTRY
from real_value_etl_spark.queries.registry import QuerySpec

from .oracle_compare import compare

# ---------------------------------------------------------------------------
# (a) Exchange SinglePartition: structurally bounded child frames
# ---------------------------------------------------------------------------

_BOUNDED_SINGLE_PARTITION = (
    # final stage of a scalar/global aggregate: the exchange input is ONE
    # partial row per upstream partition, regardless of data size
    re.compile(r"(HashAggregate|SortAggregate|ObjectHashAggregate)\(keys?=\[\]"),
    # the two-phase rank family's per-partition count/total frame —
    # n_partitions rows by construction (operators/scan.py)
    re.compile(r"keys?=\[__pid"),
    # a LocalLimit above the exchange bounds the rows entering it
    re.compile(r"LocalLimit \d+"),
)

# per-query waivers for SinglePartition children that are bounded by the
# query's own semantics rather than by plan structure
_SINGLE_PARTITION_WAIVERS: dict[str, re.Pattern] = {
    # AUC over a score column with <= 7 distinct calibrated scores
    # (queries/corpus_quality.py) — the frame is the distinct-score set
    "lang_id_auc": re.compile(r"keys=\[score"),
    # ten-row decile frame (queries/relational.py, q_cumulative_gains)
    "q_cumulative_gains": re.compile(r"decile_rev"),
    # 3-row per-returnflag totals frame feeding the group-offset window
    # (queries/stats.py q_weighted_median — bounded by flag cardinality)
    "q_weighted_median": re.compile(r"keys=\[l_returnflag"),
    # cumulative count over the bounded HDR cell frame (<= 64 * 4 cells
    # by construction: bit-length x sub-bucket, queries/stats.py)
    "q_hdr_histogram_price": re.compile(r"min_cents|\bsub\b"),
    # skyline phase 2: the global window sees only phase-1 survivors —
    # per-partition Pareto frontiers, each already running-min-filtered
    # (queries/stats.py q_skyline_parts; frontier << n by construction)
    "q_skyline_parts": re.compile(r"p_retailprice.*p_size"),
    # Kaplan-Meier / log-rank risk-set windows run over the DURATION
    # spine — <= KM_WINDOW_H + 1 distinct hours by construction
    # (events_queries.py), wall-clock-bounded, never data-sized
    "events_kaplan_meier": re.compile(r"n_subj"),
    "events_logrank_test": re.compile(r"\bout1\b|\bnn1\b"),
}

# ---------------------------------------------------------------------------
# (b)+(c) Python/Arrow evaluation: sanctioned kernels only
# ---------------------------------------------------------------------------

_PY_EVAL = re.compile(r"BatchEvalPython|ArrowEvalPython|PythonUDTF")
_ARROW_KERNEL = re.compile(r"MapInPandas|FlatMapGroupsInPandas")

# the UDTF-surface query exists to demonstrate the lateral-UDTF API
# (SURVEY §2.10); Spark plans UDTFs as BatchEvalPythonUDTF by design
_PY_EVAL_WAIVERS = {"docs_udtf_token_spans"}

# queries whose operators are deliberately Arrow-batched `mapInPandas` /
# `applyInPandas` kernels (operators/multimodal.py, heavyhitters.py,
# packing.py, feature_ops matmul) — vectorized batch transfer, never
# row-at-a-time
_ARROW_KERNEL_WAIVERS = {
    "emb_gram_matrix",
    "emb_pca_deflation",
    "emb_power_iteration",
    "multimodal_decode",
    "multimodal_features",
    "multimodal_frames",
    "multimodal_inflate_dynamic_huffman",
    "multimodal_png_decode_real",
    "multimodal_phash_dedup",
    "multimodal_resize",
    "text_heavy_hitters",
    "docs_pack_sequences",
}

# ---------------------------------------------------------------------------
# (d) BroadcastNestedLoopJoin waivers: why each build side is bounded
# ---------------------------------------------------------------------------

_R_QUERYSET = (
    "non-equi (id != qid) join of the corpus against a BROADCAST query/"
    "centroid/codebook set that is fixed-size by construction "
    "(ANN_SEED_CAP / k / PQ codebook) — corpus side streams once"
)
_R_SCALAR = (
    "cross join against a one-row scalar frame (count / total / "
    "percentile / avg-balance subquery result) broadcast to all tasks"
)
_R_SPINE = (
    "cross product with a bounded calendar/category spine (hour grid, "
    "distinct event types, cohort months) — spine is O(1) in data size"
)
_R_PAIRS = (
    "pairwise comparison over a bounded entity set (sources <= 5, "
    "query terms, top-N items) — both sides capped frames"
)

_BNLJ_WAIVERS: dict[str, str] = {
    # vector / similarity family — broadcast bounded query or codebook
    "dedup_embedding_cosine": _R_QUERYSET,
    "dedup_semdedup": _R_QUERYSET,
    "dedup_lsh_recall": _R_QUERYSET,
    "emb_random_projection": "fixed 48-row projection basis broadcast",
    "sim_ann_ivf": _R_QUERYSET,
    "sim_embedding_topk": _R_QUERYSET,
    "sim_hard_negatives": _R_QUERYSET,
    "sim_ivf_pq_topk": _R_QUERYSET,
    "sim_knn_graph": _R_QUERYSET,
    "sim_matryoshka_recall": _R_QUERYSET,
    "sim_mmr_rerank": _R_QUERYSET,
    "sim_ndcg_matryoshka": _R_QUERYSET,
    "sim_nprobe_recall_curve": _R_QUERYSET,
    "sim_pair_distance_hist": _R_QUERYSET,
    "sim_radius_search": _R_QUERYSET,
    "sim_ari_clusterings": _R_QUERYSET
    + "; plus two one-row C(.,2)-sum scalar frames cross-joined into "
    "the single-row index",
    "sim_pq_adc_recall": _R_QUERYSET,
    "sim_quantization_recall": _R_QUERYSET,
    "sim_rerank_quantized": _R_QUERYSET,
    "sim_rrf_fusion": _R_QUERYSET,
    # iterative graph — per-superstep scalar frames (node count,
    # dangling mass, convergence delta) broadcast into the update join
    "graph_hits_lineitem": _R_SCALAR
    + " (per-round MAX normalizer broadcast into the score projection)",
    "graph_label_propagation": _R_SCALAR,
    "graph_pagerank_lineitem": _R_SCALAR,
    "graph_ppr_seeds": _R_SCALAR
    + " (1-row seed count broadcast into the teleport term)",
    "graph_triangle_count": _R_SCALAR
    + "; plus the m>n orientation condition over broadcast edge sample",
    # time-spine / category cross products
    "events_acf_hourly": _R_SPINE
    + " (12-row lag spine x the bounded hourly-count series)",
    "events_xcorr_click_purchase": _R_SPINE
    + " (13-row lag spine x the bounded hourly-count series)",
    "events_churn_by_cohort": _R_SPINE,
    "events_gapfill_hourly": _R_SPINE,
    "events_gapfill_interp": _R_SPINE,
    "events_seasonal_baseline": _R_SPINE,
    "stream_hdr_quantile": _R_SPINE
    + " (3-row quantile spine x the |types|-row distinct-total frame — "
    "both bounded by construction; the histogram itself is sketch-sized)",
    # bounded pairwise comparisons
    "docs_mix_temperature": _R_PAIRS,
    "docs_source_divergence": _R_PAIRS,
    "docs_tv_distance": _R_SCALAR
    + " (1-row corpus token-count frame broadcast into the per-source "
    "deviation and the final ratio)",
    "lang_id_kappa": _R_PAIRS,
    "orders_market_basket": _R_PAIRS,
    "text_bm25_search": _R_PAIRS,
    "text_kneser_ney_score": _R_SCALAR
    + " (1-row bigram-type count broadcast into the scoring join)",
    "text_stupid_backoff": "probe frame = top-SB_TOP_BIGRAMS bigram "
    "contexts x top-SB_TOP_UNIGRAMS continuations (10 x 3 = 30 rows by "
    "construction, queries/llm.py SB_TOP_* constants); the corpus-sized "
    "tri/bi/uni count frames join the 30-row probe set with equi-keys "
    "only — this crossJoin never touches a corpus-sized side",
    "text_bpe_train": _R_PAIRS
    + " (merge-candidate frame vs one-row best-pair scalar)",
    "text_bpe_apply": _R_PAIRS
    + " (same trainer machinery: each merge rule is a broadcast one-row"
    " frame crossed into the word table; the extra final application"
    " adds one more such rule, never a data-sized side)",
    "text_collocations": _R_PAIRS,
    "text_keyword_extract": _R_PAIRS,
    "text_kmv_jaccard": _R_PAIRS,
    # scalar-subquery shapes
    "dedup_bcubed_eval": _R_SCALAR,
    "docs_domain_caps": _R_SCALAR
    + " (1-row corpus-total frame broadcast into the per-domain rank "
    "so the GREATEST(20, total/20) cap is computed without a collect)",
    "q_benford_audit": _R_SCALAR
    + " (9-digit spine x the 1-row total-order-count frame)",
    "q_hoover_index": _R_SCALAR
    + " (1-row (n, total) frame broadcast over the customer rollup, "
    "then two 1-row frames crossed for the final index)",
    "graph_katz_centrality": _R_QUERYSET
    + " (the shared kNN assignment's broadcast codebook routing)",
    "graph_double_sweep": _R_QUERYSET
    + " (kNN assignment codebook) plus three 1-row frames — the root/"
    "far seed picks and the two eccentricity reduces — crossed into "
    "the single summary row",
    "graph_modularity": _R_SCALAR
    + " (1-row mutual-edge-count frame m broadcast into the "
    "communities-sized rollup)",
    "events_friedman_test": _R_SPINE
    + " (day-grid x |types| block spine; plus the 1-row b/k/A4/ssq "
    "scalar frames crossed into the statistic)",
    "sim_kcenter_seeds": _R_SCALAR
    + " (each greedy step broadcasts ONE picked center row into the "
    "next distance map — K = 5 one-row frames by construction)",
    "graph_edge_jaccard": _R_QUERYSET
    + " (the shared kNN assignment's broadcast codebook routing)",
    "events_sliding_distinct_users": _R_SCALAR
    + " (1-row global max-hour bound broadcast into the window filter)",
    # crossJoins of three one-row frames: counts + exact join size + the
    # min-over-depths sketch estimate (queries/retrieval_graph.py)
    "q_join_size_cm_sketch": _R_SCALAR
    + " (two 1-row scalar aggregates cross-joined for the final ratios)",
    "q22_dormant_customers": _R_SCALAR,
    "q_equidepth_price": _R_SCALAR,
    "q_hll_set_ops": _R_PAIRS
    + " (event-type pairs: both sides are the |types|-row register "
    "summary frame, sketch-sized by construction)",
    "q_join_size_estimate": _R_SCALAR,
    "q_ks_two_sample": _R_SCALAR
    + " (1-row (n1, n2) totals frame broadcast into the per-value "
    "ECDF deviation)",
    "q_cramers_v": _R_PAIRS
    + " (level-spine cross: |priorities| x |statuses| <= 15 cells; plus "
    "three 1-row scalar frames crossed into the single-row summary)",
    "q_priority_sample_sum": _R_SCALAR
    + " (1-row tau / exact-total frames cross-joined into the estimate)",
    "q_rollup_share_of_parent": _R_SCALAR,
    "text_burrows_delta": _R_SPINE
    + " (|sources| x top-F feature spine: both sides bounded — sources "
    "categorical, F a literal constant)",
    "q_cliffs_delta": _R_SCALAR
    + " (1-row lo-group grand total broadcast into the descending-"
    "cumulative identity lo_above = n2_all - inclusive)",
    "events_kaplan_meier": _R_SCALAR
    + " (1-row corpus-max-timestamp and subject-count frames broadcast "
    "into the censoring rule and the risk-set identity)",
    "events_logrank_test": _R_SCALAR
    + " (1-row corpus-max-timestamp and per-cohort-count frames "
    "broadcast into the censoring rule and the risk-set identity)",
    "events_cochran_q": _R_SCALAR
    + " (three 1-row frames — k, column-sum, row-sum — crossed into "
    "the single-row statistic; plus the 1-row k frame broadcast into "
    "the saturated-row filter)",
}


# A DecimalType output stringifies with trailing zeros ("506627.00") while
# the oracle side arrives as float64 ("506627.0"): equal values, different
# hash. Exact decimal math stays INSIDE the plan; outputs must be
# double/bigint/string.
def _decimal_paths(dt: T.DataType, path: str) -> list[str]:
    """All paths inside `dt` that are DecimalType (recursive)."""
    if isinstance(dt, T.DecimalType):
        return [path]
    if isinstance(dt, T.StructType):
        out: list[str] = []
        for f in dt.fields:
            out += _decimal_paths(f.dataType, f"{path}.{f.name}")
        return out
    if isinstance(dt, T.ArrayType):
        return _decimal_paths(dt.elementType, path + "[]")
    if isinstance(dt, T.MapType):
        return _decimal_paths(dt.keyType, path + "<key>") + _decimal_paths(
            dt.valueType, path + "<value>"
        )
    return []


# ---------------------------------------------------------------------------
# (e) shuffle budget: every query's Exchange / BroadcastExchange node counts
# are pinned to tests/shuffle_budget.json. EQUALITY, not <=, on both
# counts: an extra shuffle is a plan regression a benchmark would only
# catch late; a disappearing one is also a plan change a human should see.
# Update deliberately via `python tools/make_shuffle_budget.py` and
# commit the diff.
# ---------------------------------------------------------------------------

_BUDGET_PATH = os.path.join(os.path.dirname(__file__), "shuffle_budget.json")
try:
    with open(_BUDGET_PATH) as _f:
        _BUDGET_FILE = json.load(_f)
except FileNotFoundError:  # pre-generation bootstrap only
    _BUDGET_FILE = {"budgets": {}}
_SHUFFLE_BUDGET = _BUDGET_FILE["budgets"]

_EXCHANGE_RE = re.compile(r"\bExchange ")  # word boundary: excludes
# Broadcast/ReusedExchange (no boundary mid-identifier)
_BROADCAST_RE = re.compile(r"\bBroadcastExchange\b")


def count_exchanges(plan: str) -> dict[str, int]:
    return {
        "exchange": len(_EXCHANGE_RE.findall(plan)),
        "broadcast": len(_BROADCAST_RE.findall(plan)),
    }


def _clean_build(spark, spec: QuerySpec, sf_dir: str):
    # Build each plan from a CLEAN cache state: CacheManager rewrites any
    # matching logical subtree to an InMemoryRelation, so a cache left by
    # an earlier query would change this query's plan shape (and its
    # exchange counts) depending on test order.
    spark.catalog.clearCache()
    scan.release_rank_caches()
    return spec.fn(spark, sf_dir)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def clean_plan(spark, spec: QuerySpec, sf_dir: str) -> str:
    """The executed plan of a clean build, as the gate sees it;
    tools/make_shuffle_budget.py records its exchange counts."""
    return _executed_plan(_clean_build(spark, spec, sf_dir))


class Verdict(NamedTuple):
    problems: dict[str, list[str]]  # per check; empty lists mean it passes
    plan: str  # the executed plan the gate read


def check_registered_query(spark, sf_dir: str, duck, name: str) -> Verdict:
    """Build `name` once and return every problem found with it, per check:
    "decimal" (the output schema), "plan" (the gate) and "parity" (the
    oracle, or rows-only), with the executed plan it checked."""
    spec = REGISTRY[name]
    problems: dict[str, list[str]] = {"decimal": [], "plan": [], "parity": []}
    try:
        df = _clean_build(spark, spec, sf_dir)

        offending = _decimal_paths(df.schema, "")
        if offending:
            problems["decimal"].append(
                f"{name}: DecimalType in output schema at {offending} — cast to "
                "DOUBLE (or BIGINT if provably integral) on BOTH engines; see "
                "queries/relational.py:16 and the r8 q_weighted_median driver-red"
            )

        # the plan before any action: AQE re-plans once stages run
        plan = _executed_plan(df)
        if "CartesianProduct" in plan:
            problems["plan"].append(f"{name}: CartesianProduct")

        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" in line:
                child = lines[i + 1] if i + 1 < len(lines) else ""
                ok = any(p.search(child) for p in _BOUNDED_SINGLE_PARTITION)
                waiver = _SINGLE_PARTITION_WAIVERS.get(name)
                if not (ok or (waiver is not None and waiver.search(child))):
                    problems["plan"].append(
                        f"{name}: Exchange SinglePartition over a non-bounded "
                        f"frame:\n{child}"
                    )

        py_eval = _PY_EVAL.search(plan)
        if py_eval and name not in _PY_EVAL_WAIVERS:
            problems["plan"].append(
                f"{name}: un-sanctioned Python evaluation node ({py_eval.group()})"
            )
        arrow = _ARROW_KERNEL.search(plan)
        if arrow and name not in _ARROW_KERNEL_WAIVERS:
            problems["plan"].append(
                f"{name}: un-sanctioned Arrow kernel ({arrow.group()})"
            )
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_WAIVERS:
            problems["plan"].append(
                f"{name}: BroadcastNestedLoopJoin without a waiver — either "
                "re-plan as an equi/broadcast-hash join or add a waiver "
                "documenting why the build side is bounded"
            )

        sf_label = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
        budget = _SHUFFLE_BUDGET.get(sf_label, {}).get(name)
        # A registered query with NO pinned budget is a gate FAILURE, not a
        # skip: a silent skip would let an unbudgeted query slip in unseen.
        if budget is None:
            problems["plan"].append(
                f"{name}: no shuffle-budget entry for sf{sf_label} — run "
                "`python tools/make_shuffle_budget.py` (or tools/refresh_evidence.py) "
                "and commit tests/shuffle_budget.json"
            )
        elif count_exchanges(plan) != budget:
            problems["plan"].append(
                f"{name}: exchange counts changed (got {count_exchanges(plan)}, "
                f"budget {budget}) — if the plan change is deliberate, regenerate "
                "with `python tools/make_shuffle_budget.py` and commit"
            )

        if spec.oracle:
            ok, msg = compare(df, duck, spec.oracle)
            if not ok:
                problems["parity"].append(f"{name}: {msg}")
        else:
            df.count()
            if not df.columns:
                problems["parity"].append(f"{name}: no output columns")
    finally:
        # frames the build persisted must not leak into the next test
        scan.release_rank_caches()
    return Verdict(problems, plan)


_CHECKED: dict[tuple[str, str], Verdict | Exception] = {}


def _checked(spark, sf_dir: str, duck, name: str) -> Verdict:
    """`check_registered_query`, run once per (scale, query) per session;
    every later call returns (or re-raises) the first call's verdict."""
    key = (sf_dir, name)
    if key not in _CHECKED:
        try:
            _CHECKED[key] = check_registered_query(spark, sf_dir, duck, name)
        except Exception as e:  # a build error fails every reader
            _CHECKED[key] = e
    verdict = _CHECKED[key]
    if isinstance(verdict, Exception):
        raise verdict
    return verdict


def checked_query(spark, sf_dir: str, duck, name: str) -> dict[str, list[str]]:
    """The memoized problems of `name`, per check."""
    return _checked(spark, sf_dir, duck, name).problems


def checked_plan(spark, sf_dir: str, duck, name: str) -> str:
    """The memoized executed plan of `name`."""
    return _checked(spark, sf_dir, duck, name).plan


def test_budget_file_matches_registry(spark):
    """The budget file pins exactly the registered queries at every scale
    it records, under the partition count the test session plans with."""
    assert _BUDGET_FILE["shuffle_partitions"] == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    for label, per_sf in sorted(_SHUFFLE_BUDGET.items()):
        assert set(per_sf) == set(REGISTRY), (
            f"shuffle_budget sf{label}: missing or stale "
            f"{sorted(set(per_sf) ^ set(REGISTRY))} — run "
            "`python tools/make_shuffle_budget.py` and commit"
        )


def test_check_reports_every_problem(spark, sf_dir, duck, monkeypatch):
    """One failing check does not hide the next: a decimal output, a
    missing budget and a wrong oracle are all reported together."""
    name = "_decimal_unbudgeted_wrong"
    fn = lambda s, _: s.sql("SELECT CAST(1.5 AS DECIMAL(18,2)) AS x")  # noqa: E731
    monkeypatch.setitem(REGISTRY, name, QuerySpec(name, fn, "SELECT 2.0 AS x"))
    problems = check_registered_query(spark, sf_dir, duck, name).problems
    assert [len(v) for v in problems.values()] == [1, 1, 1], problems
    assert "DecimalType in output schema at ['.x']" in problems["decimal"][0]
    assert "no shuffle-budget entry" in problems["plan"][0]
    assert "value mismatch" in problems["parity"][0]
