"""The three workloads. Each one drives the engine only through its
public entry points (`api.handle_etl_start`, `api.handle_run_query`),
checks every result, and knows how to trace its own layers.

Interface used by run.py:
- `generate(root, size, seed)` (static): write the seeded inputs, return
  (inputs dict, facts); never timed.
- `prepare()`: untimed set-up of the checks (DuckDB oracle results).
- `op(i)`: one timed user operation; `check(i, result)` returns problems.
- `final_checks()`: once per run, after the timed window, untimed.
- `install_trace(tracer, patches)`, `after_traced_op(tracer)`,
  `probe_counts()`, `layer_metrics(tracer, jobs, n_ops, cores)`: the
  traced run only.
"""

from __future__ import annotations

import os
import random
import shutil

import checks
import inputs

QUERY_MIX = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_forecast_revenue", "q17_small_quantity", "q_top_customers",
    "q_window_order_rank", "q_rollup_returnflag", "q_ship_lag",
    "events_sessionize", "events_tumbling_agg", "asof_purchase_login",
)
CORPUS_DEDUP = (
    "dedup_exact_docs", "dedup_minhash_lsh", "dedup_jaccard_prefix",
    "graph_components_star",
)
LIMIT = 1000  # the API's default response limit

def _session_metrics(tracer, jobs, n_ops: int, root: str, cores: int) -> dict:
    """session.* per op over the jobs submitted inside the traced ops."""
    from tracing import jobs_under, sum_jobs

    mine = sum_jobs(jobs_under(jobs, tracer.spans, {root}))
    op_s = tracer.total(root)
    return {
        "session.task_run_s": mine["run_s"] / n_ops,
        "session.task_cpu_s": mine["cpu_s"] / n_ops,
        "session.gc_s": mine["gc_s"] / n_ops,
        "session.shuffle_write_bytes": mine["shuffle_write_bytes"] / n_ops,
        "session.shuffle_read_bytes": mine["shuffle_read_bytes"] / n_ops,
        "session.shuffle_fetch_wait_s": mine["fetch_wait_s"] / n_ops,
        "session.spill_bytes": mine["spill_bytes"] / n_ops,
        "session.core_busy_frac": mine["run_s"] / (op_s * cores) if op_s else 0.0,
        "session.jobs": mine["jobs"] / n_ops,
        "session.tasks": mine["tasks"] / n_ops,
    }


def _dir_listing(path: str) -> tuple[int, int]:
    files = [f for f in os.listdir(path) if f.endswith(".parquet")] if os.path.isdir(path) else []
    return sum(os.path.getsize(os.path.join(path, f)) for f in files), len(files)


# ---------------------------------------------------------------------------
class EtlRefresh:
    """Repeated full refreshes through `api.handle_etl_start`."""

    name = "etl_refresh"
    # the cold first refresh (about 4x a warm one), then three while the
    # JIT settles; later refreshes drift down by a few percent at most
    warmup_ops = 4
    cycle = 1
    root_span = "api.etl_start"
    REQUEST = {"domclick": "latest", "yandex": "latest", "avito": "latest", "cian": "skip"}

    @staticmethod
    def generate(root: str, size: str, seed: int):
        path, facts = inputs.etl_inputs(root, size, seed)
        return {"data_dir": path}, facts

    def __init__(self, data: dict, facts: dict, work_dir: str, seed: int):
        from real_value_etl_spark.plans.pipeline import PipelineConfig

        self.spark, self.facts = None, facts
        self.out_dir = os.path.join(work_dir, "etl_out")
        shutil.rmtree(self.out_dir, ignore_errors=True)
        self.config = PipelineConfig(data_dir=data["data_dir"], output_path=self.out_dir,
                                     output_format="parquet")
        self._raw, self._final, self._paths = [], None, []
        self.bytes_in = 0

    def describe(self) -> dict:
        return {"input_rows": self.facts["input_rows"], "csv_bytes": self.facts["csv_bytes"],
                "expected_rows": self.facts["expected_rows"]}

    def prepare(self) -> None:
        pass

    def label(self, i: int) -> str:
        return "refresh"

    def op(self, i: int):
        from real_value_etl_spark import api

        return api.handle_etl_start(self.spark, self.config, dict(self.REQUEST))

    def check(self, i: int, result) -> list[str]:
        from real_value_etl_spark.schema import UNIFIED_SCHEMA

        return checks.check_etl(result, self.out_dir, self.facts, UNIFIED_SCHEMA)

    def final_checks(self) -> dict[str, list[str]]:
        return {}

    def probe_counts(self) -> dict:
        return {}

    def extra_report(self, ops_per_s: float) -> dict:
        out_bytes, _ = _dir_listing(self.out_dir)
        return {
            "etl_rows_per_s": (self.facts["input_rows"] * ops_per_s, "input rows/s"),
            "out_bytes_per_in_byte": (out_bytes / self.facts["csv_bytes"], "ratio"),
        }

    # -- traced run --------------------------------------------------------
    def install_trace(self, tracer, patches) -> None:
        from real_value_etl_spark import api
        from real_value_etl_spark.plans import pipeline

        patches.set(api, "handle_etl_start",
                    tracer.wrap(api.handle_etl_start, self.root_span))
        for fn in ("list_local_catalog", "resolve_dates"):
            patches.set(pipeline, fn, tracer.wrap(getattr(pipeline, fn), "sources.resolve"))
        patches.set(pipeline, "read_platform_csv", tracer.wrap(
            pipeline.read_platform_csv, "sources.csv_open",
            on_args=lambda spark, path, *a, **k: self._paths.append(path),
            on_result=lambda df: df is not None and self._raw.append(df)))
        patches.set(pipeline, "TRANSFORMERS", {
            p: tracer.wrap(fn, "plans.build") for p, fn in pipeline.TRANSFORMERS.items()})
        for fn in ("merge_unified", "finalize_unified"):
            patches.set(pipeline, fn, tracer.wrap(getattr(pipeline, fn), "plans.build"))
        patches.set(pipeline, "write_parquet", tracer.wrap(
            pipeline.write_parquet, "sinks.write",
            on_args=lambda df, *a, **k: setattr(self, "_final", df)))

    def after_traced_op(self, tracer) -> None:
        """Re-run the op's frames into Spark's `noop` sink: the raw CSV
        frames alone (scan cost), then the finalized frame (scan + plan
        execution), so the parquet write's own cost can be separated."""
        with tracer.span("probe"):
            for raw in self._raw:
                with tracer.span("sources.scan"):
                    raw.write.format("noop").mode("overwrite").save()
            if self._final is not None:
                with tracer.span("plans.exec_noop"):
                    self._final.write.format("noop").mode("overwrite").save()
        self.bytes_in = sum(os.path.getsize(p) for p in self._paths)
        self._raw, self._final, self._paths = [], None, []

    def layer_metrics(self, tracer, jobs, n_ops: int, cores: int) -> dict:
        from tracing import jobs_under, sum_jobs

        t = tracer.total
        scan = t("sources.scan") / n_ops
        noop_final = t("plans.exec_noop") / n_ops
        out_bytes, out_files = _dir_listing(self.out_dir)
        write_jobs = sum_jobs(jobs_under(jobs, tracer.spans, {self.root_span}, {"sinks.write"}))
        m = {
            "sources.resolve_s": t("sources.resolve") / n_ops,
            "sources.csv_open_s": t("sources.csv_open") / n_ops,
            "sources.scan_s": scan,
            "sources.input_bytes": float(self.bytes_in),
            "plans.build_s": t("plans.build") / n_ops,
            "plans.py4j_calls": t("plans.build", field="py4j") / n_ops,
            "plans.exec_s": noop_final - scan,
            "plans.shuffle_write_bytes": write_jobs["shuffle_write_bytes"] / n_ops,
            "sinks.write_s": t("sinks.write") / n_ops - noop_final,
            "sinks.output_bytes": float(out_bytes),
            "sinks.output_files": float(out_files),
            "api.self_s": tracer.self_times().get(self.root_span, {}).get("self_s", 0.0) / n_ops,
        }
        m.update(_session_metrics(tracer, jobs, n_ops, self.root_span, cores))
        return m


# ---------------------------------------------------------------------------
class _QueryWorkload:
    """A seeded request sequence over registered queries through
    `api.handle_run_query`: cycles through every query of `QUERIES` in a
    fresh seeded order, so each query repeats once per cycle."""

    QUERIES: tuple[str, ...] = ()
    root_span = "api.run_query"

    def __init__(self, data: dict, facts: dict, work_dir: str, seed: int):
        self.spark, self.facts, self.data_dir = None, facts, data["data_dir"]
        self.rng = random.Random(seed)
        self.sequence: list[str] = []
        self.oracle: dict = {}
        self.truncated: set[str] = set()
        self._last_rows = self._traced_rows = 0

    @property
    def warmup_ops(self) -> int:
        # one cycle: every query's first run is cold (a cycle takes 2-3x a
        # warm one); a query's second run is within about 10% of its later
        # runs, and the window's three cycles outweigh that
        return len(self.QUERIES)

    @property
    def cycle(self) -> int:
        return len(self.QUERIES)

    def label(self, i: int) -> str:
        while len(self.sequence) <= i:
            cycle = list(self.QUERIES)
            self.rng.shuffle(cycle)
            self.sequence += cycle
        return self.sequence[i]

    def prepare(self) -> None:
        from real_value_etl_spark.queries.registry import REGISTRY

        con = checks.oracle_connection(self.data_dir)
        try:
            for q in self.QUERIES:
                cols, rows = checks.oracle_rows(con, REGISTRY[q].oracle)
                self.oracle[q] = checks.canonical(cols, rows)
        finally:
            con.close()

    def op(self, i: int):
        from real_value_etl_spark import api

        return api.handle_run_query(self.spark, self.label(i), self.data_dir, limit=LIMIT)

    def check(self, i: int, result) -> list[str]:
        q = self.label(i)
        problems = checks.check_response(result, self.oracle[q], LIMIT)
        if not problems:
            if result["n_rows"] == LIMIT:
                self.truncated.add(q)
            elif q in checks.PLANTED_CHECKS:
                problems = checks.PLANTED_CHECKS[q](result["rows"], self.facts)
        return problems

    def final_checks(self) -> dict[str, list[str]]:
        """Full results of the queries whose responses were truncated,
        compared with the oracle (untimed, once per run)."""
        from real_value_etl_spark.queries.registry import REGISTRY

        out = {}
        for q in sorted(self.truncated):
            df = REGISTRY[q].fn(self.spark, self.data_dir)
            rows = [r.asDict(recursive=True) for r in df.collect()]
            problems = checks.check_full(df.columns, rows, self.oracle[q])
            if not problems and q in checks.PLANTED_CHECKS:
                problems = checks.PLANTED_CHECKS[q](rows, self.facts)
            if problems:
                out[q] = problems
        return out

    def probe_counts(self) -> dict:
        return {}

    # -- traced run --------------------------------------------------------
    def install_trace(self, tracer, patches) -> None:
        import dataclasses

        from pyspark.sql import DataFrame
        from real_value_etl_spark import api
        from real_value_etl_spark.operators import scan
        from real_value_etl_spark.queries.registry import REGISTRY

        patches.set(api, "handle_run_query", tracer.wrap(
            api.handle_run_query, self.root_span,
            on_result=lambda r: setattr(self, "_last_rows", r.get("n_rows", 0))))
        for q in self.QUERIES:
            spec = REGISTRY[q]
            patches.set_item(REGISTRY, q, dataclasses.replace(
                spec, fn=tracer.wrap(spec.fn, "queries.build")))
        patches.set(scan, "release_rank_caches",
                    tracer.wrap(scan.release_rank_caches, "api.release"))
        classes = {DataFrame}
        try:
            from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

            classes.add(ClassicDataFrame)
        except ImportError:
            pass
        for cls in classes:
            if "collect" in vars(cls):
                patches.set(cls, "collect", tracer.wrap(vars(cls)["collect"], "dataframe.collect"))

    def after_traced_op(self, tracer) -> None:
        self._traced_rows += self._last_rows

    def layer_metrics(self, tracer, jobs, n_ops: int, cores: int) -> dict:
        from tracing import jobs_under, sum_jobs

        t = tracer.total
        op_jobs = sum_jobs(jobs_under(jobs, tracer.spans, {self.root_span}))
        m = {
            "queries.build_s": t("queries.build") / n_ops,
            "queries.exec_s": t("dataframe.collect", parent_name=self.root_span) / n_ops,
            "queries.py4j_calls": t(self.root_span, field="py4j") / n_ops,
            "queries.jobs_per_op": op_jobs["jobs"] / n_ops,
            "queries.tasks_per_op": op_jobs["tasks"] / n_ops,
            "api.release_s": t("api.release") / n_ops,
            "api.self_s": tracer.self_times().get(self.root_span, {}).get("self_s", 0.0) / n_ops,
            "api.rows_returned": self._traced_rows / n_ops,
        }
        m.update(_session_metrics(tracer, jobs, n_ops, self.root_span, cores))
        return m


class QueryMix(_QueryWorkload):
    """Interactive read traffic over TPC-H-shaped tables and events."""

    name = "query_mix"
    QUERIES = QUERY_MIX

    @staticmethod
    def generate(root: str, size: str, seed: int):
        path, facts = inputs.query_tables(root, size, seed)
        return {"data_dir": path}, facts

    def describe(self) -> dict:
        return {"table_rows": self.facts["rows"], "distinct_queries": len(self.QUERIES)}

    def extra_report(self, ops_per_s: float) -> dict:
        return {"queries_per_s": (ops_per_s, "requests/s")}


class CorpusDedup(_QueryWorkload):
    """The LLM-data dedup path over a planted documents corpus."""

    name = "corpus_dedup"
    QUERIES = CORPUS_DEDUP

    @staticmethod
    def generate(root: str, size: str, seed: int):
        path, facts = inputs.corpus(root, size, seed)
        return {"data_dir": path}, facts

    def describe(self) -> dict:
        return {"docs": self.facts["docs"], "planted_pairs": len(self.facts["planted_pairs"]),
                "planted_pairs_above_threshold": self.facts["planted_pairs_above"],
                "exact_dup_groups": len(self.facts["exact_groups"])}

    def extra_report(self, ops_per_s: float) -> dict:
        return {"docs_per_s": (self.facts["docs"] * ops_per_s, "docs/s")}

    def probe_counts(self) -> dict:
        """Candidate and result pair counts of the two near-dup operators,
        and the shingle index size (run once, after the traced window)."""
        from real_value_etl_spark.operators import dedup
        from real_value_etl_spark.queries.registry import REGISTRY, table

        docs = table(self.spark, self.data_dir, "documents")
        idx = dedup.shingle_index(docs, "doc_id", "text")
        lsh_c = dedup.lsh_candidate_pairs(dedup.minhash_signatures(docs, "doc_id", "text")).count()
        pre_c = dedup.prefix_filtered_candidates(idx, inputs.JACCARD_THRESHOLD).count()
        lsh_p = REGISTRY["dedup_minhash_lsh"].fn(self.spark, self.data_dir).count()
        pre_p = REGISTRY["dedup_jaccard_prefix"].fn(self.spark, self.data_dir).count()
        return {
            "functions.text.shingle_rows": float(idx.count()),
            "operators.dedup.lsh_candidates": float(lsh_c),
            "operators.dedup.lsh_pairs": float(lsh_p),
            "operators.dedup.lsh_yield": lsh_p / lsh_c if lsh_c else 0.0,
            "operators.dedup.prefix_candidates": float(pre_c),
            "operators.dedup.prefix_pairs": float(pre_p),
            "operators.dedup.prefix_yield": pre_p / pre_c if pre_c else 0.0,
        }


WORKLOADS = {w.name: w for w in (EtlRefresh, QueryMix, CorpusDedup)}
