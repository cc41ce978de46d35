"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

- planted wrong answers (a dropped ETL output row, a missing or altered
  query row, a lost near-duplicate pair) are caught by the result checks;
- a tiny-size run of each workload, untraced and traced, prints every
  named metric with its unit and reports error_rate 0.
- a run whose timed ops all raise still prints a result line, marked
  incorrect; without the engine the command fails without one.

The smoke runs start one Spark session each (about a minute apiece).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, REPO)

import checks  # noqa: E402
import inputs  # noqa: E402

BENCH = json.load(open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8"))


@pytest.fixture(scope="module")
def cache(tmp_path_factory):
    return str(tmp_path_factory.mktemp("inputs"))


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------
def _files(path: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_generators_are_deterministic(cache, tmp_path):
    for gen in (inputs.etl_inputs, inputs.query_tables, inputs.corpus):
        a_dir, a = gen(cache, "tiny", 11)
        b_dir, b = gen(str(tmp_path), "tiny", 11)
        assert a == b
        assert _files(a_dir) == _files(b_dir)
        c_dir, _ = gen(str(tmp_path), "tiny", 12)
        assert _files(c_dir) != _files(a_dir)


def test_planted_jaccard_matches_definition(cache):
    assert inputs.jaccard("a b c d e", "a b c d e") == 1.0
    assert inputs.jaccard("a b c d", "a b c x") == 1 / 3
    assert inputs.jaccard("a  b c", "a b c") == 1.0  # empty tokens are dropped
    _, facts = inputs.corpus(cache, "tiny", 3)
    jacs = [j for _, _, j in facts["planted_pairs"]]
    assert facts["planted_pairs_above"] == sum(j >= facts["threshold"] for j in jacs) >= 1


# ---------------------------------------------------------------------------
# planted wrong answers
# ---------------------------------------------------------------------------
def test_response_check_catches_a_dropped_row():
    cols = ["k", "v"]
    rows = [(i, i * 0.5) for i in range(5)]
    oracle = checks.canonical(cols, rows)
    resp = {"status": "success", "schema": [{"name": c} for c in cols],
            "n_rows": 5, "rows": [{"k": k, "v": v} for k, v in rows]}
    assert checks.check_response(resp, oracle, 1000) == []
    dropped = dict(resp, n_rows=4, rows=resp["rows"][:-1])
    assert checks.check_response(dropped, oracle, 1000)
    altered = dict(resp, rows=resp["rows"][:-1] + [{"k": 4, "v": 2.5000001}])
    assert checks.check_response(altered, oracle, 1000)
    truncated = dict(resp, n_rows=3, rows=resp["rows"][:3])
    assert checks.check_response(truncated, oracle, 3) == []
    assert checks.check_full(cols, rows[:-1], oracle)


def test_planted_pair_checks_catch_a_lost_pair(cache):
    _, facts = inputs.corpus(cache, "tiny", 3)
    above = [p for p in facts["planted_pairs"] if p[2] >= facts["threshold"]]
    pairs = [{"doc_a": a, "doc_b": b, "jac": j} for a, b, j in above]
    assert checks.check_planted_pairs(pairs, facts) == []
    assert checks.check_planted_pairs(pairs[1:], facts)
    comps = [{"node": n, "component": 0} for a, b, _ in above for n in (a, b)]
    assert checks.check_planted_components(comps, facts) == []
    split = [dict(r, component=r["node"]) for r in comps]
    assert checks.check_planted_components(split, facts)
    exact = [{"keeper_id": g[0], "n_dups": len(g)} for g in facts["exact_groups"]]
    assert checks.check_planted_exact(exact, facts) == []
    assert checks.check_planted_exact([dict(r, n_dups=1) for r in exact], facts)


def test_etl_check_catches_a_dropped_row(cache, tmp_path):
    """Run one real tiny refresh, then drop one output row: the check
    that passed on the real output must fail on the tampered one."""
    import pyarrow.parquet as pq
    from real_value_etl_spark.api import handle_etl_start
    from real_value_etl_spark.plans.pipeline import PipelineConfig
    from real_value_etl_spark.schema import UNIFIED_SCHEMA
    from real_value_etl_spark.session import get_spark

    data_dir, facts = inputs.etl_inputs(cache, "tiny", 5)
    out = str(tmp_path / "out")
    spark = get_spark(app_name="perfbench-test", master="local[2]")
    try:
        result = handle_etl_start(spark, PipelineConfig(data_dir=data_dir, output_path=out),
                                  {"domclick": "latest", "yandex": "latest",
                                   "avito": "latest", "cian": "skip"})
    finally:
        spark.stop()
    assert checks.check_etl(result, out, facts, UNIFIED_SCHEMA) == []
    part = sorted(p for p in os.listdir(out) if p.endswith(".parquet"))[0]
    table = pq.read_table(os.path.join(out, part))
    pq.write_table(table.slice(1), os.path.join(out, part))
    assert any("rows" in p for p in checks.check_etl(result, out, facts, UNIFIED_SCHEMA))


# ---------------------------------------------------------------------------
# smoke runs
# ---------------------------------------------------------------------------
def _run(workload: str, trace: int) -> tuple[str, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
        cwd=REPO, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return proc.stdout, json.loads(lines[-1])


# Report lines every untraced run prints, beyond the result line's metrics.
REPORTED = {
    "etl_refresh": ["op_tail_s", "peak_rss_mb", "error_rate", "etl_rows_per_s",
                    "out_bytes_per_in_byte"],
    "query_mix": ["op_tail_s", "peak_rss_mb", "error_rate", "queries_per_s"],
    "corpus_dedup": ["op_tail_s", "peak_rss_mb", "error_rate", "docs_per_s"],
}


@pytest.mark.parametrize("workload", sorted(REPORTED))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_prints_every_metric(workload, trace):
    stdout, result = _run(workload, trace)
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    assert "# error_rate = 0 fraction" in stdout
    for name in REPORTED[workload]:
        assert f"# {name} = " in stdout, name
    if trace:
        assert "# tracing overhead:" in stdout
    else:
        for m in BENCH["end_to_end"]:
            assert result["metrics"][m["name"]]["value"] > 0, m["name"]


def test_failing_window_still_prints_a_result(tmp_path):
    """Every op after the warm-up raises: the run still ends with a result
    line, marked incorrect, instead of a traceback."""
    script = tmp_path / "failing.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {HERE!r})
        import run, workloads
        op = workloads.EtlRefresh.op
        def failing(self, i):
            if i >= self.warmup_ops:
                raise RuntimeError("planted failure")
            return op(self, i)
        workloads.EtlRefresh.op = failing
        sys.exit(run.main(sys.argv[1:]))
    """))
    proc = subprocess.run(
        [sys.executable, str(script), "--workload", "etl_refresh", "--seed", "1",
         "--seconds", "1", "--trace", "0", "--size", "tiny"],
        cwd=REPO, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is False and result["metrics"] == {}
    assert 1 <= result["failed"] < result["attempted"]
    assert "planted failure" in proc.stdout


def test_missing_engine_fails_without_a_result(tmp_path):
    """Run from a directory holding only the benchmark: non-zero exit and
    no JSON result line."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
