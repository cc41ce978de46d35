"""Request-scoped ownership of persisted frames (operators/scan.py).

Every frame the engine persists for a returned lazy plan is recorded in
the current request's PERSIST_SCOPE and released when that request ends:

- a request's frames are released even when nothing else ever touches
  them, so a rewritten input file is read again on the next request
  instead of being answered from Spark's CacheManager;
- one request's release leaves a concurrent request's frames alone;
- a static guard keeps every `.persist()` in the engine owned.

The derived copies some queries stage on disk follow the same rule: a
rewritten input gets a new stage, and building a query again leaves the
stage an earlier frame reads in place.
"""

from __future__ import annotations

import ast
import os
import shutil
import threading
from pathlib import Path

from pyspark.sql import functions as F

from real_value_etl_spark.api import handle_run_query
from real_value_etl_spark.operators import scan
from real_value_etl_spark.queries.registry import REGISTRY, QuerySpec

from .oracle_compare import compare, duck_connection

ENGINE = Path(__file__).resolve().parents[1] / "real_value_etl_spark"


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _rows(spark, name: str, sf_dir: str) -> list[str]:
    out = handle_run_query(spark, name, sf_dir)
    assert out["status"] == "success", out
    return sorted(map(repr, out["rows"]))


def _copy_tables(sf_dir: str, tmp_path) -> Path:
    data = tmp_path / "sf"
    data.mkdir()
    for f in os.listdir(sf_dir):
        shutil.copyfile(os.path.join(sf_dir, f), data / f)
    return data


def _rewrite(data: Path, table: str, keep: str) -> None:
    """Replace `table`'s parquet file in `data` with its rows where `keep`."""
    import duckdb

    path, tmp = data / f"{table}.parquet", data / f"{table}.new.parquet"
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM '{path}' WHERE {keep}) TO '{tmp}' (FORMAT parquet)"
    )
    con.close()
    os.replace(tmp, path)


# Queries whose returned plan reads a frame they persist themselves, one
# per rewritten table. The guard test below covers every other such site.
_SELF_PERSISTING = ("sim_kmeans_train", "text_tfidf_cosine_pairs")


def test_rewritten_inputs_are_read_again(spark, sf_dir, tmp_path):
    """Rewrite embeddings/documents in place between requests: the second
    request must return what a clean CacheManager returns, not the rows
    of a frame the first request left persisted."""
    data = _copy_tables(sf_dir, tmp_path)
    for name in _SELF_PERSISTING:
        _rows(spark, name, str(data))

    _rewrite(data, "embeddings", "vec_id % 3 <> 1")
    _rewrite(data, "documents", "doc_id % 3 <> 1")

    served = {n: _rows(spark, n, str(data)) for n in _SELF_PERSISTING}
    spark.catalog.clearCache()
    fresh = {n: _rows(spark, n, str(data)) for n in _SELF_PERSISTING}
    assert [n for n in _SELF_PERSISTING if served[n] != fresh[n]] == []


def test_staged_duckdb_copy_follows_rewritten_events(spark, sf_dir, tmp_path):
    """events_via_duckdb_source reads events from a DuckDB file it stages
    from events.parquet. After the parquet file is rewritten, the query must
    answer what its oracle answers on the new file. (A clearCache() rerun
    would read the same stale stage, so the oracle is the reference.)"""
    spec = REGISTRY["events_via_duckdb_source"]
    data = _copy_tables(sf_dir, tmp_path)
    _rows(spark, spec.name, str(data))
    _rewrite(data, "events", "event_id % 2 = 0")

    con = duck_connection(str(data))
    try:
        ok, msg = compare(spec.fn(spark, str(data)), con, spec.oracle)
    finally:
        con.close()
    assert ok, msg


def test_incremental_mv_frame_survives_a_second_build(spark, sf_dir, duck):
    """events_incremental_mv's frame reads the stored history state lazily.
    Building the query again, as a concurrent request does, must leave the
    state that the first frame reads in place."""
    spec = REGISTRY["events_incremental_mv"]
    first = spec.fn(spark, sf_dir)
    spec.fn(spark, sf_dir)
    ok, msg = compare(first, duck, spec.oracle)
    assert ok, msg


def test_release_leaves_concurrent_request_frames(spark, sf_dir, monkeypatch):
    """A request blocked after persisting a rank frame keeps it cached
    while another request completes and releases its own frames."""
    spark.catalog.clearCache()
    persisted, proceed = threading.Event(), threading.Event()
    held: dict = {}

    def blocked_rank(spark_, _sf_dir):
        df = spark_.range(0, 5000).select(F.col("id").alias("k"))
        ranked = scan.global_row_number(df, ["k"], "rn", n_partitions=4)
        held["frames"] = list(scan.PERSIST_SCOPE.get())
        persisted.set()
        assert proceed.wait(timeout=300)
        return ranked

    monkeypatch.setitem(
        REGISTRY, "_blocked_rank", QuerySpec("_blocked_rank", blocked_rank, None)
    )
    result: dict = {}
    t = threading.Thread(
        target=lambda: result.update(
            handle_run_query(spark, "_blocked_rank", sf_dir, limit=5)
        )
    )
    t.start()
    try:
        assert persisted.wait(timeout=300)
        out = handle_run_query(spark, "q_ntile_deciles", sf_dir, limit=5)
        assert out["status"] == "success", out
        assert len(held["frames"]) == 1
        assert held["frames"][0].storageLevel.useMemory  # still cached
    finally:
        proceed.set()
        t.join(timeout=300)
    assert not t.is_alive()
    assert result["status"] == "success", result
    assert not held["frames"][0].storageLevel.useMemory
    assert _cache_empty(spark)


def _unowned_persists(path: Path) -> list[str]:
    """`.persist()` / `.cache()` calls in `path` that are neither the scope
    helper's own nor assigned to a name the enclosing function also
    unpersists."""
    tree = ast.parse(path.read_text())
    parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    bad = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("persist", "cache")
        ):
            continue
        func = parent.get(node)
        while func is not None and not isinstance(func, ast.FunctionDef):
            func = parent.get(func)
        if func is not None and func.name == scan._persist_tracked.__name__:
            continue
        assign = parent.get(node)
        owned = (
            func is not None
            and isinstance(assign, ast.Assign)
            and len(assign.targets) == 1
            and isinstance(assign.targets[0], ast.Name)
            and any(
                isinstance(c, ast.Call)
                and isinstance(c.func, ast.Attribute)
                and c.func.attr == "unpersist"
                and isinstance(c.func.value, ast.Name)
                and c.func.value.id == assign.targets[0].id
                for c in ast.walk(func)
            )
        )
        if not owned:
            where = func.name if func is not None else "<module>"
            bad.append(f"{path.relative_to(ENGINE.parent)}:{node.lineno} in {where}")
    return bad


def test_every_engine_persist_has_an_owner():
    """A frame persisted for a returned lazy plan must go through
    `scan._persist_tracked` (released at request end); any other persist
    must be unpersisted by the function that made it."""
    bad = [b for p in sorted(ENGINE.rglob("*.py")) for b in _unowned_persists(p)]
    assert bad == []
