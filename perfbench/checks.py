"""Result checks. Every function returns a list of problems (empty = the
result is right); a run counts an op with any problem as failed.

The checks read the program's outputs with DuckDB and pyarrow only, so a
check never adds work to the Spark session under test.
"""

from __future__ import annotations

import glob
import json
import math
import os
from collections import Counter
from datetime import date, datetime

import duckdb

ORACLE_TABLES = ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents")


# ---------------------------------------------------------------------------
# etl_refresh
# ---------------------------------------------------------------------------
def check_etl(result: dict, out_dir: str, facts: dict, unified_schema) -> list[str]:
    """`result` is the handle_etl_start response, `out_dir` the parquet
    output it wrote, `unified_schema` the engine's `schema.UNIFIED_SCHEMA`."""
    problems = []
    if result.get("status") != "success":
        return [f"status {result.get('status')!r}: {result.get('message')}"]
    parts = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not parts:
        return ["no parquet part files written"]
    problems += _check_spark_schema(parts[0], unified_schema)
    files = f"read_parquet({json.dumps(parts)})".replace('"', "'")
    con = duckdb.connect()
    try:
        n, n_uid = con.execute(f"SELECT count(*), count(DISTINCT uid) FROM {files}").fetchone()
        if n != facts["expected_rows"]:
            problems.append(f"rows {n} != planted distinct-key count {facts['expected_rows']}")
        if n_uid != n:
            problems.append(f"uid not unique: {n_uid} distinct of {n}")
        planted = facts["planted_uint8"]
        keys = ", ".join(f"({x['platform_id']}, {x['listing_id']})" for x in planted)
        got = {
            (p, lid): (fl, hf, by)
            for p, lid, fl, hf, by in con.execute(
                f"SELECT platform_id, listing_id, floor, house_floors, built_year_offer "
                f"FROM {files} JOIN (VALUES {keys}) v(p, l) "
                f"ON platform_id = v.p AND listing_id = v.l"
            ).fetchall()
        }
    finally:
        con.close()
    for x in planted:
        row = got.get((x["platform_id"], x["listing_id"]))
        if row is None:
            problems.append(f"planted uint8 row {x['platform_id']}/{x['listing_id']} missing")
            continue
        want = (x["floor"], x.get("house_floors", row[1]), x.get("built_year_offer", row[2]))
        if tuple(row) != want:
            problems.append(f"uint8 wrap wrong for {x['platform_id']}/{x['listing_id']}: "
                            f"{tuple(row)} != {want}")
    return problems


def _check_spark_schema(part_file: str, unified_schema) -> list[str]:
    """Compare the Spark schema stored in the parquet footer (names and
    types; parquet round trips make every field nullable) with the
    declared unified schema."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    meta = pq.read_schema(part_file).metadata or {}
    raw = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
    if raw is None:
        return ["parquet footer carries no Spark schema"]
    got = [(f.name, f.dataType.simpleString()) for f in StructType.fromJson(json.loads(raw)).fields]
    want = [(f.name, f.dataType.simpleString()) for f in unified_schema.fields]
    if got != want:
        diff = [(a, b) for a, b in zip(got, want) if a != b][:3]
        return [f"schema != UNIFIED_SCHEMA ({len(got)} vs {len(want)} fields; first diffs {diff})"]
    return []


# ---------------------------------------------------------------------------
# query_mix / corpus_dedup: DuckDB oracle
# ---------------------------------------------------------------------------
def oracle_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ORACLE_TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def oracle_rows(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def _norm(v):
    """Comparable form of one cell. Doubles compare at 12 significant
    digits: the exact-decimal aggregation makes both engines agree far
    beyond that, and a wrong answer differs far more."""
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.12g}")
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "as_integer_ratio") and not isinstance(v, int):  # Decimal
        return float(f"{float(v):.12g}")
    return v


def canonical(cols: list[str], rows: list) -> tuple[list[str], Counter]:
    """Column names sorted, rows as a multiset of normalized tuples in
    that column order. `rows` are tuples in `cols` order or dicts."""
    order = sorted(cols)
    idx = [cols.index(c) for c in order]
    out = Counter()
    for r in rows:
        vals = [r[c] for c in order] if isinstance(r, dict) else [r[i] for i in idx]
        out[tuple(_norm(v) for v in vals)] += 1
    return order, out


def check_response(resp: dict, oracle: tuple[list[str], Counter], limit: int) -> list[str]:
    """Per-request check of an API response against the oracle result:
    success, the oracle's column names, n_rows == min(limit, oracle rows),
    and every returned row is an oracle row (the full result when the
    response was not truncated)."""
    if resp.get("status") != "success":
        return [f"status {resp.get('status')!r}: {resp.get('error')}"]
    cols, want = oracle
    got_cols = [f["name"] for f in resp["schema"]]
    if sorted(got_cols) != cols:
        return [f"columns {sorted(got_cols)} != oracle {cols}"]
    n_oracle = sum(want.values())
    if resp["n_rows"] != min(limit, n_oracle) or len(resp["rows"]) != resp["n_rows"]:
        return [f"n_rows {resp['n_rows']} != min({limit}, oracle {n_oracle})"]
    _, got = canonical(got_cols, resp["rows"])
    extra = got - want
    if extra:
        return [f"{sum(extra.values())} returned rows not in the oracle result, e.g. {next(iter(extra))}"]
    return []


def check_full(cols: list[str], rows: list, oracle: tuple[list[str], Counter]) -> list[str]:
    """Full-result equality (multiset) with the oracle."""
    order, got = canonical(cols, rows)
    want_cols, want = oracle
    if order != want_cols:
        return [f"columns {order} != oracle {want_cols}"]
    if got != want:
        missing, extra = want - got, got - want
        return [f"full result differs: {sum(missing.values())} oracle rows missing, "
                f"{sum(extra.values())} extra rows"]
    return []


# ---------------------------------------------------------------------------
# corpus_dedup: planted facts
# ---------------------------------------------------------------------------
def check_planted_pairs(pairs: list[dict], facts: dict) -> list[str]:
    """Every planted pair at or above the threshold is in the exact
    Jaccard result, with its planted Jaccard."""
    got = {(r["doc_a"], r["doc_b"]): r["jac"] for r in pairs}
    problems = []
    for a, b, jac in facts["planted_pairs"]:
        if jac < facts["threshold"]:
            continue
        if (a, b) not in got:
            problems.append(f"planted pair ({a}, {b}) jac={jac:.4f} missing")
        elif abs(got[(a, b)] - jac) > 1e-12:
            problems.append(f"pair ({a}, {b}) jac {got[(a, b)]} != planted {jac}")
    return problems[:5]


def check_planted_components(rows: list[dict], facts: dict) -> list[str]:
    comp = {r["node"]: r["component"] for r in rows}
    problems = []
    for a, b, jac in facts["planted_pairs"]:
        if jac >= facts["threshold"] and (comp.get(a) is None or comp.get(a) != comp.get(b)):
            problems.append(f"planted pair ({a}, {b}) not in one component")
    return problems[:5]


def check_planted_exact(rows: list[dict], facts: dict) -> list[str]:
    by_keeper = {r["keeper_id"]: r["n_dups"] for r in rows}
    problems = []
    for grp in facts["exact_groups"]:
        if by_keeper.get(grp[0]) != len(grp):
            problems.append(f"exact group keeper {grp[0]}: n_dups "
                            f"{by_keeper.get(grp[0])} != {len(grp)}")
    return problems[:5]


PLANTED_CHECKS = {
    "dedup_exact_docs": check_planted_exact,
    "dedup_jaccard_prefix": check_planted_pairs,
    "graph_components_star": check_planted_components,
}
