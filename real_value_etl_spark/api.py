"""REST control plane — reference parity for `POST /etl/start`
(reference main.py:10-65; SURVEY.md §2.11 C1).

The service owns a long-lived SparkSession and submits the ETL pipeline per
request; platform dates resolve exactly like the reference
(`latest` / `skip` / explicit `YYYYMMDD` / null, checking_s3_data.py:94-144)
via sources/resolver.py. Import-gated: fastapi is not part of the engine's
core dependencies (this container ships none), so `create_app` raises a
clear error instead of failing at import time.

Run: `uvicorn 'real_value_etl_spark.api:create_app(...)'` after
`pip install fastapi uvicorn`.
"""

from __future__ import annotations

from typing import Optional


def handle_etl_start(spark, config, platforms: dict) -> dict:
    """Transport-free core of `POST /etl/start`: request body in, the
    reference-shaped status dict out (success/error + per-platform
    statuses). The fastapi layer below is a thin wrapper over this, so
    the endpoint's behavior is unit-testable in this container even
    though the HTTP transport itself is import-gated (no fastapi here).
    Date semantics (`latest` / `skip` / explicit `YYYYMMDD` / null) and
    every failure mode (unresolvable date, missing file, transform error)
    are run_pipeline's — the endpoint adds nothing but transport."""
    from .plans.pipeline import run_pipeline

    return run_pipeline(spark, config, platforms)


def root_message() -> dict:
    """GET / payload (reference main.py:27-31)."""
    return {"message": "real-value-etl-spark control plane"}


def handle_list_queries() -> dict:
    """Transport-free core of `GET /queries`: the registered analytics
    catalog — name, tags, whether a DuckDB oracle exists, and the
    docstring summary. This is the discovery surface a user switching
    from the reference gets beyond the fixed ETL pipeline (the reference
    exposes only /etl/start)."""
    from .queries import all_queries  # noqa: F401 - populates REGISTRY
    from .queries.registry import REGISTRY

    return {
        "queries": [
            {
                "name": name,
                "tags": list(spec.tags),
                "has_oracle": spec.oracle is not None,
                "doc": spec.doc.split("\n")[0] if spec.doc else "",
            }
            for name, spec in REGISTRY.items()
        ]
    }


def handle_run_query(
    spark, name: str, sf_dir: str, limit: int = 1000
) -> dict:
    """Transport-free core of `POST /query/{name}`: run one registered
    query against `sf_dir` and return up to `limit` rows as JSON-safe
    dicts plus the schema. Unknown names, and any exception raised while
    building or collecting the query, return an error dict (the latter
    carrying the exception's class and message) — never an exception
    across the API boundary. `limit` bounds the driver-side collect; bulk
    extraction belongs to the parquet/ORC sinks, not a REST response."""
    from .operators import scan
    from .queries import all_queries  # noqa: F401
    from .queries.registry import REGISTRY

    spec = REGISTRY.get(name)
    if spec is None:
        return {"status": "error", "error": f"unknown query: {name}"}
    scope = scan.PERSIST_SCOPE.set([])
    try:
        df = spec.fn(spark, sf_dir)
        rows = df.limit(limit).collect()
        return {
            "status": "success",
            "name": name,
            "schema": [
                {"name": f.name, "type": f.dataType.simpleString()}
                for f in df.schema.fields
            ],
            "n_rows": len(rows),
            "rows": [r.asDict(recursive=True) for r in rows],
        }
    except Exception as exc:
        return {
            "status": "error",
            "name": name,
            "error_class": type(exc).__name__,
            "error": str(exc),
        }
    finally:
        # Request-end release of the frames this request persisted
        # (operators/scan.py, CACHE LIFECYCLE): left cached, they would
        # accumulate and serve stale rows to later requests once the
        # input files change. Only this request's scope is released;
        # concurrent requests keep theirs.
        scan.release_rank_caches()
        scan.PERSIST_SCOPE.reset(scope)


def create_app(data_dir: str, output_path: str, output_format: str = "parquet"):
    try:
        from fastapi import FastAPI
        from pydantic import BaseModel
    except ImportError as exc:  # pragma: no cover - not shipped here
        raise RuntimeError(
            "fastapi/pydantic are required for the REST control plane: "
            "pip install fastapi uvicorn"
        ) from exc

    from .plans.pipeline import PipelineConfig
    from .session import get_spark

    class PlatformRequest(BaseModel):  # reference main.py:10-21
        platforms: dict[str, Optional[str]]

    app = FastAPI(title="real-value-etl-spark")
    spark = get_spark(app_name="rve-api")
    config = PipelineConfig(
        data_dir=data_dir, output_path=output_path, output_format=output_format
    )

    @app.get("/")  # reference main.py:27-31
    def root():
        return root_message()

    @app.post("/etl/start")  # reference main.py:34-65
    def etl_start(req: PlatformRequest):
        return handle_etl_start(spark, config, req.platforms)

    @app.get("/queries")  # analytics catalog (beyond reference parity)
    def list_queries():
        return handle_list_queries()

    @app.post("/query/{name}")
    def run_query(name: str, sf_dir: str, limit: int = 1000):
        return handle_run_query(spark, name, sf_dir, limit)

    return app
