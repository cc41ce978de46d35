"""End-to-end listings pipeline: extract -> transform -> merge -> finalize -> load.

Reference: DataPipeline (src/etl/datapipeline.py:60-189) — eager pandas,
whole dataset through driver RAM, stage-by-stage materialization. Here the
equivalent is ONE lazy DataFrame graph per run: per-platform CSV scan ->
typed select block -> unionByName -> final cast select -> write. Catalyst
fuses it; the only action is the sink write.

Error semantics preserved (datapipeline.py:64-91, :127-141):
- platform skipped when its date resolves to None / file missing / empty;
- a transformer error (e.g. cian) aborts the run with status 'error';
- result dict mirrors the reference's per-run status payload.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..plans.finalize import finalize_unified
from ..plans.merger import merge_unified
from ..plans.transformers import TRANSFORMERS
from ..schema import PLATFORMS
from ..sinks.writers import write_csv, write_parquet
from ..sources.csv_source import read_platform_csv
from ..sources.resolver import list_local_catalog, resolve_dates


@dataclass
class PipelineConfig:
    data_dir: str  # folder containing <platform>_<YYYYMMDD>.csv
    output_path: str
    output_format: str = "parquet"  # parquet | csv
    platforms: tuple[str, ...] = PLATFORMS
    test_row_limit: int | None = None  # reference test mode: 5000
    csv_multiline: bool = False  # opt-in: unsplittable reads (csv_source)


def run_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    request: dict[str, str | None] | None = None,
) -> dict[str, Any]:
    """Run one ETL cycle; returns the reference-shaped status dict."""
    request = request or {p: "latest" for p in config.platforms}
    catalog = list_local_catalog(config.data_dir, config.platforms)
    try:
        dates = resolve_dates(request, catalog)
    except ValueError as exc:
        return {"status": "error", "stage": "resolve", "message": str(exc)}

    frames: list[DataFrame] = []
    statuses: dict[str, Any] = {}
    for platform in config.platforms:
        date = dates.get(platform)
        if date is None:
            statuses[platform] = {"status": "skipped", "reason": "no date"}
            continue
        transformer = TRANSFORMERS.get(platform)
        if transformer is None:
            statuses[platform] = {"status": "skipped", "reason": "no transformer"}
            continue
        path = os.path.join(config.data_dir, f"{platform}_{date}.csv")
        raw = read_platform_csv(
            spark, path, limit=config.test_row_limit, multiline=config.csv_multiline
        )
        if raw is None:
            statuses[platform] = {"status": "skipped", "reason": "missing file"}
            continue
        try:
            transformed = transformer(raw)
        except Exception as exc:  # cian's NotImplementedError path (§1.4.6)
            return {
                "status": "error",
                "stage": "transform",
                "platform": platform,
                "message": str(exc),
                "platforms": statuses,
            }
        frames.append(transformed)
        statuses[platform] = {"status": "ok", "date": date}

    merged = merge_unified(frames)
    if merged is None:
        return {"status": "error", "stage": "merge", "message": "no data extracted",
                "platforms": statuses}

    final = finalize_unified(merged)
    try:
        if config.output_format == "csv":
            write_csv(final, config.output_path)
        else:
            write_parquet(final, config.output_path)
    except Exception as exc:
        return {"status": "error", "stage": "load", "message": str(exc),
                "platforms": statuses}

    return {"status": "success", "platforms": statuses,
            "output": config.output_path}
