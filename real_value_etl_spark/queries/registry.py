"""Central query registry.

Every capability from SURVEY.md §2 that is demonstrable on the driver's
testdata tables registers here as a (spark_fn, oracle_sql) pair. The driver
contract (__spark_entry__.py) is generated from this registry, so the Spark
implementation and its DuckDB oracle can never drift apart by name.

Conventions (driver compare = row-count + schema + order-insensitive
value-hash with columns sorted by name):
- alias every computed column identically in Spark and SQL;
- aggregate doubles via per-row cast to DECIMAL then exact decimal SUM,
  cast back to DOUBLE (order-independent => bit-exact across engines);
- ties in any top-k are broken by a unique key column.
"""

from __future__ import annotations

import os
import stat
from collections.abc import Callable
from dataclasses import dataclass, field
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register fn(spark, sf_dir) -> DataFrame under `name`."""

    def deco(fn):
        if name in REGISTRY:
            # A silent overwrite means one of the two implementations is
            # dead code with a live-looking @register — and which one wins
            # depends on import order. Fail at import instead (caught in
            # round 8: a duplicate emb_power_iteration shadowed for a
            # whole session before its wrong schema surfaced in a test).
            raise ValueError(
                f"duplicate query registration: {name!r} "
                f"(existing: {REGISTRY[name].fn.__module__})"
            )
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tags, doc=(fn.__doc__ or "").strip()
        )
        return fn

    return deco


def ensure_session_confs(spark: SparkSession) -> None:
    """Set the runtime confs this engine's semantics depend on — the
    harness may hand us a session built WITHOUT our session.py factory
    (verified: a plain session fails on events.parquet and both confs are
    runtime-settable)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Disable per-Column-op call-site capture (2-3 Py4J round trips per
    # expression — ~half of plan-construction time; see session.py). The
    # conf itself is STATIC (settable only at session build, which our
    # factory does); for harness-owned sessions flip pyspark's process
    # cache directly — it is read on every wrapped op, so this takes
    # effect for all Column expressions built after table().
    try:  # private knob; tolerate its absence in other pyspark builds
        from pyspark.errors import utils as _pyspark_errors_utils

        _pyspark_errors_utils._enable_debugging_cache = False
    except (ImportError, AttributeError):  # pragma: no cover
        pass


# path -> (file signature, schema Spark inferred for it). One entry per
# path, replaced whenever the signature changes. Concurrent API threads need
# no lock: dict get/set is atomic, and each entry pairs a signature with a
# schema inferred after that signature was taken, so a racing writer can at
# worst leave an older entry that the next read re-infers.
_SCHEMAS: dict[str, tuple[object, StructType]] = {}


def _file_signature(path: str):
    """(inode, size, mtime_ns) of a file; for a directory, the sorted
    (relative path, inode, size, mtime_ns) of every file under it. None when
    the path is not local (a `scheme://` URI other than `file:`) or cannot
    be stat'ed."""
    url = urlsplit(path)
    if url.scheme and url.scheme != "file":
        return None
    local = url.path if url.scheme else path

    def raise_error(err: OSError) -> None:
        raise err

    try:
        st = os.stat(local)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_ino, st.st_size, st.st_mtime_ns)
        sig = []
        for root, _dirs, files in os.walk(local, onerror=raise_error, followlinks=True):
            for f in files:
                full = os.path.join(root, f)
                fst = os.stat(full)
                rel = os.path.relpath(full, local)
                sig.append((rel, fst.st_ino, fst.st_size, fst.st_mtime_ns))
        return tuple(sorted(sig))
    except OSError:
        return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` that infers the schema once per version of
    the path's files. Inference is a Spark job reading parquet footers; while
    the file signature is unchanged the cached schema is supplied instead, so
    the read starts no job. Spark still lists the files on every read, and
    every call returns a fresh DataFrame (a shared one would give self-joins
    the same attribute ids)."""
    sig = _file_signature(path)
    entry = _SCHEMAS.get(path)
    if sig is not None and entry is not None and entry[0] == sig:
        return spark.read.schema(entry[1]).parquet(path)
    df = spark.read.parquet(path)
    if sig is not None:
        _SCHEMAS[path] = (sig, df.schema)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver parquet table (lazy scan; pushdown-friendly).

    `events.ts` is physically TIMESTAMP(NANOS). Depending on the Spark
    build/conf it surfaces as either int64 nanos (legacy nanosAsLong) or
    TIMESTAMP_NTZ (native nanos read, truncated to micros). Normalize both
    to instant-typed `timestamp`: the session timezone is pinned UTC, so an
    NTZ→TZ cast reinterprets the same wall-clock as the same instant, and
    the int64 path divides with `div` (exact on int64) to micros — both
    match DuckDB's truncate-to-micros semantics, and event-time ops
    (unix_micros, watermarks) require the instant type.
    """
    ensure_session_confs(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
