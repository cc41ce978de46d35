"""The per-path schema cache behind `registry.table` / `registry.read_parquet`:
an unchanged file is read with its cached schema (no inference job), and any
change to the path's files forces inference again."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from real_value_etl_spark.queries import registry
from real_value_etl_spark.queries.registry import read_parquet, table


def _with_jobs(spark, fn):
    """Run fn(); return (its result, number of Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema cache test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def test_unchanged_file_reads_without_inference_job(spark, tmp_path):
    _write(tmp_path / "t.parquet", {"k": [1, 2, 3], "v": ["a", "b", "c"]})
    first, first_jobs = _with_jobs(spark, lambda: table(spark, str(tmp_path), "t"))
    again, again_jobs = _with_jobs(spark, lambda: table(spark, str(tmp_path), "t"))
    assert first_jobs >= 1  # inference
    assert again_jobs == 0
    assert again.schema == first.schema
    assert _rows(again) == _rows(first) == [(1, "a"), (2, "b"), (3, "c")]
    # a fresh DataFrame per call: each side of a self-join has its own
    # attribute ids, so a column reference picks one side
    assert first.join(again, first["k"] == again["k"]).count() == 3


def test_rewritten_directory_with_added_column_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "d.parquet")
    spark.range(4).write.mode("overwrite").parquet(path)
    assert table(spark, str(tmp_path), "d").columns == ["id"]
    spark.range(4).selectExpr("id", "id * 2 AS twice").write.mode("overwrite").parquet(path)
    df, jobs = _with_jobs(spark, lambda: table(spark, str(tmp_path), "d"))
    assert jobs >= 1
    assert df.columns == ["id", "twice"]
    assert sorted(r.twice for r in df.collect()) == [0, 2, 4, 6]


def test_new_file_in_directory_is_seen(spark, tmp_path):
    path = tmp_path / "d.parquet"
    path.mkdir()
    _write(path / "part-0.parquet", {"k": [1]})
    assert table(spark, str(tmp_path), "d").count() == 1
    _write(path / "part-1.parquet", {"k": [2]})
    assert sorted(r.k for r in table(spark, str(tmp_path), "d").collect()) == [1, 2]


def test_same_size_new_inode_or_mtime_forces_reinference(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write(path, {"a": [1, 2]})
    assert table(spark, str(tmp_path), "t").columns == ["a"]

    # a different file of identical size renamed over the path: new inode
    other = tmp_path / "other.parquet"
    _write(other, {"b": [1, 2]})
    assert os.path.getsize(other) == os.path.getsize(path)
    os.replace(other, path)
    df, jobs = _with_jobs(spark, lambda: table(spark, str(tmp_path), "t"))
    assert jobs >= 1
    assert df.columns == ["b"]

    # same inode and size, new bytes and a new mtime
    _write(other, {"c": [1, 2]})
    data = other.read_bytes()
    st = os.stat(path)
    assert len(data) == st.st_size
    with open(path, "r+b") as f:
        f.write(data)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert os.stat(path).st_ino == st.st_ino
    df, jobs = _with_jobs(spark, lambda: table(spark, str(tmp_path), "t"))
    assert jobs >= 1
    assert df.columns == ["c"]


def test_events_ts_is_timestamp_on_hit_path(spark, sf_dir):
    registry._SCHEMAS.pop(f"{sf_dir}/events.parquet", None)
    miss = table(spark, sf_dir, "events")
    hit, jobs = _with_jobs(spark, lambda: table(spark, sf_dir, "events"))
    assert jobs == 0
    assert dict(miss.dtypes)["ts"] == dict(hit.dtypes)["ts"] == "timestamp"
    assert hit.schema == miss.schema


def test_file_uri_is_cached(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write(path, {"k": [1, 2]})
    uri = f"file://{path}"
    read_parquet(spark, uri)
    df, jobs = _with_jobs(spark, lambda: read_parquet(spark, uri))
    assert jobs == 0
    assert _rows(df) == [(1,), (2,)]


class _RecordingSession:
    """Stands in for a session reading a remote URI: serves a local file
    and records every reader call."""

    def __init__(self, spark, local_path):
        self._spark, self._local, self.calls = spark, local_path, []

    @property
    def read(self):
        return self

    def schema(self, schema):
        self.calls.append("schema")
        return self

    def parquet(self, path):
        self.calls.append(path)
        return self._spark.read.parquet(self._local)


def test_scheme_uri_is_never_cached(spark, tmp_path):
    local = tmp_path / "t.parquet"
    _write(local, {"k": [1, 2]})
    uri = "s3a://bucket/t.parquet"
    session = _RecordingSession(spark, str(local))
    for _ in range(2):
        assert _rows(read_parquet(session, uri)) == [(1,), (2,)]
    assert session.calls == [uri, uri]  # inferred both times
    assert uri not in registry._SCHEMAS


def test_concurrent_reads_get_their_own_schema(spark, tmp_path):
    """More threads than cores read two tables through the shared cache;
    every read sees its own table's schema and both entries end current."""
    import sys
    import threading

    _write(tmp_path / "x.parquet", {"x": [1]})
    _write(tmp_path / "y.parquet", {"y1": [1], "y2": [2]})
    expected = {"x": ["x"], "y": ["y1", "y2"]}
    errors = []

    def reader(name):
        try:
            for _ in range(4):
                cols = table(spark, str(tmp_path), name).columns
                if cols != expected[name]:
                    errors.append((name, cols))
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append((name, repr(e)))

    threads = [threading.Thread(target=reader, args=("xy"[i % 2],))
               for i in range(2 * os.cpu_count())]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    for name in expected:
        path = f"{tmp_path}/{name}.parquet"
        sig, schema = registry._SCHEMAS[path]
        assert sig == registry._file_signature(path)
        assert schema.fieldNames() == expected[name]
