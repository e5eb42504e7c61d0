"""Tier-1 guard for the benchmark harness in ``perfbench/``: its own
self-tests pass, and every program hook its tracer wraps still exists with
the call shape the tracer reads. A refactor that renames or reshapes one of
them would otherwise silently zero the benchmark's per-layer metrics."""

import inspect
import os
import subprocess
import sys

from pyspark.sql import types as T

from conftest import REPO_ROOT, make_mysql_row

from flink_cdc_multi_spark.operators import cdc, routing
from flink_cdc_multi_spark.sources.offsets import OffsetFileStore
from flink_cdc_multi_spark.streaming.pipeline import CDCPipeline
from flink_cdc_multi_spark.streaming.status import StatusStore


def test_perfbench_selftest_passes():
    env = {**os.environ, "PYTHONDONTWRITEBYTECODE": "1"}
    proc = subprocess.run(
        [sys.executable, "perfbench/selftest.py"],
        cwd=REPO_ROOT, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr


def _params(fn) -> list:
    return list(inspect.signature(fn).parameters)


def test_traced_hooks_keep_their_call_shape():
    # the tracer keys spans by positional argument: process_batch's
    # batch_id (a[1] on the bound method), project_table's tbl (a[4]),
    # publish_batch_parquet's table path (a[1])
    assert _params(CDCPipeline.process_batch)[:3] == ["self", "envelope", "batch_id"]
    assert _params(routing.project_table)[:5] == [
        "envelope", "registry", "spec", "db", "tbl"]
    assert _params(routing.publish_batch_parquet)[:2] == ["typed", "table_path"]
    for hook in (routing.read_published, cdc.compact_table,
                 OffsetFileStore.write, StatusStore.flush):
        assert callable(hook)


def test_batch_looks_routing_hooks_up_at_call_time(spark, tmp_path, monkeypatch):
    """The tracer replaces ``routing.project_table`` and
    ``routing.publish_batch_parquet`` on the module: the batch body must
    call them through it, not through names bound at import."""
    from flink_cdc_multi_spark.config import JobConfig
    from flink_cdc_multi_spark.sources.debezium_json import decode_raw
    from flink_cdc_multi_spark.streaming.pipeline import registry_from_config

    calls = {"project_table": [], "publish_batch_parquet": []}
    for name, log in calls.items():
        orig = getattr(routing, name)

        def spy(*a, _orig=orig, _log=log, **k):
            _log.append(a)
            return _orig(*a, **k)

        monkeypatch.setattr(routing, name, spy)
    cfg = JobConfig.from_dict(
        {"source.id": "s1", "source.type": "mysql", "sink.path": str(tmp_path)}
    )
    users = T.StructType([T.StructField("id", T.LongType())])
    reg = registry_from_config(
        cfg, {("testdb", "a"): users, ("testdb", "b"): users})
    lines = [make_mysql_row(table=t, op="c", after={"id": 1}) for t in "ab"]
    env = decode_raw(
        spark.createDataFrame([(line,) for line in lines], "value string"), "mysql")
    CDCPipeline(cfg, reg).process_batch(env, 0)
    assert sorted(a[4] for a in calls["project_table"]) == ["a", "b"]
    assert sorted(os.path.basename(a[1]) for a in calls["publish_batch_parquet"]) == [
        "s1_testdb__a", "s1_testdb__b"]
