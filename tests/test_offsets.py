"""Offset reduction (ST4-ST7), file store (W2/S6), resume filter."""

import pytest

from conftest import make_mysql_ddl, make_mysql_row

from flink_cdc_multi_spark.sources.debezium_json import decode_raw
from flink_cdc_multi_spark.sources.offsets import (
    OffsetFileStore,
    resume_filter,
    validate_offset,
)
from flink_cdc_multi_spark.streaming.pipeline import _offset_str, control_metric_aggs


def _envelope(spark, lines, source_type="mysql"):
    df = spark.createDataFrame([(line,) for line in lines], "value string")
    return decode_raw(df, source_type)


def _batch_offset(envelope, source_type):
    """The batch's offset string exactly as the pipeline computes it: the
    control-plane aggregates (observed on the write job in production)
    folded by _offset_str."""
    row = envelope.agg(*control_metric_aggs(source_type)).first()
    return _offset_str(row["offset"], source_type)


def test_mysql_offset_skips_snapshot_reads(spark):
    lines = [
        make_mysql_row(op="r", after={"id": 1}, snapshot="true", file=None, pos=None,
                       offset_file="", offset_pos=0),
        make_mysql_row(op="c", after={"id": 2}, file="mysql-bin.000001", pos=500),
        make_mysql_row(op="u", before={"id": 2}, after={"id": 2}, file="mysql-bin.000002", pos=100),
    ]
    env = _envelope(spark, lines)
    env = env.filter(env._binlog_file != "")  # blank offsets on READs (B1)
    assert _batch_offset(env, "mysql") == "mysql-bin.000002,100"


def test_mysql_offset_none_when_only_reads(spark):
    lines = [make_mysql_row(op="r", after={"id": 1}, snapshot="true")]
    # READs are excluded regardless of carried file/pos
    assert _batch_offset(_envelope(spark, lines), "mysql") is None


def test_ddl_rows_carry_offsets(spark):
    lines = [make_mysql_ddl(pos=7777)]
    assert _batch_offset(_envelope(spark, lines), "mysql") == "mysql-bin.000001,7777"


def test_postgres_lsn_max(spark):
    import json

    lines = [
        json.dumps({"op": "c", "ts_ms": 1, "after": {"a": 1},
                    "source": {"db": "d", "schema": "public", "table": "t", "lsn": 100}}),
        json.dumps({"op": "u", "ts_ms": 2, "before": {"a": 1}, "after": {"a": 2},
                    "source": {"db": "d", "schema": "public", "table": "t", "lsn": 250}}),
        json.dumps({"op": "r", "ts_ms": 3, "after": {"a": 3},
                    "source": {"db": "d", "schema": "public", "table": "t", "lsn": 999,
                                "snapshot": "true"}}),
    ]
    assert _batch_offset(_envelope(spark, lines, "postgres"), "postgres") == "250"


def test_oracle_scn_numeric_max(spark):
    import json

    mk = lambda scn: json.dumps(
        {"op": "c", "ts_ms": 1, "after": {"a": "1"},
         "source": {"db": "d", "schema": "s", "table": "t", "scn": scn}}
    )
    env = _envelope(spark, [mk("99"), mk("100")], "oracle")
    # numeric, not lexicographic: 100 > 99
    assert _batch_offset(env, "oracle") == "100"


def test_mongo_ts_max_non_read(spark):
    import json

    mk = lambda op, ts, snap: json.dumps(
        {"op": op, "ts_ms": ts, "after": {"a": 1},
         "source": {"db": "d", "collection": "c", "snapshot": snap}}
    )
    env = _envelope(spark, [mk("INSERT", 5, "true"), mk("INSERT", 3, "false")], "mongodb")
    assert _batch_offset(env, "mongodb") == "3"  # snapshot INSERT→READ skipped


def test_offset_file_roundtrip(tmp_path):
    store = OffsetFileStore(str(tmp_path), "src1")
    assert store.read() is None  # missing file
    store.write("mysql-bin.000003,43650")
    assert store.read() == "mysql-bin.000003,43650"
    store.write("")  # empty file → None (FlinkCDCMulti.java:242-253)
    assert store.read() is None


@pytest.mark.parametrize(
    "offset,source_type,ok",
    [
        ("mysql-bin.000003,43650", "mysql", True),
        ("garbage", "mysql", False),
        ("12345", "postgres", True),
        ("12a45", "postgres", False),
        ("1700000000000", "mongodb", True),
    ],
)
def test_validate_offset(offset, source_type, ok):
    assert validate_offset(offset, source_type) is ok


def test_resume_filter_replays_last_txn(spark):
    lines = [
        make_mysql_row(op="c", after={"id": 1}, file="mysql-bin.000001", pos=100),
        make_mysql_row(op="c", after={"id": 2}, file="mysql-bin.000003", pos=43650),
        make_mysql_row(op="c", after={"id": 3}, file="mysql-bin.000003", pos=50000),
    ]
    env = _envelope(spark, lines)
    out = resume_filter(env, "mysql", "mysql-bin.000003,43650")
    ids = sorted(r["_binlog_pos_end"] for r in out.collect())
    # record AT the offset is re-emitted (at-least-once, README.md:212-218)
    assert ids == [43650, 50000]


def test_resume_filter_rejects_invalid(spark):
    env = _envelope(spark, [make_mysql_row(op="c", after={"id": 1})])
    with pytest.raises(ValueError):
        resume_filter(env, "mysql", "not-an-offset")


def test_offset_greater_comparator():
    from flink_cdc_multi_spark.sources.offsets import offset_greater

    assert offset_greater("mysql-bin.000002,5", "mysql-bin.000001,999", "mysql")
    assert offset_greater("mysql-bin.000001,100", "mysql-bin.000001,99", "mysql")
    assert not offset_greater("mysql-bin.000001,99", "mysql-bin.000001,100", "mysql")
    # numeric, not lexicographic
    assert offset_greater("100", "99", "postgres")
    assert not offset_greater("99", "100", "mongodb")


def test_offset_store_hadoop_scheme_roundtrip(spark, tmp_path):
    """A scheme-qualified store path goes through the Hadoop FileSystem API
    (SingleFileSinkFunction.java:31-39 parity) — file:/ exercises the exact
    code path hdfs:// and s3a:// take."""
    store = OffsetFileStore(f"file:{tmp_path}/store", "s1")
    assert store.read() is None
    store.write("mysql-bin.000001,500")
    assert store.read() == "mysql-bin.000001,500"
    store.write("mysql-bin.000002,7")  # overwrite
    assert store.read() == "mysql-bin.000002,7"
    # the file is really there on disk, written through Hadoop FS
    assert (tmp_path / "store" / "s1_offset.txt").read_text() == "mysql-bin.000002,7"


def test_status_store_hadoop_scheme(spark, tmp_path):
    import json

    from flink_cdc_multi_spark.streaming.status import StatusStore

    st = StatusStore(f"file:{tmp_path}/store", "j1", "JOB-j1")
    st.update(5, 1700000000000)
    st.flush()
    data = json.loads((tmp_path / "store" / "j1_status.json").read_text())
    assert data["record_count"] == 5 and data["job_id"] == "j1"


def test_resume_filter_ddl_positioned_vs_positionless(spark):
    """DDL rows with a known position obey the offset predicate (no replay
    loop after a structural-DDL stop); position-less DDL passes through."""
    import json

    from conftest import make_mysql_ddl

    lines = [
        make_mysql_ddl(ddl="ALTER TABLE t ADD COLUMN a INT", pos=100),
        make_mysql_ddl(ddl="ALTER TABLE t ADD COLUMN b INT", pos=300),
        # position-less DDL: no source offsets at all
        json.dumps({"ddl": "DROP TABLE t2", "ts_ms": 1,
                    "source": {"db": "testdb", "table": "t2"}}),
        make_mysql_row(op="c", after={"id": 1}, pos=250),
    ]
    env = _envelope(spark, lines)
    out = resume_filter(env, "mysql", "mysql-bin.000001,200").collect()
    ddls = sorted(r["_ddl"] for r in out if r["_ddl"] is not None)
    # pos=100 DDL dropped (already handled); pos=300 and position-less kept
    assert ddls == ["ALTER TABLE t ADD COLUMN b INT", "DROP TABLE t2"]
    assert sorted(r["_binlog_pos_end"] for r in out if r["_op"] is not None) == [250]


def test_resume_filter_oracle_ddl_default_scn_passes(spark):
    import json

    lines = [
        json.dumps({"ddl": "DROP TABLE t", "ts_ms": 1,
                    "source": {"db": "ORCL", "schema": "HR", "table": "T"}}),
        json.dumps({"op": "c", "ts_ms": 2, "after": {"ID": 1},
                    "source": {"db": "ORCL", "schema": "HR", "table": "T",
                               "scn": "40"}}),
        json.dumps({"op": "c", "ts_ms": 3, "after": {"ID": 2},
                    "source": {"db": "ORCL", "schema": "HR", "table": "T",
                               "scn": "60"}}),
    ]
    from flink_cdc_multi_spark.sources.debezium_json import decode_raw

    env = decode_raw(spark.createDataFrame([(l,) for l in lines], "value string"), "oracle")
    out = resume_filter(env, "oracle", "50").collect()
    # default-"0"-SCN DDL passes; scn=40 data dropped; scn=60 kept
    assert sorted(r["_scn"] for r in out) == ["0", "60"]


def test_oracle_malformed_scn_degrades_not_crashes(spark):
    """A corrupt line whose SCN is not numeric must not ANSI-crash the
    offset reduction (try_cast → null, falls out of the max), and the
    resume filter must KEEP a row with an unparseable SCN — its position
    is unknown, so replaying it is the at-least-once-safe choice."""
    import json

    mk = lambda scn: json.dumps(
        {"op": "c", "ts_ms": 1, "after": {"a": "1"},
         "source": {"db": "d", "schema": "s", "table": "t", "scn": scn}}
    )
    env = _envelope(spark, [mk("99"), mk("garbage"), mk("120")], "oracle")
    assert _batch_offset(env, "oracle") == "120"
    kept = sorted(r["_scn"] for r in resume_filter(env, "oracle", "100").collect())
    assert kept == ["120", "garbage"]  # 99 dropped; unknown position kept
