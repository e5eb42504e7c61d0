"""Per-table routing through CDCPipeline.process_batch: demux to per-table
parquet, name maps, unknown-table policy, per-source DDL tables."""

import logging

import pytest
from pyspark.sql import types as T

from conftest import make_mysql_ddl, make_mysql_row, run_batch

from flink_cdc_multi_spark.catalog import TableRegistry
from flink_cdc_multi_spark.operators.routing import UnknownTableError
from flink_cdc_multi_spark.sources.debezium_json import decode_raw

USERS = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ]
)
ORDERS = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("amount", T.DoubleType()),
    ]
)


def _envelope(spark, lines):
    df = spark.createDataFrame([(line,) for line in lines], "value string")
    return decode_raw(df, "mysql")


def _registry(**kw):
    return TableRegistry.build(
        "mysql",
        {("testdb", "users"): USERS, ("testdb", "orders"): ORDERS},
        **kw,
    )


def test_demux_writes_per_table(spark, tmp_path):
    lines = [
        make_mysql_row(table="users", op="c", after={"id": 1, "name": "a"}, pos=10),
        make_mysql_row(table="users", op="c", after={"id": 2, "name": "b"}, pos=20),
        make_mysql_row(table="orders", op="c", after={"id": 7, "amount": 3.5}, pos=30),
    ]
    reg = _registry()
    run_batch(_envelope(spark, lines), reg, tmp_path, "src1")

    users = spark.read.parquet(str(tmp_path / "src1_testdb__users"))
    assert users.count() == 2
    cols = set(users.columns)
    # typed payload + retained sink metadata + dt bucket
    assert {"id", "name", "_op", "_ts", "_binlog_file_internal", "dt"} <= cols
    # routing-only fields stripped (SideInputProcessFunction.java:54-63)
    assert "_db" not in cols and "_tbl" not in cols and "_binlog_pos_end" not in cols
    # dt=YYYY-MM-DD directory layout (read back via partition inference)
    assert str(users.select("dt").distinct().first()["dt"]) == "2023-11-14"

    orders = spark.read.parquet(str(tmp_path / "src1_testdb__orders"))
    assert orders.count() == 1
    assert orders.select("amount").first()["amount"] == 3.5


def test_ddl_routed_to_ddl_table(spark, tmp_path):
    lines = [
        make_mysql_row(table="users", op="c", after={"id": 1, "name": "a"}),
        make_mysql_ddl(ddl="CREATE INDEX i ON users (id)", table="users", pos=99),
    ]
    run_batch(_envelope(spark, lines), _registry(), tmp_path, "s")
    ddl = spark.read.parquet(str(tmp_path / "s_testdb___testdb_ddl"))
    assert ddl.count() == 1
    row = ddl.first()
    assert row["_ddl"].startswith("CREATE INDEX")
    assert row["_ddl_tbl"] == "users"
    assert row["_binlog_pos_end"] == 99  # DDL rows KEEP offset cols


def test_unknown_table_fails(spark, tmp_path):
    lines = [make_mysql_row(table="ghost", op="c", after={"id": 1})]
    with pytest.raises(UnknownTableError):
        run_batch(_envelope(spark, lines), _registry(), tmp_path, "s")


def test_unknown_table_skip_policy(spark, tmp_path, caplog):
    lines = [
        make_mysql_row(table="ghost", op="c", after={"id": 1}),
        make_mysql_row(table="users", op="c", after={"id": 1, "name": "a"}),
    ]
    reg = _registry(fail_on_unknown_tables=False)
    with caplog.at_level(logging.WARNING):
        run_batch(_envelope(spark, lines), reg, tmp_path, "s")
    assert "unknown tables skipped: [('testdb', 'ghost')]" in caplog.text
    assert spark.read.parquet(str(tmp_path / "s_testdb__users")).count() == 1
    assert not (tmp_path / "s_testdb__ghost").exists()
    assert not (tmp_path / "s_testdb__orders").exists()


def test_table_name_map(spark, tmp_path):
    # table.name.map is keyed by original db.table with the reference's lossy
    # '_'→'-' reverse sanitization (SideInputProcessFunction.java:86-106)
    reg = TableRegistry.build(
        "mysql",
        {("testdb", "users_v2"): USERS},
        table_name_map={"testdb.users": "users_v2"},
    )
    lines = [make_mysql_row(table="users", op="c", after={"id": 5, "name": "x"})]
    run_batch(_envelope(spark, lines), reg, tmp_path, "s")
    assert spark.read.parquet(str(tmp_path / "s_testdb__users_v2")).count() == 1
    assert not (tmp_path / "s_testdb__users").exists()


def test_database_name_map(spark, tmp_path):
    reg = TableRegistry.build(
        "mysql",
        {("prod_db", "users"): USERS},
        database_name_map={"testdb": "prod_db"},
    )
    lines = [make_mysql_row(db="testdb", table="users", op="c", after={"id": 1, "name": "a"})]
    run_batch(_envelope(spark, lines), reg, tmp_path, "s")
    assert spark.read.parquet(str(tmp_path / "s_prod_db__users")).count() == 1
    assert not (tmp_path / "s_testdb__users").exists()


def test_oracle_all_string_projection_flattens_nested(spark, tmp_path):
    """T3 parity: Oracle payloads are all-string; from_json with StringType
    fields stringifies scalars ('12.345', 'true') and flattens nested
    objects to JSON strings (OracleDebeziumToJSONDeserializer.java:79-133)."""
    import json

    line = json.dumps(
        {
            "op": "c",
            "ts_ms": 1700000000000,
            "after": {"ID": 7, "PRICE": 12.345, "ACTIVE": True, "META": {"a": 1}},
            "source": {"db": "ORCL", "schema": "HR", "table": "ITEMS", "scn": "55"},
        }
    )
    env = decode_raw(
        spark.createDataFrame([(line,)], "value string"), "oracle"
    )
    schema = T.StructType(
        [
            T.StructField("ID", T.StringType()),
            T.StructField("PRICE", T.StringType()),
            T.StructField("ACTIVE", T.BooleanType()),
            T.StructField("META", T.StringType()),
        ]
    )
    reg = TableRegistry.build("oracle", {("ORCL", "ITEMS"): schema})
    run_batch(env, reg, tmp_path, "o")
    items = spark.read.parquet(str(tmp_path / "o_ORCL__ITEMS"))
    assert items.count() == 1
    row = items.first()
    assert row["ID"] == "7"
    assert row["PRICE"] == "12.345"
    assert row["ACTIVE"] is True  # the lone typed exception (BOOLEAN)
    assert row["META"] == '{"a":1}'  # nested doc flattened to JSON string


def test_postgres_ddl_routed_with_lsn(spark, tmp_path):
    """Per-source DDL schema (PostgresStreamer.java:281-285): a postgres DDL
    record carries _lsn, not _binlog_file — routing it must land in
    _<db>_ddl instead of raising UNRESOLVED_COLUMN."""
    import json

    line = json.dumps(
        {
            "ddl": "ALTER TABLE users ADD COLUMN x INT",
            "ts_ms": 1700000000000,
            "source": {"db": "pgdb", "schema": "public", "table": "users", "lsn": 12345},
        }
    )
    df = spark.createDataFrame([(line,)], "value string")
    env = decode_raw(df, "postgres")
    reg = TableRegistry.build("postgres", {("pgdb", "users"): USERS})
    run_batch(env, reg, tmp_path, "s")
    ddl = spark.read.parquet(str(tmp_path / "s_pgdb___pgdb_ddl"))
    assert ddl.count() == 1
    row = ddl.first()
    assert row["_ddl"].startswith("ALTER TABLE")
    assert row["_lsn"] == 12345
    assert "_binlog_file" not in ddl.columns


def test_oracle_ddl_routed_ts_only(spark, tmp_path):
    """OracleStreamer.java:291-294: the oracle DDL table has only
    _ddl/_ddl_tbl/_ts beyond the dt bucket."""
    import json

    line = json.dumps(
        {
            "ddl": "ALTER TABLE USERS ADD (X NUMBER)",
            "ts_ms": 1700000000000,
            "source": {"db": "ORCL", "schema": "APP", "table": "USERS", "scn": "777"},
        }
    )
    df = spark.createDataFrame([(line,)], "value string")
    env = decode_raw(df, "oracle")
    reg = TableRegistry.build("oracle", {("ORCL", "USERS"): USERS})
    run_batch(env, reg, tmp_path, "s")
    ddl = spark.read.parquet(str(tmp_path / "s_ORCL___ORCL_ddl"))
    assert ddl.count() == 1
    assert set(ddl.columns) == {"_ddl", "_ddl_tbl", "_ts", "dt"}
