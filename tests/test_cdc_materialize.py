"""CDC materialization operators: latest_image, compaction, streaming dedup."""

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import make_mysql_row, run_batch

from flink_cdc_multi_spark.catalog import TableRegistry
from flink_cdc_multi_spark.operators.cdc import (
    compact_table,
    latest_image,
    recover_compact_swap,
    streaming_dedup,
)
from flink_cdc_multi_spark.sources.debezium_json import decode_raw

USERS = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
)
ORDER = ["_binlog_file_internal", "_binlog_pos_internal"]


def _write_changes(spark, tmp_path, lines):
    env = decode_raw(
        spark.createDataFrame([(line,) for line in lines], "value string"), "mysql"
    )
    reg = TableRegistry.build("mysql", {("testdb", "users"): USERS})
    run_batch(env, reg, tmp_path, "s")
    return str(tmp_path / "s_testdb__users")


LINES = [
    make_mysql_row(op="c", after={"id": 1, "v": "a"}, pos=10, ts_ms=1700000001000),
    make_mysql_row(op="u", before={"id": 1, "v": "a"}, after={"id": 1, "v": "a2"},
                   pos=20, ts_ms=1700000002000),
    make_mysql_row(op="c", after={"id": 2, "v": "b"}, pos=30, ts_ms=1700000003000),
    make_mysql_row(op="d", before={"id": 2, "v": "b"}, after=None, pos=40,
                   ts_ms=1700000004000),
    # replayed duplicate of the UPDATE (at-least-once resume)
    make_mysql_row(op="u", before={"id": 1, "v": "a"}, after={"id": 1, "v": "a2"},
                   pos=20, ts_ms=1700000002000),
]


def test_latest_image_semantics(spark, tmp_path):
    path = _write_changes(spark, tmp_path, LINES)
    changes = spark.read.parquet(path)
    state = latest_image(changes, ["id"], ORDER)
    rows = {r["id"]: r["v"] for r in state.collect()}
    assert rows == {1: "a2"}  # id=2 deleted; duplicate replay harmless


def test_latest_image_keeps_delete_rows_when_asked(spark, tmp_path):
    path = _write_changes(spark, tmp_path, LINES)
    changes = spark.read.parquet(path)
    state = latest_image(changes, ["id"], ORDER, drop_deletes=False)
    ops = {r["id"]: r["_op"] for r in state.collect()}
    assert ops == {1: "UPDATE", 2: "DELETE"}


def test_compact_table_rewrites_in_place(spark, tmp_path):
    path = _write_changes(spark, tmp_path, LINES)
    assert spark.read.parquet(path).count() == 5  # change log incl. replay
    n = compact_table(spark, path, ["id"], ORDER)
    assert n == 1
    compacted = spark.read.parquet(path)
    assert compacted.count() == 1
    assert compacted.first()["v"] == "a2"
    assert "dt" in compacted.columns  # partition layout preserved


def _write_multi_dt_changes(spark, tmp_path, keys_per_day=20):
    day_ms = 86_400_000
    lines = []
    pos = 10
    for day in range(2):
        for k in range(keys_per_day):
            lines.append(
                make_mysql_row(
                    op="c",
                    after={"id": day * 1000 + k, "v": f"d{day}k{k}"},
                    pos=pos,
                    ts_ms=1700000001000 + day * day_ms,
                )
            )
            pos += 10
    return _write_changes(spark, tmp_path, lines)


def test_compact_table_multi_dt_parallel_write(spark, tmp_path):
    """The rewrite must NOT funnel through one task: with a tiny partition
    byte target the shuffle fans out, and maxRecordsPerFile=1 bounds each
    output file to a single row (size control independent of task count)."""
    path = _write_multi_dt_changes(spark, tmp_path)
    n = compact_table(
        spark, path, ["id"], ORDER,
        max_records_per_file=1, target_partition_bytes=4096,
    )
    assert n == 40
    compacted = spark.read.parquet(path)
    assert compacted.count() == 40
    dts = [r["dt"] for r in compacted.select("dt").distinct().collect()]
    assert len(dts) == 2  # dt layout preserved across days
    import glob

    parts = glob.glob(f"{path}/dt=*/part-*.parquet")
    # maxRecordsPerFile=1 → one row per file; multiple distinct task ids
    # prove the write was parallel, not a single-task funnel.
    assert len(parts) == 40
    task_ids = {p.rsplit("/", 1)[1].split("-")[1] for p in parts}
    assert len(task_ids) > 1


def test_compact_table_zorder_layout(spark, tmp_path):
    """r16: compaction with zorder_by clusters the rewritten files by the
    Morton key of two columns (Delta OPTIMIZE ZORDER BY shape) while
    preserving the materialized state EXACTLY; a table missing a listed
    column falls back to the plain layout with a warning, never an
    error (the config option is global across heterogeneous tables)."""
    path = _write_multi_dt_changes(spark, tmp_path)
    n = compact_table(
        spark, path, ["id"], ORDER,
        max_records_per_file=5, target_partition_bytes=2048,
        zorder_by=["id", "_ts"], zorder_buckets=8,
    )
    assert n == 40
    compacted = spark.read.parquet(path)
    assert compacted.count() == 40
    assert {r["id"] for r in compacted.select("id").collect()} == {
        d * 1000 + k for d in range(2) for k in range(20)
    }
    # same table again with a bogus column: plain layout, same state
    n2 = compact_table(
        spark, path, ["id"], ORDER, zorder_by=["id", "no_such_col"],
    )
    assert n2 == 40
    # a PRESENT but non-numeric column (varchar PK — common for CDC
    # tables) must also degrade to the plain layout, not crash inside
    # the write job's pandas_udf (ADVICE r16: the guard checked only
    # presence, so strings passed and to_numpy(dtype=float) raised
    # mid-maintenance)
    n3 = compact_table(
        spark, path, ["id"], ORDER, zorder_by=["id", "v"],
    )
    assert n3 == 40


def test_compact_table_zorder_fully_deleted_table(spark, tmp_path):
    """Zero-row edge on the zorder path: a table whose every key is
    deleted compacts to an empty dir (no part files) — the footer count
    must report 0, not crash on schema inference."""
    lines = [
        make_mysql_row(op="c", after={"id": 1, "v": "a"}, pos=10,
                       ts_ms=1700000001000),
        make_mysql_row(op="d", before={"id": 1, "v": "a"}, after=None,
                       pos=20, ts_ms=1700000002000),
    ]
    path = _write_changes(spark, tmp_path, lines)
    n = compact_table(spark, path, ["id"], ORDER, zorder_by=["id", "_ts"])
    assert n == 0


def test_compact_swap_recovery(spark, tmp_path):
    import os

    path = _write_changes(spark, tmp_path, LINES)
    # Crash window: live table renamed aside, nothing renamed back yet.
    os.rename(path, f"{path}__old")
    os.makedirs(f"{path}__compact")  # half-written compact output
    assert recover_compact_swap(spark, path) == "restored"
    assert spark.read.parquet(path).count() == 5
    assert not os.path.exists(f"{path}__old")
    assert not os.path.exists(f"{path}__compact")
    # Stale leftovers next to a healthy live table are swept.
    os.makedirs(f"{path}__compact")
    assert recover_compact_swap(spark, path) == "cleaned"
    assert recover_compact_swap(spark, path) is None
    # And compaction itself self-heals before running.
    os.rename(path, f"{path}__old")
    assert compact_table(spark, path, ["id"], ORDER) == 1


def test_streaming_dedup_within_watermark(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "v": 1.0},
        {"event_id": 1, "ts": "2024-01-01T00:00:01", "v": 1.0},  # dup key
        {"event_id": 2, "ts": "2024-01-01T00:00:02", "v": 2.0},
    ]
    (feed / "f.json").write_text("\n".join(json.dumps(r) for r in rows))
    schema = "event_id long, ts timestamp, v double"
    stream = spark.readStream.schema(schema).json(str(feed))
    deduped = streaming_dedup(stream, ["event_id"], event_time_col="ts")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(r["event_id"] for r in spark.sql("SELECT * FROM dedup_out").collect())
    assert got == [1, 2]


def test_compaction_merges_mixed_vintage_schemas(spark, tmp_path):
    """A sink dir can hold files from two transport vintages (file feed
    without _kafka_* columns, Kafka leg with them). Compaction must union
    the schemas (absent columns -> null), not resolve one footer and
    silently delete the other vintage's columns on rewrite."""
    from pyspark.sql import functions as F

    from flink_cdc_multi_spark.operators.cdc import compact_table

    path = str(tmp_path / "t")
    old = spark.createDataFrame(
        [(1, "a", "INSERT", 10, "2024-01-01")],
        "id long, v string, _op string, _pos long, dt string",
    ).withColumn("dt", F.col("dt").cast("date"))
    old.write.partitionBy("dt").mode("append").parquet(path)
    new = spark.createDataFrame(
        [(1, "b", "UPDATE", 20, "cdc.t", 7, "2024-01-02")],
        "id long, v string, _op string, _pos long, _kafka_topic string, "
        "_kafka_offset long, dt string",
    ).withColumn("dt", F.col("dt").cast("date"))
    new.write.partitionBy("dt").mode("append").parquet(path)

    n = compact_table(spark, path, ["id"], ["_pos"])
    assert n == 1
    got = spark.read.option("mergeSchema", "true").parquet(path).collect()[0]
    # latest image won AND the kafka coordinates survived the rewrite
    assert got["v"] == "b" and got["_kafka_offset"] == 7


def test_maintain_group_agg_matches_full_recompute(spark):
    """Randomized IVM check: feed random CDC batches (insert/update/delete/
    replayed duplicates, group moves) through maintain_group_agg and after
    every batch compare BOTH outputs against a from-scratch recompute of
    the cumulative log — the delta path must be indistinguishable from
    recomputation."""
    import random

    from flink_cdc_multi_spark.operators.cdc import maintain_group_agg

    rng = random.Random(42)
    schema = "pk long, g string, v long, _op string, _pos long"
    # None: the NULL group must merge like any other (null-safe agg join)
    groups = ["g0", "g1", "g2", None]

    live: dict[int, tuple[str, int]] = {}  # model table for op generation
    pos = 0
    log: list[tuple] = []
    batches: list[list[tuple]] = []
    for _ in range(5):
        batch = []
        for _ in range(rng.randint(1, 12)):
            pos += 10
            op = rng.choice(["INSERT", "UPDATE", "DELETE", "INSERT", "UPDATE"])
            if op == "INSERT" or not live:
                pk = rng.randint(0, 15)
                g, v = rng.choice(groups), rng.randint(-5, 100)
                # inserting an existing pk acts as an upsert in the log
                row = (pk, g, v, "INSERT" if pk not in live else "UPDATE", pos)
                live[pk] = (g, v)
            elif op == "UPDATE":
                pk = rng.choice(list(live))
                g, v = rng.choice(groups), rng.randint(-5, 100)
                row = (pk, g, v, "UPDATE", pos)
                live[pk] = (g, v)
            else:
                pk = rng.choice(list(live))
                g, v = live.pop(pk)
                row = (pk, g, v, "DELETE", pos)  # DELETE carries before-image
            batch.append(row)
            if rng.random() < 0.25:
                batch.append(row)  # at-least-once replay inside the batch
            if log and rng.random() < 0.3:
                # STALE cross-batch redelivery: an old change re-arrives in
                # a later batch; the order guard must drop it (it cannot
                # regress state/agg, and latest_image of the cumulative
                # log is naturally immune — so the equality still holds)
                batch.append(rng.choice(log))
        batches.append(batch)
        log.extend(batch)

    state = spark.createDataFrame([], schema)
    agg = spark.createDataFrame([], "g string, cnt long, total long")
    seen: list[tuple] = []
    for batch in batches:
        bdf = spark.createDataFrame(batch, schema)
        state, agg = maintain_group_agg(
            state, agg, bdf, ["pk"], "g", "v", ["_pos"]
        )
        # plans grow per batch (joins over joins); truncate like the
        # fixpoint operators do
        state = state.localCheckpoint(eager=True)
        agg = agg.localCheckpoint(eager=True)
        seen.extend(batch)
        full = latest_image(
            spark.createDataFrame(seen, schema), ["pk"], ["_pos"]
        )
        expect_state = sorted(
            (r["pk"], r["g"], r["v"]) for r in full.collect()
        )
        live = state.filter(F.col("_op") != "DELETE")  # tombstones excluded
        got_state = sorted((r["pk"], r["g"], r["v"]) for r in live.collect())
        assert got_state == expect_state
        gkey = lambda t: (t[0] is None, t[0] or "", t[1], t[2])  # noqa: E731
        expect_agg = sorted(
            (
                (r["g"], r["cnt"], r["total"])
                for r in full.groupBy("g")
                .agg(F.count("*").alias("cnt"), F.sum("v").alias("total"))
                .collect()
            ),
            key=gkey,
        )
        got_agg = sorted(
            ((r["g"], r["cnt"], r["total"]) for r in agg.collect()), key=gkey
        )
        assert got_agg == expect_agg


def test_maintain_group_agg_insert_delete_same_batch(spark):
    """A pk created and deleted inside one batch must leave no trace in
    either the state or the aggregate."""
    from flink_cdc_multi_spark.operators.cdc import maintain_group_agg

    schema = "pk long, g string, v long, _op string, _pos long"
    state = spark.createDataFrame([(1, "a", 10, "INSERT", 5)], schema)
    agg = spark.createDataFrame([("a", 1, 10)], "g string, cnt long, total long")
    batch = spark.createDataFrame(
        [(2, "b", 7, "INSERT", 10), (2, "b", 7, "DELETE", 20)], schema
    )
    new_state, new_agg = maintain_group_agg(
        state, agg, batch, ["pk"], "g", "v", ["_pos"]
    )
    live = new_state.filter(F.col("_op") != "DELETE")
    assert sorted((r["pk"],) for r in live.collect()) == [(1,)]
    # pk2 stays as a TOMBSTONE carrying its applied offset (pos 20): a
    # stale redelivery of its insert must keep being dropped
    tomb = new_state.filter(F.col("_op") == "DELETE").collect()
    assert [(r["pk"], r["_pos"]) for r in tomb] == [(2, 20)]
    assert [(r["g"], r["cnt"], r["total"]) for r in new_agg.collect()] == [("a", 1, 10)]
    replay = spark.createDataFrame([(2, "b", 7, "INSERT", 10)], schema)
    s2, a2 = maintain_group_agg(new_state, new_agg, replay, ["pk"], "g", "v", ["_pos"])
    assert sorted((r["pk"],) for r in s2.filter(F.col("_op") != "DELETE").collect()) == [(1,)]
    assert [(r["g"], r["cnt"], r["total"]) for r in a2.collect()] == [("a", 1, 10)]


def test_maintain_group_agg_over_real_envelope_tables(spark, tmp_path):
    """Integration: the IVM consumer fed from the REAL pipeline artifacts —
    Debezium-decoded rows routed to parquet, compacted WITH tombstones
    (compact_table(drop_deletes=False)), then a second decoded batch
    applied incrementally, including a stale cross-batch redelivery that
    the tombstone-aware order guard must drop."""
    from flink_cdc_multi_spark.operators.cdc import maintain_group_agg

    accounts = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("g", T.StringType()),
            T.StructField("amount", T.LongType()),
        ]
    )
    reg = TableRegistry.build("mysql", {("testdb", "users"): accounts})

    def write(lines, where):
        env = decode_raw(
            spark.createDataFrame([(ln,) for ln in lines], "value string"), "mysql"
        )
        run_batch(env, reg, where, "s")
        return str(where / "s_testdb__users")

    b1 = [
        make_mysql_row(op="c", after={"id": 1, "g": "a", "amount": 10}, pos=10),
        make_mysql_row(op="c", after={"id": 2, "g": "b", "amount": 5}, pos=20),
        make_mysql_row(op="d", before={"id": 2, "g": "b", "amount": 5}, pos=30),
    ]
    b2 = [
        # group move a -> b
        make_mysql_row(op="u", before={"id": 1, "g": "a", "amount": 10},
                       after={"id": 1, "g": "b", "amount": 7}, pos=40),
        # STALE redelivery of pk2's insert (pos 20 < its tombstone's 30):
        # without the tombstone this would resurrect the deleted row
        make_mysql_row(op="c", after={"id": 2, "g": "b", "amount": 5}, pos=20),
        make_mysql_row(op="c", after={"id": 3, "g": "a", "amount": 2}, pos=50),
    ]
    p1 = write(b1, tmp_path / "t1")
    compact_table(spark, p1, ["id"], ORDER, drop_deletes=False)
    state = spark.read.parquet(p1)
    assert {r["id"]: r["_op"] for r in state.collect()} == {1: "INSERT", 2: "DELETE"}
    agg = (
        state.filter(F.col("_op") != "DELETE")
        .groupBy("g")
        .agg(F.count("*").alias("cnt"), F.sum("amount").alias("total"))
    )
    changes2 = spark.read.parquet(write(b2, tmp_path / "t2"))
    new_state, new_agg = maintain_group_agg(
        state, agg, changes2, ["id"], "g", "amount", ORDER
    )
    live = {
        r["id"]: (r["g"], r["amount"])
        for r in new_state.filter(F.col("_op") != "DELETE").collect()
    }
    assert live == {1: ("b", 7), 3: ("a", 2)}  # pk2 NOT resurrected
    got = sorted((r["g"], r["cnt"], r["total"]) for r in new_agg.collect())
    assert got == [("a", 1, 2), ("b", 1, 7)]


def test_sink_table_dt_partition_pruning(spark, tmp_path):
    """The dt=YYYY-MM-DD sink layout must buy partition PRUNING on read: a
    dt-filtered scan of a routed table lists only the matching partition
    directories (PartitionFilters in the plan, one dt in the scanned
    files) — the property that lets a 100 TB CDC lake serve day-scoped
    queries without touching cold partitions."""
    import io
    from contextlib import redirect_stdout

    path = _write_multi_dt_changes(spark, tmp_path)
    df = spark.read.parquet(path).filter(F.col("dt") == "2023-11-14")
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [isnotnull(dt" in plan
    # and the filter actually prunes: only day-0 rows come back
    rows = df.collect()
    assert rows and all(r["dt"].isoformat() == "2023-11-14" for r in rows)
    assert {r["id"] // 1000 for r in rows} == {0}


def test_expire_partitions_retention(spark, tmp_path):
    """Retention drops only dt partitions strictly older than the cutoff,
    leaves newer days and non-partition files untouched, and validates
    the cutoff format."""
    import os

    import pytest

    from flink_cdc_multi_spark.operators.cdc import expire_partitions

    path = _write_multi_dt_changes(spark, tmp_path)  # two dt days
    dts = sorted(
        n[3:] for n in os.listdir(path) if n.startswith("dt=")
    )
    assert len(dts) == 2
    # cutoff between the two days: only the older partition goes
    dropped = expire_partitions(spark, path, dts[1])
    assert dropped == [f"dt={dts[0]}"]
    remaining = spark.read.parquet(path)
    assert remaining.select("dt").distinct().count() == 1
    assert remaining.count() == 20
    # idempotent; nothing older remains
    assert expire_partitions(spark, path, dts[1]) == []
    with pytest.raises(ValueError, match="YYYY-MM-DD"):
        expire_partitions(spark, path, "20231114")


def test_expire_partitions_manifest_batches(spark, tmp_path, monkeypatch):
    """Retention on a manifest-mode table (r15): a batch expires when its
    WHOLE dt range is older than the cutoff (manifest deleted FIRST —
    the visibility flip — then the batch dir); a partially overlapping
    batch and a stats-less manifest both survive (fail open)."""
    import json as _json
    import os as _os

    from flink_cdc_multi_spark.operators.cdc import expire_partitions
    from flink_cdc_multi_spark.operators.routing import (
        publish_batch_parquet,
        read_published,
    )

    monkeypatch.setenv("SPARK_GRAFT_PUBLISH_MODE", "manifest")
    table = str(tmp_path / "t")
    schema = "id long, v string, dt string"
    publish_batch_parquet(
        spark.createDataFrame([(1, "a", "2023-12-01"), (2, "b", "2023-12-20")], schema),
        table, "rrx1")  # wholly old: expires
    publish_batch_parquet(
        spark.createDataFrame([(3, "c", "2023-12-30"), (4, "d", "2024-01-05")], schema),
        table, "rrx2")  # straddles the cutoff: kept whole
    publish_batch_parquet(
        spark.createDataFrame([(5, "e", "2024-02-01")], schema),
        table, "rrx3")  # new: kept
    # strip stats from rrx3's manifest to pin the fail-open rule with an
    # OLD-looking... (no — stats-less must survive ANY cutoff)
    m3 = f"{table}/_manifests/brrx3.json"
    doc = _json.loads(open(m3).read())
    doc.pop("dt_min"), doc.pop("dt_max")
    open(m3, "w").write(_json.dumps(doc))

    dropped = expire_partitions(spark, table, "2024-01-01")
    assert dropped == ["brrx1"]
    assert not _os.path.exists(f"{table}/_manifests/brrx1.json")
    assert not _os.path.exists(f"{table}/.batches/brrx1")
    got = sorted(r["id"] for r in read_published(spark, table).collect())
    assert got == [3, 4, 5]
    # a far-future cutoff still can't expire the stats-less manifest
    dropped2 = expire_partitions(spark, table, "2030-01-01")
    assert "brrx3" not in dropped2
    assert sorted(r["id"] for r in read_published(spark, table).collect()) == [5]
