"""The ingest workloads: a seeded Debezium-JSON feed through
``CDCPipeline.start``, read back through ``operators.routing.read_published``.

- ``ingest_live``: open loop, 4 tables, rename publish, a reader beside it.
- ``ingest_backfill``: a pre-written backlog of one wide table, manifest
  publish, compaction inside the run.

The traced run of ``ingest_live`` adds a redelivery pass: a pre-written
backlog over 4 tables with ~3% of events re-sent verbatim, drained with
redelivery suppression on. It is the only pass through
``streaming.stateful``.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import subprocess
import sys
import threading
import time
import traceback

import common
import feed as feedgen
import stats
import tracing

# Each workload's fixed shape. Backlog sizes scale with --seconds through a
# nominal rate, so the inputs depend only on the seed and the run length.
WORKLOADS = {
    "ingest_live": {
        "profile": "multi", "mode": "live", "rate": 2000, "interval_s": 0.25,
        "n_tables": 4, "keyspace": 20_000, "ddl_every": 5000,
        "publish": "rename", "read_period_s": 5.0,
        # at least one steady-state batch, so set-up warms the per-row paths
        "warmup_events": 4000,
    },
    "ingest_backfill": {
        # 200k-event files, one per micro-batch, so the per-batch floor is a
        # small share of each batch; 3 files (at 12 s) with compaction every
        # 2 batches leave one batch after the last in-drain compaction, whose
        # events are checked one by one
        "profile": "wide", "mode": "backlog", "events_per_file": 200_000,
        "snapshot_rows": 40_000, "keyspace": 80_000, "span_days": 30,
        "nominal_rate": 50_000, "publish": "manifest", "compact_every": 2,
        # half snapshot, half changes
        "warmup_events": 400,
    },
}
# drained in the traced run of ingest_live (see the module docstring)
REDELIVERY = {
    "profile": "multi", "mode": "backlog", "n_tables": 4, "keyspace": 20_000,
    "events_per_file": 1000, "n_files": 3, "ddl_every": 1000, "redeliver_frac": 0.03,
    "publish": "rename", "suppress": True,
}
SETUP_ROUNDS = 3
POLL_S = 0.02  # offset-file poll period for freshness
QUIET_READS = 8  # read_published + count calls once ingest is quiet
DRAIN_TIMEOUT_S = 60.0


def schemas(profile: str, n_tables: int) -> dict:
    from pyspark.sql import types as T

    if profile == "multi":
        s = T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("grp", T.LongType()),
            T.StructField("amount", T.DoubleType()),
            T.StructField("note", T.StringType()),
            T.StructField("ver", T.LongType()),
        ])
        return {(feedgen.DB, f"t{i}"): s for i in range(n_tables)}
    types = {
        "id": T.LongType(), "ver": T.LongType(), "c_int": T.LongType(),
        "c_long": T.LongType(), "c_dbl": T.DoubleType(), "c_dbl2": T.DoubleType(),
        "c_code": T.StringType(), "c_name": T.StringType(),
        "c_flag": T.BooleanType(), "c_day": T.StringType(),
        "c_amt": T.DoubleType(), "c_text": T.StringType(),
    }
    s = T.StructType([T.StructField(c, types[c]) for c in feedgen.WIDE_COLS])
    return {(feedgen.DB, "wide"): s}


class Run:
    """One pipeline over one feed directory, with its own sink and stores."""

    def __init__(self, spark, w: dict, base: str):
        from flink_cdc_multi_spark.catalog import TableRegistry
        from flink_cdc_multi_spark.config import JobConfig
        from flink_cdc_multi_spark.streaming.pipeline import CDCPipeline

        self.spark = spark
        self.base = common.fresh_dir(base)
        self.feed_dir = os.path.join(base, "feed")
        os.makedirs(self.feed_dir)
        cfg = {
            "source.id": "bench",
            "source.type": "mysql",
            "sink.path": os.path.join(base, "sink"),
            "offset.store.path": os.path.join(base, "store"),
            "status.store.path": os.path.join(base, "store"),
            "checkpoint.interval": 0,
        }
        if w.get("compact_every"):
            cfg["table.key.columns"] = {f"{feedgen.DB}.wide": ["id"]}
            cfg["compact.every.n.batches"] = w["compact_every"]
        if w.get("suppress"):
            cfg["dedup.redelivery.suppress"] = "true"
        self.cfg = JobConfig.from_dict(cfg)
        registry = TableRegistry.build("mysql", schemas(w["profile"], w.get("n_tables", 1)))
        self.pipe = CDCPipeline(self.cfg, registry)
        self.tables = {
            spec.table: f"{self.cfg.sink_path}/{self.cfg.source_id}_{spec.output_name}"
            for spec in registry.specs.values()
        }
        self.data_tables = [s.table for s in registry.data_specs()]
        self.ddl_table = next(s.table for s in registry.ddl_specs())
        self.query = None

    def start(self, max_files: int | None):
        self.query = self.pipe.start(
            self.spark, self.feed_dir, os.path.join(self.base, "ckpt"),
            max_files_per_trigger=max_files,
        )
        return self.query

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def committed_pos(self) -> int:
        raw = self.pipe.offset_store.read()
        return int(raw.split(",", 1)[1]) if raw else 0

    def progress(self) -> list[dict]:
        """Progress of the batches that carried rows."""
        return [p for p in self.query.recentProgress if p.get("numInputRows")]


def feed_spec(w: dict, seed: int, seconds: float, feed_dir: str, model: str) -> dict:
    spec = {k: w[k] for k in ("profile", "mode", "n_tables", "keyspace", "ddl_every",
                              "redeliver_frac", "snapshot_rows", "span_days",
                              "rate", "interval_s", "events_per_file") if k in w}
    spec.update(seed=seed, dir=feed_dir, model=model)
    if w["mode"] == "live":
        spec["duration_s"] = seconds
    elif "n_files" in w:
        spec["n_files"] = w["n_files"]
    else:
        total = w["nominal_rate"] * seconds
        spec["n_files"] = max(2, math.ceil(total / w["events_per_file"]))
    return spec


def start_generator(spec: dict, work: str) -> subprocess.Popen:
    path = os.path.join(work, "feed-spec.json")
    with open(path, "w") as f:
        json.dump(spec, f)
    return subprocess.Popen(
        [sys.executable, os.path.join(common.HERE, "feed.py"), path],
        stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
    )


def finish_generator(proc: subprocess.Popen, spec: dict) -> dict:
    _, err = proc.communicate(timeout=120)
    if proc.returncode != 0:
        raise RuntimeError(f"feed generator failed ({proc.returncode}): {err[-2000:]}")
    with open(spec["model"]) as f:
        return json.load(f)


def warmup(spark, w: dict, work: str, i: int) -> float:
    """One set-up round: generate a small feed, start a fresh pipeline on it,
    commit every file, stop. A keyed workload's round compacts after its
    batch, whose snapshot rows are followed by changes. Returns its wall
    time."""
    t = time.perf_counter()
    if w.get("compact_every"):
        w = {**w, "compact_every": 1}
    run = Run(spark, w, os.path.join(work, f"warm{i}"))
    spec = feed_spec(w, 10_000 + i, 1, run.feed_dir, os.path.join(run.base, "model.json"))
    spec.update(mode="backlog", n_files=1, events_per_file=w["warmup_events"],
                snapshot_rows=min(w.get("snapshot_rows", 0), w["warmup_events"] // 2))
    feedgen.generate(spec)
    run.start(1).processAllAvailable()
    run.stop()
    return time.perf_counter() - t


# -- correctness ------------------------------------------------------------


def check_sink(out: common.Outcome, run: Run, model: dict, w: dict) -> None:
    """Per-table checks against the generator's model. Every event that is
    missing, duplicated or mis-routed counts as one failed operation."""
    from pyspark.sql import functions as F

    from flink_cdc_multi_spark.operators.routing import read_published

    out.attempted += model["events"]
    keyed = bool(w.get("compact_every"))
    for table in run.data_tables:
        if keyed:
            check_keyed(out, run, model, w, table)
            continue
        want = model["tables"][table]
        try:
            r = read_published(run.spark, run.tables[table]).agg(
                F.count("*").alias("n"),
                F.countDistinct("_binlog_pos_internal").alias("distinct"),
                F.sum(F.crc32(event_fields())).alias("digest"),
            ).collect()[0]
        except Exception as e:  # noqa: BLE001
            out.failed += want["rows"]
            out.failures.append(_exc(f"read {table}", e))
            continue
        mismatch(out, f"events of {table}", want, r)
    # DDL rows land in _<db>_ddl
    try:
        rows = read_published(run.spark, run.tables[run.ddl_table]).select(
            "_binlog_pos_end", "_ddl").collect() if model["ddl"] else []
        got = sorted(f"{r['_binlog_pos_end']}|{r['_ddl']}" for r in rows)
        bad = len(set(got) ^ set(model["ddl"])) + (len(got) - len(set(got)))
    except Exception as e:  # noqa: BLE001
        got, bad = [], len(model["ddl"])
        out.failures.append(_exc("read ddl table", e))
    if bad:
        out.failed += bad
        out.failures.append({"op": "ddl rows", "type": "Mismatch",
                             "detail": f"got {got[:5]}..., want {model['ddl'][:5]}..."})
    # final offset and status
    offset = run.pipe.offset_store.read()
    out.check("final offset", offset == model["last_offset"],
              f"offset {offset!r}, want {model['last_offset']!r}")
    count = _status_count(run)
    out.check("status record_count", count == model["events"],
              f"record_count {count}, want {model['events']}")


def event_fields():
    """The generator's per-event checksum fields (feed.row_digest)."""
    from pyspark.sql import functions as F

    return F.concat_ws("|", "_binlog_pos_internal", "_op", "id", "ver")


def state_fields():
    """The generator's latest-state checksum fields (feed.state_digest)."""
    from pyspark.sql import functions as F

    return F.concat_ws("|", "id", "ver", "c_code")


def mismatch(out: common.Outcome, op: str, want: dict, r) -> None:
    """Rows n (distinct keys or positions ``distinct``, checksum ``digest``)
    against the model: each missing or duplicated row is one failed
    operation, and a wrong checksum with the right count fails them all."""
    digest = r["digest"] or 0
    bad = abs(want["rows"] - r["n"]) + (r["n"] - r["distinct"])
    if bad == 0 and digest != want["digest"]:
        bad = want["rows"]
    if bad:
        out.failed += bad
        out.failures.append({
            "op": op, "type": "Mismatch",
            "detail": f"rows {r['n']} (want {want['rows']}), distinct {r['distinct']}, "
                      f"digest {digest} (want {want['digest']})",
        })


def check_keyed(out: common.Outcome, run: Run, model: dict, w: dict, table: str) -> None:
    """A keyed table after the drain is the latest image as of the
    pipeline's last compaction plus the event rows of the batches after it
    (one batch per file). Both parts are checked against the generator's
    per-file model: the image by key count and latest-state checksum, the
    rows after it by count, distinct positions and event checksum."""
    from pyspark.sql import functions as F

    from flink_cdc_multi_spark.operators.routing import read_published

    files = model["files"]
    folded = len(files) // w["compact_every"] * w["compact_every"]
    cut = files[folded - 1]["last_pos"] if folded else 0
    image = files[folded - 1]["state"] if folded else {"rows": 0, "digest": 0}
    done = files[folded - 1]["tables"][table] if folded else {"rows": 0, "digest": 0}
    final = model["tables"][table]
    tail = {"rows": final["rows"] - done["rows"], "digest": final["digest"] - done["digest"]}
    pos = F.col("_binlog_pos_internal")
    old, new = pos <= cut, pos > cut
    try:
        r = read_published(run.spark, run.tables[table]).agg(
            F.count(F.when(old, 1)).alias("image_n"),
            F.countDistinct(F.when(old, F.col("id"))).alias("image_distinct"),
            F.sum(F.when(old, F.crc32(state_fields()))).alias("image_digest"),
            F.count(F.when(new, 1)).alias("tail_n"),
            F.countDistinct(F.when(new, pos)).alias("tail_distinct"),
            F.sum(F.when(new, F.crc32(event_fields()))).alias("tail_digest"),
        ).collect()[0]
    except Exception as e:  # noqa: BLE001
        out.failed += image["rows"] + tail["rows"]
        out.failures.append(_exc(f"read {table}", e))
        return
    def part(p):
        return {k: r[f"{p}_{k}"] for k in ("n", "distinct", "digest")}

    mismatch(out, f"compacted image of {table} at its last in-drain compaction",
             image, part("image"))
    mismatch(out, f"events of {table} after its last in-drain compaction", tail, part("tail"))


def _exc(op: str, e: BaseException) -> dict:
    tail = "".join(traceback.format_exception(type(e), e, e.__traceback__))
    return {"op": op, "type": type(e).__name__, "detail": tail[-2000:]}


# -- reads -----------------------------------------------------------------


def timed_read(spark, path: str, dt_min: str | None) -> tuple[float, float, int]:
    """read_published (listing and plan) then count (scan): their times and
    the count."""
    from flink_cdc_multi_spark.operators.routing import read_published

    t0 = time.perf_counter()
    df = read_published(spark, path, dt_min=dt_min)
    t1 = time.perf_counter()
    n = df.count()
    return t1 - t0, time.perf_counter() - t1, n


class Reader(threading.Thread):
    """Closed-loop reader: one read_published + count every period."""

    def __init__(self, spark, path: str, dt_min: str, period: float, first_commit,
                 tracer=None):
        super().__init__(daemon=True)
        self.tracer = tracer
        self.spark, self.path, self.dt_min = spark, path, dt_min
        self.period, self.first_commit = period, first_commit
        self.halt = threading.Event()
        self.samples: list[tuple[float, float, int]] = []
        self.errors: list[dict] = []

    def run(self) -> None:
        self.spark.sparkContext.setLocalProperty("perfbench.reader", "1")
        if self.tracer is not None:
            self.tracer.detach_thread()  # its spans belong to no batch
        # the table exists once the first batch has committed
        while not self.halt.is_set() and not self.first_commit.wait(POLL_S):
            pass
        while not self.halt.is_set():
            t = time.perf_counter()
            try:
                self.samples.append(timed_read(self.spark, self.path, self.dt_min))
            except Exception as e:  # noqa: BLE001
                self.errors.append(_exc("reader call", e))
            self.halt.wait(max(0.0, self.period - (time.perf_counter() - t)))


class OffsetPoller(threading.Thread):
    """Records (time, committed position) whenever the offset file moves."""

    def __init__(self, run: Run):
        super().__init__(daemon=True)
        self.run_ = run
        self.halt = threading.Event()
        self.first_commit = threading.Event()
        self.timeline: list[tuple[float, int]] = []

    def run(self) -> None:
        last = -1
        while not self.halt.is_set():
            pos = self.run_.committed_pos()
            if pos != last:
                self.timeline.append((time.time(), pos))
                last = pos
                if pos:
                    self.first_commit.set()
            self.halt.wait(POLL_S)


# -- one workload run -------------------------------------------------------


def run_workload(name: str, seed: int, seconds: float, trace: bool, work: str) -> common.Outcome:
    w = WORKLOADS[name]
    out = common.Outcome()
    if w["publish"] == "manifest":
        os.environ["SPARK_GRAFT_PUBLISH_MODE"] = "manifest"
    else:
        os.environ.pop("SPARK_GRAFT_PUBLISH_MODE", None)
    trace_dir = os.path.join(work, "eventlog") if trace else None

    # the backlog generator (its own process) runs while the session starts
    t = time.perf_counter()
    model = spec = proc = None
    if w["mode"] == "backlog":
        main = os.path.join(work, "main")
        os.makedirs(main)
        spec = feed_spec(w, seed, seconds, os.path.join(main, "backlog"),
                         os.path.join(main, "model.json"))
        proc = start_generator(spec, main)
    spark = common.new_session(f"perfbench-{name}", trace_dir)
    session_s = time.perf_counter() - t
    if proc is not None:
        model = finish_generator(proc, spec)
    gen_s = time.perf_counter() - t - session_s  # generation beyond session start
    rounds = [warmup(spark, w, work, i) for i in range(SETUP_ROUNDS)]
    setup_s = session_s + gen_s + stats.median(rounds)
    out.report["setup"] = {"session_s": session_s, "generate_s": gen_s, "warmup_s": rounds}

    run = Run(spark, w, os.path.join(work, "run"))
    tracer = tracing.Tracer(spark) if trace else None
    if tracer:
        install_wrappers(tracer, run)
    t_start = time.time()
    if w["mode"] == "live":
        measure_live(out, run, w, seed, seconds, tracer)
        model = out.report.pop("model")
    else:
        # the backlog moves into the pipeline's feed directory at once
        for f in sorted(os.listdir(spec["dir"])):
            os.rename(os.path.join(spec["dir"], f), os.path.join(run.feed_dir, f))
        measure_drain(out, run, w, model)
    t_end = time.time()
    # reads of the published tables once ingest is quiet: the layout's cost,
    # without the noise of reads that happen to overlap a batch
    reads = [timed_read(spark, run.tables[tb], None)
             for _ in range(QUIET_READS // len(run.data_tables))
             for tb in run.data_tables]
    out.e2e["read_p50_s"] = stats.median([a + b for a, b, _ in reads])
    out.report.setdefault("reader_samples", reads)
    if tracer:
        tracer.restore()
    check_sink(out, run, model, w)
    out.e2e["setup_s"] = setup_s
    if tracer:
        progress_metrics(out, run, tracer, session_s)
        out.layers["sources.debezium_json.decode_rows_per_s"] = decode_rate(spark, run)
    run.stop()
    if tracer and name == "ingest_live":
        redelivery_pass(out, spark, work, seed)
    spark.stop()
    if tracer:
        log = tracing.read_event_logs(trace_dir)
        job_metrics(out, tracer, log, t_start, t_end)
        if name == "ingest_backfill":
            first = out.report["progress"][0]["durationMs"]["triggerExecution"] / 1000.0
            out.layers["streaming.pipeline.speedup_vs_1core"] = (
                one_core_first_batch_s(w, work) / first)
    return out


def install_wrappers(tracer: tracing.Tracer, run: Run) -> None:
    from flink_cdc_multi_spark.operators import cdc, routing
    from flink_cdc_multi_spark.sources.offsets import OffsetFileStore
    from flink_cdc_multi_spark.streaming.status import StatusStore

    tracer.wrap(run.pipe, "process_batch", "streaming.pipeline.process_batch",
                key_of=lambda a, k: a[1], root=True)
    tracer.wrap(routing, "project_table", "operators.routing.project_table",
                key_of=lambda a, k: a[4])
    tracer.wrap(routing, "publish_batch_parquet", "operators.routing.publish",
                key_of=lambda a, k: a[1])
    tracer.wrap(routing, "read_published", "operators.routing.read_published")
    tracer.wrap(cdc, "compact_table", "operators.cdc.compact_table",
                result_to=lambda s, r: s.__setitem__("rows", r))
    tracer.wrap(OffsetFileStore, "write", "sources.offsets.write")
    tracer.wrap(StatusStore, "flush", "streaming.status.flush")


def measure_live(out, run: Run, w: dict, seed: int, seconds: float, tracer) -> None:
    q = run.start(None)
    q.processAllAvailable()  # initialised and idle on the empty feed
    poller = OffsetPoller(run)
    poller.start()
    t0 = time.time() + 0.5
    spec = feed_spec(w, seed, seconds, run.feed_dir, os.path.join(run.base, "model.json"))
    spec["t0"] = t0
    proc = start_generator(spec, run.base)
    today = dt.datetime.fromtimestamp(t0, dt.timezone.utc).strftime("%Y-%m-%d")
    reader = Reader(run.spark, run.tables[run.data_tables[0]], today,
                    w["read_period_s"], poller.first_commit, tracer)
    reader.start()
    model = finish_generator(proc, spec)
    t_gen_end = time.time()
    deadline = t_gen_end + DRAIN_TIMEOUT_S
    while run.committed_pos() < model["last_pos"] and time.time() < deadline:
        time.sleep(POLL_S)
    reader.halt.set()
    reader.join()
    poller.halt.set()
    poller.join()
    poller.timeline.append((time.time(), run.committed_pos()))

    groups = stats.commit_groups(model["files"][0]["first_pos"], poller.timeline)
    fresh = stats.freshness_samples(groups, w["rate"], t0)
    prog = run.progress()
    busy = sum(p["durationMs"]["triggerExecution"] for p in prog) / 1000.0
    out.e2e["latency_p50_s"] = stats.median(fresh)
    out.e2e["throughput_per_s"] = model["events"] / busy if busy else 0.0

    # reader checks: every call succeeds and counts never go backwards
    out.attempted += len(reader.samples) + len(reader.errors)
    out.failed += len(reader.errors)
    out.failures.extend(reader.errors)
    counts = [n for _, _, n in reader.samples]
    out.failed += sum(1 for a, b in zip(counts, counts[1:]) if b < a)

    # events of one batch share a commit, so batches are the independent
    # samples: report how many lie beyond p90
    p90 = stats.percentile(fresh, 90.0)
    out.report.update(
        model=model,
        freshness={"events": len(fresh), "batches": len(groups), "p90_s": p90,
                   "commits": [(round(t - t0, 3), lo, hi) for t, lo, hi in groups],
                   "batches_beyond_p90": sum(
                       1 for t, lo, _ in groups if t - (t0 + lo / w["rate"]) > p90),
                   "supported_batch_percentile":
                       stats.highest_supported_percentile(len(groups))},
        reads=len(reader.samples),
        reader_samples=reader.samples,
    )
    if tracer is None:
        return
    lateness = [f["written"] - f["due"] for f in model["files"]]
    series = stats.backlog_series(groups, w["rate"], t0, t_gen_end)
    out.layers["sources.feed.generator_late_p99_s"] = stats.percentile(lateness, 99.0)
    out.layers["sources.feed.backlog_max_rows"] = max((b for _, b in series), default=0)
    # the sawtooth's floor at the end: backlog just after the last commit
    # inside the generation window (a growing floor is a growing queue)
    after = [math.floor((t - t0) * w["rate"]) - (hi + 1)
             for t, _, hi in groups if t <= t_gen_end]
    out.layers["sources.feed.backlog_end_rows"] = max(0, after[-1]) if after else 0


def measure_drain(out, run: Run, w: dict, model: dict) -> None:
    t = time.perf_counter()
    run.start(1).processAllAvailable()
    wall = time.perf_counter() - t
    prog = run.progress()
    out.e2e["latency_p50_s"] = stats.median(
        [p["durationMs"]["triggerExecution"] / 1000.0 for p in prog])
    out.e2e["throughput_per_s"] = model["events"] / wall
    out.report.update(drain_s=wall, batches=len(prog))


def one_core_first_batch_s(w: dict, work: str) -> float:
    """The backlog's first file drained once more on one core
    (SPARK_GRAFT_CPUS=1), after one set-up round: that batch's duration."""
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    # the event log stays on so both drains pay the same tracing cost
    spark1 = common.new_session("perfbench-1core", os.path.join(work, "eventlog-1core"), cpus=1)
    try:
        warmup(spark1, w, work, SETUP_ROUNDS)
        run = Run(spark1, w, os.path.join(work, "run1"))
        src = os.path.join(work, "run", "feed")
        first = sorted(os.listdir(src))[0]
        os.link(os.path.join(src, first), os.path.join(run.feed_dir, first))
        run.start(1).processAllAvailable()
        duration = run.progress()[0]["durationMs"]["triggerExecution"] / 1000.0
        run.stop()
        return duration
    finally:
        spark1.stop()


# -- traced-run layer metrics ----------------------------------------------


def decode_rate(spark, run: Run, max_lines: int = 200_000) -> float:
    """Envelope decode alone: read_raw_batch over the run's first feed files
    (up to one file past max_lines) into the noop sink, rows per second."""
    from flink_cdc_multi_spark.sources.debezium_json import read_raw_batch

    paths, lines = [], 0
    for f in sorted(os.listdir(run.feed_dir)):
        if lines >= max_lines:
            break
        paths.append(os.path.join(run.feed_dir, f))
        with open(paths[-1]) as fh:
            lines += sum(1 for _ in fh)
    df = read_raw_batch(spark, paths, "mysql")
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return lines / (time.perf_counter() - t)


def progress_metrics(out, run: Run, tracer, session_s: float) -> None:
    """Layer metrics from spans, query progress and the sink layout."""
    L = out.layers
    L["session.start_s"] = session_s
    prog = run.progress()
    for phase in ("triggerExecution", "addBatch", "queryPlanning", "walCommit",
                  "commitOffsets", "latestOffset", "getBatch"):
        short = "trigger" if phase == "triggerExecution" else phase
        L[f"spark.stream.{short}_ms.p50"] = stats.median(
            [p["durationMs"].get(phase, 0) for p in prog])
    L["streaming.pipeline.rows_per_batch.p50"] = stats.median(
        [p["numInputRows"] for p in prog])
    batches = tracer.by_name("streaming.pipeline.process_batch")
    L["streaming.pipeline.batches"] = len(batches)
    bdur = tracing.durations(batches)
    L["streaming.pipeline.batch_s.p50"] = stats.median(bdur)
    L["streaming.pipeline.batch_s.p90"] = stats.percentile(bdur, 90.0)

    def p50(name):
        return stats.median(tracing.durations(tracer.by_name(name)))

    L["operators.routing.project_table_s.p50"] = p50("operators.routing.project_table")
    L["operators.routing.publish_s.p50"] = p50("operators.routing.publish")
    L["sources.offsets.write_s.p50"] = p50("sources.offsets.write")
    L["sources.offsets.writes"] = len(tracer.by_name("sources.offsets.write"))
    L["streaming.status.flush_s.p50"] = p50("streaming.status.flush")
    reads = out.report.get("reader_samples", [])
    L["operators.routing.read_published_s.p50"] = stats.median([a for a, _, _ in reads])
    L["operators.routing.read_scan_s.p50"] = stats.median([b for _, b, _ in reads])
    compactions = tracer.by_name("operators.cdc.compact_table")
    L["operators.cdc.compactions"] = len(compactions)
    L["operators.cdc.compact_table_s"] = sum(tracing.durations(compactions))
    L["operators.cdc.rows_out"] = compactions[-1].get("rows", 0) if compactions else 0
    files = published_files(run)
    L["operators.routing.files_published"] = len(files)
    L["operators.routing.bytes_per_file.p50"] = stats.median(files)

    out.report["progress"] = prog
    out.report["spans"] = tracer.spans


def redelivery_pass(out, spark, work: str, seed: int) -> None:
    """Drain a backlog with verbatim redeliveries through the suppression
    path; its events count as operations and are checked like any other."""
    w = REDELIVERY
    run = Run(spark, w, os.path.join(work, "redelivery"))
    model = feedgen.generate(
        feed_spec(w, seed, 1, run.feed_dir, os.path.join(run.base, "model.json")))
    t = time.perf_counter()
    run.start(1).processAllAvailable()
    wall = time.perf_counter() - t
    prog = run.progress()
    run.stop()
    check_sink(out, run, model, w)
    L = out.layers
    ops = [op for p in prog for op in (p.get("stateOperators") or [])]
    last = (prog[-1].get("stateOperators") or []) if prog else []
    L["streaming.stateful.state_rows"] = sum(op.get("numRowsTotal", 0) for op in last)
    L["streaming.stateful.state_bytes"] = sum(op.get("memoryUsedBytes", 0) for op in last)
    L["streaming.stateful.commit_ms.p50"] = stats.median(
        [op.get("commitTimeMs", 0) for op in ops])
    # lines in the feed minus events that reached the batch body
    suppressed = model["events"] + model["redelivered"] - _status_count(run)
    L["streaming.stateful.suppressed_rows"] = suppressed
    L["streaming.stateful.suppression_ratio"] = (
        suppressed / model["redelivered"] if model["redelivered"] else 0.0)
    L["streaming.stateful.drain_rows_per_s"] = model["events"] / wall


def job_metrics(out, tracer, log: dict, t0: float, t1: float) -> None:
    """Layer metrics that need the Spark event log: jobs per batch, driver
    self time, publish job/commit split, engine task totals."""
    L = out.layers
    reader_jobs = {j for j, v in log["jobs"].items() if v["props"].get("perfbench.reader")}
    window = [j for j in tracing.jobs_in_window(log, t0, t1) if j not in reader_jobs]
    for k, v in tracing.job_totals(log, window).items():
        L[f"spark.task.{k}"] = v

    per_batch_jobs, self_s, explained = [], [], {}
    spans = tracer.spans
    for b in tracer.by_name("streaming.pipeline.process_batch"):
        jobs = [j for j in tracing.jobs_in_window(log, b["start"], b["end"])
                if j not in reader_jobs]
        kids = [(s["start"], s["end"]) for s in spans
                if s["parent"] == b["id"] and s["name"] != "operators.routing.read_published"]
        jiv = tracing.job_intervals(log, jobs)
        own = stats.self_time((b["start"], b["end"]), kids, jiv)
        per_batch_jobs.append(len(jobs))
        self_s.append(own)
        explained[b["key"]] = (b["end"] - b["start"]) - own
    L["streaming.pipeline.jobs_per_batch"] = stats.median(per_batch_jobs)
    L["streaming.pipeline.driver_self_s_per_batch"] = stats.median(self_s)

    job_s, commit_s = [], []
    for s in tracer.by_name("operators.routing.publish"):
        jiv = stats.clip(tracing.job_intervals(log, tracing.jobs_of_span(log, s)),
                         s["start"], s["end"])
        covered = stats.union_length(jiv)
        job_s.append(covered)
        commit_s.append((s["end"] - s["start"]) - covered)
    L["operators.routing.publish_job_s.p50"] = stats.median(job_s)
    L["operators.routing.publish_commit_s.p50"] = stats.median(commit_s)

    # how much of the engine's addBatch the named layers and jobs explain
    fracs = []
    for p in out.report.get("progress", []):
        add = p["durationMs"].get("addBatch", 0) / 1000.0
        if add and p["batchId"] in explained:
            fracs.append(explained[p["batchId"]] / add)
    L["spark.stream.addBatch_explained_frac.p50"] = stats.median(fracs)


def _status_count(run: Run) -> int:
    with open(run.pipe.status.path) as f:
        return json.load(f)["record_count"]


def published_files(run: Run) -> list[int]:
    """Sizes of the parquet files a reader of the published tables sees."""
    sizes = []
    for path in run.tables.values():
        for dirpath, dirnames, filenames in os.walk(path):
            dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))
                           or d == ".batches"]
            sizes += [os.path.getsize(os.path.join(dirpath, f))
                      for f in filenames if f.endswith(".parquet")]
    return sizes
