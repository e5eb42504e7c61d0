"""The query_surface workload: registered queries from ``plans.ALL_QUERIES``
over seeded synthetic tables, one client, closed loop, in a fresh session.

Run directly, it checks the whole registry once against the oracle on the
same synthetic tables (not a timed run):

    python3 perfbench/querysurface.py --all-queries [seed]

Each query's plan is built and executed once (cold), then the prepared plans
are executed again in warm passes until the run's time is up. Executions use
the noop sink. Afterwards every query's result is compared with its DuckDB
oracle through ``tools/check_oracle.py``'s canonical rendering; the oracle
side is cached per data fingerprint.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import json
import os
import shutil
import sys
import time
import traceback

import common
import querydata
import stats
import tracing

# A fixed slice of the registry with every query family in it. The whole
# registry does not fit a run: the cold pass alone takes minutes.
QUERIES = [
    "q06", "q13",
    "ext_dedup_exact",
    "ext_ann_ivf",  # builds its index eagerly, at plan construction
    "ext_text_tfidf",
    "ext_sketch_kmv",
    "ext_multimodal_dims",  # Python UDFs: workers must import this tree
    "ext_events_funnel",
]
WARMUP_QUERIES = ["q01", "ext_dedup_exact", "ext_events_funnel"]
SCALE, WARMUP_SCALE = 0.2, 0.05
SETUP_ROUNDS = 3
MIN_WARM_PASSES = 2


def family(name: str) -> str:
    """The module a query's work lives in, by registry name."""
    if not name.startswith("ext_"):
        return "plans.queries"
    rest = name[4:]
    if rest.startswith("dedup_"):
        return "operators.dedup"
    if rest.startswith(("ann_", "embed_")):
        return "operators.similarity"
    if rest.startswith(("text_", "contamination", "pack_")):
        return "operators.text"
    if rest.startswith(("sketch_", "topk_")):
        return "operators.sketch"
    if rest.startswith("multimodal_"):
        return "operators.multimodal"
    return "plans.extensions"


FAMILIES = ["plans.queries", "operators.dedup", "operators.similarity", "operators.text",
            "operators.sketch", "operators.multimodal", "plans.extensions"]


def load_check_oracle():
    """tools/check_oracle.py of this tree, imported by path. It pins another
    path onto sys.path at import; that entry is removed again so later
    imports keep resolving to this tree."""
    before = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_oracle", os.path.join(common.ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    sys.path[:] = before
    return mod


def fingerprint(data_dir: str) -> str:
    h = hashlib.sha256()
    for name in querydata.TABLES:
        with open(os.path.join(data_dir, f"{name}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:24]


def rendering(co, cols, types: dict, rows) -> str:
    """check_one's comparison as one digest: column names, canonical types
    and the order-insensitive value rendering."""
    body = json.dumps([sorted(cols), sorted(types.items()),
                       co.rows_to_multiset(rows, cols)], default=str)
    return hashlib.sha256(body.encode()).hexdigest()


def sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:24]


def oracle_digests(co, data_dir: str, names) -> dict:
    """DuckDB-side digests for each query, cached per data fingerprint and
    check_oracle.py source; an entry is reused only for the same oracle SQL."""
    from flink_cdc_multi_spark.plans import ALL_ORACLE_SQL

    with open(co.__file__) as f:
        renderer = sha(f.read())
    path = os.path.join(common.CACHE, "oracle", f"{fingerprint(data_dir)}-{renderer}.json")
    try:
        with open(path) as f:
            cached = json.load(f)
    except (OSError, ValueError):
        cached = {}
    missing = [n for n in names
               if cached.get(n, {}).get("sql") != sha(ALL_ORACLE_SQL[n])]
    if missing:
        con = co.oracle_connection(data_dir)
        for n in missing:
            rel = con.sql(ALL_ORACLE_SQL[n])
            cols = list(rel.columns)
            types = co.canon_types(zip(rel.columns, map(str, rel.types)), co._DUCK_CANON)
            cached[n] = {"digest": rendering(co, cols, types, rel.fetchall()),
                         "sql": sha(ALL_ORACLE_SQL[n])}
        con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cached, f)
        os.replace(tmp, path)
    return cached


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warmup(spark, work: str, i: int) -> float:
    """One set-up round: a cold pass over a few queries on tables of their
    own (so the measured cold pass finds nothing memoized)."""
    from flink_cdc_multi_spark.plans import ALL_QUERIES

    t = time.perf_counter()
    d = querydata.write(os.path.join(work, f"warm{i}"), 1_000 + i, WARMUP_SCALE)
    for name in WARMUP_QUERIES:
        noop(ALL_QUERIES[name](spark, d))
    return time.perf_counter() - t


def run_workload(name: str, seed: int, seconds: float, trace: bool, work: str) -> common.Outcome:
    from flink_cdc_multi_spark.plans import ALL_QUERIES

    out = common.Outcome()
    co = load_check_oracle()
    trace_dir = os.path.join(work, "eventlog") if trace else None
    t = time.perf_counter()
    spark = common.new_session(f"perfbench-{name}", trace_dir)
    session_s = time.perf_counter() - t
    t = time.perf_counter()
    data = querydata.write(os.path.join(work, "data"), seed, SCALE)
    gen_s = time.perf_counter() - t
    rounds = [warmup(spark, work, i) for i in range(SETUP_ROUNDS)]
    out.e2e["setup_s"] = session_s + gen_s + stats.median(rounds)
    out.report["setup"] = {"session_s": session_s, "generate_s": gen_s, "warmup_s": rounds}

    sc = spark.sparkContext
    tracer = tracing.Tracer(spark) if trace else None
    plans, build, first, warm = {}, {}, {}, {n: [] for n in QUERIES}
    t_start = time.time()
    for q in QUERIES:
        out.attempted += 1
        sc.setJobGroup(q, q)
        try:
            t0 = time.perf_counter()
            with _span(tracer, "plans.build", q):
                df = ALL_QUERIES[q](spark, data)
            t1 = time.perf_counter()
            with _span(tracer, "plans.execute", q):
                noop(df)
            first[q], build[q] = time.perf_counter() - t1, t1 - t0
            plans[q] = df
        except Exception as e:  # noqa: BLE001
            out.fail(q, type(e).__name__, _tail(e))
    # warm passes fill the run: --seconds counts from the cold pass's start
    t_warm = time.perf_counter()
    passes = 0
    while passes < MIN_WARM_PASSES or time.time() - t_start < seconds:
        for q, df in plans.items():
            sc.setJobGroup(q, q)
            t0 = time.perf_counter()
            with _span(tracer, "plans.warm", q):
                noop(df)
            warm[q].append(time.perf_counter() - t0)
        passes += 1
    warm_wall = time.perf_counter() - t_warm
    sc.setJobGroup("perfbench-check", "checks")

    warm_med = {q: stats.median(v) for q, v in warm.items() if v}
    out.e2e["latency_p50_s"] = stats.median(list(warm_med.values()))
    out.e2e["throughput_per_s"] = passes * len(plans) / warm_wall
    out.e2e["read_p50_s"] = stats.median([build[q] + first[q] for q in plans])
    out.report["queries"] = {
        "n": len(QUERIES), "warm_passes": passes,
        "query_cold_s": sum(build.values()) + sum(first.values()),
        "query_warm_s": sum(warm_med.values()),
    }

    check_results(out, co, spark, plans, data)
    if trace:
        L = out.layers
        L["session.start_s"] = session_s
        L["plans.build_s"] = sum(build.values())
        L["plans.first_run_s"] = sum(first.values())
        for fam in FAMILIES:
            L[f"{fam}.warm_s"] = sum(v for q, v in warm_med.items() if family(q) == fam)
    spark.stop()
    if trace:
        query_job_metrics(out, tracer, tracing.read_event_logs(trace_dir), build, passes)
        out.report["spans"] = tracer.spans
    return out


def check_results(out, co, spark, plans: dict, data: str) -> None:
    """Each query's rows against its oracle; a mismatch fails the query."""
    want = oracle_digests(co, data, list(plans))
    for q, df in plans.items():
        try:
            cols = df.columns
            types = co.canon_types(df.dtypes, co._SPARK_CANON)
            got = rendering(co, cols, types, [tuple(r) for r in df.collect()])
        except Exception as e:  # noqa: BLE001
            out.fail(q, type(e).__name__, _tail(e))
            continue
        if got != want[q]["digest"]:
            out.fail(q, "OracleMismatch", f"{q}: result differs from the DuckDB oracle")


def query_job_metrics(out, tracer, log: dict, build: dict, passes: int) -> None:
    L = out.layers
    builds = {s["key"]: s for s in tracer.by_name("plans.build")}
    build_jobs = {q: tracing.jobs_of_span(log, s) for q, s in builds.items()}
    L["plans.build_jobs"] = sum(len(v) for v in build_jobs.values())
    L["plans.eager_build_s"] = sum(build[q] for q, v in build_jobs.items() if v and q in build)
    warm_jobs: dict[str, list] = {}
    for s in tracer.by_name("plans.warm"):
        warm_jobs.setdefault(s["key"], []).extend(tracing.jobs_of_span(log, s))
    for fam in FAMILIES:
        ids = [j for q, v in warm_jobs.items() if family(q) == fam for j in v]
        tot = tracing.job_totals(log, ids)
        L[f"{fam}.jobs"] = tot["jobs"] / passes
        L[f"{fam}.shuffle_bytes"] = tot["shuffle_write_bytes"] / passes
    # engine totals per warm pass of the whole slice
    every = [j for v in warm_jobs.values() for j in v]
    for k, v in tracing.job_totals(log, every).items():
        L[f"spark.task.{k}"] = v / passes


def _span(tracer, name: str, key: str):
    return tracer.span(name, key) if tracer is not None else contextlib.nullcontext()


def _tail(e: BaseException) -> str:
    return "".join(traceback.format_exception(type(e), e, e.__traceback__))[-2000:]


def check_registry(seed: int) -> int:
    """Every registered query, built and collected once, against its oracle."""
    env = common.pin_environment()
    from flink_cdc_multi_spark.plans import ALL_QUERIES

    work = common.fresh_dir(os.path.join(common.WORK, f"registry-{os.getpid()}"))
    out = common.Outcome()
    spark = common.new_session("perfbench-registry")
    try:
        co = load_check_oracle()
        data = querydata.write(os.path.join(work, "data"), seed, SCALE)
        plans = {}
        for q in ALL_QUERIES:
            out.attempted += 1
            try:
                plans[q] = ALL_QUERIES[q](spark, data)
            except Exception as e:  # noqa: BLE001
                out.fail(q, type(e).__name__, _tail(e))
        check_results(out, co, spark, plans, data)
    finally:
        spark.stop()
        common.shutdown_jvm()
        common.reap_children()
        shutil.rmtree(work, ignore_errors=True)
    for f in out.failures:
        print(f"FAIL {f['op']}: {f['type']}\n{f['detail']}")
    print(json.dumps({"queries": out.attempted, "failed": out.failed,
                      "PYTHONPATH": env["PYTHONPATH"]}))
    return 1 if out.failed else 0


if __name__ == "__main__":
    if sys.argv[1:2] != ["--all-queries"]:
        sys.exit(__doc__)
    sys.exit(check_registry(int(sys.argv[2]) if len(sys.argv) > 2 else 1))
