"""Self-tests of the benchmark's own logic (no Spark needed):

    python3 perfbench/selftest.py      # or: python3 -m pytest perfbench/selftest.py

They pin the percentile rule, span self time, span nesting and wrapper
restore, freshness and backlog from a synthetic offset timeline, the
event-log parser on a small recorded log, the feed generator's determinism,
its model and per-file model, and the query-family mapping.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import feed  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from querysurface import family  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def test_highest_percentile_needs_ten_beyond():
    assert stats.highest_supported_percentile(1000) == 99.0
    assert stats.highest_supported_percentile(200) == 95.0
    assert stats.highest_supported_percentile(100) == 90.0
    assert stats.highest_supported_percentile(99) == 75.0
    assert stats.highest_supported_percentile(20) == 50.0
    assert stats.highest_supported_percentile(19) is None


def test_percentile_interpolates():
    assert stats.percentile([], 50) == 0.0
    assert stats.percentile([3.0], 90) == 3.0
    assert stats.median([1, 2, 3, 4]) == 2.5
    assert abs(stats.percentile(range(11), 90) - 9.0) < 1e-12


def test_span_self_time_subtracts_children_and_jobs_once():
    # children overlap each other, one job overlaps a child, one job runs
    # past the span's end
    span = (0.0, 10.0)
    children = [(1.0, 3.0), (2.0, 5.0)]
    jobs = [(4.0, 4.5), (6.0, 7.0), (9.0, 12.0)]
    # covered: [1,5] + [6,7] + [9,10] = 6
    assert abs(stats.self_time(span, children, jobs) - 4.0) < 1e-12
    assert stats.self_time((0.0, 2.0), [], []) == 2.0


def test_freshness_and_backlog_from_offset_timeline():
    rate, t0 = 10.0, 100.0  # event j due at t0 + j/10; positions 1..30
    timeline = [(100.0, 0), (101.5, 10), (101.6, 10), (102.5, 20), (103.5, 30)]
    groups = stats.commit_groups(1, timeline)
    assert groups == [(101.5, 0, 9), (102.5, 10, 19), (103.5, 20, 29)]
    fresh = stats.freshness_samples(groups, rate, t0)
    assert len(fresh) == 30
    # each batch of ten: freshness 1.5 down to 0.6 s
    assert abs(max(fresh) - 1.5) < 1e-9 and abs(min(fresh) - 0.6) < 1e-9
    assert abs(stats.median(fresh) - 1.05) < 1e-9
    series = dict((round(t - t0, 2), b) for t, b in
                  stats.backlog_series(groups, rate, t0, t0 + 3.5, step=0.5))
    assert series[1.0] == 10  # ten due, none visible
    assert series[1.5] == 5  # fifteen due, ten visible
    assert series[3.5] == 5  # thirty-five due, thirty visible


def test_tracer_nests_spans_and_restores_wrapped_functions():
    import threading
    import types

    mod = types.SimpleNamespace(inner=lambda x: x + 1)
    mod.outer = lambda x: mod.inner(x) * 2
    tracer = tracing.Tracer()
    tracer.wrap(mod, "outer", "outer", key_of=lambda a, k: a[0], root=True)
    tracer.wrap(mod, "inner", "inner", result_to=lambda s, r: s.__setitem__("rows", r))
    assert mod.outer(3) == 8
    outer, = tracer.by_name("outer")
    inner, = tracer.by_name("inner")
    assert outer["key"] == 3 and outer["parent"] is None
    assert inner["parent"] == outer["id"] and inner["rows"] == 4
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    # a pool thread working inside an open root span is adopted by it
    with tracer.span("root", root=True) as root:
        t = threading.Thread(target=mod.inner, args=(1,))
        t.start()
        t.join()
    assert tracer.by_name("inner")[-1]["parent"] == root["id"]
    tracer.restore()
    mod.inner(1)
    assert len(tracer.by_name("inner")) == 2  # no span once restored


def test_event_log_parser_on_recorded_log():
    with open(os.path.join(HERE, "testdata", "eventlog_small.jsonl")) as f:
        log = tracing.parse_event_log(f)
    assert sorted(log["jobs"]) == [0, 1]
    job0 = log["jobs"][0]
    assert job0["props"].get(tracing.SPAN_PROP) == "7"
    assert job0["end"] > job0["start"] > 1e9
    assert tracing.jobs_of_span(log, {"id": 7}) == [0]
    totals = tracing.job_totals(log, [0, 1])
    assert totals["jobs"] == 2 and totals["tasks"] == 2
    assert totals["executor_run_s"] > 0 and totals["executor_cpu_s"] > 0
    window = tracing.jobs_in_window(log, job0["start"], job0["start"])
    assert window == [0]


def test_feed_is_deterministic_and_model_adds_up():
    with tempfile.TemporaryDirectory() as d:
        spec = {"profile": "multi", "mode": "backlog", "seed": 5, "n_tables": 4,
                "events_per_file": 300, "n_files": 3, "ddl_every": 50,
                "redeliver_frac": 0.03, "dir": os.path.join(d, "a")}
        a = feed.generate(dict(spec))
        b = feed.generate(dict(spec, dir=os.path.join(d, "b")))
        assert {k: v for k, v in a.items() if k != "files"} == \
               {k: v for k, v in b.items() if k != "files"}
        assert a["events"] == 900
        assert sum(t["rows"] for t in a["tables"].values()) + len(a["ddl"]) == 900
        assert a["redelivered"] == 18  # 9 per file after the first
        lines = []
        for name in sorted(os.listdir(spec["dir"])):
            assert not name.startswith(".")  # published by rename only
            with open(os.path.join(spec["dir"], name)) as f:
                lines += f.read().splitlines()
        assert len(lines) == 900 + 18
        assert a["last_offset"] == f"{feed.BINLOG},{a['last_pos']}"


def test_wide_backlog_model_per_file():
    """Hand-written image JSON equals json.dumps; the per-file model of a
    keyed backlog adds up to the final model, so the split checks of a
    table compacted mid-drain compare against consistent figures."""
    import json

    with tempfile.TemporaryDirectory() as d:
        spec = {"profile": "wide", "mode": "backlog", "events_per_file": 300,
                "snapshot_rows": 200, "keyspace": 400, "span_days": 30, "seed": 5,
                "n_files": 3, "dir": d}
        m = feed.generate(spec)
        assert [f["last_pos"] for f in m["files"]] == [300, 600, 900]
        assert m["files"][-1]["tables"] == m["tables"]
        assert m["files"][-1]["state"] == m["state"]
        # a file after the snapshot has changed the image
        assert m["files"][0]["state"] != m["files"][1]["state"]
        with open(os.path.join(d, "f000001.json")) as f:
            ev = [json.loads(line) for line in f]
        img = next(e["after"] for e in ev if e["after"])
        fd = feed.Feed(spec)
        assert fd._json(img) == json.dumps(img, separators=(",", ":"))
        fd = feed.Feed({"profile": "multi", "seed": 1})
        img = fd._image("t0", 7, 2)
        assert fd._json(img) == json.dumps(img, separators=(",", ":"))


def test_query_families():
    assert family("q06") == "plans.queries"
    assert family("ext_dedup_images") == "operators.dedup"
    assert family("ext_ann_ivf") == "operators.similarity"
    assert family("ext_embed_centroid") == "operators.similarity"
    assert family("ext_contamination") == "operators.text"
    assert family("ext_pack_bpe") == "operators.text"
    assert family("ext_topk_freq") == "operators.sketch"
    assert family("ext_multimodal_dims") == "operators.multimodal"
    assert family("ext_events_funnel") == "plans.extensions"


if __name__ == "__main__":
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
    print(f"{len(tests)} passed")
