"""Tiny-size self-tests of the benchmark's generators, oracles, event-log
parser and its BENCHMARK.json contract. No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from perfbench import gen, oracles
from perfbench.tracing import EventLog, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _files(path):
    out = {}
    for d, _, fs in os.walk(path):
        for f in fs:
            if f != "meta.json":
                with open(os.path.join(d, f), "rb") as fh:
                    out[os.path.relpath(os.path.join(d, f), path)] = fh.read()
    return out


@pytest.mark.parametrize("name,build,params", [
    ("tiles", gen.build_images_index, {"n": 500}),
    ("parcels", gen.build_parcels, {"grid": 5, "points": 400, "hot_share": 0.3, "res": 4}),
    ("curate", gen.build_images, {"n": 30}),
    ("counties", gen.build_counties, {"grid": 3, "vertices": 4}),
])
def test_generators_are_seeded(tmp_path, name, build, params):
    a, _, gen_s, hit = gen.cached(str(tmp_path / "a"), name, params, 7, build)
    b, _, _, _ = gen.cached(str(tmp_path / "b"), name, params, 7, build)
    c, _, _, _ = gen.cached(str(tmp_path / "c"), name, params, 8, build)
    assert not hit and gen_s > 0
    assert _files(a) == _files(b)
    assert _files(a) != _files(c)
    again = gen.cached(str(tmp_path / "a"), name, params, 7, build)
    assert again[3] and again[0] == a


def test_rect_hits_count_shared_edges_and_corners():
    xe = np.array([0.0, 1.0, 2.0])
    ye = np.array([0.0, 1.0, 2.0])
    x = np.array([0.5, 1.0, 1.0, 2.0, 3.0])
    y = np.array([0.5, 0.5, 1.0, 2.0, 0.5])
    pt, rid = oracles.rect_hits(x, y, xe, ye)
    per_point = np.bincount(pt, minlength=len(x))
    # inside; on a shared edge; on the shared corner; outer corner; outside
    assert per_point.tolist() == [1, 2, 4, 1, 0]
    assert sorted(rid[pt == 1].tolist()) == [0, 1]
    assert rid[pt == 3].tolist() == [3]


def test_region_tile_counts_matches_a_loop():
    rng = np.random.default_rng(3)
    ph = gen.footprint_phash(rng, 3000)
    got = oracles.region_tile_counts(ph)
    lon, lat = oracles.footprints(ph)
    xmin, ymin, xmax, ymax = gen.BBOX
    want: dict = {}
    for x, y in zip(lon.tolist(), lat.tolist()):
        tc = min(max(int(np.floor((x - xmin) / (xmax - xmin) * 16)), 0), 15)
        tr = min(max(int(np.floor((y - ymin) / (ymax - ymin) * 16)), 0), 15)
        for r in range(4):
            for c in range(6):
                x0, x1 = xmin + c * 10.0, xmin + (c + 1) * 10.0
                y0, y1 = ymin + r * 6.0, ymin + (r + 1) * 6.0
                if x0 <= x <= x1 and y0 <= y <= y1:
                    want[r * 6 + c, tr, tc] = want.get((r * 6 + c, tr, tc), 0) + 1
    assert got == want
    assert sum(got.values()) > len(ph)  # border rows count in both regions


def test_phash_pairs_matches_brute_force():
    rng = np.random.default_rng(5)
    ph = rng.integers(0, 1 << 12, 60, dtype=np.int64)  # narrow values: many close pairs
    want = 0
    for i in range(len(ph)):
        for j in range(i + 1, len(ph)):
            a, b = int(ph[i]), int(ph[j])
            share = any((a >> (k * 10)) & 1023 == (b >> (k * 10)) & 1023 for k in range(4))
            want += share and bin(a ^ b).count("1") <= 6
    assert oracles.phash_pairs(ph) == want > 0


def test_png_encoder_round_trips_through_the_program_decoder():
    from mapshaper_spark.operators.images import decode_png, synth_pixels
    for w, h in ((16, 32), (64, 16)):
        px = gen.synth_pixels(9, w, h)
        assert np.array_equal(px, synth_pixels(9, w, h))
        assert np.array_equal(decode_png(gen.encode_png(px)), px)


def test_counties_share_borders_and_have_no_fid(tmp_path):
    path, _, _, _ = gen.cached(str(tmp_path), "counties", {"grid": 3, "vertices": 5}, 1,
                               gen.build_counties)
    with open(os.path.join(path, "counties.json")) as f:
        doc = json.load(f)
    assert oracles.check_feature_collection(doc) == []
    feats = doc["features"]
    assert all("fid" not in f["properties"] for f in feats)
    area = sum(oracles.polygon_area(f["geometry"]) for f in feats)
    assert area == pytest.approx(100.0, rel=1e-9)  # the 10 x 10 degree extent, no gaps
    edges: dict = {}
    for f in feats:
        ring = [tuple(p) for p in f["geometry"]["coordinates"][0]]
        for a, b in zip(ring, ring[1:]):
            edges[frozenset((a, b))] = edges.get(frozenset((a, b)), 0) + 1
    assert max(edges.values()) == 2  # interior segments appear in both neighbours


def test_check_feature_collection_flags_open_rings():
    bad = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "properties": {},
         "geometry": {"type": "Polygon", "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1]]]}}]}
    assert oracles.check_feature_collection(bad)


def test_tail_percentile():
    from perfbench.run import tail_percentile
    assert tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0, 3)
    p, v, n = tail_percentile([float(i) for i in range(1, 21)])
    assert (n, v) == (20, 10.0) and p == 50.0  # ten samples (11..20) lie above


class _FakeWorkload:
    min_warm = 3
    max_jobs = 200
    probe_jobs = ({"kind": "extra"},) * 2

    def __init__(self):
        self.calls = []

    def job(self, spark, tracer, i, kind="main"):
        self.calls.append((i, kind))
        if i == 2:
            raise RuntimeError("a failing job")
        return {"kind": kind}

    def check(self, out):
        return ["wrong"] if out["kind"] == "extra" else []


@pytest.mark.parametrize("trace", [False, True])
def test_run_jobs_roles_and_failures(trace):
    from perfbench.run import run_jobs
    wl = _FakeWorkload()
    records, results = run_jobs(wl, None, Tracer(), 0.0, trace)
    roles = [r["role"] for r in records]
    assert roles == ["cold", "warm", "warm", "warm"] + ["probe", "probe"] * trace
    assert [r["i"] for r in records] == list(range(len(records)))
    assert [r["ok"] for r in records] == [True, True, False, True] + [False, False] * trace
    assert results[2] is None
    assert wl.calls[-1] == ((5, "extra") if trace else (3, "main"))


def _event_log(tmp_path):
    acc = [{"ID": 7, "Name": "number of output rows", "Update": "5", "Metadata": "sql",
            "Internal": True}]
    plan = {"nodeName": "Filter", "simpleString": "Filter x", "children": [],
            "metrics": [{"name": "number of output rows", "accumulatorId": 7}]}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "span3",
                                          "spark.sql.execution.id": "1"},
         "Stage Infos": [{"Stage ID": 0, "RDD Info": [{"Scope": '{"id":"1","name":"MapInPandas"}'}]}]},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 1, "sparkPlanInfo": plan},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Accumulables": acc},
         "Task Metrics": {"Executor Run Time": 300, "Executor CPU Time": 2 * 10 ** 8,
                          "JVM GC Time": 10, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 4,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Accumulables": acc},
         "Task Metrics": {"Executor Run Time": 100}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3500},
    ]
    path = tmp_path / "local-1000"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (tmp_path / "local-2000").write_text(json.dumps(events[0]) + "\n")  # a later app, ignored
    return EventLog(str(tmp_path))


def test_event_log_attributes_tasks_and_sql_metrics_to_spans(tmp_path):
    log = _event_log(tmp_path)
    jobs = log.jobs_of({3})
    assert jobs == [0]
    assert log.task_sum(jobs, "run_ms") == 400
    assert log.task_sum(jobs, "run_ms", scope="MapInPandas") == 400
    assert log.task_sum(jobs, "shuffle_write") == 64 and log.task_sum(jobs, "spill") == 4
    assert log.job_wall_s(jobs) == 2.5
    (node, below), = log.plan_nodes(jobs)
    assert node["nodeName"] == "Filter" and below == set()
    assert log.metric(node, "number of output rows") == 10.0


def test_tracer_is_a_no_op_unless_active():
    t = Tracer()
    with t.span("x") as rec:
        assert rec is None
    t.phase("y")
    assert t.spans == []


def test_benchmark_json_matches_the_runner():
    from perfbench.run import END_TO_END, PER_LAYER
    from perfbench.workloads import WORKLOADS
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert max(m["bound"] for m in spec["end_to_end"]) == \
        next(m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")
