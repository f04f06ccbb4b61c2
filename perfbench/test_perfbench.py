"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import subprocess
import sys

import pytest

import gen
import run
import workloads
from harness import Run, Tracer, min_samples_for, percentile, spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- percentile rule --------------------------------------------------------


def test_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 101))
    assert percentile(xs, 90) == 90  # 10 samples beyond p90 of 100
    with pytest.raises(ValueError):
        percentile(xs[:99], 90)
    assert min_samples_for(90) == 100
    assert min_samples_for(75) == 40
    assert min_samples_for(50) == 1
    assert percentile([3.0], 50) == 3.0


def test_spread_is_iqr_share_of_median():
    s = spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert s["median"] == 3.0
    assert s["iqr_share"] == pytest.approx((s["q3"] - s["q1"]) / 3.0)


# -- seeded inputs ----------------------------------------------------------


def _digest(path: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_tables_are_byte_identical_per_seed(tmp_path):
    for name in ("a", "b"):
        gen.write_tables(gen.tpch_tables(7), str(tmp_path / name))
    gen.write_tables(gen.tpch_tables(8), str(tmp_path / "c"))
    a, b, c = (_digest(str(tmp_path / n)) for n in "abc")
    assert a == b and len(a) == 10
    assert a != c


def test_medallion_deliveries_are_byte_identical_per_seed(tmp_path):
    worlds = [gen.CompanyWorld(5, 200, 0.05) for _ in range(2)]
    for i, w in enumerate(worlds):
        for day in range(3):
            w.deliver(day, str(tmp_path / f"w{i}" / f"day{day}"))
    assert _digest(str(tmp_path / "w0")) == _digest(str(tmp_path / "w1"))
    assert worlds[0].expired == worlds[1].expired
    assert len(worlds[0].expired) == 2 * 10  # 5% of 200 keys on days 1 and 2


def test_serving_rows_are_seeded_and_answer_lookups():
    a, b = gen.ServingRows(3), gen.ServingRows(3)
    assert a.batch(50) == b.batch(50)
    assert a.point(10) == [(10, a.amounts[10])]
    assert a.point(50) == []
    n, cents = a.range_count_cents(0.0, 10000.0)
    assert n == 50 and cents == sum(round(x * 100) for x in a.amounts)


# -- metric names -----------------------------------------------------------


def _fake_run() -> Run:
    r = Run(spark=None, meters=None, tracer=Tracer(None, enabled=False),
            seed=1, seconds=1.0, work="")
    d = {"wall": 0.5, "jvm_cpu": 1.0, "py_cpu": 0.1, "jit": 0.2, "gc": 0.01,
         "steal": 1, "ticks": 100}
    d["cpu"] = d["jvm_cpu"] + d["py_cpu"]
    r.samples.update(a=[d], b=[d, d])
    r.first, r.last = {k: 0 for k in d}, d
    r.setup_s = 10.0
    r.attempted = 3
    return r


def test_end_to_end_names_match_benchmark_json():
    names = [m["name"] for m in _bench()["end_to_end"]]
    metrics = run.end_to_end(_fake_run())
    assert list(metrics) == names
    assert all(v > 0 for v, _ in metrics.values())


def test_query_mix_report_names_the_query_metrics():
    r = _fake_run()
    rep = run.report(r, workloads.QueryMix(r), dict(workloads.NO_LAKE))
    assert rep["queries_per_min"] == pytest.approx(120.0)
    assert rep["query_geomean_s"] == pytest.approx(0.5)
    assert rep["failed_frac"] == 0.0 and rep["steal_share"] == 0.01


def test_per_op_weighs_each_kind_median_the_same():
    r = _fake_run()
    r.samples = {"a": [{"wall": 1.0}, {"wall": 9.0}, {"wall": 2.0}],
                 "b": [{"wall": 8.0}]}
    assert r.per_op("wall") == pytest.approx(4.0)  # geomean of medians 2 and 8
    assert r.part_per_op("wall") == 5.0
    # a kind twice as slow moves the figure by the same factor, whatever
    # the kind's count in the mix
    r.samples["b"] = [{"wall": 16.0}]
    assert r.per_op("wall") == pytest.approx(4.0 * 2 ** 0.5)


def test_span_self_time_and_inclusive_counts():
    tr = Tracer(None, enabled=False)
    tr.spans = [
        {"name": "warm", "op": None, "parent": None, "start": 0.0, "end": 50.0,
         "role": "exec", "counts": {}, "jobs": 9},
        {"name": "day", "op": 1, "parent": None, "start": 0.0, "end": 10.0,
         "role": "plan", "counts": {"bytes_written": 5}, "jobs": 1},
        {"name": "commit", "op": 1, "parent": 1, "start": 2.0, "end": 5.0,
         "role": "exec", "counts": {}, "jobs": 2},
    ]
    assert tr.self_times() == {"day": 7.0, "commit": 3.0}
    assert tr.self_times("role") == {"plan": 7.0, "exec": 3.0}
    assert tr.totals("jobs") == {"day": 3, "commit": 2}
    assert tr.totals("wall") == {"day": 10.0, "commit": 3.0}
    assert tr.totals("calls") == {"day": 1, "commit": 1}
    assert tr.totals("bytes_written") == {"day": 5, "commit": 0}


def test_per_layer_names_match_benchmark_json():
    names = [m["name"] for m in _bench()["per_layer"]]
    assert list(run.per_layer(_fake_run(), 5.0, dict(workloads.NO_LAKE))) == names


def test_lake_workloads_report_the_same_layer_names(tmp_path):
    d = tmp_path / "lake" / "t" / "data" / "x"
    d.mkdir(parents=True)
    (d / "part.parquet").write_bytes(b"1234")

    class Catalog:
        def latest_manifest(self, name):
            return {"dirs": [f"file:{d}"], "bucket_dirs": None}

    layer = workloads._lake_layer(_fake_run(), str(tmp_path / "lake"), Catalog(),
                                  ["t"], written=8, input_bytes=4, commits=2,
                                  lookups=[1, 3])
    assert list(layer) == list(workloads.NO_LAKE)
    assert layer["sinks.storage_amp"][0] == 1.0
    assert layer["manifest.dirs_per_lookup"][0] == 2.0


def test_every_cycle_ends_its_appends_with_the_compacting_one():
    for seed in range(20):
        wl = workloads.LakeDaily.__new__(workloads.LakeDaily)
        wl.rng = random.Random(seed)
        cycle = wl._cycle()
        assert cycle[0] == "day" and cycle.count("compact") == 1
        appends = [k for k in cycle if k in ("append", "compact")]
        assert len(appends) == workloads.APPENDS and appends[-1] == "compact"


def test_maintenance_thresholds_are_crossed_by_the_last_append_only():
    # the policies' documented rules: optimize once dirs > max_dirs (to
    # one dir, one more version); vacuum once versions > max_versions
    # (keeping keep_versions=1); a cycle starts at one dir, one version
    dirs, versions = 1, 1
    for _ in range(3):
        crossed = []
        for _ in range(workloads.APPENDS):
            dirs, versions = dirs + 1, versions + 1
            rewrote = dirs > workloads.MAX_DIRS
            if rewrote:
                dirs, versions = 1, versions + 1
            vacuumed = versions > workloads.MAX_VERSIONS
            if vacuumed:
                versions = 1
            assert rewrote == vacuumed
            crossed.append(rewrote)
        assert crossed == [False] * (workloads.APPENDS - 1) + [True]
        assert (dirs, versions) == (1, 1)


def test_workload_names_match_benchmark_json():
    assert [w["name"] for w in _bench()["workloads"]] == list(workloads.WORKLOADS)


# -- contract: no engine, no result -------------------------------------------


def test_run_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
