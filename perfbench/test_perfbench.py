"""Tests of the benchmark's own logic (no Spark session needed).

Run from the repository root: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pandas as pd

from perfbench import trace as tr
from perfbench import workloads as wl

EXPECTED = {"order": wl.digest(["a", "b"]), "done": wl.digest(["a"]),
            "forfeit": wl.digest(["b"]), "fetches": 3}


def test_matching_crawl_output_passes():
    assert wl.crawl_mismatches(EXPECTED, dict(EXPECTED, valid_ratio=1.0)) == []


def test_perturbed_digest_is_a_failure():
    got = dict(EXPECTED, valid_ratio=1.0)
    for key in ("order", "done", "forfeit"):
        wrong = dict(EXPECTED, **{key: EXPECTED[key][:-1] + "0"})
        assert wl.crawl_mismatches(wrong, got) == [key]
    assert wl.crawl_mismatches(EXPECTED, dict(got, valid_ratio=0.999)) == ["valid_ratio"]


def test_resume_invariant():
    base = {"fetches": 10}
    new = {"k1": (1, 0), "k2": (0, 3)}
    assert wl.resume_mismatches({"k1", "k2"}, new, 10, base, 3, 1.0) == []
    assert wl.resume_mismatches({"k1"}, new, 10, base, 3, 1.0) == ["fetched_keys"]
    assert wl.resume_mismatches({"k1", "k2"}, new, 11, base, 3, 1.0) == ["old_rows"]
    assert wl.resume_mismatches({"k1", "k2"}, {"k1": (1, 0), "k2": (0, 1)},
                                10, base, 3, 1.0) == ["not_quiescent"]


def test_query_oracle_mismatch_is_reported():
    got = pd.DataFrame({"k": [1, 2], "v": [1.0, 2.0]})
    assert wl.query_mismatch(got, got.copy()) is None
    assert wl.query_mismatch(got, pd.DataFrame({"k": [1, 2], "v": [1.0, 2.5]}))


def test_clone_table_rewrites_manifest_and_links_data(tmp_path):
    src, dst = str(tmp_path / "a" / "t"), str(tmp_path / "b" / "t")
    os.makedirs(os.path.join(src, "data", "s1"))
    with open(os.path.join(src, "data", "s1", "part-0.parquet"), "w") as f:
        f.write("x")
    with open(os.path.join(src, "manifest.json"), "w") as f:
        json.dump([{"snapshot_id": "s1", "files": [os.path.join(src, "data", "s1")]}], f)
    wl.clone_table(src, dst)
    with open(os.path.join(dst, "manifest.json")) as f:
        assert json.load(f)[0]["files"] == [os.path.join(dst, "data", "s1")]
    a = os.stat(os.path.join(src, "data", "s1", "part-0.parquet"))
    b = os.stat(os.path.join(dst, "data", "s1", "part-0.parquet"))
    assert a.st_ino == b.st_ino


class _FakeSc:
    def __init__(self):
        self.props = {}

    def setLocalProperty(self, k, v):
        self.props[k] = v


def test_jobs_are_charged_to_layers():
    t = tr.Tracer(_FakeSc())
    with t.span("op", "pipeline", "op") as op:
        with t.span("pipeline.epoch", "pipeline") as ep:
            with t.span("spark.localCheckpoint", "spark", "action") as rank:
                rank.plan_layer = "scheduler"
            with t.span("catalog.append:fetch_log", "catalog", "write") as app:
                app.plan_layer = "fetch"
            with t.span("spark.collect", "spark", "action") as counters:
                pass
        with t.span("discovery.flush", "discovery") as fl:
            with t.span("catalog.append:frontier", "catalog", "write") as fapp:
                pass
    assert t.sc.props[tr.SPAN_PROPERTY] is None
    assert fl.parent is op
    op.t0, op.t1 = 0.0, 10.0
    # the rank job overlaps the append's job for one second
    times = [(rank, 1.0, 3.0), (app, 2.0, 4.0), (counters, 5.0, 6.0), (fapp, 7.0, 8.0)]
    jobs = {i: tr.Job(i, a, b, s.id, [i]) for i, (s, a, b) in enumerate(times)}
    o = tr.OpTrace(op, t.spans, jobs, {})
    assert [lay for _, _, lay in o.jobs] == ["scheduler", "fetch", "pipeline", "discovery"]
    assert o.job_s("scheduler") == 1.5 and o.job_s("fetch") == 1.5
    assert o.jobs_within(ep) == 4.0
    assert o.driver_only_s() == 5.0 and o.coverage() == 1.0


def test_wrong_expected_output_fails_the_operation(monkeypatch):
    w = wl.CrawlWorkload("crawl_seeded", 1)
    got = dict(EXPECTED, valid_ratio=1.0)
    monkeypatch.setattr(wl, "crawl_outputs", lambda spark, wd, cfg: got)
    w.expected = dict(EXPECTED)
    ok = wl.OpResult(1.0, 3, 0.5)
    w.check(None, "unused", ok)
    assert ok.failed == 0
    w.expected = dict(EXPECTED, order=wl.digest(["b", "a"]))
    bad = wl.OpResult(1.0, 3, 0.5)
    w.check(None, "unused", bad)
    assert bad.failed == 1 and "order" in bad.notes[0]


def test_refuses_to_run_outside_a_checkout(tmp_path):
    import shutil
    import subprocess
    import sys

    here = os.path.dirname(os.path.abspath(__file__))
    shutil.copytree(here, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(here), "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "crawl_seeded",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0 and p.stdout == ""
