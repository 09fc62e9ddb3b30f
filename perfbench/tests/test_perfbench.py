"""Tests for the benchmark's own code (not the program under test).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, run  # noqa: E402
from perfbench.tracing import LAYER_METRICS, Tracer, _covered, aggregate  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")

TINY_MOBILITY = gen.MobilitySpec(cohorts=((2, 300.0), (3, 3600.0)), days=3, n_files=2)
TINY_CORPUS = gen.CorpusSpec(
    sources=(("web", 30, 500, 1.0), ("forum", 30, 5000, 0.3)), dup_clusters=5, junk=3, chats=4, n_files=2
)


def _files(path):
    out = {}
    for root, _d, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


def _mobility(tmp, name, seed):
    gen.generate_mobility(TINY_MOBILITY, seed, str(tmp / name))
    return _files(tmp / name)


def _corpus(tmp, name, seed):
    gen.generate_corpus(TINY_CORPUS, seed, str(tmp / name / "docs"), chat_path=str(tmp / name / "chats"))
    return _files(tmp / name)


@pytest.mark.parametrize("make", [_mobility, _corpus])
def test_same_seed_same_bytes_other_seed_differs(tmp_path, make):
    a, b, c = make(tmp_path, "a", 7), make(tmp_path, "b", 7), make(tmp_path, "c", 8)
    assert a and a == b
    assert a.keys() == c.keys() and a != c


def test_mobility_truth_matches_file(tmp_path):
    import pyarrow.dataset as pads

    truth = gen.generate_mobility(TINY_MOBILITY, 3, str(tmp_path / "m"))
    t = pads.dataset(str(tmp_path / "m")).to_table()
    assert t.column_names == ["_c0", "_c1", "_c2", "_c3", "_c4", "_c5"]
    assert t.num_rows == truth.n_pings
    errs = t.column("_c4").to_pylist()
    assert sum(e >= gen.ERROR_FILTER_M for e in errs) == truth.n_filtered > 0
    assert set(truth.home) == set(t.column("_c0").to_pylist())


def test_corpus_truth_partitions_ids(tmp_path):
    truth = gen.generate_corpus(TINY_CORPUS, 3, str(tmp_path / "d"))
    members = {i for h, cs in truth.clusters for i in [h, *cs]}
    assert len(truth.clusters) == TINY_CORPUS.dup_clusters
    assert not (members & truth.junk) and not (members & truth.clean) and not (truth.junk & truth.clean)
    assert len(members | truth.junk | truth.clean) == truth.n_docs


def test_covered_unions_and_clips():
    assert _covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert _covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert _covered([], 0, 1) == 0


def test_aggregate_counts_each_stage_once_and_skips_skipped():
    jobs = [
        {"jobId": 0, "jobGroup": "r/a", "stageIds": [0, 1]},
        {"jobId": 1, "jobGroup": "r/b", "stageIds": [1, 2, 3]},
        {"jobId": 2, "jobGroup": "other", "stageIds": [4]},
    ]
    st = {"submissionTime": "2026-01-01T00:00:00.000GMT", "completionTime": "2026-01-01T00:00:01.000GMT"}
    stages = [
        {"stageId": 0, "status": "COMPLETE", "numCompleteTasks": 3, "executorRunTime": 1500, "inputRecords": 10, **st},
        {"stageId": 1, "status": "COMPLETE", "numCompleteTasks": 2, "shuffleWriteBytes": 100, **st},
        {"stageId": 2, "status": "SKIPPED", "numCompleteTasks": 0},
        {"stageId": 3, "status": "COMPLETE", "numCompleteTasks": 4, "diskBytesSpilled": 7, "outputBytes": 9, **st},
        {"stageId": 4, "status": "COMPLETE", "numCompleteTasks": 99, **st},
    ]
    c = aggregate(jobs, stages, ["r/a", "r/b"])
    assert (c["r/a"]["jobs"], c["r/a"]["tasks"]) == (1, 5)
    assert (c["r/b"]["jobs"], c["r/b"]["tasks"]) == (1, 4)
    assert c["r/a"]["run_s"] == pytest.approx(1.5)
    assert c["r/a"]["input_records"] == 10 and c["r/a"]["shuffle_bytes"] == 100
    assert (c["r/b"]["spill_bytes"], c["r/b"]["output_bytes"]) == (7, 9)
    assert len(c["r/b"]["intervals"]) == 1


@pytest.fixture(scope="module")
def spark():
    from polaroam_spark import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_counters_by_job_group_on_tiny_frame(spark):
    from perfbench.tracing import SparkRest

    sc = spark.sparkContext
    tracer = Tracer(lambda: sc, lambda: 0.0, enabled=True)
    rdd3, rdd2 = sc.parallelize(range(10), 3), sc.parallelize(range(10), 2)
    a = tracer.call("a", "t1", lambda: (rdd3.count(), rdd3.count()))
    b = tracer.call("b", "t1", rdd2.count)
    assert a.ok and b.ok
    rest = SparkRest(spark)
    rest.settle()
    c = aggregate(rest.jobs(), rest.stages(), [a.group, b.group])
    assert (c[a.group]["jobs"], c[a.group]["tasks"]) == (2, 6)
    assert (c[b.group]["jobs"], c[b.group]["tasks"]) == (1, 2)
    assert sc.getLocalProperty("spark.jobGroup.id") is None


class _FakeRest:
    def settle(self):
        pass

    def stages(self):
        return []

    def jobs(self):
        return []


class _FakeSampler:
    def cpu_s(self):
        return 0.0

    def reset_peak(self):
        pass

    def peak_bytes(self):
        return 0


class _FakeWorkload:
    """Three layers; ``boom`` names the one that raises, ``bad`` the
    one whose output check fails, ``rows`` the stage row count."""

    def __init__(self, work, boom=None, bad=None, rows=5):
        self.work, self.spark = str(work), None
        self.boom, self.bad, self.rows = boom, bad, rows

    def steps(self, out):
        def step(name):
            def fn():
                if name == self.boom:
                    raise RuntimeError("planted")
                os.makedirs(out, exist_ok=True)

            return (name, fn, lambda: 1)

        return [step(n) for n in ("l1", "l2", "l3")]

    def check(self, out):
        return {"s": self.rows}, 1.0, ({self.bad: "planted"} if self.bad else {})


def _runner(wl):
    return run.Runner(wl, _FakeSampler(), _FakeRest, trace_enabled=False)


def test_failed_frac_counts_a_raising_layer_and_the_layers_it_blocks(tmp_path):
    wl = _FakeWorkload(tmp_path)
    r = _runner(wl)
    r.run("r0", traced=False)
    assert (r.attempted, r.failed) == (3, 0)
    wl.boom = "l2"
    rec = r.run("r1", traced=False)
    assert (r.attempted, r.failed) == (6, 2)  # l2 raised, l3 never ran
    assert "rows" not in rec and any("planted" in e for e in r.errors)


def test_failed_frac_counts_failed_checks_and_row_drift(tmp_path):
    wl = _FakeWorkload(tmp_path, bad="l3")
    r = _runner(wl)
    r.run("r0", traced=False)
    assert (r.attempted, r.failed) == (3, 1)
    wl.bad, wl.rows = None, 6  # stage rows differ from the first run
    r.run("r1", traced=False)
    assert (r.attempted, r.failed) == (6, 4)


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_well_formed_and_declared(tmp_path):
    from perfbench.workloads import WORKLOADS

    spec = _declared()
    e2e = run.end_to_end_report([], [], type("W", (), {"input_rows": 1, "input_bytes": 1})())
    assert [m["name"] for m in spec["end_to_end"]] == list(e2e)
    declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for name, cls in WORKLOADS.items():
        wl = cls(str(tmp_path / name))
        setup = {"setup.session": 1.0, **{f"setup.train.{t}": 1.0 for t in wl.trains}}
        layers = {l: {m: 1.0 for m, _u in LAYER_METRICS} for l in wl.layers}
        traced = [{"run_s": 1.0, "layers": layers, "span_coverage": 1.0}]
        per_layer = run.layer_report(traced, [{"run_s": 1.0}], [setup])
        # every workload prints every declared metric ...
        assert {k: v["unit"] for k, v in per_layer.items()} == declared, name
        # ... and 0 for the layers and set-up spans it does not call
        called = {f"{l}.{m}" for l in wl.layers for m, _u in LAYER_METRICS}
        called |= {f"{s}.wall_s" for s in setup} | {"trace.span_coverage"}
        for k, v in per_layer.items():
            assert v["value"] == (1.0 if k in called else 0.0), (name, k)
    names = list(e2e) + list(declared)
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64, n


def test_declared_workloads_exist():
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in _declared()["workloads"]] == list(WORKLOADS)
    for w in _declared()["workloads"]:
        assert w["why"] == WORKLOADS[w["name"]].why
