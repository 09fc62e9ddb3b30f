"""Run one benchmark workload end to end and print its metrics.

    python3 perfbench/run.py --workload mobility --seed 1 --seconds 1 --trace 0

Run from the repository root. The workload's inputs are generated from
``--seed`` under ``.bench_work/``; the program (``polaroam_spark``)
runs in this process on ``get_spark()`` defaults at ``local[<cpus>]``.
One client, closed loop: each timed run sets up a fresh session (JVM
start, model training) and runs the pipeline once on it, as each
``python -m polaroam_spark <stage>`` call does; runs repeat until
``--seconds`` have passed.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``. ``attempted``/``failed`` count layer calls; a
call fails when it raises or its output check fails. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones
(runs alternate traced/untraced to measure the tracing overhead) and
writes the spans to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

#: timed runs per invocation, whatever ``--seconds`` says; ``--trace
#: 1`` makes at least one traced and one untraced run
MIN_RUNS = 1

END_TO_END = (
    ("run_s", "s"),
    ("rows_per_s", "1/s"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MB"),
    ("write_amp", "ratio"),
    ("output_quality", "frac"),
    ("setup_s", "s"),
)


def _isolate(work: str) -> None:
    """Keep every temporary file of this process, the JVM and its
    Python workers inside ``work``, and let the workers import the
    package from this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        filter(None, [os.environ.get("SPARK_SUBMIT_OPTS", ""), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"])
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH", "")]))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = None


class Session:
    """One SparkSession on its own JVM; :meth:`close` stops both and
    waits for the JVM (and so its Python workers) to exit."""

    def __init__(self, app: str):
        from polaroam_spark import get_spark

        cpus = len(os.sched_getaffinity(0))
        self.spark = get_spark(app_name=app, master=f"local[{cpus}]")
        self.spark.sparkContext.setLogLevel("ERROR")

    def close(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits on stdin EOF
                proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _wait_children(timeout_s: float = 60.0) -> None:
    from perfbench.procmon import tree_pids

    deadline = time.time() + timeout_s
    while len(tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


class Runner:
    def __init__(self, wl, sampler, rest_factory, trace_enabled: bool):
        from perfbench.tracing import Tracer

        self.wl = wl
        self.sampler = sampler
        self.rest_factory = rest_factory
        self.tracer = Tracer(lambda: wl.spark.sparkContext, sampler.cpu_s, trace_enabled)
        self.attempted = 0
        self.failed = 0
        self.errors: "list[str]" = []
        self.base_rows: "dict | None" = None

    def run(self, run_id: str, traced: bool) -> dict:
        """One pipeline run: every layer call, then the output checks
        and the counters; returns the run record."""
        from perfbench.tracing import aggregate, layer_metrics
        from perfbench.workloads import dir_bytes

        wl = self.wl
        out = os.path.join(wl.work, "runs", run_id)
        steps = wl.steps(out)
        rest = self.rest_factory()
        rest.settle()
        first_stage = max((s["stageId"] for s in rest.stages()), default=-1) + 1
        self.tracer.enabled = traced
        self.sampler.reset_peak()
        cpu0 = self.sampler.cpu_s()
        t0 = time.perf_counter()
        spans, ok = [], True
        for layer, fn, _rows in steps:
            if not ok:
                break
            sp = self.tracer.call(layer, run_id, fn)
            spans.append(sp)
            ok = sp.ok
        run_s = time.perf_counter() - t0
        cpu_s = self.sampler.cpu_s() - cpu0
        self.attempted += len(steps)
        rec = {"run": run_id, "run_s": run_s, "cpu_s": cpu_s, "peak_bytes": self.sampler.peak_bytes(), "traced": traced}
        if not ok:
            self.failed += len(steps) - len(spans) + 1
            self.errors += [f"{run_id} {s.name}: {s.error}" for s in spans if not s.ok]
            shutil.rmtree(out, ignore_errors=True)
            return rec
        rows, quality, fails = wl.check(out)
        if self.base_rows is None:
            self.base_rows = rows
        elif rows != self.base_rows:
            fails = {layer: f"stage rows {rows} != first run {self.base_rows}" for layer, _f, _r in steps}
        self.failed += len(fails)
        self.errors += [f"{run_id} {k}: {v}" for k, v in fails.items()]
        rest.settle()
        stages = rest.stages()
        new = [s for s in stages if s["stageId"] >= first_stage]
        spilled = sum(s.get("shuffleWriteBytes", 0) + s.get("diskBytesSpilled", 0) for s in new)
        rec.update(rows=rows, quality=quality, written=dir_bytes(out) + spilled)
        if traced:
            counters = aggregate(rest.jobs(), stages, [s.group for s in spans])
            rec["layers"] = {
                s.name: layer_metrics(s, counters[s.group], r())
                for s, (_l, _f, r) in zip(spans, steps)
            }
            rec["span_coverage"] = sum(s.end - s.start for s in spans) / run_s
        shutil.rmtree(out, ignore_errors=True)
        return rec


def cold_run(wl, runner, run_id: str, traced: bool) -> "tuple[dict, dict]":
    """Set up a fresh session (JVM start, then the workload's model
    training) and run the pipeline once on it; stops the JVM and waits
    for its Python workers. Returns the set-up span times and the run
    record."""
    setup = {}
    t0 = time.perf_counter()
    session = Session(f"perfbench-{wl.name}")
    try:
        setup["setup.session"] = time.perf_counter() - t0
        wl.spark = session.spark
        for name in wl.trains:
            t = time.perf_counter()
            wl.train(name)
            setup[f"setup.train.{name}"] = time.perf_counter() - t
        rec = runner.run(run_id, traced)
    finally:
        session.close()
        _wait_children()
    return setup, rec


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end_report(plain: "list[dict]", setups: "list[dict]", wl) -> dict:
    """The ``--trace 0`` metrics from the untraced run records and the
    set-ups before them."""
    run_s = _median([r["run_s"] for r in plain])
    vals = {
        "run_s": run_s,
        "rows_per_s": wl.input_rows / run_s if run_s else 0.0,
        "cpu_s": _median([r["cpu_s"] for r in plain]),
        "peak_rss_mb": _median([r["peak_bytes"] for r in plain]) / 2**20,
        "write_amp": _median([r["written"] for r in plain]) / wl.input_bytes,
        "output_quality": _median([r["quality"] for r in plain]),
        "setup_s": _median([sum(s.values()) for s in setups]),
    }
    return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END}


def layer_report(traced: "list[dict]", plain: "list[dict]", setups: "list[dict]") -> dict:
    """The ``--trace 1`` metrics: medians over the traced runs of the
    counters of every layer, medians over all runs of every set-up span
    time, and the tracing overhead (traced minus untraced ``run_s``).
    Layers and spans the workload does not call report 0."""
    from perfbench.tracing import LAYER_METRICS
    from perfbench.workloads import LAYERS, SETUP_SPANS

    metrics = {}
    for layer in LAYERS:
        for m, unit in LAYER_METRICS:
            xs = [r["layers"][layer][m] for r in traced if layer in r.get("layers", {})]
            metrics[f"{layer}.{m}"] = {"value": _median(xs), "unit": unit}
    for name in SETUP_SPANS:
        metrics[f"{name}.wall_s"] = {"value": _median([s.get(name, 0.0) for s in setups]), "unit": "s"}
    metrics["trace.overhead_s"] = {
        "value": _median([r["run_s"] for r in traced]) - _median([r["run_s"] for r in plain]),
        "unit": "s",
    }
    metrics["trace.span_coverage"] = {
        "value": _median([r["span_coverage"] for r in traced if "span_coverage" in r]),
        "unit": "frac",
    }
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import polaroam_spark  # noqa: F401  (fail before any work without the program)

    from perfbench.procmon import TreeSampler
    from perfbench.tracing import SparkRest
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    wl = WORKLOADS[args.workload](work)
    wl.generate(args.seed)

    sampler = TreeSampler().start()
    runner = Runner(wl, sampler, lambda: SparkRest(wl.spark), trace_enabled=False)
    records, setups = [], []
    try:
        t_end = time.perf_counter() + args.seconds
        while time.perf_counter() < t_end or len(records) < max(MIN_RUNS, 2 * args.trace):
            i = len(records)
            setup, rec = cold_run(wl, runner, f"r{i:03d}", traced=bool(args.trace) and i % 2 == 0)
            setups.append(setup)
            records.append(rec)
    finally:
        sampler.close()

    plain = [r for r in records if not r["traced"] and "rows" in r]
    traced = [r for r in records if r["traced"] and "rows" in r]
    correct = runner.failed == 0 and bool(plain)
    for e in runner.errors[:20]:
        print("FAILED", e, file=sys.stderr)

    if not args.trace:
        metrics = end_to_end_report(plain, setups, wl)
    else:
        metrics = layer_report(traced, plain, setups)
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        runner.tracer.dump(
            os.path.join(ROOT, ".bench_out", f"trace-{args.workload}-s{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "records": records,
             "setups": setups, "errors": runner.errors},
        )
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": runner.attempted, "failed": runner.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
