"""Isolated per-query timing probe: reuse plan_capture's builders,
time the noop sink N times for the named queries only, and count the
Spark jobs of each run.

Usage: python tools/probe.py <runs> <query> [query...]
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RUNS = int(sys.argv[1])
NAMES = sys.argv[2:]

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

from polaroam_spark import get_spark

spark = get_spark(app_name="probe")
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as em  # noqa: F401

# import builders from the sibling plan_capture.py without executing
# its capture loop: exec the file up to the capture loop and take its
# builders dict
import importlib.util

spec = importlib.util.spec_from_file_location(
    "plan_capture_mod",
    os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "plan_capture.py"
    ),
)


def load_builders():
    src = open(spec.origin).read()
    cut = src.index("os.makedirs(OUT_DIR")
    g = {"__file__": spec.origin, "__name__": "plan_capture_mod"}
    import sys as _s
    _s.argv = ["plan_capture.py", "probe"]
    exec(src[:cut], g)
    return g["builders"]


builders = load_builders()


def run(df):
    df.write.format("noop").mode("overwrite").save()


sc = spark.sparkContext
for name in NAMES:
    fn = builders[name]
    times, jobs = [], []
    for i in range(RUNS):
        # one job group per run, so the run's Spark jobs (the eager
        # actions a query runs while it is built included) can be counted
        group = f"probe:{name}:{i}"
        sc.setJobGroup(group, group)
        em._MATERIALIZED_MEDIANS.clear()
        spark.catalog.clearCache()
        try:
            from polaroam_spark import unpersist_caches

            unpersist_caches()
        except Exception:
            pass
        t0 = time.time()
        run(fn())
        times.append(round(time.time() - t0, 3))
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    print(
        f"{name}: {times} median={sorted(times)[len(times)//2]}"
        f" jobs={jobs}"
    )
