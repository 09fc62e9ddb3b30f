"""``get_spark``'s shuffle-partition default: a session it starts on a
local master gets one partition per worker slot unless something else
sets the value, and a live session keeps its own value."""
import json
import os
import subprocess
import sys

from polaroam_spark import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_KEY = "spark.sql.shuffle.partitions"

_FRESH = """
import json
from polaroam_spark import get_spark

out = []
for kw in (
    {},
    {"extra_conf": {"spark.sql.shuffle.partitions": "9"}},
    {"shuffle_partitions": 5},
):
    s = get_spark(app_name="session-default", master="local[3]", **kw)
    out.append(s.conf.get("spark.sql.shuffle.partitions"))
    s.stop()
print(json.dumps(out))
"""


def test_live_session_keeps_its_shuffle_partitions(spark):
    """The CLI's ``get_spark(app_name=...)`` returns the live session
    and must not rewrite its shuffle partitions."""
    spark.conf.set(_KEY, "7")
    try:
        again = get_spark(app_name="polaroam-stops")
        assert again is spark
        assert spark.conf.get(_KEY) == "7"
    finally:
        spark.conf.set(_KEY, "4")


def test_fresh_local_session_defaults_to_worker_slots():
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        filter(None, [REPO, env.get("PYTHONPATH", "")])
    )
    env.pop("SPARK_MASTER", None)
    proc = subprocess.run(
        [sys.executable, "-c", _FRESH],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got == ["3", "9", "5"]
