from __future__ import annotations

import subprocess
import sys
import time
import uuid
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
# perfbench's modules (``from workloads import MIX_IDS``), read-only
sys.path.append(str(ROOT / "perfbench"))

from feasibility_etl_spark.session import build_session  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = build_session("tests", master="local[4]", shuffle_partitions=4)
    yield s
    # s.stop() leaves the JVM alive until it reads EOF on its stdin, which
    # comes only as pytest exits: the JVM then outlives the run by seconds,
    # holding its inherited stdout. Close that pipe here and wait for it.
    gateway = s.sparkContext._gateway
    s.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def jobs_run_by(spark, fn):
    """``(fn(), number of Spark jobs fn submitted)``, counted by job group.

    The status tracker fills from the listener bus asynchronously, so a
    marker job in a second group runs after ``fn``: once the tracker shows
    it, every job ``fn`` started is visible too (one bus, in order)."""
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    group, marker = f"count-{uuid.uuid4().hex}", f"marker-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
        sc.setJobGroup(marker, marker)
        sc.parallelize([0], 1).count()
    finally:
        sc.setJobGroup(None, None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never reached the status tracker"
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))
