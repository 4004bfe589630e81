from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"


def _driver_heap() -> str:
    """Half the machine's memory, capped at 28g.

    The full suite runs ~700 tests in ONE local-mode JVM (driver =
    executor = block manager). A heap larger than the machine can back
    is never collected in time: on a 16 GB machine a 28g heap let the
    JVM's resident memory reach ~15 GB and the JVM was killed. Half of
    MemTotal leaves room for the Python workers and the test process."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f
                      if ln.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "28g"
    return f"{max(2, min(28, kb // (2 * 1024 * 1024)))}g"


@pytest.fixture(scope="session")
def spark():
    from dublin_smart_city_graphdb_spark.session import get_spark

    s = get_spark(
        app_name="pytest",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": _driver_heap()},
    )
    yield s


@pytest.fixture(scope="session")
def duck():
    from tools.check_oracle import duck_connection

    return duck_connection(SF_DIR)


@pytest.fixture(scope="module", autouse=True)
def _reclaim_driver_heap():
    """Between test modules, drop every plan cache and nudge the JVM to
    reclaim dead checkpoint blocks and codegen classes.

    The full suite runs ~600 tests in ONE local-mode JVM. Python-side plan
    caches pin JVM analyzed trees; superseded localCheckpoint blocks (now
    mostly freed eagerly by plans/ckpt.CheckpointTracker, but engine-level
    quads generations still rely on GC) and per-query codegen classes are
    only reclaimed when the JVM collects — which an idle-heap JVM may defer
    past the OOM threshold (r3: suite died at ~34% with 28g). Clearing the
    caches releases the py4j refs; gc.collect() runs their finalizers so
    the JVM objects become unreachable; System.gc() lets ContextCleaner
    unpersist + class-unload before the next module allocates."""
    yield
    import gc

    from dublin_smart_city_graphdb_spark.harness import registry, sparql_gate

    registry._PLAN_CACHE.clear()
    sparql_gate._PLAN_CACHE.clear()
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        gc.collect()
        try:
            active.sparkContext._jvm.System.gc()
        except Exception:
            pass
