import pytest
from pyspark.sql import SparkSession

from topojson_spark.session import default_driver_mem, worker_daemon_conf


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.appName("topojson_spark_tests")
        .master("local[4]")
        .config(map=worker_daemon_conf("local[4]"))
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.default.parallelism", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.maxPlanStringLength", "100000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_mem())
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _release_engine_pins(request):
    """Drop pinned stage blocks after each test. Every Topology
    construction pins/localCheckpoints a handful of stage outputs; across
    ~250 tests in one session the accumulated MEMORY_AND_DISK(_DESER)
    blocks fill the driver heap and the suite degrades into GC thrash
    (observed: tests that take 9s in isolation taking minutes near the end
    of a full run). No fixture shares a Topology across tests, so blocks
    are never needed after the test that made them."""
    yield
    if "spark" in request.fixturenames:
        from topojson_spark.plans.pin import release_pins

        release_pins(request.getfixturevalue("spark"))


# reference-defaults for stage-level parity tests: Join/Cut/Dedup/Hashmap
# constructed directly use TopoOptions defaults (utils.py:15-101):
# prequantize=False, winding_order=None, shared_coords=False
STAGE_DEFAULTS = dict(prequantize=False, winding_order=None)
