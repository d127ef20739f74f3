"""Local-mode Python workers start from ``topojson_spark._daemon``, which keeps
zip archive directories across tasks; the driver's own import system is
left as it is."""

import re
import zipimport

from topojson_spark.session import default_driver_mem, worker_daemon_conf


def test_workers_keep_archive_directories(spark):
    def patched(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__name__ == "_keep_directory"

    rdd = spark.sparkContext.parallelize(range(4), 4)
    assert rdd.mapPartitions(patched).collect() == [True] * 4
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_stock_daemon_off_local_mode():
    assert worker_daemon_conf("yarn") == {}
    assert worker_daemon_conf("spark://host:7077") == {}
    assert worker_daemon_conf("local[2]")["spark.python.daemon.module"] == (
        "topojson_spark._daemon"
    )


def test_driver_heap_fits_host():
    gb = int(re.fullmatch(r"(\d+)g", default_driver_mem()).group(1))
    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    assert 1 <= gb <= max(1, kb / 2**20 / 2)
