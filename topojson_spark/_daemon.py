"""PySpark worker daemon that keeps zip archive directories across tasks.

Every Python task calls ``importlib.invalidate_caches()`` (pyspark's
``worker_util.setup_spark_files``), which makes each ``zipimporter`` on the
worker's path re-read its archive's central directory: the spark-core jar,
``pyspark.zip`` and any ``--py-files`` zip (on Python 3.11 and Spark 4.1,
about 100 ms of worker CPU per task; see BENCH/BASELINE.md).
Archives do not change during an application, so the forked workers keep
the directories they read first. The archives stay on the path.

Selected by ``spark.python.daemon.module`` (see ``session.worker_daemon_conf``).
"""

import zipimport


def _keep_directory(self):
    """No-op ``zipimporter.invalidate_caches``."""


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _keep_directory
    from pyspark import daemon

    daemon.manager()
