"""Python worker daemon for engine sessions: ``pyspark.daemon`` without the
per-task re-read of Spark's own zip archives.

Every Python task runs ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``) so that files shipped with
``addPyFile`` become importable. On Python 3.11 that call makes every
``zipimporter`` re-read its archive's central directory. Workers import
pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` (3.5 MB), through one
zipimporter per imported sub-package, so a reused worker re-read that
archive 16 times per task: about 0.2 s of a warm one-partition job.

The archives on ``sys.path`` when the daemon starts are Spark's own pyspark
and py4j zips, which do not change while the daemon lives. Their
importers skip the re-read; every other finder is still invalidated, so
``addPyFile`` files are found as before. ``session.get_spark`` selects this
module through the static ``spark.python.daemon.module`` setting.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import daemon


def _keep_startup_archive_directories() -> None:
    startup = frozenset(p for p in sys.path if os.path.isfile(p))
    invalidate = zipimport.zipimporter.invalidate_caches

    def invalidate_unless_startup_archive(self: zipimport.zipimporter) -> None:
        if self.archive not in startup:
            invalidate(self)

    zipimport.zipimporter.invalidate_caches = invalidate_unless_startup_archive


if __name__ == "__main__":
    _keep_startup_archive_directories()
    daemon.manager()
