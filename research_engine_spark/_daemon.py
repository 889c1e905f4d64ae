"""Python-worker daemon for the engine's Spark sessions.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module;
its forked workers run every vectorized UDF of the engine. pyspark's
worker calls ``importlib.invalidate_caches()`` at the start of every task
(``worker_util.setup_spark_files``), and on Python 3.11 that makes each
``zipimporter`` re-read its archive's whole central directory: pyspark.zip,
the py4j zip and the spark-core jar, through one importer per imported
sub-package. That costs ~65 ms of worker CPU per task on a 4-vCPU host.

The archives that were on ``sys.path`` when the daemon started are the
PYTHONPATH entries the JVM set, and they do not change while the daemon
lives, so their importers skip the re-read. Any other archive (``addPyFile``,
``--py-files``, or one a user adds later) keeps full invalidation. Paths
compare as realpaths, since ``SPARK_HOME`` may be a symlink.
"""

import os
import sys
import zipimport


def _keep_startup_archives() -> None:
    startup = frozenset(os.path.realpath(p) for p in sys.path if p)
    invalidate = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        if os.path.realpath(self.archive) not in startup:
            invalidate(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    _keep_startup_archives()
    from pyspark import daemon

    daemon.manager()
