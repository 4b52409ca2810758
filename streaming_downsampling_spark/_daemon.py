"""Python worker daemon that imports the installed PySpark, not Spark's zips.

Spark starts its Python worker daemon with ``$SPARK_HOME/python/lib/
pyspark.zip``, the py4j source zip and the spark-core jar at the front of
``PYTHONPATH``, so every worker imports PySpark out of ``pyspark.zip``.
Before each task ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``; on Python 3.11 that makes every cached
``zipimporter`` re-parse its archive's central directory in pure Python, and
a warm worker caches about 14 of them (``pyspark.zip`` once per imported
subpackage, 1,328 entries each).  That is 0.16-0.24 CPU s per task on a
4-core host with Spark 4.1.2, before the task's own code runs.

This module drops those archives from ``sys.path`` and
``sys.path_importer_cache`` when both ``pyspark`` and ``py4j`` also resolve
outside an archive (the same installed copy the driver runs), then hands
over to the stock :func:`pyspark.daemon.manager`.  The only finders left
are ``FileFinder``s, for which ``invalidate_caches`` just resets an mtime.
If either package exists only inside an archive, the path stays exactly as
Spark set it.  :func:`streaming_downsampling_spark.session.get_spark` points
``spark.python.daemon.module`` here.
"""

from __future__ import annotations

import re
import sys
from collections.abc import Callable
from importlib.machinery import ModuleSpec, PathFinder

_SPARK_ARCHIVE = re.compile(
    r"(^|[/\\])(pyspark\.zip|py4j-[^/\\]*\.zip|spark-core[^/\\]*\.jar)$"
)
_IN_ARCHIVE = re.compile(r"\.(zip|jar)([/\\]|$)")


def without_spark_archives(
    path: list[str],
    find_spec: Callable[[str, list[str]], ModuleSpec | None] = PathFinder.find_spec,
) -> list[str]:
    """``path`` minus Spark's archive entries, or ``path`` unchanged when
    ``pyspark`` or ``py4j`` would then fail to resolve to a location outside
    an archive."""
    kept = [p for p in path if not _SPARK_ARCHIVE.search(p)]
    if len(kept) == len(path):
        return path
    for name in ("pyspark", "py4j"):
        spec = find_spec(name, kept)
        if spec is None or not spec.origin or _IN_ARCHIVE.search(spec.origin):
            return path
    return kept


def main() -> None:
    kept = without_spark_archives(sys.path)
    dropped = tuple(p for p in sys.path if p not in kept)
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if key.startswith(dropped):
            del sys.path_importer_cache[key]

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
