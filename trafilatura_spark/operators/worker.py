"""Per-partition hygiene for the batch functions the operators hand to
``mapInPandas``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``, ``setup_spark_files``).  On
Python 3.10-3.12 that makes every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-read its archive's central directory; a
worker that imports pyspark from ``pyspark.zip`` holds one such finder
per sub-package path (16 for Spark 4.1, over 1,328 archive entries), and
``--py-files`` archives add one per package path of their own.  That is
~0.26 s of worker CPU per task before its first row.  Python 3.13 only
drops the cache.

Dropping the zip finders when a partition ends leaves the next task's
invalidation nothing to re-read.  Python documents
``sys.path_importer_cache`` as a cache that may be cleared: the next
import that needs a dropped finder rebuilds it from ``zipimport``'s own
directory cache, without reading the archive.  Spark never rewrites a
shipped archive in place, so no stale directory can be served.
"""

from __future__ import annotations

import sys
import zipimport
from typing import Callable, Iterator

import pandas as pd

BatchFn = Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]


def drop_zip_finders() -> None:
    "Remove every ``zipimporter`` from ``sys.path_importer_cache``."
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


def partition_scoped(batch_fn: BatchFn) -> BatchFn:
    """Wrap a mapInPandas function so the zip finders are dropped when its
    partition ends, also when the consumer stops reading early."""

    def batch(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:
            yield from batch_fn(iterator)
        finally:
            drop_zip_finders()

    return batch
