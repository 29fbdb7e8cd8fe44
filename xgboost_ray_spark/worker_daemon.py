"""PySpark worker daemon with lazy zip-archive cache invalidation.

Run as ``spark.python.daemon.module`` (``session.get_spark`` sets it for
local masters). Every Python task starts in ``setup_spark_files``, which
calls ``importlib.invalidate_caches()``. Before Python 3.13 each
``zipimporter`` then re-reads its whole archive directory: pyspark.zip's
1,328 entries once per imported pyspark subpackage, ~0.3 s of CPU per task
on a 4-vCPU x86 host. Here an importer re-reads only when its archive's
size or mtime changed since its last read (Python 3.13 is lazy itself), so
archives shipped with ``addPyFile`` or rewritten in place still refresh.
Forked workers inherit the patch.
"""

from __future__ import annotations

import importlib
import os
import sys
import warnings
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def invalidate_caches(self) -> None:
    """Re-read the archive directory only if the archive changed since
    this importer last read it."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _stock_invalidate(self)
        self._read_stamp = stamp


def install() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    install()
    # applyInPandasWithState pads its output with empty frames, and pandas
    # warns on every such concat, once per task.
    warnings.filterwarnings(
        "ignore",
        message=".*DataFrame concatenation with empty or all-NA entries",
        category=FutureWarning,
        module=r"pyspark\.sql\.pandas\.serializers",
    )
    import pyspark.daemon

    # Stamp the importers the daemon has created so far: forked workers
    # inherit the stamps and skip even their first re-read.
    importlib.invalidate_caches()
    pyspark.daemon.manager()


if __name__ == "__main__":
    # Re-import under the package name, so the patch's functions are the
    # ones ``xgboost_ray_spark.worker_daemon`` exposes to workers.
    from xgboost_ray_spark.worker_daemon import main as _main

    _main()
