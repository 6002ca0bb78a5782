"""pyspark's Python-worker daemon, minus a zip re-read on every task.

Each task calls ``importlib.invalidate_caches()``, and on CPython 3.11 each
``zipimporter`` then re-reads its archive's directory: ~0.2 s per task
over ``pyspark.zip`` and the Spark jar, which workers import pyspark from.
Here an importer re-reads only when its archive's ``(mtime, size)``
changed or cannot be read. Spark runs ``python -m <this> <worker module>``.
"""

import os
import runpy
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """``zipimporter.invalidate_caches``, skipped while the archive is unchanged."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    # Install the importable module's wrapper, not this __main__ copy's,
    # so the wrapper names its home module.
    from stateflow_flink_spark.worker_daemon import invalidate_caches as wrapper

    zipimport.zipimporter.invalidate_caches = wrapper
    runpy.run_module("pyspark.daemon", run_name="__main__")
