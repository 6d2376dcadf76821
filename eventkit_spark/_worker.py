"""Helpers that run inside Spark's Python workers, shipped by value.

Each helper is built by a factory, as ``streaming.stream._make_sorted_chunks``
is: a ``<locals>`` qualname cannot be resolved as a module attribute, so
cloudpickle serializes the helper into every UDF pickle that uses it
instead of importing this package on the executor, where it may not be
installed.
"""

from __future__ import annotations


def _make_worker_prologue():
    """Build the prologue every Python kernel and stateful handler runs
    before its own work. It costs one flag check per call and does its
    work once per deserialized copy: Spark unpickles the UDF command at
    the start of every task, so that is once per task, never once per
    key group.

    The work: Spark puts ``pyspark.zip`` and the spark-core jar on the
    Python worker path, and ``pyspark/worker_util.py`` calls
    ``importlib.invalidate_caches()`` at the start of every task. On
    CPython 3.11 and 3.12, ``zipimporter.invalidate_caches()`` re-reads
    the archive's whole central directory, once per cached importer —
    one per sub-package imported from the archive (14 for pyspark.zip,
    2 for the jar). That measured 130–230 ms per task in a reused
    worker. The prologue turns every plain ``zipimporter`` in
    ``sys.path_importer_cache`` into a subclass whose
    ``invalidate_caches()`` re-reads only when the archive's size or
    mtime changed. Size and mtime are what a rewrite changes; the
    ``os.stat`` costs microseconds where the re-read costs tens of
    milliseconds. The recorded stamp is taken at the swap: the
    directory was read at this task's start or later, so only a rewrite
    landing between that point and the swap, inside one task, would go
    unseen until the archive's next change.

    CPython 3.13 made ``zipimporter.invalidate_caches()`` lazy (it drops
    the cached directory and re-reads once per archive on the next
    lookup), so there the prologue does nothing."""
    import zipimport

    class _StampedZipImporter(zipimport.zipimporter):
        def invalidate_caches(self):
            import os

            try:
                st = os.stat(self.archive)
                stamp = (st.st_size, st.st_mtime_ns)
            except OSError:
                stamp = None
            if stamp is None or stamp != self._ek_stamp:
                zipimport.zipimporter.invalidate_caches(self)
                self._ek_stamp = stamp

    done = []

    def prologue():
        import os
        import sys

        if done or sys.version_info >= (3, 13):
            return
        done.append(True)
        for imp in list(sys.path_importer_cache.values()):
            if type(imp) is not zipimport.zipimporter:
                continue
            try:
                st = os.stat(imp.archive)
            except OSError:
                continue
            imp.__class__ = _StampedZipImporter
            imp._ek_stamp = (st.st_size, st.st_mtime_ns)

    return prologue


_worker_prologue = _make_worker_prologue()


def _make_round6():
    def _round6(x):
        """Round to 6 decimals with HALF-AWAY-FROM-ZERO ties on the
        scaled double — the semantics DuckDB's round(DOUBLE, n) and
        Spark's F.round share. Python ``round`` and ``np.round`` are
        half-EVEN: a value landing exactly on a 5e-7 boundary (holt hit
        one at sf0.01; ``0.1234565`` is another) would flip the last
        digit between a batch kernel and its streaming twin. Takes a
        scalar or an array."""
        import numpy as np

        return np.copysign(np.floor(np.abs(x) * 1e6 + 0.5), x) / 1e6

    return _round6


_round6 = _make_round6()
