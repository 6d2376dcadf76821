"""The by-value worker helpers (``eventkit_spark._worker`` and the
``eventkit_spark.state`` step factories), without Spark: the zip-importer
prologue against a real archive, the shared half-away rounder, and
shipping each helper to a process that cannot import the package."""

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from collections import deque

import numpy as np
import pytest
from pyspark import cloudpickle

from eventkit_spark._worker import _make_worker_prologue, _round6, _worker_prologue
from eventkit_spark.state import (
    _HOLT_OUT, _make_cusum_step, _make_holt_step, _make_kalman_step,
    _make_throttle_step, _scan,
)

eager_zip_invalidation = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zip caches lazily; the prologue is a no-op",
)


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in files.items():
            z.writestr(name, body)


@eager_zip_invalidation
def test_prologue_rereads_an_archive_only_when_it_changes(tmp_path, monkeypatch):
    zpath = str(tmp_path / "lib.zip")
    _write_zip(zpath, {"ek_zip_probe_old.py": "V = 1\n"})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        if archive == zpath:
            reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(zpath)
    imp = zipimport.zipimporter(zpath)
    monkeypatch.setitem(sys.path_importer_cache, zpath, imp)

    # the stock importer re-reads the directory on every invalidation
    n = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == n + 1

    prologue = _make_worker_prologue()
    prologue()
    assert type(imp) is not zipimport.zipimporter
    assert isinstance(imp, zipimport.zipimporter)
    n = len(reads)
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == n

    # once per copy: a second call leaves importers created since alone
    later = str(tmp_path / "later.zip")
    _write_zip(later, {"ek_zip_probe_later.py": ""})
    late_imp = zipimport.zipimporter(later)
    monkeypatch.setitem(sys.path_importer_cache, later, late_imp)
    prologue()
    assert type(late_imp) is zipimport.zipimporter

    # a rewritten archive is re-read once, and its new module imports
    _write_zip(zpath, {"ek_zip_probe_old.py": "V = 1\n",
                       "ek_zip_probe_new.py": "V = 2\n"})
    st = os.stat(zpath)
    os.utime(zpath, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    n = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == n + 1
    try:
        assert importlib.import_module("ek_zip_probe_new").V == 2
    finally:
        sys.modules.pop("ek_zip_probe_new", None)
    importlib.invalidate_caches()
    assert len(reads) == n + 1


def test_round6_is_half_away_from_zero():
    # 0.1234565 sits on a 5e-7 tie: Python round (half-even on the
    # exact binary value) goes down, the batch kernels and F.round up
    assert round(0.1234565, 6) == 0.123456
    assert _round6(0.1234565) == 0.123457
    assert _round6(-0.1234565) == -0.123457
    assert list(_round6(np.array([0.1234565, -0.1234565, 1.0]))) == [
        0.123457, -0.123457, 1.0,
    ]


# Loads a pickled (helper, args) pair the way an executor would, with the
# package made unimportable, calls it and prints the result as JSON.
_EXECUTOR = """
import json, pickle, sys
sys.modules["eventkit_spark"] = None
fn, args = pickle.loads(sys.stdin.buffer.read())
print(json.dumps(fn(*args), default=lambda o: o.tolist() if hasattr(o, "tolist") else list(o)))
"""


@pytest.mark.parametrize("fn, args, expect", [
    pytest.param(_make_cusum_step(50.0, 150.0, 15.0, True), (None, 260.0),
                 [[0.0, 0.0], [195.0, 0.0, True]], id="cusum_step"),
    pytest.param(_make_holt_step(0.5, 0.5), ((1.0, 0.5), 2.0),
                 [[1.75, 0.625], [1.75, 0.625, 2.375]], id="holt_step"),
    pytest.param(_make_kalman_step(1.0, 2.0, 1.0), ((1.0, 1.0), 3.0),
                 [[2.0, 1.0], [2.0, 1.0, 0.5]], id="kalman_step"),
    pytest.param(_make_throttle_step(1, 10.0), ((deque([(0.0, 1.0)]), 1.0, 0.0, 1, 10.0, 0), 5.0, 1.0),
                 [[[[10.0, 1.0]], 1.0, 10.0, 1, 10.0, 0], 10.0], id="throttle_step"),
    pytest.param(_scan, (_make_holt_step(0.5, 0.5), None, np.array([1.0, 2.0]), _HOLT_OUT),
                 [[1.5, 0.25], {"level": [1.0, 1.5], "trend": [0.0, 0.25],
                                "forecast": [1.0, 1.75]}], id="scan"),
    pytest.param(_round6, (0.1234565,), 0.123457, id="round6"),
    pytest.param(_worker_prologue, (), None, id="worker_prologue"),
])
def test_worker_helpers_ship_by_value(tmp_path, fn, args, expect):
    """Spark cloudpickles a kernel with every helper it calls. A helper
    pickled by reference makes the executor import this package, which
    may not be installed there; each one here must load and run with
    ``eventkit_spark`` unimportable."""
    run = subprocess.run(
        [sys.executable, "-c", _EXECUTOR], input=cloudpickle.dumps((fn, args)),
        capture_output=True, cwd=tmp_path, timeout=60,
    )
    assert run.returncode == 0, run.stderr.decode()
    assert json.loads(run.stdout) == expect
