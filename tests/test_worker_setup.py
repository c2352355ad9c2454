"""The per-worker lazy zipimport invalidation (``varint_simd_spark._worker``)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pyarrow as pa

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# runs in its own interpreter so this process keeps the stock zipimporter
_LAZY_REREAD = textwrap.dedent(
    """
    import importlib, sys, zipfile, zipimport

    archive = sys.argv[1]
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("m1.py", "X = 1")
    sys.path.insert(0, archive)
    import m1

    from varint_simd_spark._worker import install_lazy_zip_invalidation

    install_lazy_zip_invalidation()
    reads = []
    stock_read = zipimport._read_directory
    zipimport._read_directory = lambda path: reads.append(path) or stock_read(path)
    importlib.invalidate_caches()
    assert reads == [], reads

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("m2.py", "Y = 2")
    importlib.invalidate_caches()
    import m2

    assert (m1.X, m2.Y) == (1, 2)
    assert reads == [archive], reads
    """
)


def test_invalidate_caches_defers_zip_reread(tmp_path):
    archive = str(tmp_path / "mods.zip")
    env = dict(os.environ, PYTHONPATH=ROOT)
    proc = subprocess.run(
        [sys.executable, "-c", _LAZY_REREAD, archive],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr


def test_worker_runs_lazy_zip_invalidation(spark):
    def fn(batches):
        import zipimport

        import varint_simd_spark  # noqa: F401

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist(
            [{"module": zipimport.zipimporter.invalidate_caches.__module__}]
        )

    rows = spark.range(1, numPartitions=1).mapInArrow(fn, "module string").collect()
    expected = "zipimport" if sys.version_info >= (3, 13) else "varint_simd_spark._worker"
    assert [r["module"] for r in rows] == [expected]
