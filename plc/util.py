"""Deployment helper: ship the plc package to executors.

On a real cluster the job is launched ``spark-submit --py-files plc.zip``
(BASELINE.json north_star); for interactive sessions and notebooks,
:func:`ensure_shipped` builds that zip on the fly and registers it with
``SparkContext.addPyFile`` so executor Python workers can unpickle the
mapInArrow closures. Idempotent per SparkContext.

Importing plc inside a Spark Python worker also installs
:func:`_cache_zip_directories`, which stops a reused worker from
re-reading every zip on its ``sys.path`` before each task.
"""

from __future__ import annotations

import atexit
import functools
import hashlib
import os
import shutil
import sys
import tempfile
import zipfile

_shipped: set[str] = set()


def ensure_shipped(spark) -> None:
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _shipped:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_dir):
        # plc was itself imported from a --py-files zip (spark-submit):
        # the archive is already on every executor's python path; trying
        # to re-zip from inside the archive would raise NotADirectoryError
        _shipped.add(app_id)
        return
    zpath = _pyfiles_zip(pkg_dir)
    sc.addPyFile(zpath)
    # Spark's streaming source runner (``spark.readStream.format("plc")``,
    # run on the driver) resolves the includes under the
    # ``streaming_job`` dir of the driver's SparkFiles root, where
    # addPyFile puts nothing; without a copy there the source cannot
    # unpickle unless the driver's PYTHONPATH already holds plc
    from pyspark import SparkFiles

    job_dir = os.path.join(SparkFiles.getRootDirectory(), "streaming_job")
    os.makedirs(job_dir, exist_ok=True)
    shutil.copy(zpath, job_dir)
    _shipped.add(app_id)


@functools.cache
def _zip_dir() -> str:
    """This process's own temp dir for shipped zips, removed at exit."""
    path = tempfile.mkdtemp(prefix="plc-pyfiles-")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _pyfiles_zip(pkg_dir: str) -> str:
    """Zip the package's ``.py`` files into this process's zip dir
    (:func:`_zip_dir`), named by a hash of their names and bytes, so a
    zip of another build is never shipped. Written under a temp name and
    moved into place, so a reader never sees half a zip."""
    srcs = sorted(fn for fn in os.listdir(pkg_dir) if fn.endswith(".py"))
    h = hashlib.sha256()
    for fn in srcs:
        with open(os.path.join(pkg_dir, fn), "rb") as f:
            data = f.read()
        h.update(b"%s\0%d\0%s" % (fn.encode(), len(data), data))
    zpath = os.path.join(_zip_dir(), f"plc-pyfiles-{h.hexdigest()[:16]}.zip")
    if not os.path.exists(zpath):
        fd, tmp = tempfile.mkstemp(suffix=".zip", prefix=".plc-pyfiles-",
                                   dir=_zip_dir())
        try:
            with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as z:
                for fn in srcs:
                    z.write(os.path.join(pkg_dir, fn), arcname=f"plc/{fn}")
            os.replace(tmp, zpath)
        except BaseException:
            os.unlink(tmp)
            raise
    return zpath


def _cache_zip_directories() -> None:
    """In a reused Spark Python worker, re-read a zip archive's directory
    only when the archive changed.

    Before every task pyspark's ``setup_spark_files`` calls
    ``importlib.invalidate_caches()``; on CPython 3.11 that makes each of
    the worker's zipimporters (one per package dir imported from a zip:
    17 in a pyspark 4.1 worker) re-parse its whole archive directory,
    ~200 ms CPU per task whatever its size. The wrapper re-reads only
    when the archive's ``(st_mtime_ns, st_size)`` differs from what that
    importer last read, or when it cannot be stat'ed. The install stamps
    the importers that already exist, which the current task's setup has
    just re-read, so a new worker pays the re-read once (its first task),
    not twice. Installed only inside a worker and only where the stdlib
    method re-reads eagerly; a second call does nothing.
    """
    import zipimport

    if not ("PYTHON_WORKER_FACTORY_SECRET" in os.environ
            and "SPARK_REUSE_WORKER" in os.environ):
        return
    stdlib = zipimport.zipimporter.invalidate_caches
    code = getattr(stdlib, "__code__", None)
    if hasattr(stdlib, "__wrapped__") or code is None \
            or "_read_directory" not in code.co_names:
        return  # installed already, or this stdlib re-reads lazily

    def stamp(imp):
        try:
            st = os.stat(imp.archive)
        except OSError:
            return None
        return (st.st_mtime_ns, st.st_size)

    @functools.wraps(stdlib)
    def invalidate_caches(self):
        now = stamp(self)
        if now is None or getattr(self, "_plc_stamp", None) != now:
            stdlib(self)
            self._plc_stamp = now

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # this task's setup has just re-read every importer that exists now
    # (or made it since), so a new worker's next task re-reads none
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            imp._plc_stamp = stamp(imp)
