"""Spark Python workers: the stat-checked zip-directory cache installed by
``import plc`` (``plc.util._cache_zip_directories``) and the shipped
``--py-files`` zip built by ``plc.util.ensure_shipped``.

The cache tests that patch ``zipimport`` run in a subprocess, so the test
process's own importers stay untouched."""

import json
import os
import subprocess
import sys
import zipfile

import pytest

from plc import util

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER_ENV = {"PYTHON_WORKER_FACTORY_SECRET": "x", "SPARK_REUSE_WORKER": "1"}

_SCRIPT = r"""
import importlib, json, os, sys, zipfile, zipimport
repo, arch = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)


def build(mods):
    with zipfile.ZipFile(arch, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        for m in mods:
            z.writestr(f"zpkg/{m}.py", f"NAME = {m!r}\n")


build(["a"])
sys.path.insert(0, arch)
import zpkg.a  # noqa: E402

reads = [0]
stdlib_read = zipimport._read_directory


def counting(path):
    reads[0] += 1
    return stdlib_read(path)


zipimport._read_directory = counting


def task_setup():  # what pyspark runs before every task: its re-reads
    before = reads[0]
    importlib.invalidate_caches()
    return reads[0] - before


out = {"first_task": task_setup()}  # a new worker, before import plc
import plc  # noqa: E402  (installs the cache inside a worker)

method = zipimport.zipimporter.invalidate_caches
plc.util._cache_zip_directories()  # a second install must change nothing
out.update({
    "wrapped": hasattr(method, "__wrapped__"),
    "same_after_second_install":
        zipimport.zipimporter.invalidate_caches is method,
    "importers": sum(isinstance(i, zipimport.zipimporter)
                     and i.archive == arch
                     for i in sys.path_importer_cache.values())})
out["second_task"] = task_setup()
out["unchanged"] = sum(task_setup() for _ in range(5))
build(["a", "b"])
out["changed"] = task_setup()
import zpkg.b  # noqa: E402
out["new_module"] = zpkg.b.NAME
os.unlink(arch)
out["missing"] = task_setup()
out["missing_files"] = [len(i._files) for i in sys.path_importer_cache.values()
                        if isinstance(i, zipimport.zipimporter)
                        and i.archive == arch]
print(json.dumps(out))
"""


def _run_script(tmp_path, env):
    arch = str(tmp_path / "mods.zip")
    base = {k: v for k, v in os.environ.items() if k not in WORKER_ENV}
    proc = subprocess.run([sys.executable, "-c", _SCRIPT, REPO, arch],
                          capture_output=True, text=True, timeout=120,
                          env={**base, **env})
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.skipif(sys.version_info[:2] != (3, 11),
                    reason="the stdlib re-reads eagerly on CPython 3.11")
def test_worker_rereads_zip_only_when_changed(tmp_path):
    out = _run_script(tmp_path, WORKER_ENV)
    assert out["wrapped"] and out["same_after_second_install"]
    assert out["importers"] >= 2  # the archive root and zpkg/
    # a new worker re-reads its zips before its first task only: the
    # install stamps them, so its second task re-reads none
    assert out["first_task"] == out["importers"]
    assert out["second_task"] == 0
    assert out["unchanged"] == 0
    # a rewritten archive is re-read by each of its importers, once
    assert out["changed"] == out["importers"]
    assert out["new_module"] == "b"
    # an archive that cannot be stat'ed falls back to the stdlib re-read
    assert out["missing"] == out["importers"]
    assert out["missing_files"] == [0] * out["importers"]


@pytest.mark.skipif(sys.version_info[:2] != (3, 11),
                    reason="the stdlib re-reads eagerly on CPython 3.11")
def test_cache_not_installed_outside_worker(tmp_path):
    out = _run_script(tmp_path, {})
    assert not out["wrapped"] and out["same_after_second_install"]
    assert out["first_task"] == out["second_task"] == out["importers"]
    assert out["unchanged"] == 5 * out["importers"]  # stdlib: every call
    assert out["changed"] == out["importers"]
    assert out["new_module"] == "b"


@pytest.mark.skipif(sys.version_info[:2] != (3, 11),
                    reason="the stdlib re-reads eagerly on CPython 3.11")
def test_reused_spark_workers_skip_zip_rereads(spark):
    """After a warm-up job, tasks in reused workers make no
    ``zipimport._read_directory`` call between tasks. A counter is
    patched into each worker by its first probe task, keyed by pid."""
    util.ensure_shipped(spark)

    def counter():
        import importlib
        import zipimport

        import plc  # noqa: F401  (installs the cache)

        reads = getattr(zipimport, "_plc_test_reads", None)
        if reads is not None:
            return reads, False
        # re-reads only an importer made after the install (unstamped)
        importlib.invalidate_caches()
        reads = zipimport._plc_test_reads = [0]
        stdlib_read = zipimport._read_directory

        def counting(path):
            reads[0] += 1
            return stdlib_read(path)

        zipimport._read_directory = counting
        return reads, True

    def probe(it):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        reads, fresh = counter()
        for _ in it:
            pass
        importers = [i for i in sys.path_importer_cache.values()
                     if isinstance(i, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()], "reads": [reads[0]], "fresh": [fresh],
            "wrapped": [hasattr(zipimport.zipimporter.invalidate_caches,
                                "__wrapped__")],
            "importers": [len(importers)]})

    def stdlib_reread(it):
        # the counter does see a stdlib re-read of one importer
        import sys
        import zipimport

        import pyarrow as pa

        reads, _ = counter()
        for _ in it:
            pass
        imp = next(i for i in sys.path_importer_cache.values()
                   if isinstance(i, zipimport.zipimporter))
        before = reads[0]
        zipimport.zipimporter.invalidate_caches.__wrapped__(imp)
        yield pa.RecordBatch.from_pydict({"counted": [reads[0] - before]})

    df = spark.range(0, 12, numPartitions=12)
    sch = ("pid long, reads long, fresh boolean, wrapped boolean, "
           "importers long")
    df.mapInArrow(probe, sch).collect()  # warm-up
    rows = df.mapInArrow(probe, sch).collect()
    reused = [r for r in rows if not r.fresh]
    assert len(reused) >= 4, rows
    assert all(r.wrapped for r in rows), rows
    # without the cache every task would re-read each of these
    assert all(r.importers >= 10 for r in reused), rows
    assert [r.reads for r in reused] == [0] * len(reused), rows
    counted = spark.range(0, 1, numPartitions=1) \
        .mapInArrow(stdlib_reread, "counted long").collect()
    assert counted[0].counted == 1


class _FakeContext:
    def __init__(self, app_id):
        self.applicationId = app_id
        self.shipped = []

    def addPyFile(self, path):
        self.shipped.append(path)


class _FakeSession:
    def __init__(self, app_id):
        self.sparkContext = _FakeContext(app_id)


def _zip_sources(path):
    with zipfile.ZipFile(path) as z:
        return {n: z.read(n) for n in z.namelist()}


def _pkg_sources(pkg_dir):
    out = {}
    for fn in sorted(os.listdir(pkg_dir)):
        if fn.endswith(".py"):
            with open(os.path.join(pkg_dir, fn), "rb") as f:
                out[f"plc/{fn}"] = f.read()
    return out


def test_stale_pid_zip_is_never_shipped(tmp_path, monkeypatch):
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stale = tmp_path / f"plc-pyfiles-{os.getpid()}.zip"
    with zipfile.ZipFile(stale, "w") as z:
        z.writestr("plc/__init__.py", "OLD_BUILD = True\n")
    spark = _FakeSession("test-stale-pid-zip")
    util.ensure_shipped(spark)
    [shipped] = spark.sparkContext.shipped
    assert shipped != str(stale)
    pkg_dir = os.path.dirname(os.path.abspath(util.__file__))
    assert _zip_sources(shipped) == _pkg_sources(pkg_dir)


def test_shipped_zip_path_follows_sources(tmp_path, monkeypatch):
    import shutil
    import tempfile

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    pkg = tmp_path / "plc"
    shutil.copytree(os.path.dirname(os.path.abspath(util.__file__)), pkg,
                    ignore=shutil.ignore_patterns("__pycache__"))
    first = util._pyfiles_zip(str(pkg))
    assert util._pyfiles_zip(str(pkg)) == first
    with open(pkg / "util.py", "a") as f:
        f.write("\n# edited\n")
    edited = util._pyfiles_zip(str(pkg))
    assert edited != first
    assert _zip_sources(edited) == _pkg_sources(str(pkg))
    assert _zip_sources(edited)["plc/util.py"].endswith(b"# edited\n")
    # written under a temp name and moved into place: no leftovers in
    # the process's zip dir (which other zips of this process share)
    left = os.listdir(os.path.dirname(first))
    assert {os.path.basename(p) for p in (first, edited)} <= set(left)
    assert [n for n in left if not n.endswith(".zip")
            or not n.startswith("plc-pyfiles-")] == []


def test_shipped_zips_are_removed_at_process_exit(tmp_path):
    """A process that built a shipped zip leaves nothing behind in the
    temp dir once it exits."""
    code = ("import os, sys; from plc import util; "
            "p = util._pyfiles_zip(os.path.dirname(util.__file__)); "
            "assert os.path.isfile(p); print(p)")
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         env={**os.environ, "TMPDIR": str(tmp_path)},
                         capture_output=True, text=True, timeout=120,
                         check=True).stdout
    assert out.startswith(str(tmp_path))
    assert os.listdir(tmp_path) == []
