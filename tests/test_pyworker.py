"""The worker-side zip-directory refresh (`copybook_rs_spark._pyworker`).

The semantics cases run in a child interpreter, so this process keeps the
stock `zipimporter.invalidate_caches`; the child loads `_pyworker.py` by
path and needs only the standard library, so a second interpreter (3.13,
whose stock refresh is lazy) can run it too. The Spark case counts archive
reads inside real Python workers of the shared session."""

import os
import shutil
import subprocess
import sys
import zipimport

import pytest

from copybook_rs_spark import _pyworker
from synthetic import synthetic_tokens, zip_rereads_per_task

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PYWORKER = os.path.join(ROOT, "copybook_rs_spark", "_pyworker.py")

_CHILD = r'''
import importlib.util, os, sys, types, zipfile, zipimport

src, tmp = sys.argv[1], sys.argv[2]
spec = importlib.util.spec_from_file_location("pyworker", src)
pyworker = importlib.util.module_from_spec(spec)
spec.loader.exec_module(pyworker)
stock = zipimport.zipimporter.invalidate_caches

# the driver has not imported pyspark.worker: nothing is installed
pyworker.install_in_worker()
assert zipimport.zipimporter.invalidate_caches is stock
sys.modules["pyspark.worker"] = types.ModuleType("pyspark.worker")

if hasattr(zipimport.zipimporter, "_get_files"):
    pyworker.install_in_worker()
    assert zipimport.zipimporter.invalidate_caches is stock
    print("LAZY_OK")
    raise SystemExit

reads = []
read_directory = zipimport._read_directory
def counted(path):
    reads.append(path)
    return read_directory(path)
zipimport._read_directory = counted

archive = os.path.join(tmp, "mods.zip")
def write(names, mtime_s):
    with zipfile.ZipFile(archive, "w") as z:
        for name in names:
            z.writestr(name + ".py", "NAME = %r\n" % name)
    # distinct mtimes even where the clock is coarse
    os.utime(archive, (mtime_s, mtime_s))

write(["m1"], 1_000_000)
sys.path.insert(0, archive)
import m1
importers = [sys.path_importer_cache[archive], zipimport.zipimporter(archive)]
pyworker.install_in_worker()
wrapper = zipimport.zipimporter.invalidate_caches
assert wrapper is not stock

def refresh():
    del reads[:]
    for imp in importers:
        imp.invalidate_caches()
    return len(reads)

# unchanged: read once per importer, then never again
assert [refresh() for _ in range(3)] == [2, 0, 0]

# rewritten with a new module: re-read, and the new module imports
write(["m1", "m2"], 2_000_000)
assert refresh() == 2
import m2
assert m2.NAME == "m2" and refresh() == 0

# deleted: the stock refresh runs every time and leaves what stock leaves
os.remove(archive)
assert [refresh() for _ in range(2)] == [2, 2]
assert all(imp._files == {} for imp in importers)
assert archive not in zipimport._zip_directory_cache

# restored: read again, then settled
write(["m1"], 3_000_000)
assert [refresh() for _ in range(2)] == [2, 0]
assert all("m1.py" in imp._files for imp in importers)

# a second install changes nothing
pyworker.install_in_worker()
assert zipimport.zipimporter.invalidate_caches is wrapper
assert refresh() == 0
print("EAGER_OK")
'''


def _run_child(python, tmp_path):
    run = subprocess.run(
        [python, "-I", "-c", _CHILD, PYWORKER, str(tmp_path)],
        capture_output=True, text=True, timeout=120,
    )
    assert run.returncode == 0, run.stdout + run.stderr
    return run.stdout.strip()


def test_refresh_semantics_this_interpreter(tmp_path):
    want = "LAZY_OK" if sys.version_info >= (3, 13) else "EAGER_OK"
    assert _run_child(sys.executable, tmp_path) == want


def _lazy_python():
    exe = shutil.which("python3.13")
    if exe is None:
        return None
    probe = subprocess.run(
        [exe, "-I", "-c", "import sys; print(sys.version_info >= (3, 13))"],
        capture_output=True, text=True, timeout=60,
    )
    return exe if probe.stdout.strip() == "True" else None


def test_refresh_left_stock_where_it_is_lazy(tmp_path):
    exe = _lazy_python()
    if exe is None:
        pytest.skip("no python3.13 on PATH")
    assert _run_child(exe, tmp_path) == "LAZY_OK"


def test_python_tasks_do_not_reread_zip_directories(spark):
    from copybook_rs_spark.config import EncodeConfig
    from copybook_rs_spark.operators import decode_tokens, encode_tokens

    # one engine kernel first, as any session's first operation
    chunks = encode_tokens(synthetic_tokens(spark, "lowcard", 8), EncodeConfig())
    assert decode_tokens(chunks).count() == 8
    tasks = zip_rereads_per_task(spark, tasks=8, rounds=3)
    # a worker's first task imports the package and installs the refresh;
    # from its next task on, a refresh re-reads nothing
    warm = [reads for had_package, reads in tasks if had_package]
    assert warm and set(warm) == {0}, tasks
    assert len(warm) >= len(tasks) // 2, tasks
    # the driver keeps the stock method
    assert "pyspark.worker" not in sys.modules
    assert zipimport.zipimporter.invalidate_caches is _pyworker._STOCK_INVALIDATE
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
