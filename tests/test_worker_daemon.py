"""The package's Python daemon (``msi_preprocessing_pipeline_spark.daemon``).

Its rule: a zip importer re-reads its archive on ``invalidate_caches`` only
when the archive changed since the importer last read it, cannot be
stat'ed, or was never recorded; every other part of
``importlib.invalidate_caches`` runs as in the stdlib. The rule runs in a
subprocess that installs the patch, so this process keeps the stdlib
method. The Spark tests check that the tier-1 session's workers run under
the daemon and still import files added mid-session.
"""

import json
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pyarrow as pa

import msi_preprocessing_pipeline_spark as pkg
from msi_preprocessing_pipeline_spark import daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))

RULE = r"""
import importlib, json, os, sys, zipfile, zipimport
from msi_preprocessing_pipeline_spark import daemon

work = sys.argv[1]
reads = []
stdlib_read = zipimport._read_directory
def counted(archive):
    reads.append(os.path.basename(archive))
    return stdlib_read(archive)
zipimport._read_directory = counted

def write_zip(name, modules, mtime_s):
    path = os.path.join(work, name)
    with zipfile.ZipFile(path, "w") as z:
        for mod, value in modules.items():
            z.writestr(f"{mod}.py", f"VALUE = {value}\n")
    os.utime(path, (mtime_s, mtime_s))
    return path

def invalidate():
    del reads[:]
    importlib.invalidate_caches()
    return list(reads)

out = {}
a = write_zip("a.zip", {"zmod_a": 1}, 1_000_000)
sys.path.insert(0, a)
import zmod_a
daemon.install()
out["unchanged"] = invalidate()

a = write_zip("a.zip", {"zmod_a": 1, "zmod_b": 2}, 2_000_000)
out["rewritten"] = invalidate()
import zmod_b
out["rewritten_import"] = zmod_b.VALUE
out["rewritten_again"] = invalidate()

c = write_zip("c.zip", {"zmod_c": 3}, 1_000_000)
sys.path.insert(0, c)
import zmod_c
out["unrecorded"] = invalidate()
out["unrecorded_again"] = invalidate()

plain = os.path.join(work, "plain")
os.makedirs(plain)
sys.path.insert(0, plain)
try:
    import dmod
except ImportError:
    pass
with open(os.path.join(plain, "dmod.py"), "w") as f:
    f.write("VALUE = 4\n")
importlib.invalidate_caches()
import dmod
out["directory_import"] = dmod.VALUE

os.remove(c)
out["removed"] = invalidate()
out["removed_files"] = len(sys.path_importer_cache[c]._files)
out["patched"] = zipimport.zipimporter.invalidate_caches.__qualname__
print(json.dumps(out))
"""


def _run_rule(tmp_path) -> dict:
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    proc = subprocess.run([sys.executable, "-c", RULE, str(tmp_path)],
                          env=env, capture_output=True, text=True,
                          timeout=120)
    assert proc.returncode == 0, proc.stderr
    return json.loads(proc.stdout.splitlines()[-1])


def test_invalidate_rule(tmp_path):
    """Unchanged archives are not re-read; a rewritten archive is re-read
    once and its new module imports; an importer built after the table was
    recorded is re-read once; a new ``.py`` in a plain directory on
    ``sys.path`` imports; a removed archive empties its importer, as the
    stdlib method does."""
    out = _run_rule(tmp_path)
    assert out["patched"] == "invalidate_if_changed"
    assert out["unchanged"] == []
    assert out["rewritten"] == ["a.zip"]
    assert out["rewritten_import"] == 2
    assert out["rewritten_again"] == []
    assert out["unrecorded"] == ["c.zip"]
    assert out["unrecorded_again"] == []
    assert out["directory_import"] == 4
    assert out["removed"] == ["c.zip"]
    assert out["removed_files"] == 0


def test_importing_the_module_patches_nothing():
    """Only ``python -m`` installs the patch: the driver and the module
    census import the module with no side effect."""
    assert daemon.__name__ in sys.modules
    assert zipimport.zipimporter.invalidate_caches is \
        daemon._stdlib_invalidate
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_workers_run_under_the_package_daemon(spark):
    """Every worker of the session ``build_session`` makes has the
    daemon's ``invalidate_caches`` in place of the stdlib one, and the
    package's directory on its ``PYTHONPATH``, so the daemon imports
    wherever the driver was started."""
    def report(batches):
        import zipimport
        fn = zipimport.zipimporter.invalidate_caches
        path = os.environ.get("PYTHONPATH", "").split(os.pathsep)
        for _ in batches:
            yield pa.RecordBatch.from_pylist(
                [{"name": f"{fn.__module__}.{fn.__qualname__}",
                  "on_path": ROOT in path}])

    rows = spark.range(0, 16, numPartitions=4).mapInArrow(
        report, "name string, on_path boolean").collect()
    assert {(r.name, r.on_path) for r in rows} == {
        (f"{daemon.__name__}.invalidate_if_changed", True)}


def test_files_added_after_workers_ran_import_in_a_udf(spark, tmp_path):
    """A zip and a ``.py`` file added with ``addPyFile`` after the
    session's workers ran a UDF import inside a ``mapInArrow`` UDF."""
    def pid(batches):
        for _ in batches:
            yield pa.RecordBatch.from_pylist([{"pid": os.getpid()}])

    df = spark.range(0, 16, numPartitions=4)
    assert len(df.mapInArrow(pid, "pid long").collect()) == 4
    tag = uuid.uuid4().hex
    zipped, plain = f"addpyfile_zip_{tag}", f"addpyfile_py_{tag}"
    with zipfile.ZipFile(tmp_path / f"{zipped}.zip", "w") as z:
        z.writestr(f"{zipped}.py", "VALUE = 42\n")
    (tmp_path / f"{plain}.py").write_text("VALUE = 7\n")
    for name in (f"{zipped}.zip", f"{plain}.py"):
        spark.sparkContext.addPyFile(str(tmp_path / name))

    def probe(batches):
        import importlib
        values = [importlib.import_module(m).VALUE for m in (zipped, plain)]
        for _ in batches:
            yield pa.RecordBatch.from_pylist([{"values": values}])

    rows = df.mapInArrow(probe, "values array<long>").collect()
    assert [r.values for r in rows] == [[42, 7]] * 4
