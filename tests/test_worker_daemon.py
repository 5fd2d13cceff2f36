"""The Python worker daemon (worker_daemon.py): a zipimporter re-reads
its archive directory only when the archive changed."""

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from dataingestion_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wd_alpha": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    monkeypatch.setitem(sys.path_importer_cache, archive, imp)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_caches)
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or read(p))

    def reads_of_archive():
        importlib.invalidate_caches()
        return reads.count(archive)

    assert reads_of_archive() == 1  # no key yet: read and key it
    assert reads_of_archive() == 1
    assert reads_of_archive() == 1

    _write_zip(archive, {"wd_alpha": "X = 1\n", "wd_beta": "Y = 2\n"})
    assert reads_of_archive() == 2
    assert imp.find_spec("wd_beta") is not None
    assert reads_of_archive() == 2

    os.remove(archive)
    assert reads_of_archive() == 3  # no stat: the original runs
    assert imp._files == {}
    assert imp.find_spec("wd_alpha") is None


_SCRIPT = """
import importlib, json, os, sys, zipfile, zipimport

from dataingestion_spark.session import get_spark

spark = get_spark(cpus=2, driver_mem="1g")
spark.sparkContext.setLogLevel("ERROR")


def probe(batches):
    import pyarrow as pa

    fn = zipimport.zipimporter.invalidate_caches
    importlib.invalidate_caches()
    reads = []
    read = zipimport._read_directory
    zipimport._read_directory = lambda p: reads.append(p) or read(p)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    for b in batches:
        yield pa.RecordBatch.from_pydict({
            "fn": [f"{fn.__code__.co_filename}:{fn.__name__}"] * b.num_rows,
            "rereads": [len(reads)] * b.num_rows})


def late(batches):
    import pyarrow as pa
    import wd_late

    for b in batches:
        yield pa.RecordBatch.from_pydict({"v": [wd_late.V] * b.num_rows})


df = spark.range(2).repartition(2)
first = df.mapInArrow(probe, "fn string, rereads long").collect()
archive = os.path.join(sys.argv[1], "late.zip")
with zipfile.ZipFile(archive, "w") as z:
    z.writestr("wd_late.py", "V = 7\\n")
spark.sparkContext.addPyFile(archive)
later = df.mapInArrow(late, "v long").collect()
print(json.dumps({"fn": sorted({r["fn"] for r in first}),
                  "rereads": [r["rereads"] for r in first],
                  "late": [r["v"] for r in later]}))
spark.stop()
"""


def test_workers_fork_from_the_package_daemon(tmp_path):
    """A fresh ``get_spark`` session (the test session's ``getOrCreate``
    would hide a static conf): its Python tasks run the package's
    ``invalidate_caches``, a second invalidation in a task re-reads no
    archive, and a module shipped with ``addPyFile`` after the first
    Python task imports in a later task."""
    script = tmp_path / "probe.py"
    script.write_text(textwrap.dedent(_SCRIPT))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    p = subprocess.run([sys.executable, str(script), str(tmp_path)], cwd=ROOT,
                       env=env, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    daemon_file = os.path.realpath(worker_daemon.__file__)
    assert out["fn"] == [f"{daemon_file}:invalidate_caches"]
    assert out["rereads"] == [0, 0]
    assert out["late"] == [7, 7]
