"""quiver_spark.pyworker: the Python worker daemon of get_spark sessions.

Pins the two halves of the per-task zip re-read fix:
- an importer re-reads its archive only when the file changed, and a
  zip rewritten in place is still picked up;
- Spark tasks of a get_spark session run with the patched importer, and
  a zip shipped with addPyFile after a first task is importable in the
  next one.
"""

from __future__ import annotations

import importlib.util
import os
import uuid
import zipfile
import zipimport

import pyarrow as pa

from quiver_spark import pyworker


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_rereads_only_changed_zip(monkeypatch, tmp_path):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"qs_mod_a": "X = 1\n"})
    importer = zipimport.zipimporter(path)

    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)

    pyworker.invalidate_caches(importer)  # first call: nothing recorded yet
    assert reads == [path]
    pyworker.invalidate_caches(importer)
    pyworker.invalidate_caches(importer)
    assert reads == [path], "an unchanged zip must not be re-read"
    assert importer.find_spec("qs_mod_b") is None

    _write_zip(path, {"qs_mod_a": "X = 1\n", "qs_mod_b": "Y = 2\n"})
    pyworker.invalidate_caches(importer)
    assert reads == [path, path]
    spec = importer.find_spec("qs_mod_b")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2


def test_tasks_run_patched_importer_and_see_new_pyfiles(spark, tmp_path):
    assert (
        spark.sparkContext.getConf().get("spark.python.daemon.module")
        == "quiver_spark.pyworker"
    )
    df = spark.range(1).coalesce(1)

    def patched_origin(batches):
        import zipimport

        code = zipimport.zipimporter.invalidate_caches.__code__
        for _ in batches:
            yield pa.RecordBatch.from_pydict({"f": [code.co_filename]})

    origin = df.mapInArrow(patched_origin, "f string").collect()[0].f
    assert origin.endswith(os.path.join("quiver_spark", "pyworker.py")), origin

    name = f"qs_late_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / f"{name}.zip")
    _write_zip(path, {name: "VALUE = 42\n"})
    spark.sparkContext.addPyFile(path)

    def import_late(batches):
        import importlib

        value = importlib.import_module(name).VALUE
        for _ in batches:
            yield pa.RecordBatch.from_pydict({"v": [value]})

    assert df.mapInArrow(import_late, "v long").collect()[0].v == 42
