"""Python-worker import-cache reset (matrixprofile_spark._worker).

Spark resets the import caches at the start of every Python task. With the
package imported in a worker, that reset keeps the parsed directory of each
zip archive already on the path (pyspark.zip, the Spark jar) instead of
re-reading it, and still makes files shipped with ``addPyFile`` importable.
"""

from __future__ import annotations

import importlib
import importlib.util
import sys
import uuid
import zipfile
import zipimport
from collections import defaultdict

from matrixprofile_spark import _worker


def _run(spark, fn, schema, n=8):
    df = spark.range(n, numPartitions=n)
    return df.mapInPandas(fn, schema).collect()


def test_worker_keeps_parsed_zip_directory_across_tasks(spark):
    def probe(it):
        import os
        import zipimport

        import matrixprofile_spark  # noqa: F401  (installs the worker hook)

        archive = next(
            (k for k in zipimport._zip_directory_cache
             if os.path.basename(k) == "pyspark.zip"), None)
        dir_id = -1 if archive is None else id(zipimport._zip_directory_cache[archive])
        for pdf in it:
            yield pdf.assign(pid=os.getpid(), dir_id=dir_id)

    schema = "id long, pid long, dir_id long"
    rows = _run(spark, probe, schema) + _run(spark, probe, schema)
    assert all(r.dir_id != -1 for r in rows), "workers did not import pyspark.zip"
    seen = defaultdict(list)
    for r in rows:
        seen[r.pid].append(r.dir_id)
    assert max(len(ids) for ids in seen.values()) >= 2, "no worker was reused"
    # every task a worker ran saw the one directory its first task parsed
    assert all(len(set(ids)) == 1 for ids in seen.values()), dict(seen)


def test_add_py_file_still_importable(spark, tmp_path):
    tag = uuid.uuid4().hex[:10]
    mod, pkg = f"mps_shipped_mod_{tag}", f"mps_shipped_pkg_{tag}"
    (tmp_path / f"{mod}.py").write_text("VALUE = 'py'\n")
    with zipfile.ZipFile(tmp_path / f"{pkg}.zip", "w") as z:
        z.writestr(f"{pkg}/__init__.py", "VALUE = 'zip'\n")

    def warm(it):
        import matrixprofile_spark  # noqa: F401  (installs the worker hook)

        yield from it

    def probe(it):
        import importlib
        import os
        import sys

        hooked = sys.modules["pyspark.worker_util"].importlib is not importlib
        got = importlib.import_module(mod).VALUE + importlib.import_module(pkg).VALUE
        for pdf in it:
            yield pdf.assign(pid=os.getpid(), hooked=hooked, got=got)

    _run(spark, warm, "id long")
    sc = spark.sparkContext
    sc.addPyFile(str(tmp_path / f"{mod}.py"))
    sc.addPyFile(str(tmp_path / f"{pkg}.zip"))
    rows = _run(spark, probe, "id long, pid long, hooked boolean, got string")
    assert {r.got for r in rows} == {"pyzip"}
    assert any(r.hooked for r in rows), "no task ran with the hook installed"


def test_driver_import_leaves_worker_util_untouched():
    import pyspark.worker_util as worker_util

    import matrixprofile_spark  # noqa: F401

    _worker.install()  # no TaskContext on the driver
    assert worker_util.importlib is importlib


def test_reset_keeps_zip_directories_and_does_the_rest(tmp_path):
    archive = str(tmp_path / f"mps_reset_{uuid.uuid4().hex[:10]}.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("mps_reset_zipped.py", "VALUE = 1\n")
    plain = tmp_path / "plain"
    plain.mkdir()
    name = f"mps_reset_late_{uuid.uuid4().hex[:10]}"
    sys.path[:0] = [archive, str(plain)]
    try:
        importlib.import_module("mps_reset_zipped")
        assert importlib.util.find_spec(name) is None  # plain/ listed, empty
        zip_finder = sys.path_importer_cache[archive]
        parsed = zipimport._zip_directory_cache[archive]
        sys.path_importer_cache["mps-relative-entry"] = None

        (plain / f"{name}.py").write_text("VALUE = 2\n")
        _worker._invalidate_caches()

        assert sys.path_importer_cache[archive] is zip_finder
        assert zipimport._zip_directory_cache[archive] is parsed
        assert "mps-relative-entry" not in sys.path_importer_cache
        assert importlib.import_module(name).VALUE == 2  # FileFinder re-listed
    finally:
        sys.path.remove(archive)
        sys.path.remove(str(plain))
        for key in (archive, str(plain)):
            sys.path_importer_cache.pop(key, None)
        for mod in ("mps_reset_zipped", name):
            sys.modules.pop(mod, None)
