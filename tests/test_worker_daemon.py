"""The zip-free Python worker daemon (``hdstats_spark.worker_daemon``)."""

import os
import subprocess
import sys
import zipfile

from hdstats_spark.worker_daemon import zip_free_path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _package(parent, name):
    os.makedirs(os.path.join(parent, name))
    open(os.path.join(parent, name, "__init__.py"), "w").close()


def _archive(path, *names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}/__init__.py", "")
    return str(path)


def test_tasks_hold_no_zip_importer(spark):
    """Inside a Spark task no path entry is a zip archive and pyspark comes
    from a directory (Spark's own worker path puts pyspark.zip, the py4j
    zip and the spark-core jar first)."""

    def probe(_):
        import zipimport

        import pyspark

        zips = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]
        yield zips, pyspark.__file__

    for zips, origin in spark.sparkContext.parallelize(range(2), 2).mapPartitions(probe).collect():
        assert zips == []
        assert os.path.isfile(origin) and ".zip" not in origin, origin


def test_path_kept_when_pyspark_only_in_archive(tmp_path):
    lib = tmp_path / "lib"
    _package(lib, "py4j")
    path = [str(lib), _archive(tmp_path / "pyspark.zip", "pyspark")]
    assert zip_free_path(path) is path


def test_archives_dropped_when_installed_packages_resolve(tmp_path):
    lib = tmp_path / "lib"
    _package(lib, "pyspark")
    _package(lib, "py4j")
    archive = _archive(tmp_path / "pyspark.zip", "pyspark", "py4j")
    jar = str(tmp_path / "spark-core.jar")
    open(jar, "w").close()
    assert zip_free_path([archive, str(lib), jar]) == [str(lib)]


def test_package_import_does_not_import_pyspark():
    """The daemon module loads through the package ``__init__``; a pyspark
    import there would run before the daemon cuts the path and bring the
    zip importers back."""
    code = (
        "import sys, hdstats_spark, hdstats_spark.worker_daemon; "
        "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]"
