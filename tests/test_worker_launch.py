"""Python workers start on the installed pyspark, not on the archives the
JVM puts on their path (``pyspark.zip``, the py4j source zip, the
spark-core jar).

Every task's ``setup_spark_files`` calls ``importlib.invalidate_caches()``,
which makes each zipimporter re-read its whole archive directory; with
the archives off the path that per-task cost is gone.
"""
from __future__ import annotations

import os
import re
import shutil
import zipfile

import pyarrow as pa

from pdfredact_spark import session, worker_daemon


def _is_archive_key(path: str) -> bool:
    return any(
        part == "pyspark.zip"
        or part.endswith(".jar")
        or re.fullmatch(r"py4j-.*-src\.zip", part)
        for part in path.split(os.sep)
    )


def test_worker_imports_installed_pyspark(spark):
    # nested, so cloudpickle ships it by value: workers cannot import tests/
    def probe(batches):
        import sys
        import zipimport

        import pyspark

        for _ in batches:
            pass
        zips = [
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        ]
        yield pa.RecordBatch.from_pydict(
            {"pyspark_file": [pyspark.__file__], "zips": [zips]}
        )

    row = (
        spark.range(1, numPartitions=1)
        .mapInArrow(probe, "pyspark_file string, zips array<string>")
        .collect()[0]
    )
    assert "pyspark.zip" not in row["pyspark_file"], row["pyspark_file"]
    assert not [k for k in row["zips"] if _is_archive_key(k)], row["zips"]


# --------------------------------------------------------------------------
# the daemon's path filter, on fake archives and installs
# --------------------------------------------------------------------------

def _version_file(version: str) -> str:
    return f"__version__: str = '{version}'\n"


def _layout(tmp_path, zip_version: str, installed_version: str | None):
    lib = tmp_path / "lib"
    lib.mkdir(parents=True)
    spark_zip = lib / "pyspark.zip"
    with zipfile.ZipFile(spark_zip, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", _version_file(zip_version))
    py4j_zip = lib / "py4j-0.10.9.9-src.zip"
    with zipfile.ZipFile(py4j_zip, "w") as z:
        z.writestr("py4j/__init__.py", "")
    jar = lib / "spark-core_2.13.jar"
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("org/apache/spark/Dummy.class", b"")
    site = tmp_path / "site"
    (site / "py4j").mkdir(parents=True)
    (site / "py4j" / "__init__.py").write_text("")
    if installed_version is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text(
            _version_file(installed_version)
        )
    archives = [str(spark_zip), str(py4j_zip), str(jar)]
    return [str(tmp_path)] + archives + [str(site)], archives


def test_path_filter_drops_archives_when_installed_matches(tmp_path):
    path, archives = _layout(tmp_path, "4.1.2", "4.1.2")
    assert worker_daemon.installed_path(path) == [
        p for p in path if p not in archives
    ]


def test_path_filter_keeps_archives_without_a_matching_install(tmp_path):
    missing, _ = _layout(tmp_path / "a", "4.1.2", None)
    assert worker_daemon.installed_path(missing) == missing
    differs, _ = _layout(tmp_path / "b", "4.1.2", "4.0.0")
    assert worker_daemon.installed_path(differs) == differs
    no_py4j, _ = _layout(tmp_path / "c", "4.1.2", "4.1.2")
    shutil.rmtree(tmp_path / "c" / "site" / "py4j")
    assert worker_daemon.installed_path(no_py4j) == no_py4j


# --------------------------------------------------------------------------
# get_spark sets the daemon module only where workers can import it
# --------------------------------------------------------------------------

def test_daemon_conf_guard(tmp_path, monkeypatch):
    key = "spark.python.daemon.module"
    root = tmp_path / "src"
    (root / "pdfredact_spark").mkdir(parents=True)
    monkeypatch.chdir(root)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert session._daemon_conf("local[2]", str(root)) == {
        key: "pdfredact_spark.worker_daemon"
    }
    assert session._daemon_conf("local", str(root)) == {
        key: "pdfredact_spark.worker_daemon"
    }
    # a --py-files zip: the package root is the archive, not a directory,
    # even when the archive itself is on PYTHONPATH
    zipped = tmp_path / "pdfredact_spark.zip"
    with zipfile.ZipFile(zipped, "w") as z:
        z.writestr("pdfredact_spark/__init__.py", "")
    monkeypatch.setenv("PYTHONPATH", str(zipped))
    assert session._daemon_conf("local[2]", str(zipped)) == {}
    monkeypatch.delenv("PYTHONPATH")
    # executors that are not the driver's own process tree
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]", None):
        assert session._daemon_conf(master, str(root)) == {}
    # a plain directory that is neither the cwd nor on PYTHONPATH
    other = tmp_path / "other"
    (other / "pdfredact_spark").mkdir(parents=True)
    assert session._daemon_conf("local[2]", str(other)) == {}
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/nonexistent", str(other)]))
    assert session._daemon_conf("local[2]", str(other)) == {
        key: "pdfredact_spark.worker_daemon"
    }
