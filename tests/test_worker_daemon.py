"""Python workers run the driver's installed pyspark (``worker_daemon``).

Spark puts its own archives first on the worker path; the engine's daemon
module drops them so no task re-reads their zip directories. Pinned here:
the live worker imports the driver's pyspark and holds no zip importer over
Spark's archives; the pure path filter on synthetic paths, including when it
must leave the path alone; ``addPyFile`` zips still import inside a UDF; and
the session conf that lets workers import the engine from any working
directory.
"""

from __future__ import annotations

import json
import os
import zipfile

import pyspark

from wri_data_processing_spark import session, worker_daemon

ARCHIVE_VERSIONS = {"pyspark": "4.1.2", "py4j": "0.10.9.9"}


def test_worker_imports_driver_pyspark_and_no_spark_archive(spark):
    def probe(batches):
        import os
        import sys
        import zipimport

        import pandas as pd
        import pyspark as worker_pyspark

        for _ in batches:
            pass
        zips = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]
        yield pd.DataFrame(
            {
                "file": [worker_pyspark.__file__],
                "home": [os.environ.get("SPARK_HOME", "")],
                "zips": [json.dumps(zips)],
            }
        )

    row = spark.range(1).mapInPandas(probe, "file string, home string, zips string").collect()[0]
    assert row.file == pyspark.__file__
    homes = tuple(h + os.sep for h in {row.home, os.path.realpath(row.home)} if h)
    spark_zips = [
        k
        for k in json.loads(row.zips)
        if k.startswith(homes) or any(part.endswith(".jar") for part in k.split(os.sep))
    ]
    assert spark_zips == []


def _resolver(directory_versions):
    """Resolve like a worker whose Spark archives hold ``ARCHIVE_VERSIONS``
    and whose path behind them has ``directory_versions`` installed as
    directories (a name maps to a version, or to ``None`` for a zip install)."""

    def resolve(name, path):
        if any(p.endswith("pyspark.zip") for p in path):
            return ARCHIVE_VERSIONS[name], False
        if name not in directory_versions:
            return None
        version = directory_versions[name]
        return (version, True) if version else (ARCHIVE_VERSIONS[name], False)

    return resolve


def test_worker_path_drops_only_spark_archives_of_installed_versions(tmp_path):
    real_home = tmp_path / "spark-4.1.2-bin-hadoop3"
    (real_home / "jars").mkdir(parents=True)
    (real_home / "python" / "lib").mkdir(parents=True)
    home = tmp_path / "spark"
    home.symlink_to(real_home)
    spark_zips = [f"{home}/python/lib/pyspark.zip", f"{home}/python/lib/py4j-0.10.9.9-src.zip"]
    jar = f"{real_home}/jars/spark-core_2.13-4.1.2.jar"  # Spark names it by its real path
    kept = [
        "/work",
        "/home/u/deps.zip",  # a user zip on PYTHONPATH
        "/usr/lib/python311.zip",  # the stdlib zip entry
        f"{home}/python",
        "/usr/lib/python3.11",
        "/usr/lib/python3.11/site-packages",
    ]
    path = kept[:1] + spark_zips + [jar] + kept[1:]

    assert worker_daemon.spark_archives(path, str(home)) == spark_zips + [jar]
    assert worker_daemon.worker_path(path, str(home), _resolver(ARCHIVE_VERSIONS)) == kept

    # No-op unless both packages resolve to same-version directory installs.
    for installed in (
        {"pyspark": "4.0.1", "py4j": "0.10.9.9"},  # other pyspark version
        {"py4j": "0.10.9.9"},  # no pyspark behind the archives
        {"pyspark": "4.1.2"},  # no py4j behind the archives
        {"pyspark": None, "py4j": "0.10.9.9"},  # pyspark only as a zip
    ):
        assert worker_daemon.worker_path(path, str(home), _resolver(installed)) == path
    assert worker_daemon.worker_path(path, None, _resolver(ARCHIVE_VERSIONS)) == path


def test_resolve_package_reads_zip_and_directory_installs(tmp_path):
    archive = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("fakepkg/__init__.py", "")
        z.writestr("fakepkg/version.py", "__version__: str = '9.1.0'\n")
    site = tmp_path / "site"
    (site / "fakepkg").mkdir(parents=True)
    (site / "fakepkg" / "__init__.py").write_text("")
    (site / "fakepkg" / "version.py").write_text("__version__ = '9.1.0'\n")
    (site / "noversion").mkdir()
    (site / "noversion" / "__init__.py").write_text("")

    assert worker_daemon.resolve_package("fakepkg", [str(archive), str(site)]) == ("9.1.0", False)
    assert worker_daemon.resolve_package("fakepkg", [str(site)]) == ("9.1.0", True)
    assert worker_daemon.resolve_package("noversion", [str(site)]) is None
    assert worker_daemon.resolve_package("absentpkg", [str(site)]) is None


def test_add_py_file_zip_imports_inside_udf(spark, tmp_path):
    archive = tmp_path / "graft_pyfile_probe.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("graft_pyfile_probe.py", "VALUE = 'shipped'\n")
    spark.sparkContext.addPyFile(str(archive))

    def probe(batches):
        import graft_pyfile_probe

        for b in batches:
            yield b.assign(v=graft_pyfile_probe.VALUE)[["v"]]

    rows = spark.range(4).repartition(2).mapInPandas(probe, "v string").collect()
    assert [r.v for r in rows] == ["shipped"] * 4


def test_session_conf_puts_engine_on_worker_path(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == worker_daemon.__name__
    assert conf.get("spark.executorEnv.PYTHONPATH") == session.ENGINE_ROOT
    assert os.path.dirname(os.path.dirname(worker_daemon.__file__)) == session.ENGINE_ROOT
