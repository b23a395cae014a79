"""The archive-free Python worker daemon (``worker_daemon``): which
``sys.path`` entries it strips, when ``get_spark`` selects it, and that
a live session's workers hold no zip importers."""

from __future__ import annotations

import os
import zipfile
from types import SimpleNamespace

from spark_kinesis_article_analysis_spark import session
from spark_kinesis_article_analysis_spark.worker_daemon import strip_archives

VERSION = b'__version__: str = "9.9.9"\n'


def _spark_home(tmp_path, pyspark_version=VERSION):
    """A fake SPARK_HOME whose python/lib holds both zips, plus a jar."""
    home = tmp_path / "spark"
    lib = home / "python" / "lib"
    lib.mkdir(parents=True)
    for name, pkg, version in (("pyspark.zip", "pyspark", pyspark_version), ("py4j-0.1-src.zip", "py4j", VERSION)):
        with zipfile.ZipFile(lib / name, "w") as z:
            z.writestr(f"{pkg}/__init__.py", "")
            z.writestr(f"{pkg}/version.py", version)
    jar = home / "jars" / "spark-core.jar"
    jar.parent.mkdir()
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("org/Main.class", b"")
    return str(home), [str(lib / "pyspark.zip"), str(lib / "py4j-0.1-src.zip"), str(jar)]


def _site(tmp_path, packages=("pyspark", "py4j"), version=VERSION):
    """A directory holding installed copies of ``packages``."""
    site = tmp_path / "site"
    for pkg in packages:
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
        (site / pkg / "version.py").write_bytes(version)
    site.mkdir(exist_ok=True)
    return str(site)


def _cache(entries):
    """An importer cache holding each entry and one package dir inside it."""
    cache = {}
    for e in entries:
        cache[e] = cache[os.path.join(e, "pkg")] = object()
    return cache


class TestStripArchives:
    def test_jars_always_dropped_and_importers_purged(self, tmp_path):
        home, (pz, py4j, jar) = _spark_home(tmp_path)
        other = str(tmp_path / "code")
        path, cache = [other, jar], _cache([other, jar])
        assert strip_archives(path, cache, home) == [jar]
        assert path == [other]
        assert set(cache) == {other, os.path.join(other, "pkg")}

    def test_zips_dropped_when_installed_copy_identical(self, tmp_path):
        home, (pz, py4j, jar) = _spark_home(tmp_path)
        site = _site(tmp_path)
        path = [pz, py4j, jar, site]
        cache = _cache(path)
        assert sorted(strip_archives(path, cache, home)) == sorted([pz, py4j, jar])
        assert path == [site]
        assert set(cache) == {site, os.path.join(site, "pkg")}

    def test_zips_kept_when_installed_copy_absent(self, tmp_path):
        home, (pz, py4j, jar) = _spark_home(tmp_path)
        site = _site(tmp_path, packages=("py4j",))
        path = [pz, py4j, jar, site]
        cache = _cache(path)
        assert strip_archives(path, cache, home) == [jar]
        assert path == [pz, py4j, site]
        assert os.path.join(pz, "pkg") in cache

    def test_zips_kept_when_installed_version_differs(self, tmp_path):
        home, (pz, py4j, jar) = _spark_home(tmp_path)
        site = _site(tmp_path, version=b'__version__: str = "9.9.8"\n')
        path = [pz, py4j, jar, site]
        assert strip_archives(path, _cache(path), home) == [jar]
        assert path == [pz, py4j, site]

    def test_zips_outside_spark_home_kept(self, tmp_path):
        home, (pz, py4j, jar) = _spark_home(tmp_path)
        site = _site(tmp_path)
        path = [pz, py4j, site]
        assert strip_archives(path, _cache(path), str(tmp_path / "elsewhere")) == []
        assert path == [pz, py4j, site]


class _Builder:
    """Stands in for ``SparkSession.builder``: records the conf."""

    def __init__(self):
        self.conf = {}

    def appName(self, _):
        return self

    def master(self, _):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))


class TestDaemonSelection:
    def _conf(self, monkeypatch, **kw):
        builder = _Builder()
        monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
        session.get_spark(master="local[2]", **kw)
        return builder.conf

    def _no_package_on_worker_path(self, monkeypatch, tmp_path):
        monkeypatch.chdir(tmp_path)
        monkeypatch.delenv("PYTHONPATH", raising=False)

    def test_falls_back_when_workers_cannot_import_the_module(self, monkeypatch, tmp_path):
        self._no_package_on_worker_path(monkeypatch, tmp_path)
        assert "spark.python.daemon.module" not in self._conf(monkeypatch)

    def test_selected_when_the_package_is_on_the_worker_path(self, monkeypatch, tmp_path):
        self._no_package_on_worker_path(monkeypatch, tmp_path)
        root = os.path.dirname(os.path.dirname(session.__file__))
        monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root]))
        assert self._conf(monkeypatch)["spark.python.daemon.module"] == session.WORKER_DAEMON

    def test_executor_env_counts_on_a_cluster(self, monkeypatch, tmp_path):
        self._no_package_on_worker_path(monkeypatch, tmp_path)
        root = os.path.dirname(os.path.dirname(session.__file__))
        monkeypatch.setenv("PYTHONPATH", root)
        builder = _Builder()
        monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
        session.get_spark(master="spark://host:7077")
        assert "spark.python.daemon.module" not in builder.conf
        session.get_spark(master="spark://host:7077", extra_conf={"spark.executorEnv.PYTHONPATH": root})
        assert builder.conf["spark.python.daemon.module"] == session.WORKER_DAEMON


def _zip_importers(_):
    import sys
    import zipimport

    yield sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())


def test_session_workers_hold_no_zip_importers(spark):
    """Spark's stock daemon leaves ~16 zip importers per worker (one per
    pyspark.zip package dir, two for the spark-core jar), each re-read
    on every task's ``importlib.invalidate_caches()``."""
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == session.WORKER_DAEMON
    counts = spark.sparkContext.parallelize(range(4), 4).mapPartitions(_zip_importers).collect()
    assert counts == [0, 0, 0, 0]
