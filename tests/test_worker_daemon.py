"""Python workers start through ``deed_ocr_spark.worker_daemon``.

Spark-free tests pin the path filter on both sides of its version check;
the Spark tests show the session wires the daemon in and that workers then
import pyspark from outside any archive.
"""

import os
import subprocess
import sys
import zipfile
from types import SimpleNamespace

import pyspark

from deed_ocr_spark.session import WORKER_DAEMON, start_with_worker_daemon
from deed_ocr_spark.worker_daemon import worker_path

SITE = os.path.dirname(os.path.dirname(pyspark.__file__))
SPARK_CORE = "spark-core_2.13-4.1.2.jar"


def _pyspark_zip(path, version):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    return str(path)


def test_same_version_zip_is_stripped(tmp_path):
    zipped = _pyspark_zip(tmp_path / "pyspark.zip", pyspark.__version__)
    py4j = str(tmp_path / "py4j-0.10.9.9-src.zip")
    jar = str(tmp_path / SPARK_CORE)
    path = [str(tmp_path), zipped, py4j, jar, SITE]
    assert worker_path(path) == [str(tmp_path), SITE]


def test_other_archives_are_kept(tmp_path):
    # a user's dependency zip (or jar) is not one of Spark's archives
    zipped = _pyspark_zip(tmp_path / "pyspark.zip", pyspark.__version__)
    deps, jar = str(tmp_path / "deps.zip"), str(tmp_path / "udfs.jar")
    path = [deps, zipped, str(tmp_path / SPARK_CORE), jar, SITE]
    assert worker_path(path) == [deps, jar, SITE]


def test_other_version_zip_leaves_path_alone(tmp_path):
    zipped = _pyspark_zip(tmp_path / "pyspark.zip", "0.0.1")
    path = [zipped, str(tmp_path / SPARK_CORE), SITE]
    assert worker_path(path) is path


def test_zip_only_executor_leaves_path_alone(tmp_path):
    # no unzipped pyspark and no py4j outside the archives: keep them all
    zipped = _pyspark_zip(tmp_path / "pyspark.zip", pyspark.__version__)
    path = [zipped, str(tmp_path)]
    assert worker_path(path) is path
    # an unzipped pyspark of the zip's version, but py4j only zipped
    pkg = tmp_path / "unzipped" / "pyspark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(f'__version__ = "{pyspark.__version__}"\n')
    path = [zipped, str(tmp_path / "unzipped")]
    assert worker_path(path) is path


class _Builder:
    """The two builder calls ``start_with_worker_daemon`` makes; the
    session's ``environment`` starts as ``spark.executorEnv.*`` left it."""

    def __init__(self, environment):
        self.conf, self.environment = {}, environment

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(environment=self.environment))


def test_worker_path_is_appended_to_the_sessions():
    builder = _Builder({"PYTHONPATH": os.pathsep.join(["/deps", "/more"])})
    env = start_with_worker_daemon(builder, "local[2]").sparkContext.environment
    assert builder.conf == {"spark.python.daemon.module": WORKER_DAEMON}
    deps, more, root = env["PYTHONPATH"].split(os.pathsep)
    assert (deps, more) == ("/deps", "/more")
    assert os.path.isdir(os.path.join(root, "deed_ocr_spark"))
    # idempotent: a second session build over the same context adds nothing
    start_with_worker_daemon(builder, "local[2]")
    assert env["PYTHONPATH"].split(os.pathsep) == [deps, more, root]


def test_non_local_master_keeps_sparks_daemon():
    # the package root is a driver path; executors elsewhere need not have it
    builder = _Builder({"PYTHONPATH": "/deps"})
    env = start_with_worker_daemon(builder, "yarn").sparkContext.environment
    assert builder.conf == {}
    assert env == {"PYTHONPATH": "/deps"}


def test_get_spark_sets_daemon_and_worker_path(spark, tmp_path):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == WORKER_DAEMON
    root = spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)[-1]
    assert os.path.isdir(os.path.join(root, "deed_ocr_spark"))
    # the daemon module imports from a cwd that does not hold the package
    env = dict(os.environ, PYTHONPATH=root)
    subprocess.run(
        [sys.executable, "-c", "import deed_ocr_spark.worker_daemon"],
        cwd=tmp_path, env=env, check=True,
    )


def test_workers_import_pyspark_outside_archives(spark):
    def _pyspark_file(batches):
        import pyarrow as pa
        import pyspark

        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {
                    "f": [pyspark.__file__] * b.num_rows,
                    "p": [os.environ.get("PYTHONPATH", "")] * b.num_rows,
                }
            )

    rows = (
        spark.range(0, 16, 1, 4)
        .mapInArrow(_pyspark_file, "f string, p string")
        .collect()
    )
    files = {r["f"] for r in rows}
    assert files == {pyspark.__file__}, files
    assert not any(".zip" in f or ".jar" in f for f in files)
    # the package root reaches the workers' environment
    root = spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)[-1]
    assert all(root in r["p"].split(os.pathsep) for r in rows), rows[0]["p"]
