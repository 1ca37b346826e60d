"""The session's Python worker daemon (``vector_search_spark.worker_daemon``).

Before each task it drops the importers of Spark's own zip archives from
``sys.path_importer_cache``, so ``pyspark.worker``'s per-task
``importlib.invalidate_caches()`` has no archive to re-read.  The Spark
checks run in one fresh driver process started in ``/tmp`` without
``PYTHONPATH``, so the workers can import the daemon only through the path
``get_spark`` gives them; ``local[1]`` makes every task use the same
worker."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
import zipimport
from importlib.machinery import FileFinder
from pathlib import Path

import pytest

from vector_search_spark.worker_daemon import drop_archive_importers, spark_archive_roots

REPO = Path(__file__).resolve().parents[1]

_DRIVER = r"""
import json, os, sys, zipfile
sys.path.insert(0, sys.argv[1])
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from vector_search_spark.session import get_spark


def archive_importers(it):
    # Spark-archive zipimporters (archive not a file the job shipped) that
    # this task's invalidate_caches() found in the cache: those a previous
    # task of this worker had seen.  A task may rebuild some importers
    # before its function runs; rebuilding reads no archive.
    import zipimport
    from pyspark import SparkFiles

    root = SparkFiles.getRootDirectory()
    now = [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and not f.archive.startswith(root)
    ]
    seen = getattr(sys, "_archive_importers_seen", [])
    n = sum(any(f is g for g in seen) for f in now)
    sys._archive_importers_seen = now
    for _ in it:
        pass
    yield pa.RecordBatch.from_pydict({"n": [n]})


def counts(spark, runs=3):
    df = spark.range(10).repartition(1)
    return [df.mapInArrow(archive_importers, "n long").collect()[0].n for _ in range(runs)]


out = {}
spark = get_spark("worker-daemon-test", cpus=1, shuffle_partitions=1)
out["daemon"] = spark.sparkContext.getConf().get("spark.python.daemon.module")

@F.pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

out["pandas_udf"] = sorted(r[0] for r in spark.range(5).select(plus_one("id")).collect())
out["archive_importers"] = counts(spark)

path = os.path.join(sys.argv[2], "vsz_user_lib.zip")
with zipfile.ZipFile(path, "w") as z:
    z.writestr("vsz_user_lib.py", "VALUE = 41\n")
spark.sparkContext.addPyFile(path)


def user_lib(it):
    import zipimport
    import vsz_user_lib

    kept = any(
        isinstance(f, zipimport.zipimporter) and f.archive.endswith("vsz_user_lib.zip")
        for f in sys.path_importer_cache.values()
    )
    for _ in it:
        pass
    yield pa.RecordBatch.from_pydict({"value": [vsz_user_lib.VALUE + 1], "kept": [kept]})


runs = [spark.range(3).repartition(1).mapInArrow(user_lib, "value long, kept boolean").collect()[0] for _ in range(2)]
out["user_zip"] = [[r.value, r.kept] for r in runs]
spark.stop()

stock = get_spark(
    "worker-daemon-stock", cpus=1, shuffle_partitions=1,
    extra_conf={"spark.python.daemon.module": "pyspark.daemon"},
)
out["stock_archive_importers"] = counts(stock)
stock.stop()
print("RESULT " + json.dumps(out))
"""


@pytest.fixture(scope="module")
def worker_run(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("worker_daemon")
    script = tmp / "driver.py"
    script.write_text(_DRIVER)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(script), str(REPO), str(tmp)],
        cwd="/tmp", env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")][-1]
    return json.loads(line[len("RESULT "):])


def _zip(path: Path, *names: str) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for n in names:
            z.writestr(n, "")
    return str(path)


def test_drop_rule_removes_only_spark_archive_importers(tmp_path):
    spark_zip = _zip(tmp_path / "pyspark.zip", "pyspark/__init__.py", "pyspark/sql/__init__.py")
    spark_jar = _zip(tmp_path / "spark-core.jar", "pyspark/__init__.py")
    # a zip whose path starts with the Spark archive's but is not inside it
    (tmp_path / "pyspark.zip.d").mkdir()
    user_zip = _zip(tmp_path / "pyspark.zip.d" / "user.zip", "lib/__init__.py")
    src_dir = str(tmp_path / "pyspark.zip.d")

    roots = spark_archive_roots([str(tmp_path), spark_zip, spark_jar, src_dir, "/usr/lib/python3"])
    assert roots == (spark_zip, spark_jar)

    sub = os.path.join(spark_zip, "pyspark")
    subsub = os.path.join(spark_zip, "pyspark", "sql")
    cache = {
        spark_zip: zipimport.zipimporter(spark_zip),
        sub: zipimport.zipimporter(sub),
        subsub: zipimport.zipimporter(subsub),
        spark_jar: zipimport.zipimporter(spark_jar),
        user_zip: zipimport.zipimporter(user_zip),
        os.path.join(user_zip, "lib"): zipimport.zipimporter(os.path.join(user_zip, "lib")),
        src_dir: FileFinder(src_dir),
        os.path.join(spark_zip, "missing"): None,
    }
    drop_archive_importers(cache, roots)
    assert sorted(cache) == sorted(
        [user_zip, os.path.join(user_zip, "lib"), src_dir, os.path.join(spark_zip, "missing")]
    )


def test_workers_see_no_spark_archive_importers(worker_run):
    assert worker_run["daemon"] == "vector_search_spark.worker_daemon"
    assert worker_run["archive_importers"][-1] == 0, worker_run
    # the stock daemon keeps them, and re-reads each archive before every task
    assert worker_run["stock_archive_importers"][-1] >= 3, worker_run


def test_added_py_file_still_imports(worker_run):
    # the user zip's importer is left in the cache from one task to the next
    assert worker_run["user_zip"] == [[42, True], [42, True]], worker_run


def test_pandas_udf_runs_from_another_cwd(worker_run):
    assert worker_run["pandas_udf"] == [1, 2, 3, 4, 5]


def test_pyspark_daemon_hooks_still_exist():
    from pyspark import daemon

    assert callable(daemon.worker_main) and callable(daemon.manager)
    # worker() must look worker_main up in the module on every call, or
    # replacing the module attribute would not take effect
    assert "worker_main" in daemon.worker.__code__.co_names
