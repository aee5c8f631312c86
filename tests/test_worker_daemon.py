"""Python workers load PySpark from its installed package
(``spark_s3_shuffle_spark/worker_daemon.py``), and user archives still
resolve in them."""

import json
import os
import shutil
import subprocess
import sys
import uuid
import zipfile

import pytest

from spark_s3_shuffle_spark.session import worker_daemon_conf
from spark_s3_shuffle_spark.worker_daemon import prune

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PYSHIM = os.path.join(_REPO, "tools", "pyshim")


def test_workers_import_pyspark_from_its_package(spark):
    def probe(batches):
        import sys as wsys
        import zipimport

        import pyarrow as pa
        import pyspark
        from pyspark import SparkFiles

        for _ in batches:
            pass
        files = SparkFiles.getRootDirectory()
        zips = [k for k, v in wsys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter) and not k.startswith(files)]
        yield pa.RecordBatch.from_pylist([{"out": json.dumps(
            {"pyspark": pyspark.__file__, "zips": zips, "path": wsys.path, "files": files})}])

    rows = spark.range(2, numPartitions=2).mapInArrow(probe, "out string").collect()
    assert len(rows) == 2
    for row in rows:
        got = json.loads(row.out)
        assert os.path.isfile(got["pyspark"]), got["pyspark"]  # not inside an archive
        assert got["zips"] == []
        assert got["files"] in got["path"]
        if _PYSHIM in os.environ.get("PYTHONPATH", ""):
            assert _PYSHIM in got["path"]


def test_added_py_file_archive_still_resolves(spark, tmp_path):
    name = f"graft_pyfile_{uuid.uuid4().hex}"
    archive = tmp_path / "deps.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{name}.py", "VALUE = 41 + 1\n")
    spark.sparkContext.addPyFile(str(archive))

    def use(batches):
        import importlib

        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"v": importlib.import_module(name).VALUE}])

    rows = spark.range(2, numPartitions=2).mapInArrow(use, "v long").collect()
    assert [r.v for r in rows] == [42, 42]


def _zip(path, members):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for member in members:
            zf.writestr(member, "x = 1\n")
    return str(path)


@pytest.fixture
def layout(tmp_path):
    """An installed pyspark under ``site`` and candidate archives."""
    (tmp_path / "site" / "pyspark").mkdir(parents=True)
    (tmp_path / "site" / "pyspark" / "__init__.py").write_text("")
    twin = _zip(tmp_path / "site" / "pyspark" / "python" / "lib" / "pyspark.zip",
                ["pyspark/__init__.py", "pyspark/sql/__init__.py"])
    ours = tmp_path / "spark" / "python" / "lib"
    ours.mkdir(parents=True)
    shutil.copyfile(twin, ours / "pyspark.zip")
    other = tmp_path / "other-build" / "pyspark.zip"
    other.parent.mkdir()
    with open(twin, "rb") as fh:
        data = bytearray(fh.read())
    data[-1] ^= 1
    other.write_bytes(bytes(data))
    return {
        "site": str(tmp_path / "site"),
        "twin": str(ours / "pyspark.zip"),
        "one_byte_off": str(other),
        "jar": _zip(tmp_path / "jars" / "spark-core.jar", ["org/apache/Spark.class"]),
        "py_jar": _zip(tmp_path / "jars" / "with-python.jar", ["pkg/mod.py"]),
        "user_zip": _zip(tmp_path / "user" / "deps.zip", ["deps/__init__.py"]),
    }


# (entries on the path besides "site", the entries that must stay, whether
# "site" holds the installed pyspark)
_CASES = {
    "identical_twin_zip_dropped": (["twin"], [], True),
    "zip_one_byte_off_kept": (["one_byte_off"], ["one_byte_off"], True),
    "jar_without_python_dropped": (["jar"], [], True),
    "jar_with_python_kept": (["py_jar"], ["py_jar"], True),
    "user_zip_kept": (["user_zip"], ["user_zip"], True),
    "no_installed_pyspark_untouched": (["twin", "jar"], ["twin", "jar"], False),
    "mixed_path_keeps_order": (["user_zip", "twin", "jar", "py_jar"], ["user_zip", "py_jar"], True),
}


def _cache_keys(entry):
    """The entry itself, a sub-package inside it, and a sibling whose name
    only starts with it."""
    return {entry, os.path.join(entry, "pyspark", "sql"), entry + "-old"}


@pytest.mark.parametrize("case", sorted(_CASES))
def test_prune_rule(layout, case):
    entries, kept, installed = _CASES[case]
    site = [layout["site"]] if installed else []
    path = [layout[e] for e in entries] + site
    cache = {k: object() for e in entries for k in _cache_keys(layout[e])}
    cache.update({s: object() for s in site})

    prune(path, cache)

    assert path == [layout[e] for e in kept] + site
    assert set(cache) == (
        {k for e in kept for k in _cache_keys(layout[e])}
        | {layout[e] + "-old" for e in entries}
        | set(site)
    )


def test_daemon_conf_only_where_the_daemon_module_resolves(monkeypatch, tmp_path):
    monkeypatch.chdir(_REPO)
    assert worker_daemon_conf("local[4]") == {
        "spark.python.daemon.module": "spark_s3_shuffle_spark.worker_daemon"}
    assert worker_daemon_conf("local") == worker_daemon_conf("local[4]")
    for master in ("yarn", "local-cluster[2,1,1024]", "spark://host:7077"):
        assert worker_daemon_conf(master) == {}
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    assert worker_daemon_conf("local[4]") == {}


def test_package_import_loads_no_pyspark():
    code = (
        "import sys\n"
        "import spark_s3_shuffle_spark, spark_s3_shuffle_spark.worker_daemon\n"
        "assert 'pyspark' not in sys.modules, 'pyspark imported'\n"
        "from spark_s3_shuffle_spark import get_spark, load_table, load_tables, TABLES\n"
        "assert callable(get_spark) and callable(load_table) and callable(load_tables)\n"
        "assert len(TABLES) > 0\n"
    )
    res = subprocess.run([sys.executable, "-c", code], cwd=_REPO, capture_output=True,
                         text=True, timeout=120)
    assert res.returncode == 0, res.stderr
