import os
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# tools/check_correctness.py holds the one DuckDB oracle comparator the
# tests share.
sys.path.insert(0, os.path.join(_REPO, "tools"))

# transformWithState (B60) needs google.protobuf in BOTH the driver and the
# Spark Python workers. This container has no protobuf wheel, but a pure-
# Python 6.32 runtime ships inside the public Google Cloud SDK on disk;
# tools/pyshim/sitecustomize.py vendors it in lazily. Activate it here —
# in-process for the driver, and via PYTHONPATH (read at JVM launch, i.e.
# before the session fixture) for the workers, where sitecustomize runs at
# interpreter startup.
_PYSHIM = os.path.join(_REPO, "tools", "pyshim")
try:
    import google.protobuf  # noqa: F401
except ImportError:
    import importlib.util as _ilu

    _spec = _ilu.spec_from_file_location(
        "_graft_pyshim", os.path.join(_PYSHIM, "sitecustomize.py")
    )
    _mod = _ilu.module_from_spec(_spec)
    _spec.loader.exec_module(_mod)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (_PYSHIM, os.environ.get("PYTHONPATH", "")) if p
    )

from spark_s3_shuffle_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # executorEnv.PYTHONPATH reaches the Spark Python workers AND the
    # transformWithState pre-init driver worker (StreamingPythonRunner
    # rebuilds PYTHONPATH from the udf's envVars + pyspark.zip, discarding
    # the JVM's inherited env) — required for the pyshim protobuf vendoring.
    extra = (
        {"spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"]}
        if _PYSHIM in os.environ.get("PYTHONPATH", "")
        else None
    )
    s = get_spark("engine-tests", shuffle_partitions=8, extra_conf=extra)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
