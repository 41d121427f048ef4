import os
import sys
from contextlib import contextmanager

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


@pytest.fixture(scope="session")
def spark():
    from textractssmlprocessor_spark.session import get_spark

    spark = get_spark(app_name="tests", cores=4, shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture
def persistent_rdds(spark):
    """Snapshot of the persistent-RDD registry: every cached or
    local-checkpointed RDD id the session still holds."""
    return lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.fixture
def checkpoint_dir(request, spark, tmp_path):
    """Indirect bool param choosing the storage ``materialize.cut`` uses:
    True sets a tmp checkpoint dir (reliable checkpoints), False leaves
    the session without one (local checkpoints). The shared session has
    no checkpoint dir again afterwards."""
    with checkpoint_dir_set(spark, str(tmp_path / "ckpt") if request.param else None):
        yield request.param


@contextmanager
def checkpoint_dir_set(spark, path):
    """Run the block with ``path`` (None: no dir) as the session's
    checkpoint dir, then unset it."""
    if path is not None:
        spark.sparkContext.setCheckpointDir(path)
    try:
        yield
    finally:
        spark.sparkContext._jsc.sc().setCheckpointDir(None)
