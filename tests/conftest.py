from __future__ import annotations

import os

import pytest

from kgtk_spark.session import get_spark

REF_DATA = "/root/reference/kgtk/tests/data"
TESTDATA = "/root/testdata"


def requires_reference(*names):
    """Skip a test that reads the named KGTK reference files unless all exist."""
    paths = [os.path.join(REF_DATA, n) for n in names]
    missing = [p for p in paths if not os.path.exists(p)]
    return pytest.mark.skipif(
        bool(missing), reason=f"reference file missing: {', '.join(missing)}"
    )


def _read_reference(spark, name):
    from kgtk_spark.schema import read_kgtk_tsv

    path = os.path.join(REF_DATA, name)
    if not os.path.exists(path):
        pytest.skip(f"reference file missing: {path}")
    return read_kgtk_tsv(spark, path).cache()


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kgtk_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sample_edges(spark):
    return _read_reference(spark, "sample_kgtk_edge_file.tsv")


@pytest.fixture(scope="session")
def sample_nodes(spark):
    return _read_reference(spark, "sample_kgtk_nodes.tsv")
