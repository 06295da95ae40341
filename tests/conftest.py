import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wrangle_pypes_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_session("wrangle-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from wrangle_pypes_spark.sources import load_star_schema
    return load_star_schema(spark, sf_dir)


def _count_py4j_calls(fn, tries=3):
    """The fewest py4j round trips of ``tries`` calls of ``fn()``:
    ``fn`` sets up and returns the call to count, run with no
    arguments."""
    from py4j import clientserver
    real = clientserver.ClientServerConnection.send_command
    n = [0]

    def counting(self, command):
        n[0] += 1
        return real(self, command)

    best = None
    clientserver.ClientServerConnection.send_command = counting
    try:
        for _ in range(tries):
            ready = fn()
            n[0] = 0
            ready()
            best = n[0] if best is None else min(best, n[0])
    finally:
        clientserver.ClientServerConnection.send_command = real
    return best


@pytest.fixture
def py4j_calls():
    """``py4j_calls(fn, tries=3)``: the fewest py4j round trips of
    ``tries`` calls of the call ``fn()`` returns."""
    return _count_py4j_calls
