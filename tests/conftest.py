from __future__ import annotations

import json
import os

import pytest

from crankshaft_spark import get_session

FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture(scope="session")
def spark():
    # A 32g heap cap let the test JVM's garbage grow its heap to ~11 GB
    # RSS over the suite (G1 expands rather than collects); on a host
    # whose memory is shared, that is what gets the JVM killed mid-suite.
    # The test inputs fit a 2 g heap, so cap the test session at 3 g
    # unless the caller chose a size.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    s = get_session(master="local[4]", app_name="crankshaft_spark_tests",
                    shuffle_partitions=8)
    yield s


def load_fixture(name: str):
    with open(os.path.join(FIXTURE_DIR, name)) as fh:
        return json.load(fh)


@pytest.fixture(scope="session")
def neighbors_fixture():
    return load_fixture("neighbors.json")


@pytest.fixture(scope="session")
def moran_fixture():
    return load_fixture("moran.json")


@pytest.fixture(scope="session")
def getis_neighbors_fixture():
    return load_fixture("neighbors_getis.json")


@pytest.fixture(scope="session")
def getis_fixture():
    return load_fixture("getis.json")


@pytest.fixture(scope="session")
def markov_neighbors_fixture():
    return load_fixture("neighbors_markov.json")


@pytest.fixture(scope="session")
def markov_fixture():
    return load_fixture("markov.json")
