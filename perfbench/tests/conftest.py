"""Fixtures for the benchmark's own tests: a session over sf0.01 data
generated by ``datagen``, with all on-disk state under pytest's tmp dir.

Run from the checkout root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (BENCH, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def sf_dir(tmp_path_factory):
    import datagen

    d = tmp_path_factory.mktemp("data")
    datagen.write_tables(str(d), 0.01, seed=3)
    return str(d)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    state = tmp_path_factory.mktemp("state")
    os.environ["SPARK_GRAFT_INDEX_DIR"] = str(state / "index")
    os.environ["SPARK_LOCAL_DIRS"] = str(state / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from samza_hello_samza_spark.session import get_spark

    session = get_spark("perfbench-tests", 2)
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()
