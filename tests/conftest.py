"""Shared pytest config: the ``slow`` marker and the Spark worker hook.

Slow tests (GiB-scale stress) are skipped by default so the per-round
test gate stays fast; run them with ``pytest -m slow --runslow`` or
just ``pytest --runslow``.

The session fixture ``_spark_worker_path`` puts ``spark_workers/`` on
``PYTHONPATH`` for the test run, before any module fixture starts a
Spark session (the JVM, and through it every Python worker, inherits
the environment it starts with). Its ``sitecustomize`` makes Spark's
Python workers import pyspark from the installed package instead of
``pyspark.zip``; see that module for why.
"""

from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session", autouse=True)
def _spark_worker_path():
    hook = os.path.join(os.path.dirname(os.path.abspath(__file__)), "spark_workers")
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (hook, old) if p)
    yield
    if old is None:
        os.environ.pop("PYTHONPATH", None)
    else:
        os.environ["PYTHONPATH"] = old


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="run tests marked slow (GiB-scale stress)",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: GiB-scale stress test, skipped unless --runslow"
    )


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow"):
        return
    skip = pytest.mark.skip(reason="slow stress test; use --runslow")
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)
