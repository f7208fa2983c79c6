"""Shared pytest config: the ``slow`` marker.

Slow tests (GiB-scale stress) are skipped by default so the per-round
test gate stays fast; run them with ``pytest -m slow --runslow`` or
just ``pytest --runslow``.
"""

from __future__ import annotations

import pytest


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
