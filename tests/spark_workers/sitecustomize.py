"""Start-up hook for the Python workers of the test suite's Spark sessions.

``conftest.py`` puts this directory on ``PYTHONPATH`` before the first
Spark session starts, so every Python process Spark launches imports
this module at start-up. It acts only in those processes (Spark sets
``PYTHON_WORKER_FACTORY_SECRET`` for them) and is a no-op anywhere else.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` (and py4j's zip) first
on its workers' path. Imports from a zip compile every module from
source, since the zip holds no bytecode, and every task or planner call
runs pyspark's ``setup_spark_files`` → ``importlib.invalidate_caches()``,
which makes each cached ``zipimporter`` (one per pyspark package, 15-30
in a worker) re-read the zip's 1,300-entry directory: about 0.2 CPU s
per round trip whatever it carries. The suite makes thousands of tiny
round trips, so this overhead is a large share of its wall time.

Dropping the zips here makes the workers import pyspark and py4j from
the Python installation the tests run on, the same copy and version the
driver uses. Nothing else about the workers changes.
"""

import os
import sys

if "PYTHON_WORKER_FACTORY_SECRET" in os.environ:
    sys.path[:] = [p for p in sys.path if not p.endswith(".zip")]
    for _key in [k for k in sys.path_importer_cache if k.endswith(".zip")]:
        del sys.path_importer_cache[_key]
