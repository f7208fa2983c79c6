"""olive_spark — a PySpark-native analytics engine with the capabilities of
steelcake/olive (an Arrow-based columnar file format, reference at
/root/reference, studied for behavior only).

Layout:
    olive_spark.format      — the olive chunk format (pure pyarrow, no Spark)
    olive_spark.datasource  — PySpark Python DataSource V2 ("olive" format)
    olive_spark.ops         — LLM-data-pipeline operators (dedup, similarity,
                              text stats, multimodal) built Spark-first
    olive_spark.queries     — the declared query surface (SURVEY.md §2.7)
"""

import os
import sys
import zipimport

__version__ = "0.1.0"


def _pin_spark_archives() -> None:
    """Stop a Spark Python worker from re-reading Spark's own archives on
    every round trip.

    Each task and planner call runs pyspark's ``setup_spark_files`` ->
    ``importlib.invalidate_caches()``, which makes every cached
    ``zipimporter`` re-read its archive's directory: pyspark.zip, the
    py4j zip and the spark-core jar, all on the worker's ``sys.path``,
    ~0.2 CPU s per round trip on a 4-vCPU host.  Those archives live
    under ``$SPARK_HOME`` and never change while a worker lives, so
    their refresh becomes a no-op.  Archives under the SparkFiles root
    (``addPyFile``) and everything outside ``$SPARK_HOME`` keep it.
    Acts only in processes Spark started as Python workers (they carry
    ``PYTHON_WORKER_FACTORY_SECRET``); idempotent.
    """
    home = os.environ.get("SPARK_HOME")
    if not home or "PYTHON_WORKER_FACTORY_SECRET" not in os.environ:
        return
    cls = zipimport.zipimporter
    if hasattr(cls.invalidate_caches, "__wrapped__"):
        return
    refresh = cls.invalidate_caches
    spark_root = os.path.join(os.path.realpath(home), "")
    pinned: dict = {}

    def is_pinned(archive: str) -> bool:
        real = os.path.realpath(archive)
        if not real.startswith(spark_root):
            return False
        files = getattr(sys.modules.get("pyspark.core.files"), "SparkFiles", None)
        files_root = getattr(files, "_root_directory", None)
        return not (
            files_root
            and real.startswith(os.path.join(os.path.realpath(files_root), ""))
        )

    def invalidate_caches(self):
        pin = pinned.get(self.archive)
        if pin is None:
            pin = pinned[self.archive] = is_pinned(self.archive)
        if not pin:
            refresh(self)

    invalidate_caches.__wrapped__ = refresh
    cls.invalidate_caches = invalidate_caches


_pin_spark_archives()

from olive_spark.datasource import register_olive  # noqa: E402,F401
from olive_spark.table import (  # noqa: E402,F401
    OliveTable,
    refresh_table,
    register_table,
)
