"""Python-worker daemon with the heavy stack pre-imported.

Configured via ``spark.python.daemon.module`` (session.get_spark). The
daemon process imports numpy/pandas/pyarrow and the engine's UDF modules
ONCE; every Python worker is then forked from it and inherits the warm
modules copy-on-write. Without this, a 32-slot local run pays the ~200 ms
pandas+pyarrow import in each of 32 workers simultaneously on first UDF
use (a measured multi-second cold-start storm on the bench tier).

The preload is best-effort: a missing module must never kill the daemon
(workers would just re-import lazily as before). A module that fails to
import is named on stderr; stdout carries the daemon's handshake with the
JVM.
"""

import importlib
import sys

for _mod in (
    "numpy",
    "pandas",
    "pyarrow",
    "pyarrow.parquet",
    "pyspark.sql.pandas.serializers",
    "pyspark.sql.pandas.types",
    "ocr_image_to_text_spark.pyref",
    "ocr_image_to_text_spark.operators.layout",
    "ocr_image_to_text_spark.operators.htmlx",
    "ocr_image_to_text_spark.operators.extract",
    "ocr_image_to_text_spark.operators.chunker",
    "ocr_image_to_text_spark.qa",
):
    try:
        importlib.import_module(_mod)
    except Exception as e:  # best-effort warm-up only
        print(f"daemon_preload: cannot import {_mod}: {type(e).__name__}: {e}",
              file=sys.stderr, flush=True)

from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()
