"""daemon_preload: a module that fails to import is named on stderr, the
daemon module still loads, and stdout (the daemon's handshake channel with
the JVM) stays empty."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_failed_preload_is_logged_to_stderr_only():
    code = ("import sys; sys.modules['ocr_image_to_text_spark.qa'] = None; "
            "import ocr_image_to_text_spark.daemon_preload as d; "
            "assert callable(d.manager)")
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                       text=True, timeout=120)
    assert p.returncode == 0, p.stderr
    assert p.stdout == ""
    assert "cannot import ocr_image_to_text_spark.qa: ModuleNotFoundError" in p.stderr
