import contextlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest


@pytest.fixture(scope="session")
def spark():
    from ocr_image_to_text_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def t1_paths():
    from ocr_image_to_text_spark.golden import ensure_goldens
    from ocr_image_to_text_spark.transcripts import ensure_transcripts

    return {"transcripts": ensure_transcripts("t1"), **ensure_goldens("t1")}


def fail_on_call(target, n):
    """``target`` wrapped to raise on its n-th call."""
    calls = []

    def wrapped(*args, **kwargs):
        calls.append(1)
        if len(calls) == n:
            raise RuntimeError("crash point")
        return target(*args, **kwargs)
    return wrapped


@pytest.fixture()
def crash_after_first_wave(monkeypatch):
    """A context in which a job's second ``manifest.commit`` raises: the
    job dies with its first wave committed and its second wave's data
    written but not committed."""
    from ocr_image_to_text_spark.jobs import manifest

    @contextlib.contextmanager
    def crash():
        with monkeypatch.context() as m:
            m.setattr(manifest, "commit", fail_on_call(manifest.commit, 2))
            with pytest.raises(RuntimeError, match="crash point"):
                yield
    return crash


def rewrite_lineage(manifest_dir, edit):
    """Apply ``edit`` to the lineage dict of every committed manifest row."""
    for name in os.listdir(manifest_dir):
        if name.startswith((".", "_")):
            continue
        path = os.path.join(manifest_dir, name)
        t = pq.read_table(path)
        lineage = []
        for raw in t.column("lineage").to_pylist():
            d = json.loads(raw)
            edit(d)
            lineage.append(json.dumps(d))
        t = t.set_column(t.schema.get_field_index("lineage"), "lineage",
                         pa.array(lineage, pa.string()))
        pq.write_table(t, path)
