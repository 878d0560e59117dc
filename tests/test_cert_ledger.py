"""Certification-ledger guard (VERDICT r4 #3): a registry query whose
code (transitive function sources + constants + oracle SQL) drifted
since its last driver certification must sit inside the driver's
certified prefix — the first BUDGET entries of queries() — so the next
CORRECTNESS artifact re-certifies it instead of a stale r1 certificate
silently covering regressed code.

The ledger was bootstrapped at r5 HEAD (historical hashes are
unrecoverable); each round starts with `python tools/cert_ledger.py
sync r0N` BEFORE code changes so recorded hashes match the certified
HEAD.
"""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import cert_ledger  # noqa: E402


def test_ledger_exists_and_covers_registry():
    import __spark_entry__ as entrymod

    ledger = cert_ledger.load_ledger()
    assert ledger, "tools/cert_ledger.json missing"
    reg = set(entrymod.queries().keys())
    # every registry query has a ledger row (new queries are added by
    # sync; a missing row is treated as drifted by the guard below,
    # but the ledger file should still be regenerated when queries land)
    missing = reg - set(ledger)
    assert not missing, f"ledger missing rows for {sorted(missing)}"


def test_drifted_queries_sit_in_certified_prefix():
    violations, covered = cert_ledger.drifted()
    assert not violations, (
        "queries drifted since their last certification but sit OUTSIDE "
        f"the driver's certified prefix (first {cert_ledger.BUDGET} "
        f"registry entries): {violations}. Move them into the front "
        "block of __spark_entry__.queries() or re-run cert_ledger sync.")


def test_never_certified_queries_sit_in_certified_prefix():
    """Judge-only or never-certified queries must be queued for driver
    certification (VERDICT r4 #1)."""
    import __spark_entry__ as entrymod

    ledger = cert_ledger.load_ledger()
    reg = list(entrymod.queries().keys())
    front = set(reg[:cert_ledger.BUDGET])
    stale = [n for n in reg
             if (rec := ledger.get(n)) is not None
             and (rec.get("round") is None
                  or str(rec.get("round", "")).endswith("-judge"))
             and n not in front]
    assert not stale, (
        f"never-driver-certified queries outside the prefix: {stale}")


def test_hash_is_independent_of_checkout_root(monkeypatch):
    """An oracle reading golden parquet (extract_rollup) or the transcripts
    (conversation_salted_join) names absolute paths; the ledger hash must
    not change when the same oracle names another checkout root, or a
    warehouse dir set by SPARK_GRAFT_WAREHOUSE."""
    import __spark_entry__ as entrymod
    from ocr_image_to_text_spark.transcripts import warehouse_dir

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    transcripts, root = os.path.join(warehouse_dir(), "transcripts"), cert_ledger.REPO
    for name in ("extract_rollup", "conversation_salted_join"):
        fn, oracle = qs[name], oracles[name]
        assert root in oracle or transcripts in oracle
        h = cert_ledger.query_hash(fn, oracle)
        with monkeypatch.context() as m:
            m.setenv("SPARK_GRAFT_WAREHOUSE", "/data/warehouse")
            moved = oracle.replace(transcripts, "/data/warehouse/transcripts")
            assert cert_ledger.query_hash(fn, moved) == h, name
        with monkeypatch.context() as m:
            # another checkout, with its default warehouse dir
            other = "/srv/other/checkout"
            m.setattr(cert_ledger, "REPO", other)
            m.setenv("SPARK_GRAFT_WAREHOUSE", other + "/warehouse")
            moved = oracle.replace(root, other)
            assert cert_ledger.query_hash(fn, moved) == h, name


def test_walk_reaches_udf_kernels_and_locally_imported_modules():
    """A `@pandas_udf` is hashed through the function it wraps (not
    PySpark's wrapper), and a function-local `from . import multimodal as
    mm` walks the `mm.<name>` attributes the query calls: an edit to the
    kernel must drift the query."""
    import inspect

    import __spark_entry__ as entrymod
    from ocr_image_to_text_spark import multimodal
    from ocr_image_to_text_spark.operators import angle, overlap

    qs = entrymod.queries()
    for name, kernel in (("extract_angle_mode", angle.angle_kernel),
                         ("extract_box_overlaps", overlap.overlap_kernel),
                         ("media_image_features", multimodal.image_features)):
        sources: list[str] = []
        cert_ledger._walk(qs[name], set(), sources)
        assert inspect.getsource(kernel) in sources, name


def test_hash_does_not_depend_on_what_was_imported_before():
    """`from . import mmref` (in golden.ensure_media_golden) finds mmref on
    the package only once some code imported it: the walker imports it
    itself, so a hash reads the same in a fresh process and after a test
    run that loaded every module."""
    import subprocess

    code = ("import sys; sys.path.insert(0, 'tools'); {pre}"
            "import cert_ledger, __spark_entry__ as e; "
            "print(cert_ledger.query_hash(e.queries()['media_video_frames'], None))")
    out = [subprocess.run([sys.executable, "-c", code.format(pre=pre)],
                          cwd=REPO, capture_output=True, text=True,
                          check=True).stdout
           for pre in ("", "import ocr_image_to_text_spark.mmref; ")]
    assert out[0] == out[1]
