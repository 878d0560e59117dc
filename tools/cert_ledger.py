"""Certification ledger: which registry query was last driver-certified
when, and has its code drifted since (VERDICT r4 #3).

With 140 registry queries and a ~50-entry per-round driver budget, the
driver can never re-certify everything each round — a query certified in
r1 could silently regress behind a still-green-looking history. The
ledger records, per query, the last certification round and a source
hash of the query function plus everything it transitively references
(same-package functions/classes at FUNCTION granularity — so an edit to
an unrelated function in the same module does not flag it — plus
UPPERCASE constants and the DuckDB oracle string, with the checkout root
and the warehouse dir replaced by fixed placeholders so the hash does not
depend on where the repo is checked out). A pytest
(tests/test_cert_ledger.py) asserts that any query whose current hash
differs from its ledger hash sits inside the driver's certified prefix
(the first BUDGET entries of queries()), i.e. drifted code must rejoin
the front block until re-certified.

Lifecycle (per round):
  round start : python tools/cert_ledger.py sync r0N   # ingest the new
                CORRECTNESS_r0N.json BEFORE touching code — hashes are
                recorded from the HEAD the driver certified
  during      : edit code freely; the pytest forces drifted queries into
                the front block
  (init)      : `init` bootstrapped the ledger at r5 HEAD — historical
                hashes are unrecoverable, so drift detection applies
                from r5 onward; every query changed during r5 was placed
                in the r5 front block by hand.

Hash granularity notes: module references (`dedup.foo(...)`) resolve the
attribute actually named in the caller's code; function-local
`from .mod import name` imports are caught by a source regex, and an
imported package module (`from . import multimodal as mm`) is walked like
a module-level one; a decorated function (`@pandas_udf`) is walked as the
function it wraps (`inspect.unwrap`); values of
UPPERCASE module constants are hashed by repr (lowercase/underscore
names are runtime caches, skipped).
"""

from __future__ import annotations

import hashlib
import importlib
import inspect
import json
import os
import re
import sys
import types

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PKG = "ocr_image_to_text_spark"
LEDGER_PATH = os.path.join(REPO, "tools", "cert_ledger.json")
# Driver prefix budget: 40/46/50/50 in r1-r4; 50 is the planning figure.
BUDGET = 50

# The 31 queries VERDICT r4 verified with the driver-simulation harness
# (check_queries.py full-value comparison) but that never appeared in a
# CORRECTNESS_r*.json artifact — certified "judge-only" until a driver
# artifact covers them.
JUDGE_R04 = [
    "tpch_local_supplier_revenue", "tpch_promo_revenue",
    "media_video_frames", "events_asof_join", "dedup_clusters",
    "semdedup_prune", "dedup_dup_spans", "dedup_c4_spans",
    "doc_length_histogram", "corpus_length_quantiles",
    "corpus_sample_stratified", "corpus_dsir_weights", "corpus_mix_budget",
    "corpus_curation_pipeline", "corpus_decontaminate",
    "corpus_decontaminate_bloom", "corpus_pack_sequences",
    "corpus_pipeline_v2", "corpus_pipeline_v3", "doc_quality_gopher",
    "doc_repetition_signals", "doc_c4_page_filter",
    "doc_c4_page_filter_seeded", "corpus_top_tokens", "corpus_top_tokens_cms",
    "corpus_vocab_hll", "doc_tfidf_topk", "doc_unigram_logprob",
    "doc_bigram_logprob", "doc_bm25_topk", "chunk_cosine_topk",
]

_LOCAL_IMPORT_RE = re.compile(
    rf"from\s+(?:\.|{PKG}\.?)([\w.]*)\s+import\s+(\([^)]*\)|[\w, ]+)")

_CONST_TYPES = (int, float, str, bool, bytes, tuple, frozenset)


def _is_const_name(n: str) -> bool:
    """UPPERCASE public names are hashed as constants; underscore-prefixed
    uppercase names (_LIVE, _EXT_CACHE, ...) are runtime caches whose live
    repr depends on what already executed in the process — never hash."""
    return n.isupper() and not n.startswith("_")


def _is_pkg_obj(v) -> bool:
    mod = getattr(v, "__module__", "") or ""
    return mod == PKG or mod.startswith(PKG + ".")


def _walk_obj(v, name: str, owner: str, seen: set, sources: list) -> None:
    """Hash one referenced package function, class or UPPERCASE constant;
    `owner` prefixes a constant read off another module."""
    if inspect.isfunction(v) and _is_pkg_obj(v):
        _walk(v, seen, sources)
    elif inspect.isclass(v) and _is_pkg_obj(v):
        ckey = (v.__qualname__, v.__module__)
        if ckey not in seen:
            seen.add(ckey)
            try:
                sources.append(inspect.getsource(v))
            except (OSError, TypeError):
                sources.append(repr(v))
    elif isinstance(v, _CONST_TYPES + (dict, list)) and _is_const_name(name):
        sources.append(f"{owner}{name}={v!r}")


def _walk(fn, seen: set, sources: list) -> None:
    # a decorated kernel (`@pandas_udf`, `functools.wraps`) is walked as
    # the function it wraps: the wrapper's code and globals are PySpark's
    fn = inspect.unwrap(fn)
    key = getattr(fn, "__qualname__", None), getattr(fn, "__module__", None)
    if key in seen:
        return
    seen.add(key)
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        src = repr(fn)
    sources.append(src)
    code = getattr(fn, "__code__", None)
    g = getattr(fn, "__globals__", {})
    if code is None:
        return

    def _all_names(c) -> set:
        ns = set(c.co_names)
        for const in c.co_consts:
            if isinstance(const, types.CodeType):
                ns |= _all_names(const)  # inner defs/closures/lambdas
        return ns

    names = sorted(_all_names(code))
    pkg_modules = []
    for n in names:
        v = g.get(n)
        if isinstance(v, types.ModuleType):
            if v.__name__.startswith(PKG):
                pkg_modules.append(v)
        elif v is not None:
            _walk_obj(v, n, "", seen, sources)
    # function-local `from .mod import name [as alias]` imports
    # (parenthesized multi-line import lists supported; names never cross
    # a newline); an imported package module joins the module walk below
    for mod_suffix, imported in _LOCAL_IMPORT_RE.findall(src):
        mod_name = PKG + ("." + mod_suffix if mod_suffix else "")
        try:
            m = importlib.import_module(mod_name)
        except ImportError:
            continue
        imported = imported.strip("()").replace("\n", ",")
        for item in (i.split(" as ")[0].strip() for i in imported.split(",")):
            v = getattr(m, item, None)
            if v is None and hasattr(m, "__path__"):
                # a submodule is bound on its package only once something
                # imported it: import it, or the hash depends on that
                try:
                    v = importlib.import_module(f"{mod_name}.{item}")
                except ImportError:
                    continue
            if isinstance(v, types.ModuleType):
                if v.__name__.startswith(PKG):
                    pkg_modules.append(v)
            elif v is not None:
                _walk_obj(v, item, mod_name + ".", seen, sources)
    # module-attribute references: `dedup.minhash_lsh_pairs` names both
    # "dedup" and "minhash_lsh_pairs" in co_names
    for m in pkg_modules:
        for n in names:
            v = getattr(m, n, None)
            if v is not None:
                _walk_obj(v, n, m.__name__ + ".", seen, sources)


def _portable(oracle: str) -> str:
    """The oracle text with the warehouse dir (SPARK_GRAFT_WAREHOUSE or the
    checkout's warehouse/) and the checkout root replaced by placeholders:
    golden and transcript paths then hash the same from any checkout."""
    from ocr_image_to_text_spark.transcripts import warehouse_dir

    for path, tag in ((warehouse_dir(), "<warehouse>"),
                      (os.path.join(REPO, "warehouse"), "<warehouse>"),
                      (REPO, "<repo>")):
        oracle = oracle.replace(path, tag)
    return oracle


def query_hash(fn, oracle: str | None) -> str:
    seen: set = set()
    sources: list[str] = []
    _walk(fn, seen, sources)
    blob = ("\n<<::>>\n".join(sources) + "\n<<oracle>>\n"
            + _portable(oracle or "<none>"))
    return hashlib.md5(blob.encode("utf-8")).hexdigest()


def current_hashes() -> dict[str, str]:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    return {name: query_hash(fn, oracles.get(name)) for name, fn in qs.items()}


def load_ledger() -> dict:
    if not os.path.exists(LEDGER_PATH):
        return {}
    with open(LEDGER_PATH) as f:
        return json.load(f)


def save_ledger(ledger: dict) -> None:
    with open(LEDGER_PATH, "w") as f:
        json.dump(ledger, f, indent=1, sort_keys=True)
        f.write("\n")


def _artifact_rounds() -> dict[str, str]:
    """query → last round with a fully-green CORRECTNESS artifact row."""
    rounds: dict[str, str] = {}
    for fname in sorted(os.listdir(REPO)):
        m = re.fullmatch(r"CORRECTNESS_(r\d+)\.json", fname)
        if not m:
            continue
        with open(os.path.join(REPO, fname)) as f:
            art = json.load(f)
        for name, rec in art.items():
            if (rec.get("rows_match") and rec.get("schema_match")
                    and rec.get("hash_match") and rec.get("err") is None):
                rounds[name] = m.group(1)
    return rounds


def cmd_init() -> None:
    rounds = _artifact_rounds()
    for name in JUDGE_R04:
        rounds.setdefault(name, "r04-judge")
    hashes = current_hashes()
    ledger = {}
    for name, h in hashes.items():
        ledger[name] = {"round": rounds.get(name), "hash": h}
    save_ledger(ledger)
    uncert = [n for n, r in ledger.items() if r["round"] is None]
    print(f"init: {len(ledger)} queries, {len(uncert)} never certified: {uncert}")


def cmd_sync(rnd: str) -> None:
    """Ingest CORRECTNESS_<rnd>.json. Run at ROUND START, before editing
    code, so the recorded hash is the HEAD the driver certified."""
    path = os.path.join(REPO, f"CORRECTNESS_{rnd}.json")
    with open(path) as f:
        art = json.load(f)
    ledger = load_ledger()
    hashes = current_hashes()
    n = 0
    for name, rec in art.items():
        if (rec.get("rows_match") and rec.get("schema_match")
                and rec.get("hash_match") and rec.get("err") is None
                and name in hashes):
            ledger[name] = {"round": rnd, "hash": hashes[name]}
            n += 1
    save_ledger(ledger)
    print(f"sync {rnd}: {n} certifications ingested")


def drifted(front_n: int = BUDGET) -> tuple[list[str], list[str]]:
    """Returns (violations, covered): queries whose hash drifted from the
    ledger (or were never certified), split by whether they sit inside
    the certified prefix."""
    import __spark_entry__ as entrymod

    ledger = load_ledger()
    reg = list(entrymod.queries().keys())
    front = set(reg[:front_n])
    hashes = current_hashes()
    violations, covered = [], []
    for name in reg:
        rec = ledger.get(name)
        needs = rec is None or rec.get("hash") != hashes[name]
        if needs:
            (covered if name in front else violations).append(name)
    return violations, covered


def cmd_check() -> int:
    violations, covered = drifted()
    print(f"drifted-in-front (OK, awaiting certification): {covered}")
    # drifted queries a refactor may still add before the prefix is full
    print(f"prefix slots left: {BUDGET - len(covered) - len(violations)}"
          f" of {BUDGET}")
    if violations:
        print(f"VIOLATIONS (drifted, NOT in the certified prefix): {violations}")
        return 1
    print("ledger check: clean")
    return 0


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "check"
    if cmd == "init":
        cmd_init()
    elif cmd == "sync":
        cmd_sync(sys.argv[2])
    elif cmd == "check":
        sys.exit(cmd_check())
    else:
        print(__doc__)
        sys.exit(2)
