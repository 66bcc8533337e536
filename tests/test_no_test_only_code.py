"""Guard against library code and options that only tests reach.

Every top-level ``def``/``class`` in ``sandcrawler_spark/`` must be
named by some code outside ``tests/``: the package itself (its query
registries included), ``tools/``, ``bench.py``, ``__spark_entry__.py``
or ``perfbench/``. A name counts when it appears as an identifier, an
attribute or an imported name (outside an ``__init__.py``, where an
import is a re-export, not a use); mentions in docstrings and comments
do not, which is why the check walks the AST instead of grepping text.

Likewise every defaulted parameter of a top-level function or class
method must be passed, by keyword or by position, at some call site
outside ``tests/``; otherwise its default is the only value it ever
takes and belongs in the body as a constant. Spark-free.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# Definitions kept with no non-test caller, each for a stated reason.
ALLOWED = {
    "cap_observations_dropped": "stored drop counter of the bounded cap registry (safety code)",
    "robots_decision": "pure-Python robots decision, the reference oracle test_robots compares against",
    "figshare_ids": "scalar reference form the fileset fast path is compared against",
    "platform_name": "scalar reference form the fileset fast path is compared against",
    "platform_scope_error": "scalar reference form the fileset fast path is compared against",
    "run_reingest": "the frontier's reingest entry point",
    "seeds_from_sitemaps": "seed feeder for run_reingest",
    "freshness_reingest_seeds": "seed feeder for run_reingest",
    "train_ivf_centroids": "its tests also drive the live pq_search; decision deferred",
    "train_pq_codebooks": "its tests also drive the live pq_search; decision deferred",
}


def _sources():
    for p in ROOT.rglob("*.py"):
        rel = p.relative_to(ROOT)
        if rel.parts[0] == "tests" or any(part.startswith(".") for part in rel.parts):
            continue
        yield p


def _names_used() -> set[str]:
    used: set[str] = set()
    for p in _sources():
        reexports = p.name == "__init__.py"  # a re-export is not a use
        for node in ast.walk(ast.parse(p.read_text(), str(p))):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias) and not reexports:
                used.add(node.name.split(".")[-1])
                if node.asname:
                    used.add(node.asname)
    return used


def _top_level_defs():
    for p in sorted((ROOT / "sandcrawler_spark").rglob("*.py")):
        for node in ast.parse(p.read_text(), str(p)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                yield f"{p.relative_to(ROOT)}:{node.lineno}", node.name


def test_every_package_definition_has_a_non_test_caller():
    used = _names_used()
    orphans = [
        f"{where} {name}"
        for where, name in _top_level_defs()
        if name not in used and name not in ALLOWED
    ]
    assert not orphans, "reached only from tests (or nothing):\n" + "\n".join(orphans)


def test_allowlist_names_exist_and_are_still_uncalled():
    defined = {name for _, name in _top_level_defs()}
    used = _names_used()
    assert set(ALLOWED) <= defined, set(ALLOWED) - defined
    # an entry that gained a caller no longer needs its exemption
    assert not set(ALLOWED) & used, set(ALLOWED) & used


# Defaulted parameters kept with no non-test caller, each for a stated
# reason. Keys are ``function.param`` (``Class.__init__.param`` for a
# constructor).
ALLOWED_PARAMS = {
    "BloomStore.__init__.num_shards": "tests use 4-8 shards to keep Tier-1 fast",
    "asof_join.direction": "tests check the forward/nearest reference semantics",
    "asof_join.tolerance_s": "tests check pandas merge_asof tolerance semantics",
    "backfill_ungrobid.fatcat_file": "petabox twin of the dump (dump_ungrobid_pdf_petabox.sql)",
    "backfill_ungrobid.mimetype": "petabox twin of the dump (dump_ungrobid_pdf_petabox.sql)",
    "tei_to_grobid_doc.encumbered": "tests check grobid2json's --no-encumbered output",
    "run_reingest.extra_rounds": "the reingest entry point's round count",
    "seeds_from_sitemaps.link_source": "reingest seed feeder: tests tag RSS/Atom seeds 'feed'",
    "freshness_reingest_seeds.seq_offset": "reingest seed feeder: tests place seeds after others",
    "train_ivf_centroids.k": "its tests also drive the live pq_search; decision deferred",
    "train_ivf_centroids.iters": "its tests also drive the live pq_search; decision deferred",
    "train_ivf_centroids.init": "its tests also drive the live pq_search; decision deferred",
    "train_pq_codebooks.m": "its tests also drive the live pq_search; decision deferred",
    "train_pq_codebooks.k": "its tests also drive the live pq_search; decision deferred",
    "train_pq_codebooks.iters": "its tests also drive the live pq_search; decision deferred",
}
# the datagen generator is driven through ``**kw`` and the oracle is
# the reference the tests compare against
_PARAM_EXEMPT_FILES = {"plans/datagen.py", "plans/oracle.py"}


def _call_sites() -> dict[str, list[tuple[int, set]]]:
    """Callee name -> [(positional arg count, keyword names)] over the
    non-test sources. A ``*args`` call passes every position, a
    ``**kw`` call every keyword (recorded as ``None``)."""
    calls: dict[str, list[tuple[int, set]]] = {}
    for p in _sources():
        for node in ast.walk(ast.parse(p.read_text(), str(p))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name is None:
                continue
            starred = any(isinstance(a, ast.Starred) for a in node.args)
            npos = 1 << 30 if starred else len(node.args)
            calls.setdefault(name, []).append((npos, {k.arg for k in node.keywords}))
    return calls


def _defaulted_params():
    """(where, key, callee name, param, positional index or None) for
    every defaulted parameter of a package function or method."""
    pkg = ROOT / "sandcrawler_spark"
    for p in sorted(pkg.rglob("*.py")):
        if str(p.relative_to(pkg)) in _PARAM_EXEMPT_FILES:
            continue
        for node in ast.parse(p.read_text(), str(p)).body:
            if isinstance(node, ast.ClassDef):
                fns = [
                    (f, f"{node.name}.{f.name}", node.name if f.name == "__init__" else f.name)
                    for f in node.body
                    if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
                ]
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fns = [(node, node.name, node.name)]
            else:
                continue
            for fn, qual, callee in fns:
                a = fn.args
                bound = qual != fn.name and not any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in fn.decorator_list
                )
                pos = a.posonlyargs + a.args
                where = f"{p.relative_to(ROOT)}:{fn.lineno}"
                for i in range(len(pos) - len(a.defaults), len(pos)):
                    yield where, f"{qual}.{pos[i].arg}", callee, pos[i].arg, i - bound
                for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                    if d is not None:
                        yield where, f"{qual}.{arg.arg}", callee, arg.arg, None


def _unset_params() -> list[tuple[str, str]]:
    calls = _call_sites()

    def is_set(callee, param, idx):
        return any(
            param in kws or None in kws or (idx is not None and npos > idx)
            for npos, kws in calls.get(callee, [])
        )

    return [
        (where, key)
        for where, key, callee, param, idx in _defaulted_params()
        if not is_set(callee, param, idx)
    ]


def test_every_parameter_is_set_outside_tests():
    unset = [f"{where} {key}" for where, key in _unset_params() if key not in ALLOWED_PARAMS]
    assert not unset, "defaulted parameters no non-test caller sets:\n" + "\n".join(unset)


def test_param_allowlist_entries_exist_and_are_still_unset():
    keys = {key for _, key, *_ in _defaulted_params()}
    assert set(ALLOWED_PARAMS) <= keys, set(ALLOWED_PARAMS) - keys
    # an entry that gained a non-test caller no longer needs its exemption
    unset = {key for _, key in _unset_params()}
    assert set(ALLOWED_PARAMS) <= unset, set(ALLOWED_PARAMS) - unset
    assert all(ALLOWED_PARAMS.values())
