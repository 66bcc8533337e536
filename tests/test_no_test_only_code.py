"""Guard against library code that only tests reach.

Every top-level ``def``/``class`` in ``sandcrawler_spark/`` must be
named by some code outside ``tests/``: the package itself (its query
registries included), ``tools/``, ``bench.py``, ``__spark_entry__.py``
or ``perfbench/``. A name counts when it appears as an identifier, an
attribute or an imported name (outside an ``__init__.py``, where an
import is a re-export, not a use); mentions in docstrings and comments
do not, which is why the check walks the AST instead of grepping text.
Spark-free.
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
