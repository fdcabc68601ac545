"""No code in ``cernan_spark/`` that only tests reach.

Every top-level function, class or assigned name in the package must be
reachable from a non-test entry point: the driver entry
(``__spark_entry__.py``), ``bench.py``, ``bench_extra.py``, or any file
under ``jobs/``, ``scripts/`` or ``perfbench/``. A def reaches every name
its body mentions (``Name`` ids and ``Attribute`` attrs). An import alone
reaches nothing, so a package ``__init__`` re-export keeps no name alive;
``from m import a as b`` followed by a use of ``b`` reaches ``a``. Names
match by bare identifier, so a collision errs toward "reached".

``ALLOWED`` seeds the walk with the names the package keeps on purpose
although no entry point calls them. Each reason is one of two kinds:

* ``reference:`` a test checks a live path against it;
* ``capability:`` a SURVEY behaviour with no job yet, naming its
  COVERAGE.md row.

Pure AST: no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "cernan_spark"
ROOT_FILES = ("__spark_entry__.py", "bench.py", "bench_extra.py")
ROOT_DIRS = ("jobs", "scripts", "perfbench")

ALLOWED = {
    "model.parse_statsd_py": (
        "reference: test_parse checks parse_statsd_lines against it"
    ),
    "model.classify_py": (
        "reference: test_classify_vs_model checks line_class against it"
    ),
    "model.bucket_model": (
        "reference: test_aggregate checks bucket_aggregate_onepass against it"
    ),
    "operators.dedup.minhash_signature": (
        "reference: test_optimization_r06 checks minhash_signatures against it"
    ),
    "operators.dedup.simhash_naive": (
        "reference: test_simhash_onefold_equals_naive checks simhash against it"
    ),
    "operators.packing.greedy_pack_model": (
        "reference: test_packing checks greedy_pack against it"
    ),
    "operators.dedup.exact_jaccard_pairs": (
        "capability: COVERAGE 'n-gram Jaccard' (LSH verify stage)"
    ),
    "operators.filters.PROGRAMMABLE_REGISTRY": (
        "capability: COVERAGE 'ProgrammableFilter (Lua hook surface)'"
    ),
    "operators.filters.apply_programmable_safe": (
        "capability: COVERAGE 'ProgrammableFilter (Lua hook surface)'"
    ),
    "functions.jsonlog.json_encode": (
        "capability: COVERAGE 'JSONEncodeFilter (parsed ⊳ fields ⊳ meta)'"
    ),
    "functions.nativeproto.encode_logline": (
        "capability: COVERAGE 'Native TCP (u32-BE framed protobuf)'"
    ),
    "operators.multimodal.frame_sample_plan": (
        "capability: COVERAGE 'multimodal binary columns + "
        "decode/extract/frame-sample'"
    ),
    "operators.sharding.rendezvous_shard": (
        "capability: COVERAGE 'stable series → shard assignment'"
    ),
    "operators.textstats.url_stats": (
        "capability: COVERAGE 'URL / domain accounting'"
    ),
    "sources.filetail.tail_files": (
        "capability: COVERAGE 'FileServer log tail (rotation/truncation)'"
    ),
    "sources.filetail.commit_tail": (
        "capability: COVERAGE 'FileServer log tail (rotation/truncation)'"
    ),
    "streaming.pipeline.streaming_gauge": (
        "capability: COVERAGE 'gauge persist / delta-gauge / carry-forward'"
    ),
}


def _mentions(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _targets(stmt: ast.stmt) -> list[str] | None:
    """Top-level names a statement defines, or None if it defines none."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return None


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _walk():
    """(defs, aliases, roots): defs maps a bare name to the qualified
    names and body mentions of every package def so named; aliases maps
    an import's ``as`` name to the names it binds; roots is every name
    the entry points mention."""
    defs: dict[str, list[tuple[str, set[str]]]] = {}
    aliases: dict[str, set[str]] = {}
    roots: set[str] = set()

    def note_aliases(tree):
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom):
                for a in n.names:
                    if a.asname:
                        aliases.setdefault(a.asname, set()).add(a.name)

    for path in sorted(PACKAGE.rglob("*.py")):
        mod = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        tree = ast.parse(path.read_text(), str(path))
        note_aliases(tree)
        for stmt in tree.body:
            names = _targets(stmt)
            if names is None:
                # imports and docstrings reach nothing; any other
                # module-level statement runs on import, so it is a root
                if not isinstance(stmt, (ast.Import, ast.ImportFrom, ast.Expr)):
                    roots |= _mentions(stmt)
                continue
            for name in names:
                if not _is_dunder(name):
                    defs.setdefault(name, []).append(
                        (f"{mod}.{name}", _mentions(stmt))
                    )

    files = [REPO / f for f in ROOT_FILES]
    for d in ROOT_DIRS:
        files += sorted((REPO / d).rglob("*.py"))
    for path in files:
        tree = ast.parse(path.read_text(), str(path))
        note_aliases(tree)
        roots |= _mentions(tree)
    return defs, aliases, roots


def test_every_package_def_is_reached_outside_tests():
    defs, aliases, roots = _walk()
    todo = roots | {q.rsplit(".", 1)[1] for q in ALLOWED}
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo |= aliases.get(name, set())
        for _, body in defs.get(name, []):
            todo |= body - seen
    unreached = sorted(
        q for name, entries in defs.items() if name not in seen
        for q, _ in entries
    )
    assert not unreached, (
        "reached only from tests/ or from nowhere (delete it, call it from "
        "a job, or add it to ALLOWED with a reason): " + ", ".join(unreached)
    )


def test_allowed_entries_exist_and_give_a_reason():
    defs, _, _ = _walk()
    existing = {q for entries in defs.values() for q, _ in entries}
    stale = sorted(q for q in ALLOWED if q not in existing)
    assert not stale, "ALLOWED names that no longer exist: " + ", ".join(stale)
    bad = sorted(
        q for q, why in ALLOWED.items()
        if not why.startswith(("reference: ", "capability: "))
    )
    assert not bad, "ALLOWED reasons must start 'reference:' or " \
        "'capability:': " + ", ".join(bad)
