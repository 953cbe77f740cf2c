"""Import census: every package module must be reachable from an entry point.

A module stays in ``etl_sentinel_imagery_spark`` only if the query registry,
the paper pipeline (``plans.main``), ``corpus_pipeline``, ``serving``,
``rollup_tables``, a streaming or source entry, or the entry module
``__spark_entry__`` reaches it through imports. The census is static: it
parses every module with ``ast`` and follows each ``import`` and
``from ... import`` statement, function-local ones included, so it needs no
Spark session and imports nothing. Tests do not count as roots; a module
that only its own tests import fails.

``PAPER_CORE`` lists the modules kept without an importer because they
implement the paper's own formats. Adding to it needs a reason next to the
entry. ``PENDING_DELETION`` lists unreached modules that are still present
only until their removal lands with their tests; it may shrink but must
not grow.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "etl_sentinel_imagery_spark"

#: Reached by nothing yet kept: the paper's band format (JPEG 2000), whose
#: decode seam is the ``decode`` argument of ``sources.http_bands``.
PAPER_CORE = frozenset({f"{PKG}.functions.jp2"})

#: Unreached and scheduled for deletion (ROADMAP direction 3): the media
#: decode cluster. ``operators.multimodal`` imports the three codecs, so
#: the four go together, with ``raster.resize_*`` and their tests.
PENDING_DELETION = frozenset({
    f"{PKG}.operators.multimodal",
    f"{PKG}.functions.gif",
    f"{PKG}.functions.video",
    f"{PKG}.functions.wav",
})
EXEMPT = PAPER_CORE | PENDING_DELETION


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules() -> dict[str, Path]:
    return {
        _module_name(p): p for p in sorted((REPO / PKG).rglob("*.py"))
    }


def _imports(path: Path, known: set[str]) -> set[str]:
    """Package modules that ``path`` imports anywhere in its body. The
    package uses absolute imports only, so relative ones are refused."""
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            assert not node.level, f"relative import in {path}"
            base = node.module
            # ``from pkg import sub`` imports the submodule ``pkg.sub``.
            targets = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            if t in known:
                found.add(t)
    # Importing a module runs every enclosing package's ``__init__``.
    for t in list(found):
        parts = t.split(".")
        found.update(".".join(parts[:i]) for i in range(1, len(parts)))
    return found & known


def _roots(modules: dict[str, Path]) -> set[str]:
    roots = {
        f"{PKG}.queries",
        f"{PKG}.plans.main",
        f"{PKG}.plans.corpus_pipeline",
        f"{PKG}.plans.serving",
        f"{PKG}.plans.rollup_tables",
    }
    roots.update(
        m for m in modules
        if m.startswith((f"{PKG}.streaming.", f"{PKG}.sources."))
    )
    return roots


def reached() -> set[str]:
    modules = _package_modules()
    known = set(modules)
    entry = REPO / "__spark_entry__.py"
    todo = _roots(modules) | _imports(entry, known)
    seen: set[str] = set()
    while todo:
        m = todo.pop()
        if m in seen:
            continue
        seen.add(m)
        parts = m.split(".")
        todo.update(".".join(parts[:i]) for i in range(1, len(parts)))
        todo.update(_imports(modules[m], known) - seen)
    return seen


def test_roots_exist():
    modules = _package_modules()
    assert _roots(modules) <= set(modules)
    assert EXEMPT <= set(modules)


def test_every_package_module_is_reached():
    unreached = set(_package_modules()) - reached()
    assert unreached - EXEMPT == set(), (
        "modules no entry point imports (delete them with their tests, "
        f"or wire them into an entry): {sorted(unreached - EXEMPT)}"
    )


def test_paper_core_list_is_minimal():
    # An exempt module that an entry now imports no longer needs the
    # exemption; drop it from its list so the lists stay honest.
    assert EXEMPT & reached() == set()


def test_census_follows_function_local_imports(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "def f():\n"
        f"    from {PKG}.operators import raster\n"
        f"    import {PKG}.sources.tables as t\n"
    )
    known = set(_package_modules())
    got = _imports(src, known)
    assert f"{PKG}.operators.raster" in got
    assert f"{PKG}.sources.tables" in got
    assert {PKG, f"{PKG}.operators", f"{PKG}.sources"} <= got
