"""Every top-level def of the package is reached from an entry point.

Pure ``ast``: no Spark session, subprocess or thread. The roots are

- every module-level statement of ``feasibility_etl_spark/`` other than
  imports, ``__all__`` and the def statements themselves (a def's
  decorators and argument defaults run at import, so they are roots too);
- the whole of ``__spark_entry__.py`` and ``perfbench/*.py`` (read only);
- every def that ``ALLOWLIST`` keeps for a named reason.

From the roots the closure follows ``Name`` and ``Attribute`` identifiers
matched by name to top-level defs of any package module, so it can only
under-report what is unreached. A def outside the closure fails the test,
as does an allowlist entry that keeps nothing the closure would miss.

A second check reads every ``from feasibility_etl_spark... import X`` in
``tests/``, ``tools/*.py`` and ``bench.py`` and fails when ``X`` is no
longer defined where it is imported from.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "feasibility_etl_spark"

# path (relative to the package, a directory ending in "/") or
# "path:def" -> why the def stays without a caller
ALLOWLIST = {
    "streaming/": "ROADMAP item 5 decides which streaming sinks stay",
    "writer/compact.py": "ROADMAP item 3 puts compaction on the commit path",
    "writer/denormalized.py:write_denormalized": (
        "ROADMAP item 11's view round-trip test builds its star with it"),
    "sources/rest.py": "the reference's extract stage (etl.js:92-304); item 11",
    "sources/readers.py": "the reference's extract stage (etl.js:92-304); item 11",
    "plans/pipeline.py": "the reference's transform stage (etl.js:92-304); item 11",
    "plans/feasibility_view.py": "the reference's read view (schema.sql:66-94); item 11",
}

DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _aliases(trees) -> dict[str, set[str]]:
    """``import y as z`` anywhere in ``trees``: ``{z: {y, ...}}``."""
    out: dict[str, set[str]] = {}
    for tree in trees:
        for sub in ast.walk(tree):
            if isinstance(sub, (ast.Import, ast.ImportFrom)):
                for a in sub.names:
                    if a.asname:
                        out.setdefault(a.asname, set()).add(a.name.rsplit(".", 1)[-1])
    return out


def _identifiers(nodes, aliases) -> set[str]:
    """Names and attribute names used in ``nodes``; a use of an alias
    ``z`` of ``import y as z`` is a use of ``y``."""
    out: set[str] = set()
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                out.add(sub.id)
            elif isinstance(sub, ast.Attribute):
                out.add(sub.attr)
    return out.union(*(aliases.get(n, ()) for n in out))


def _is_dunder_all(stmt: ast.stmt) -> bool:
    targets = (stmt.targets if isinstance(stmt, ast.Assign)
               else [stmt.target] if isinstance(stmt, (ast.AnnAssign, ast.AugAssign))
               else [])
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


def package_defs():
    """``({(relpath, name): def node}, [module-level root nodes], trees)``."""
    defs: dict[tuple[str, str], ast.AST] = {}
    roots: list[ast.AST] = []
    trees: list[ast.Module] = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = _parse(path)
        trees.append(tree)
        for stmt in tree.body:
            if isinstance(stmt, DEFS):
                defs[(rel, stmt.name)] = stmt
                roots.extend(stmt.decorator_list)
                if not isinstance(stmt, ast.ClassDef):
                    roots.extend(stmt.args.defaults + stmt.args.kw_defaults)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)) and not _is_dunder_all(stmt):
                roots.append(stmt)
    return defs, [r for r in roots if r is not None], trees


def _allowed(rel: str, name: str, entry: str) -> bool:
    if entry.endswith("/"):
        return rel.startswith(entry)
    path, _, def_name = entry.partition(":")
    return rel == path and def_name in ("", name)


def closure(defs, root_nodes, aliases) -> set[tuple[str, str]]:
    by_name: dict[str, list[tuple[str, str]]] = {}
    for key in defs:
        by_name.setdefault(key[1], []).append(key)
    reached: set[tuple[str, str]] = set()
    frontier = _identifiers(root_nodes, aliases)
    seen: set[str] = set()
    while frontier:
        seen |= frontier
        new = [k for n in frontier for k in by_name.get(n, ()) if k not in reached]
        reached.update(new)
        frontier = _identifiers([defs[k] for k in new], aliases) - seen
    return reached


def _external_roots() -> list[ast.AST]:
    files = [ROOT / "__spark_entry__.py", *sorted((ROOT / "perfbench").glob("*.py"))]
    return [_parse(f) for f in files]


def reachability(allowlist=ALLOWLIST):
    """``(unreached defs, stale allowlist entries)``."""
    defs, roots, trees = package_defs()
    external = _external_roots()
    roots += external
    aliases = _aliases(trees + external)
    bare = closure(defs, roots, aliases)
    kept = {k for k in defs if any(_allowed(*k, e) for e in allowlist)}
    full = closure(defs, roots + [defs[k] for k in kept], aliases) | kept
    unreached = sorted(set(defs) - full)
    stale = sorted(e for e in allowlist
                   if not any(_allowed(*k, e) for k in set(defs) - bare))
    return unreached, stale


def test_every_package_def_is_reached_or_allowlisted():
    unreached, stale = reachability()
    assert not unreached, "defs no entry point reaches: " + ", ".join(
        f"{rel}:{name}" for rel, name in unreached)
    assert not stale, f"allowlist entries that keep nothing: {stale}"


def test_allowlist_entries_name_a_reason():
    assert all(isinstance(r, str) and r.strip() for r in ALLOWLIST.values())


def _module_names(module: str) -> set[str] | None:
    """Top-level names bound by package module ``module`` (dotted), plus
    its submodules; ``None`` when the module itself is gone."""
    parts = module.split(".")[1:]
    base = PKG.joinpath(*parts)
    if base.is_dir():
        path = base / "__init__.py"
        subs = {p.stem for p in base.glob("*.py")} | {
            p.name for p in base.iterdir() if (p / "__init__.py").exists()}
    elif base.with_suffix(".py").exists():
        path, subs = base.with_suffix(".py"), set()
    else:
        return None
    names = set(subs)
    for stmt in _parse(path).body:
        if isinstance(stmt, DEFS):
            names.add(stmt.name)
        elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in stmt.names)
        elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
            targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
    return names


def broken_imports() -> list[str]:
    files = [*sorted((ROOT / "tests").glob("*.py")),
             *sorted((ROOT / "tools").glob("*.py")), ROOT / "bench.py"]
    broken = []
    for f in files:
        for node in ast.walk(_parse(f)):
            if not (isinstance(node, ast.ImportFrom) and node.level == 0 and node.module
                    and node.module.split(".")[0] == PKG.name):
                continue
            names = _module_names(node.module)
            where = f"{f.relative_to(ROOT)}:{node.lineno}"
            if names is None:
                broken.append(f"{where} {node.module}")
            else:
                broken += [f"{where} {node.module}.{a.name}"
                           for a in node.names if a.name != "*" and a.name not in names]
    return broken


def test_imports_from_the_package_name_existing_defs():
    assert not broken_imports()

