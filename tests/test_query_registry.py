"""Query registry consistency, without a Spark session: every query has an
oracle and every oracle a query, each query name that bench.py times or
scripts/show_plans.py explains is a registered query, and every import of
a repo module resolves."""

import ast
from pathlib import Path

from universal_key_value_based_text_processing_with_ocr_spark import api

REPO = Path(__file__).resolve().parent.parent


def _tree(rel: str) -> ast.Module:
    return ast.parse((REPO / rel).read_text(), filename=rel)


def _strings(node: ast.AST) -> list[str]:
    return [e.value for e in ast.walk(node) if isinstance(e, ast.Constant) and isinstance(e.value, str)]


def test_every_query_has_an_oracle_and_every_oracle_a_query():
    assert set(api.QUERIES) == set(api.ORACLE_SQL)


def test_bench_query_names_are_registered():
    """bench.py names queries in its list literals (the timed sets), in
    ``QUERIES["..."]`` lookups and in ``name == "..."`` tests."""
    names = set()
    for node in ast.walk(_tree("bench.py")):
        if isinstance(node, ast.List):
            names.update(e.value for e in node.elts if isinstance(e, ast.Constant))
        elif isinstance(node, ast.Subscript) and ast.unparse(node.value).endswith("QUERIES"):
            names.update(_strings(node.slice))
        elif isinstance(node, ast.Compare) and ast.unparse(node.left) == "name":
            names.update(_strings(node))
    names.discard("extract_pages")  # timed directly, not a QUERIES entry
    assert len(names) > 90
    assert sorted(names - set(api.QUERIES)) == []


def test_show_plans_query_names_are_registered():
    """scripts/show_plans.py explains the (name, note) pairs of ``named``."""
    (named,) = [
        node.value
        for node in ast.walk(_tree("scripts/show_plans.py"))
        if isinstance(node, ast.Assign) and ast.unparse(node.targets[0]) == "named"
    ]
    names = {pair.elts[0].value for pair in named.elts}
    assert len(names) > 50
    assert sorted(names - set(api.QUERIES)) == []


# Files whose repo-local imports must resolve: the package, the tests, the
# scripts and the top-level entry points (bench.py's lazy imports run only
# in a full benchmark, which tier-1 never does).
_IMPORT_SCOPE = (
    f"{api.__name__.rpartition('.')[0]}/**/*.py",
    "tests/**/*.py",
    "scripts/**/*.py",
    "bench.py",
    "bench_extra.py",
    "profile_frontier.py",
    "__spark_entry__.py",
)


def _module_file(dotted: str) -> Path | None:
    """The module's source file, its package ``__init__``, or the directory
    of a namespace package (``tests``); None if no such module exists."""
    base = REPO.joinpath(*dotted.split("."))
    for f in (base.with_suffix(".py"), base / "__init__.py", base):
        if f.exists():
            return f
    return None


def _defined_names(module: Path) -> set[str]:
    """Names a module binds outside its functions and classes, plus the
    names its module-level ``__getattr__`` compares against."""
    names: set[str] = set()
    todo = [] if module.is_dir() else [ast.parse(module.read_text())]
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
            if node.name == "__getattr__":
                names.update(_strings(node))
            continue
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
            names.add(node.id)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        todo.extend(ast.iter_child_nodes(node))
    return names


def _dangling_imports(path: Path) -> list[str]:
    rel = path.relative_to(REPO)
    package = rel.parent.parts
    bad = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(rel))):
        if isinstance(node, ast.Import):
            wanted = [(a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module.split(".") if node.module else []
            if node.level:
                base = list(package[: len(package) - node.level + 1]) + base
            wanted = [(".".join(base), a.name) for a in node.names]
        else:
            continue
        for module, name in wanted:
            if _module_file(module.split(".")[0]) is None:
                continue  # stdlib or a third-party package
            where = f"{rel}:{node.lineno}"
            mfile = _module_file(module)
            if mfile is None:
                bad.append(f"{where} {module}")
            elif name not in (None, "*") and _module_file(f"{module}.{name}") is None:
                if name not in _defined_names(mfile):
                    bad.append(f"{where} {module}.{name}")
    return bad


def test_repo_imports_resolve():
    """Every import of a repo module, lazy ones inside functions included,
    names a module that exists or a name that module defines."""
    files = sorted({f for pattern in _IMPORT_SCOPE for f in REPO.glob(pattern)})
    assert len(files) > 100
    assert [b for f in files for b in _dangling_imports(f)] == []
