"""Query registry consistency, without a Spark session: every query has an
oracle and every oracle a query, and each query name that bench.py times
or scripts/show_plans.py explains is a registered query."""

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
    assert len(names) > 100
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
