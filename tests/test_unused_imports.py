"""Unused-import census: every module-level import in the package and in
``__spark_entry__.py`` is used by its module or re-exported through
``__all__``. An import left behind when its last caller goes is a stale
dependency edge; this test names it."""

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
SOURCES = sorted((REPO / "dataplatform_cdc_pipeline_spark").rglob("*.py")) + [
    REPO / "__spark_entry__.py"
]


def _module_imports(body):
    """(bound name, line) of each import at module level, including the
    bodies of module-level ``if``/``try`` blocks."""
    for node in body:
        if isinstance(node, ast.Import):
            for a in node.names:
                yield (a.asname or a.name.split(".")[0]), node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                if a.name != "*":
                    yield (a.asname or a.name), node.lineno
        elif isinstance(node, (ast.If, ast.Try)):
            nested = list(node.body) + list(node.orelse)
            for h in getattr(node, "handlers", []):
                nested += h.body
            yield from _module_imports(nested + list(getattr(node, "finalbody", [])))


def _exported(tree):
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            return {e.value for e in ast.walk(node.value) if isinstance(e, ast.Constant)}
    return set()


def _unused(path):
    tree = ast.parse(path.read_text(), filename=str(path))
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)} | _exported(tree)
    return [
        f"{path.relative_to(REPO)}:{line} {name}"
        for name, line in _module_imports(tree.body)
        if name not in used
    ]


def test_no_unused_module_level_imports():
    assert [u for p in SOURCES for u in _unused(p)] == []
