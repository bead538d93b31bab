"""Streaming census: one drain, and no knob nobody turns.

(a) Every streaming query in the package starts through
``streaming.drain_batches`` or ``streaming.drain_to_memory``, so the
trigger, the checkpoint and the wait are written once.
(b) Every defaulted parameter of a public ``streaming/`` function is set
by at least one call in the package or ``tests/``; a default no caller
overrides is a constant, and belongs in the body.

AST only; no Spark."""

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = REPO / "dataplatform_cdc_pipeline_spark"
STREAMING = PACKAGE / "streaming"
STREAMING_MODULE = "dataplatform_cdc_pipeline_spark.streaming"
DRAIN_CALLS = {"writeStream", "trigger", "awaitTermination"}


def _parse(path):
    return ast.parse(path.read_text(), filename=str(path))


def _drain_sites(path):
    """(module, enclosing top-level name) of each streaming-writer use."""
    rel = str(path.relative_to(PACKAGE))
    for top in _parse(path).body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if isinstance(node, ast.Attribute) and node.attr in DRAIN_CALLS:
                yield rel, owner


def test_streaming_queries_start_only_in_the_drain_helpers():
    sites = {s for p in sorted(PACKAGE.rglob("*.py")) for s in _drain_sites(p)}
    assert sites == {
        ("streaming/__init__.py", "drain_batches"),
        ("streaming/__init__.py", "drain_to_memory"),
    }


def _defaulted_params():
    """{function name: {defaulted parameter: positional index or None}}
    for the public top-level functions of every ``streaming/`` module."""
    out = {}
    for path in sorted(STREAMING.glob("*.py")):
        for fn in _parse(path).body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            params = {arg.arg: i for i, arg in enumerate(pos) if i >= first}
            params.update(
                {arg.arg: None for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None}
            )
            out[fn.name] = params
    return out


def _streaming_imports(tree):
    """Names a module imports from the streaming package, at any depth."""
    return {
        alias.asname or alias.name
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(STREAMING_MODULE)
        for alias in node.names
    }


def test_every_streaming_default_is_set_by_some_caller():
    params = _defaulted_params()
    set_by_caller = set()
    sources = sorted(PACKAGE.rglob("*.py")) + sorted((REPO / "tests").rglob("*.py"))
    for path in sources:
        tree = _parse(path)
        visible = set(params) if STREAMING in path.parents else _streaming_imports(tree)
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name not in params or name not in visible:
                continue
            set_by_caller |= {(name, k.arg) for k in call.keywords if k.arg}
            set_by_caller |= {
                (name, p)
                for p, i in params[name].items()
                if i is not None and i < len(call.args)
            }
    unset = sorted(
        f"{fn}({p})" for fn, ps in params.items() for p in ps if (fn, p) not in set_by_caller
    )
    assert unset == []
