"""Knob census: every environment variable the package reads is a
deployment setting named here. A new ``os.environ`` / ``os.getenv`` read
is a hidden option; this test makes adding one a deliberate edit."""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "dataplatform_cdc_pipeline_spark"

KNOBS = {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY"}


def _is_os_environ(node) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_reads(tree):
    """Names read via ``os.environ[...]``, ``os.environ.get(...)`` and
    ``os.getenv(...)``; a non-literal name is reported as ``<dynamic>``."""
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.Subscript) and _is_os_environ(node.value):
            key = node.slice
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            env_get = f.attr == "get" and _is_os_environ(f.value)
            getenv = (
                f.attr == "getenv" and isinstance(f.value, ast.Name) and f.value.id == "os"
            )
            if (env_get or getenv) and node.args:
                key = node.args[0]
        if key is not None:
            yield key.value if isinstance(key, ast.Constant) else "<dynamic>"


def test_package_reads_only_the_deployment_knobs():
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for name in _env_reads(ast.parse(path.read_text(), filename=str(path))):
            found.setdefault(name, []).append(str(path.relative_to(PACKAGE)))
    assert set(found) == KNOBS, found
