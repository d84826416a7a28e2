"""Package imports in the repo's scripts resolve (no Spark session).

No other tier-1 test imports ``tools/`` or the top-level scripts, so a
renamed or removed package name would break them silently. Each script is
parsed with ``ast`` (never run) and every ``from <package>... import name``
and ``import <package>...`` — at module level or inside a function — must
name a module or attribute that exists. Source text run as a subprocess
script (a string literal) is not parsed.
"""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "high_volume_market_data_pipeline_spark"
SCRIPTS = sorted(
    os.path.relpath(p, REPO)
    for pattern in (
        "tools/*.py",
        "perfbench/*.py",
        "bench.py",
        "stress.py",
        "plan_report.py",
        "__spark_entry__.py",
    )
    for p in glob.glob(os.path.join(REPO, pattern))
)


def _package_imports(path: str) -> list[tuple[int, str, str | None]]:
    """(line, module, imported name or None) for every absolute import of
    the package in the file."""
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if node.module.split(".")[0] == PACKAGE:
                out += [(node.lineno, node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (node.lineno, a.name, None)
                for a in node.names
                if a.name.split(".")[0] == PACKAGE
            ]
    return out


def _unresolved(module: str, name: str | None) -> str | None:
    try:
        mod = importlib.import_module(module)
    except ImportError as e:
        return f"module {module}: {e}"
    if name is None or name == "*" or hasattr(mod, name):
        return None
    # a submodule not yet imported: only a package has submodules
    if hasattr(mod, "__path__") and importlib.util.find_spec(
        f"{module}.{name}"
    ):
        return None
    return f"{module} has no name {name!r}"


def test_scripts_are_found():
    assert "tools/bench_ann_tier.py" in SCRIPTS
    assert "__spark_entry__.py" in SCRIPTS


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_package_imports_resolve(script):
    bad = [
        f"{script}:{line}: {why}"
        for line, module, name in _package_imports(os.path.join(REPO, script))
        if (why := _unresolved(module, name)) is not None
    ]
    assert not bad, "\n".join(bad)
