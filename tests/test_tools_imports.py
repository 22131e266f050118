"""Every name the tools, bench and driver entry points import from
fegis_spark must exist: a library rename that breaks a probe script
fails here instead of at the next probe run. Static (AST) and
session-free — it only imports the fegis_spark modules."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCES = sorted(
    [*ROOT.glob("tools/*.py"), *ROOT.glob("perfbench/*.py")]
    + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
)


def _fegis_imports() -> list[tuple[str, int, str, str]]:
    """(file, line, module, name) of every ``from fegis_spark... import``
    at any nesting depth (function-local imports included)."""
    out = []
    for path in SOURCES:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and node.module
                and node.module.split(".")[0] == "fegis_spark"
            ):
                rel = str(path.relative_to(ROOT))
                out += [(rel, node.lineno, node.module, a.name) for a in node.names]
    return out


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    try:  # `from package import submodule`
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_every_fegis_import_in_tools_resolves():
    found = _fegis_imports()
    assert len(found) > 100, len(found)  # the scan sees nested imports
    missing = [
        f"{f}:{line}: from {m} import {n}"
        for f, line, m, n in found
        if not _resolves(m, n)
    ]
    assert not missing, "\n".join(missing)
