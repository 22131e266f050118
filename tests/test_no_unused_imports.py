"""Every import in fegis_spark/ is used: an import whose bound name
never appears in its scope (the module, or the function holding a
function-local import) fails here. ``# noqa: F401`` on the import
line marks a deliberate re-export or availability probe. Static
(AST) and session-free."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCES = sorted((ROOT / "fegis_spark").rglob("*.py"))
_SCOPES = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef)


def _used_names(scope: ast.AST) -> set[str]:
    """Names loaded anywhere inside ``scope``, nested scopes included."""
    return {node.id for node in ast.walk(scope) if isinstance(node, ast.Name)}


def _unused_imports(path: Path, root: Path = ROOT) -> list[str]:
    text = path.read_text()
    lines = text.splitlines()
    tree = ast.parse(text, str(path))
    out = []
    for scope in ast.walk(tree):
        if not isinstance(scope, _SCOPES):
            continue
        # the imports this scope binds itself (not those of nested scopes)
        stack, imports = list(ast.iter_child_nodes(scope)), []
        while stack:
            node = stack.pop()
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                imports.append(node)
            elif not isinstance(node, (*_SCOPES, ast.ClassDef, ast.Lambda)):
                stack.extend(ast.iter_child_nodes(node))
        if not imports:
            continue
        used = _used_names(scope)
        for node in imports:
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                noqa = {node.lineno, alias.lineno}
                if name in used or any("noqa: F401" in lines[n - 1] for n in noqa):
                    continue
                out.append(f"{path.relative_to(root)}:{alias.lineno}: {name}")
    return out


def test_scan_sees_function_local_imports(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "import os\nimport sys  # noqa: F401\n"
        "def f():\n    import json\n    from re import sub\n    return sub\n"
        "def g():\n    return os.sep\n"
    )
    assert _unused_imports(src, tmp_path) == ["m.py:4: json"]


def test_no_unused_imports_in_fegis_spark():
    assert len(SOURCES) > 50, len(SOURCES)
    found = [line for path in SOURCES for line in _unused_imports(path)]
    assert not found, "\n".join(found)
