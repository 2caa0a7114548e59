"""No module imports a name it never uses.

An AST scan, per file: every name an ``import`` statement binds must be
loaded somewhere in that file. Names listed in ``__all__`` count as
used, and package ``__init__.py`` files are skipped (their imports are
re-exports)."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
SCANNED = ("orc_format_spark", "scripts", "tests", "bench.py", "__spark_entry__.py")


def _files():
    for entry in SCANNED:
        path = ROOT / entry
        yield from sorted(path.rglob("*.py")) if path.is_dir() else [path]


def unused_imports(source: str) -> list[tuple[int, str]]:
    """(line, name) of each import-bound name the source never loads."""
    tree = ast.parse(source)
    bound: list[tuple[int, str]] = []
    used: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            bound += [(node.lineno, a.asname or a.name.split(".")[0]) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            bound += [(node.lineno, a.asname or a.name) for a in node.names if a.name != "*"]
        elif isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            used.add(node.id)
        elif isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used.update(c.value for c in ast.walk(node.value)
                        if isinstance(c, ast.Constant) and isinstance(c.value, str))
    return [(line, name) for line, name in bound if name not in used]


def test_scanner_flags_an_unused_import():
    src = "import os\nimport json as j\nfrom a.b import c, d\n__all__ = ['d']\nprint(os.sep)\n"
    assert unused_imports(src) == [(2, "j"), (3, "c")]


def test_no_unused_imports():
    found = [
        f"{path.relative_to(ROOT)}:{line} {name}"
        for path in _files()
        if path.name != "__init__.py"
        for line, name in unused_imports(path.read_text())
    ]
    assert not found, "\n".join(found)
