"""The engine boundary: no module of the engine imports the training-data
operators under ``orc_format_spark/functions/``.

The engine is the pipeline tokenize -> salted group -> encode -> lineage
-> checkpoint/resume -> decode/read plus the codecs over the payload;
``functions/`` sits outside it and may be deleted family by family. The
check walks the AST of every engine module, so it needs no Spark and
catches absolute (``import orc_format_spark.functions``) as well as
relative (``from ..functions import dedup``, ``from .. import functions``)
imports, at module level or inside a function body."""

import ast
from pathlib import Path

import orc_format_spark

PKG = "orc_format_spark"
FUNCTIONS = f"{PKG}.functions"
ROOT = Path(orc_format_spark.__file__).parent


def _imported(path: Path, root: Path = ROOT) -> set[str]:
    """Every absolute module name that ``path`` (a module of the package
    at ``root``) imports, relative imports resolved against the module's
    own package."""
    parts = path.relative_to(root.parent).with_suffix("").parts
    package = ".".join(parts[:-1])
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = package.rsplit(".", node.level - 1)[0] if node.level else ""
            mod = ".".join(p for p in (base, node.module) if p)
            out.add(mod)
            out.update(f"{mod}.{a.name}" for a in node.names)
    return out


def _crosses(mods: set[str]) -> list[str]:
    return sorted(m for m in mods if m == FUNCTIONS or m.startswith(FUNCTIONS + "."))


def test_engine_modules_do_not_import_functions():
    engine = [
        p for p in sorted(ROOT.rglob("*.py"))
        if p.relative_to(ROOT).parts[0] != "functions"
    ]
    assert len(engine) > 20  # the walk found the engine
    crossings = {
        str(p.relative_to(ROOT)): c for p in engine if (c := _crosses(_imported(p)))
    }
    assert crossings == {}


def test_boundary_check_sees_every_import_form(tmp_path):
    """The resolver itself: each import form of ``functions`` from an
    engine subpackage is seen, and a sibling import is not."""
    root = tmp_path / PKG
    mod = root / "operators" / "m.py"
    mod.parent.mkdir(parents=True)
    for src, hit in [
        ("from ..functions import dedup", True),
        ("from .. import functions", True),
        ("from ..functions.text import fingerprint", True),
        ("import orc_format_spark.functions.dedup", True),
        ("def f():\n    from ..functions import dedup", True),
        ("from ..codecs import container", False),
        ("from . import functions_helper", False),
        ("import orc_format_spark.functions_extra", False),
    ]:
        mod.write_text(src + "\n")
        assert bool(_crosses(_imported(mod, root))) is hit, src
