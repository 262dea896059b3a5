"""Every package import resolves, including the function-local ones.

Most package imports sit inside function bodies and resolve only when that
function runs, so deleting a definition can leave a dangling import that no
other test reaches. This walks the source of the package, ``bench.py`` and
``tools/`` with ``ast``; for each ``import <package>...`` and each
``from <package>... import X`` it imports the module and checks that ``X``
exists. No Spark session.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

PKG = "youtube_analytics_lakehouse_databricks_spark"
ROOT = Path(__file__).resolve().parent.parent


def _sources() -> list[Path]:
    return [
        *sorted((ROOT / PKG).rglob("*.py")),
        ROOT / "bench.py",
        *sorted((ROOT / "tools").glob("*.py")),
    ]


def _package_imports(path: Path):
    """(module, name or None, line) for each package import in ``path``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PKG:
                    yield alias.name, None, node.lineno
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] == PKG:
                for alias in node.names:
                    yield node.module, alias.name, node.lineno


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or hasattr(mod, name):
        return True
    try:  # `from pkg import submodule` binds a module not yet imported
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


def test_every_package_import_resolves():
    seen, dangling = 0, []
    for path in _sources():
        for module, name, line in _package_imports(path):
            seen += 1
            if not _resolves(module, name):
                target = module if name is None else f"{module}.{name}"
                dangling.append(f"{path.relative_to(ROOT)}:{line} imports {target}")
    assert seen > 100, f"only {seen} package imports found; is the walk broken?"
    assert not dangling, "dangling imports:\n" + "\n".join(dangling)
