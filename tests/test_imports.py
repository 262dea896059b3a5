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


# Package modules no root imports, each with the reason it stays.
UNREACHED = {
    "streaming.incremental": "SURVEY §7 streaming upgrade of the refresh; undecided",
    "streaming.stateful": "stateful sessionization beside it; undecided",
    "sources.analytics_policy": "the paper's Analytics-API fallback ladder; to be wired in",
}


def _module_of(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def test_every_package_module_has_a_root():
    """The caller graph at module level: every package module is imported,
    directly or through other package modules, from a root (``bench.py``,
    ``__spark_entry__.py``, ``tools/``, non-test ``perfbench/``, ``runner``,
    ``queries``), or is listed in ``UNREACHED`` with its reason."""
    files = {_module_of(p): p for p in sorted((ROOT / PKG).rglob("*.py"))}
    roots = [
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
        *sorted((ROOT / "tools").glob("*.py")),
        *(p for p in sorted((ROOT / "perfbench").glob("*.py"))
          if not p.name.startswith("test_")),
        files[f"{PKG}.runner"],
        *(p for m, p in files.items() if m.startswith(f"{PKG}.queries")),
    ]
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        for module, name, _line in _package_imports(todo.pop()):
            parts = module.split(".")
            targets = [".".join(parts[:i]) for i in range(1, len(parts) + 1)]
            if name is not None:
                targets.append(f"{module}.{name}")
            for t in targets:
                if t in files and t not in seen:
                    seen.add(t)
                    todo.append(files[t])
    seen |= {_module_of(p) for p in roots if p.is_relative_to(ROOT / PKG)}
    # a package's __init__ runs whenever any module under it is imported
    orphans = sorted(
        m.removeprefix(f"{PKG}.")
        for m, p in files.items()
        if m not in seen
        and p.name != "__init__.py"
        and m.removeprefix(f"{PKG}.") not in UNREACHED
    )
    assert not orphans, "package modules no root imports:\n" + "\n".join(orphans)
    stale = sorted(m for m in UNREACHED if f"{PKG}.{m}" in seen or f"{PKG}.{m}" not in files)
    assert not stale, f"UNREACHED entries now reached or gone: {stale}"


def test_every_all_name_exists():
    """Each name a package module lists in ``__all__`` exists in it, so a
    deleted definition cannot stay advertised (``from m import *`` and
    readers of ``__all__`` would otherwise meet an AttributeError)."""
    checked, stale = 0, []
    for path in sorted((ROOT / PKG).rglob("*.py")):
        module = _module_of(path)
        for node in ast.parse(path.read_text(), str(path)).body:
            if not (
                isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)
            ):
                continue
            mod = importlib.import_module(module)
            checked += 1
            stale += [
                f"{module}.__all__ lists {name!r}"
                for name in ast.literal_eval(node.value)
                if not hasattr(mod, name)
            ]
    assert checked >= 7, f"only {checked} modules define __all__; is the walk broken?"
    assert not stale, "stale __all__ entries:\n" + "\n".join(stale)
