"""Every package module is reached from an entry point.

Walks the static imports (module level and inside functions) from the
driver, the benchmark, the checker, both pipeline runners and their
spark-submit shims. A module none of them reaches is code only its own
tests run; this guard keeps such modules from piling up again. No Spark
session is started.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "xoverrr_spark"
ENTRY_POINTS = [
    "__spark_entry__.py",
    "bench.py",
    "xoverrr_spark/checker.py",
    "xoverrr_spark/pipeline/runner.py",
    "xoverrr_spark/pipeline/dedup_runner.py",
    "scripts/run_quality_filter.py",
    "scripts/run_dedup.py",
]


def _module_file(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(path: Path) -> set[str]:
    """Names of the package modules ``path`` imports, with the packages
    that contain them (importing ``a.b.c`` runs ``a`` and ``a.b`` too)."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.rsplit(".", node.level - 1)[0]
                module = f"{base}.{node.module}" if node.module else base
            else:
                module = node.module
            found.add(module)
            # `from pkg import sub` imports the submodule when there is one
            found.update(f"{module}.{alias.name}" for alias in node.names)
    out = set()
    for module in found:
        parts = module.split(".")
        if parts[0] == PKG:
            out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return {m for m in out if _module_file(m)}


def _reached() -> set[Path]:
    todo = [ROOT / p for p in ENTRY_POINTS]
    seen: set[Path] = set()
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        todo.extend(_module_file(m) for m in _imports(path))
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    reached = _reached()
    modules = sorted(
        p for p in (ROOT / PKG).rglob("*.py")
        if p.name != "__init__.py" and "__pycache__" not in p.parts
    )
    assert modules
    unreached = [str(p.relative_to(ROOT)) for p in modules if p not in reached]
    assert unreached == [], (
        f"no entry point ({', '.join(ENTRY_POINTS)}) imports "
        f"{', '.join(unreached)}: wire it into an entry point or delete it"
    )
