"""Every package module, and every top-level function and class in it, is
reached from code outside the tests.

The module guard walks the static imports (module level and inside
functions) from the driver, the benchmark, the checker, both pipeline
runners and their spark-submit shims. The function guard looks for the
names of top-level definitions in every ``.py`` file outside ``tests/``.
A module or definition nothing reaches is code only its own tests run;
these guards keep such code from piling up again. No Spark session is
started.
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


# Top-level definitions that no caller names but that stay, with the reason.
UNCALLED_KEPT = {
    ("xoverrr_spark/checker.py", "quote_ident"):
        "reference API surface: reserved-word quoting (SURVEY row P3)",
    ("xoverrr_spark/exceptions.py", "TypeConversionError"):
        "reference API surface: the exception taxonomy (SURVEY row R7)",
    ("xoverrr_spark/functions/models.py", "train_char_bigram_artifact"):
        "the only producer of the file the runner's --ppl-artifact reads; "
        "its help text names it",
    ("xoverrr_spark/operators/multimodal.py", "psnr_vs_reference"):
        "verifies BASELINE input_hint's PSNR >= 40 dB for lossy formats",
    ("xoverrr_spark/operators/similarity.py", "embedding_near_dups_exact"):
        "exact reference that tests compare embedding_near_dups against",
    ("xoverrr_spark/operators/dedup.py", "exact_dedup"):
        "exact reference that tests compare exact_dedup_window against",
}


def _caller_files() -> list[Path]:
    """Every ``.py`` file outside ``tests/``: the package, the driver, the
    benchmarks and the scripts."""
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for folder in (PKG, "scripts", "perfbench"):
        files += (ROOT / folder).rglob("*.py")
    return sorted(p for p in files if "__pycache__" not in p.parts)


def _imported(tree: ast.AST) -> set[str]:
    """The names the imports anywhere in ``tree`` bind."""
    out = set()
    for sub in ast.walk(tree):
        if isinstance(sub, ast.Import):
            out.update(a.asname or a.name.split(".")[0] for a in sub.names)
        elif isinstance(sub, ast.ImportFrom):
            out.update(a.asname or a.name for a in sub.names)
    return out


def _reads(node: ast.AST, imported: set[str]) -> set[str]:
    """The names ``node`` reads, and the attributes it reads off a name an
    import binds (``imported``): ``oracle.twin`` counts, ``details.field``
    does not, since a local's attribute is no top-level definition."""
    out = set()
    for sub in ast.walk(node):
        if not isinstance(getattr(sub, "ctx", None), ast.Load):
            continue
        if isinstance(sub, ast.Name):
            out.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            root = sub.value
            while isinstance(root, ast.Attribute):
                root = root.value
            if isinstance(root, ast.Name) and root.id in imported:
                out.add(sub.attr)
    return out


def _names(node: ast.AST, module_reads: set[str], imported: set[str]) -> set[str]:
    """Every name ``node`` refers to: the names it reads, and the names an
    import in it brings in when its module (``module_reads``) reads the
    name that import binds. An import nothing reads reaches nothing."""
    out = _reads(node, imported)
    for sub in ast.walk(node):
        if isinstance(sub, ast.alias):
            bound = sub.asname or sub.name.split(".")[0]
            if bound in module_reads:
                out.update(sub.name.split("."))
    return out


def _twin_names() -> set[str]:
    """The keys of ``__spark_entry__.queries()``: ``oracle_sql()`` calls the
    oracle twin of each through ``getattr``."""
    tree = ast.parse((ROOT / "__spark_entry__.py").read_text())
    fn = next(n for n in tree.body
              if isinstance(n, ast.FunctionDef) and n.name == "queries")
    return {k.value for n in ast.walk(fn) if isinstance(n, ast.Dict)
            for k in n.keys if isinstance(k, ast.Constant)}


def _unreached_definitions() -> list[tuple[str, int, str]]:
    """``(path, line, name)`` of each top-level package definition that no
    caller names, counting only references from module-level code, from
    files outside the package and from definitions already reached."""
    defs = {}   # (path, name) -> (line, names its body refers to)
    free = _twin_names()   # names referenced outside any package definition
    for path in _caller_files():
        rel = str(path.relative_to(ROOT))
        tree = ast.parse(path.read_text(), rel)
        imported = _imported(tree)
        reads = _reads(tree, imported)
        if not rel.startswith(f"{PKG}/"):
            free |= _names(tree, reads, imported)
            continue
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[(rel, node.name)] = (node.lineno, _names(node, reads, imported))
            else:
                free |= _names(node, reads, imported)
    # A definition's own body never counts for it: it is read only once
    # the definition is reached.
    reached: set[tuple[str, str]] = set()
    while True:
        named = free.union(*(defs[key][1] for key in reached))
        new = {key for key in defs if key[1] in named} - reached
        if not new:
            break
        reached |= new
    return sorted((path, defs[(path, name)][0], name)
                  for path, name in defs if (path, name) not in reached)


def test_every_package_definition_is_named_outside_the_tests():
    found = _unreached_definitions()
    unreached = [(path, line, name) for path, line, name in found
                 if (path, name) not in UNCALLED_KEPT]
    assert unreached == [], (
        "no code outside tests/ names these top-level definitions; "
        "call it from an entry point or delete it:\n"
        + "\n".join(f"{path}:{line} {name}" for path, line, name in unreached)
    )
    stale = set(UNCALLED_KEPT) - {(path, name) for path, _, name in found}
    assert not stale, f"now called, drop from UNCALLED_KEPT: {sorted(stale)}"
