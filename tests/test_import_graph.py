"""The package holds no module that nothing uses.

Every ``helix_html2md_spark`` module must be imported, directly or
transitively, from the extraction path, the spark-submit job, the
benchmark or the driver entry (``__spark_entry__.py``, whose queries
are the side battery); a module none of them reaches is dead code.
No module is exempt.
The bench scripts may import only modules those roots already reach,
so they cannot keep a module alive on their own.

The graph is read from the source with ``ast`` (imports inside functions
count), so the test needs neither Spark nor an import of the package.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "helix_html2md_spark"

ROOT_MODULES = [
    f"{PKG}.operators.extract",
    f"{PKG}.operators.pdf",
    f"{PKG}.operators.boilerplate",
    f"{PKG}.plans.job",
    f"{PKG}.plans.iceberg",
    f"{PKG}.streaming.stream",
    f"{PKG}.session",
]
ROOT_SCRIPTS = [ROOT / "jobs" / "extract_job.py", ROOT / "__spark_entry__.py"]
ROOT_SCRIPTS += sorted((ROOT / "perfbench").glob("*.py"))
BENCH_SCRIPTS = [ROOT / "bench.py", ROOT / "bench_extra.py"]


def _package_modules() -> dict[str, Path]:
    """Dotted name -> file for every module of the package; a package's
    ``__init__.py`` is named after the package."""
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imports(path: Path, module: str | None, modules) -> set[str]:
    """Package modules ``path`` imports, with their parent packages.

    ``module`` is the file's dotted name (None for a script outside the
    package), needed to resolve relative imports."""
    is_pkg = path.name == "__init__.py"
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level and module is None:
                continue  # a script's own sibling (perfbench internals)
            if node.level:
                pkg = module.split(".")
                pkg = pkg if is_pkg else pkg[:-1]
                pkg = pkg[: len(pkg) - node.level + 1]
                base = ".".join(pkg + ([base] if base else []))
            # ``from pkg import name`` imports pkg.name when it is a module
            names = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in modules:
                    found.add(prefix)
    return found


def _reachable(modules) -> set[str]:
    seen = set()
    todo = list(ROOT_MODULES)
    for script in ROOT_SCRIPTS:
        todo += _imports(script, None, modules)
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        # importing a.b.c runs a/__init__.py and a/b/__init__.py first
        parts = mod.split(".")
        todo += [".".join(parts[:i]) for i in range(1, len(parts))]
        todo += _imports(modules[mod], mod, modules)
    return seen


def test_every_package_module_is_reachable_from_a_root():
    modules = _package_modules()
    # a renamed root must fail here, not shrink the graph silently
    assert set(ROOT_MODULES) <= set(modules)
    assert all(p.is_file() for p in ROOT_SCRIPTS + BENCH_SCRIPTS)
    assert len(ROOT_SCRIPTS) > 2  # perfbench/*.py matched
    unreachable = set(modules) - _reachable(modules)
    assert not unreachable, sorted(unreachable)


def test_bench_scripts_import_only_reachable_modules():
    modules = _package_modules()
    reachable = _reachable(modules)
    for script in BENCH_SCRIPTS:
        extra = sorted(_imports(script, None, modules) - reachable)
        assert not extra, (script.name, extra)
