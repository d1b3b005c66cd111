"""Static import check: every ``rasusa_spark`` import in the library, the
scripts, the benchmark, the tests and the two entry files — function-level
imports included — names a module and an attribute that exist. The
scripts import lazily inside ``main()``, which no test runs, so without
this check a deletion can leave a dangling import that nothing catches.
Files are parsed with ``ast``; only ``rasusa_spark`` modules are imported,
so no Spark session starts."""

from __future__ import annotations

import ast
import importlib
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
FILES = sorted(
    [p for d in ("rasusa_spark", "scripts", "perfbench", "tests")
     for p in (ROOT / d).rglob("*.py")]
    + [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
)


def _package(path: pathlib.Path) -> list[str] | None:
    """The package a file's relative imports resolve against, or None
    outside the library."""
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    return parts[:-1] if parts[0] == "rasusa_spark" else None


def _targets(source: str, package: list[str] | None):
    """(line, module, name) for every ``rasusa_spark`` import in
    ``source``; name is None for a plain ``import`` statement."""
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == "rasusa_spark":
                    yield node.lineno, a.name, None
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                if package is None:
                    continue
                base = package[: len(package) - node.level + 1]
                module = ".".join(base + ([node.module] if node.module else []))
            else:
                module = node.module or ""
            if module.split(".")[0] == "rasusa_spark":
                for a in node.names:
                    yield node.lineno, module, a.name


def _unresolved(source: str, package: list[str] | None = None) -> list[str]:
    out = []
    for line, module, name in sorted(
        _targets(source, package), key=lambda t: t[0]
    ):
        try:
            mod = importlib.import_module(module)
        except ImportError as e:
            out.append(f"{line}: {module} ({e})")
            continue
        if name is None or name == "*" or hasattr(mod, name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")
        except ImportError:
            out.append(f"{line}: {module}.{name}")
    return out


def test_every_rasusa_spark_import_resolves():
    assert len(FILES) > 50
    missing = [
        f"{path.relative_to(ROOT)}:{m}"
        for path in FILES
        for m in _unresolved(path.read_text(), _package(path))
    ]
    assert missing == []


def test_checker_reports_dangling_imports():
    src = (
        "def main():\n"
        "    from rasusa_spark.streaming.incremental import no_such_name\n"
        "    import rasusa_spark.no_such_module\n"
        "from .rollup import rollup, gone\n"
    )
    assert _unresolved(src, ["rasusa_spark", "operators"]) == [
        "2: rasusa_spark.streaming.incremental.no_such_name",
        "3: rasusa_spark.no_such_module (No module named "
        "'rasusa_spark.no_such_module')",
        "4: rasusa_spark.operators.rollup.gone",
    ]
