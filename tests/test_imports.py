"""Import closure: every `jvector_spark.*` import in the package, the tools,
the driver scripts and the tests (module-level and function-level lazy
ones alike), plus bench.py's `perfbench.probes` import, names a module and
attributes that exist. A lazy import of a deleted module otherwise only
fails when its branch runs."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCES = ["jvector_spark", "tools", "bench.py", "__spark_entry__.py", "tests"]
PACKAGES = ("jvector_spark", "perfbench")


def _py_files():
    for src in SOURCES:
        p = ROOT / src
        yield from (sorted(p.rglob("*.py")) if p.is_dir() else [p])


def _imports(path: Path):
    """(line, module, names) for every import of a checked package."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
                node.module or "").split(".")[0] in PACKAGES:
            yield node.lineno, node.module, [a.name for a in node.names]
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] in PACKAGES:
                    yield node.lineno, a.name, []


def _dangling(module: str, names: list[str]) -> list[str]:
    try:
        mod = importlib.import_module(module)
    except ImportError as e:
        return [f"{module} ({e})"]
    out = []
    for n in names:
        if n == "*" or hasattr(mod, n):
            continue
        try:
            importlib.import_module(f"{module}.{n}")
        except ImportError:
            out.append(f"{module}.{n}")
    return out


def test_every_package_import_resolves():
    files = list(_py_files())
    assert any(f.name == "bench.py" for f in files)
    bad, n = [], 0
    for f in files:
        for line, module, names in _imports(f):
            n += 1
            bad += [f"{f.relative_to(ROOT)}:{line}: {d}"
                    for d in _dangling(module, names)]
    assert n > 100  # the scan reached the lazy function-level imports too
    assert not bad, "dangling imports:\n" + "\n".join(bad)
