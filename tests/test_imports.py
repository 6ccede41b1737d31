"""Import closure: every `jvector_spark.*` import in the package, the tools,
the driver scripts, the tests and the benchmark scripts in perfbench/
(module-level and function-level lazy ones alike), plus bench.py's
`perfbench.probes` import, names a module and attributes that exist. A
lazy import of a deleted module otherwise only fails when its branch runs.
The same holds for the functions the traced benchmark run wraps by name."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCES = ["jvector_spark", "tools", "bench.py", "__spark_entry__.py", "tests"]
PACKAGES = ("jvector_spark", "perfbench")


def _py_files():
    """(path, packages whose imports are checked there). The perfbench/
    scripts import their siblings from their own directory, so only their
    jvector_spark imports are checked."""
    for src in SOURCES:
        p = ROOT / src
        for f in (sorted(p.rglob("*.py")) if p.is_dir() else [p]):
            yield f, PACKAGES
    for f in sorted((ROOT / "perfbench").glob("*.py")):
        yield f, ("jvector_spark",)


def _imports(path: Path, packages: tuple[str, ...]):
    """(line, module, names) for every import of a checked package."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
                node.module or "").split(".")[0] in packages:
            yield node.lineno, node.module, [a.name for a in node.names]
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] in packages:
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
    assert any(f.name == "bench.py" for f, _ in files)
    assert any(f.name == "workload.py" for f, _ in files)
    bad, n = [], 0
    for f, packages in files:
        for line, module, names in _imports(f, packages):
            n += 1
            bad += [f"{f.relative_to(ROOT)}:{line}: {d}"
                    for d in _dangling(module, names)]
    assert n > 100  # the scan reached the lazy function-level imports too
    assert not bad, "dangling imports:\n" + "\n".join(bad)


def test_benchmark_patch_targets_exist():
    """Every `t.patch("<module>", "<attr>", ...)` in perfbench/workload.py
    (the traced run's timers) names an existing module attribute."""
    tree = ast.parse((ROOT / "perfbench" / "workload.py").read_text())
    targets = [
        (node.args[0].value, node.args[1].value)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute) and node.func.attr == "patch"
        and isinstance(node.func.value, ast.Name) and node.func.value.id == "t"
        and len(node.args) >= 2
        and all(isinstance(a, ast.Constant) and isinstance(a.value, str)
                for a in node.args[:2])
    ]
    assert len(targets) >= 10  # the scan found the hooks
    missing = [f"{m}.{a}" for m, a in targets
               if not hasattr(importlib.import_module(m), a)]
    assert not missing, "benchmark hooks name missing attributes: " + (
        ", ".join(missing))
