"""Every ``sequenzo_spark`` name the benchmark harnesses and scripts use
must exist.

``bench.py``, ``bench_extra.py``, ``__spark_entry__.py`` and ``perfbench/``
are kept byte-stable, and ``scripts/`` runs only by hand, so a library
deletion that drops a name they import breaks them only at run time. This
test parses them with ``ast`` (no Spark session) and resolves each
imported name, and each ``sequenzo_spark.…`` module they launch with
``python -m``."""

import ast
import importlib
import importlib.util
import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
FROZEN = sorted(
    [ROOT / "bench.py", ROOT / "bench_extra.py", ROOT / "__spark_entry__.py"]
    + list((ROOT / "perfbench").glob("*.py"))
    + list((ROOT / "scripts").glob("*.py"))
)


def _library_imports(path: Path) -> list[tuple[str, str | None]]:
    """(module, name) per imported library name; name None for a plain
    ``import sequenzo_spark…`` or a ``-m`` module string. Walks the whole
    tree: the harnesses import inside functions."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if (node.module or "").split(".")[0] == "sequenzo_spark":
                out += [(node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (a.name, None)
                for a in node.names
                if a.name.split(".")[0] == "sequenzo_spark"
            ]
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            # a module launched as ``python -m sequenzo_spark.…``
            if re.fullmatch(r"sequenzo_spark(\.\w+)+", node.value):
                out.append((node.value, None))
    return out


def test_frozen_files_import_the_library():
    # guards the guard: a parse that finds nothing would pass vacuously
    assert sum(len(_library_imports(p)) for p in FROZEN) >= 20
    scripts = [p for p in FROZEN if p.parent.name == "scripts"]
    assert scripts and all(_library_imports(p) for p in scripts)


@pytest.mark.parametrize("path", FROZEN, ids=lambda p: p.name)
def test_frozen_imports_resolve(path):
    for module, name in _library_imports(path):
        mod = importlib.import_module(module)
        if name is None:
            continue
        assert hasattr(mod, name) or importlib.util.find_spec(
            f"{module}.{name}"
        ), f"{path.name}: from {module} import {name} does not resolve"
