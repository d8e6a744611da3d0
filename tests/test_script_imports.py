"""bench.py and scripts/*.py import only names hustle_spark still
defines: a helper removed from the package must take its script
imports with it, or this fails."""

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_script_imports_resolve():
    sources = [ROOT / "bench.py", *sorted((ROOT / "scripts").glob("*.py"))]
    missing = []
    for path in sources:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and node.module.split(".")[0] == "hustle_spark"
            ):
                continue
            module = importlib.import_module(node.module)
            for alias in node.names:
                if alias.name == "*" or hasattr(module, alias.name):
                    continue
                try:
                    importlib.import_module(f"{node.module}.{alias.name}")
                except ModuleNotFoundError:
                    missing.append(
                        f"{path.name}:{node.lineno} {node.module}.{alias.name}"
                    )
    assert len(sources) > 1
    assert not missing, missing
