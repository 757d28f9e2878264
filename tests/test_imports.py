"""Import every engine module and the kept measurement tool, so a
dangling import fails here in seconds instead of mid-suite."""

from __future__ import annotations

import importlib
import importlib.util
import pkgutil
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "information_retrieval_system_spark"
TOOLS = ["tools/wand_crossover.py"]


def test_every_module_imports():
    pkg = importlib.import_module(PACKAGE)
    names = [m.name for m in pkgutil.walk_packages(pkg.__path__, PACKAGE + ".")]
    assert len(names) > 10
    for name in names:
        importlib.import_module(name)
    for rel in TOOLS:
        spec = importlib.util.spec_from_file_location(Path(rel).stem, ROOT / rel)
        spec.loader.exec_module(importlib.util.module_from_spec(spec))
