"""Result checks, from the repository's own oracle gate.

``tools/check_oracle.py`` holds the DuckDB views over a table directory
and the exact, order-insensitive comparison the registered queries are
validated with; the benchmark uses those two functions as they are.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path


def _load(root: Path):
    saved = list(sys.path)  # the tool prepends its own checkout path
    try:
        spec = importlib.util.spec_from_file_location(
            "check_oracle", root / "tools" / "check_oracle.py")
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


_tool = _load(Path.cwd())


def connect(data_dir: str):
    """A DuckDB connection with one view per table of ``data_dir``."""
    return _tool.duck_connection(data_dir)


def mismatch(got, want) -> str | None:
    """None when the pandas frame ``got`` equals ``want`` as a multiset
    of rows with exactly equal cells, else the reason."""
    ok, note = _tool.compare("", got, want)
    return None if ok else note
