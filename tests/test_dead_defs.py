"""Every top-level definition in ``rsyslog_spark/`` is named somewhere.

Spark-free. Each top-level ``def``/``class`` of the package must appear
as a whole word in at least one ``.py`` file of the repo other than on
its own definition line; a name nothing mentions is dead code.
"""

from __future__ import annotations

import ast
import os
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "rsyslog_spark"


def _py_files() -> list[Path]:
    out = []
    for d, subdirs, files in os.walk(ROOT):
        subdirs[:] = [
            s for s in subdirs if not s.startswith(".") and s != "__pycache__"
        ]
        out += [Path(d, f) for f in files if f.endswith(".py")]
    return out


def _top_level_defs() -> list[tuple[str, Path, int]]:
    defs = []
    for path in PKG.rglob("*.py"):
        for node in ast.parse(path.read_text(encoding="utf-8")).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs.append((node.name, path, node.lineno))
    return defs


def test_every_top_level_definition_is_named_elsewhere():
    # a name is an identifier, so its whole-word hits are exactly the
    # \w+ tokens equal to it: count every token of every file once
    words = Counter(
        w for p in _py_files()
        for w in re.findall(r"\w+", p.read_text(encoding="utf-8"))
    )
    dead = []
    for name, def_path, def_line in _top_level_defs():
        own = def_path.read_text(encoding="utf-8").splitlines()[def_line - 1]
        if words[name] == re.findall(r"\w+", own).count(name):
            dead.append(f"{def_path.relative_to(ROOT)}:{def_line} {name}")
    assert not dead, "defined but never named:\n" + "\n".join(sorted(dead))
